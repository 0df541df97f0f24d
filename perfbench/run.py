#!/usr/bin/env python3
"""Benchmark of the Swivel prep CLI and a cold/warm operator mix.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program with its own sbt build and
then the harness in perfbench/harness; later runs reuse both until a
source file changes. Each run generates its inputs from --seed, computes
their oracle, runs one JVM (perfbench.Harness), checks every output the
JVM produced, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of a separate traced run. METRICS.md says what each one measures
and which end-to-end metric it should move.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

CORES = min(os.cpu_count() or 1, 4)
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s; the JVM is killed at this mark

SWIVEL = {"min_count": 5, "window_size": 10, "shard_size": 256}

WORKLOADS = {
    # ~360 documents of exponential length, mean 330 tokens: the doc_id
    # self-join's candidate pairs grow with the square of document length
    "swivel_long_docs": {"kind": "swivel", "tokens": 120_000, "mean_len": 330},
    # the operator mix: one session per JVM, every key cold, then warm
    "query_mix": {"kind": "mix"},
}

MIX_KEYS = [
    "graph_triangles", "sim_ann_beam_curve", "dedup_minhash", "text_bpe_encode",
    "join_bucketed", "maintenance_incremental_agg", "stream_file_sink",
]
MIX_ROWS = {"supplier": 100, "customer": 1_500, "part": 2_000, "orders": 7_500,
            "lineitem": 30_000, "events": 5_000, "documents": 500,
            "embeddings": 500}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SWIVEL_STAGES = ["swivel.vocab", "swivel.cooc", "swivel.marginals", "swivel.sums",
                 "sources.pb_write", "sources.side_write"]

END_TO_END = [
    ("wall_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("out_bytes", "bytes", "lower", 0.05),
]


def per_layer_names():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for st in SWIVEL_STAGES:
        out += [(f"{st}_s", "s", "lower"), (f"{st}_jobs", "count", "lower"),
                (f"{st}_tasks", "count", "lower"), (f"{st}_spill_bytes", "bytes", "lower")]
    out += [("swivel.cooc_shuffle_bytes", "bytes", "lower"),
            ("swivel.cooc_busy_frac", "ratio", "higher"),
            ("swivel.marginals_shuffle_bytes", "bytes", "lower"),
            ("swivel.corpus_passes", "count", "lower"),
            ("swivel.untraced_s", "s", "lower"),
            ("sources.pb_files", "count", "higher"),
            ("mix.cold_s", "s", "lower"), ("mix.warm_s", "s", "lower"),
            ("memo.fills_cold", "count", "lower"), ("memo.fills_warm", "count", "lower"),
            ("memo.staging_bytes", "bytes", "lower"),
            ("jvm.peak_rss_mb", "MB", "lower"),
            ("trace.unrepeated_counts", "count", "lower")]
    for k in MIX_KEYS:
        out += [(f"q.{k}.cold_s", "s", "lower"), (f"q.{k}.warm_s", "s", "lower"),
                (f"q.{k}.jobs", "count", "lower"),
                (f"q.{k}.widest_stage_tasks", "count", "higher"),
                (f"q.{k}.shuffle_bytes", "bytes", "lower"),
                (f"q.{k}.spill_bytes", "bytes", "lower")]
    return out


def is_count(name, unit):
    """Per-layer metrics that must repeat exactly across traced runs of one
    build on one seed (the rest are times and ratios)."""
    return unit in ("count", "bytes") and name != "trace.unrepeated_counts"


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# --------------------------------------------------------------------- build

def fingerprint():
    """Hash of every source and build file of the program and the harness;
    sbt's own output directories are skipped."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "harness")):
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"
                       and not (x == "project" and os.path.basename(d) == "project")]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(args, cwd, env):
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", *args],
                       cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt failed in {cwd}")
    return [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]


def build():
    """Builds program and harness once per source fingerprint; returns the
    harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program to build here (build.sbt and src/main/scala are missing)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "harness.cp")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = fingerprint()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and read(stamp_file) == stamp:
            return read(cp_file).strip(), stamp
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        out = sbt(["compile", "export Runtime/fullClasspath", "export scalaVersion"], ROOT, env)
        program_cp, scala_version = out[-2], out[-1]
        prog_file = os.path.join(BUILD, "program.cp")
        with open(prog_file, "w") as f:
            f.write(program_cp)
        env["PERFBENCH_PROGRAM_CP"] = prog_file
        env["PERFBENCH_SCALA_VERSION"] = scala_version
        out = sbt(["compile", "export Runtime/fullClasspath"],
                  os.path.join(HERE, "harness"), env)
        with open(cp_file, "w") as f:
            f.write(out[-1])
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return out[-1], stamp


# ----------------------------------------------------------------------- run

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classpath, work, trace, harness_args, started):
    """Runs perfbench.Harness in its own process group, with its own
    java.io.tmpdir under `work`; returns its result."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.master=local[{CORES}]"]
    if trace:
        cmd += ["-Dspark.extraListeners=perfbench.Tracer"]
    cmd += ["-cp", classpath, "perfbench.Harness", "--trace", "1" if trace else "0",
            "--work", work, "--result", result, "--cores", str(CORES)]
    for k, v in harness_args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the JVM did not finish in time")
    if p.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write(read(os.path.join(work, "jvm.log"))[-4000:])
        fail(f"the JVM exited with code {p.returncode}")
    with open(result) as f:
        return json.load(f)


def samples(work, seconds, started, one):
    """Cold runs, one JVM each, until `seconds` have passed (at least one,
    and none that would overrun the deadline). `one(dir, i)` runs one."""
    out, t0 = [], time.monotonic()
    while not out or time.monotonic() - t0 < seconds:
        if out and time.monotonic() - started + (time.monotonic() - t0) / len(out) > DEADLINE_S - 20:
            break
        d = os.path.join(work, f"jvm{len(out)}")
        os.makedirs(d)
        out.append(one(d, len(out)))
    return out


def tree_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


# ------------------------------------------------------------------- swivel

def check_swivel_out(out, want, stdout=None):
    """Problems with one Swivel output directory, as strings."""
    bad = []

    def lines(name):
        p = os.path.join(out, name)
        return read(p).split("\n")[:-1] if os.path.isfile(p) else None
    for side in ("row", "col"):
        if lines(f"{side}_vocab.txt") != want["vocab"]:
            bad.append(f"{side}_vocab.txt differs from the oracle")
        if lines(f"{side}_sums.txt") != want["sums"]:
            bad.append(f"{side}_sums.txt differs from the oracle")
    n = want["num_shards"]
    expect = {f"shard-{r:03d}-{c:03d}.pb" for r in range(n) for c in range(n)}
    pb = os.path.join(out, "shards_pb")
    got = set(os.listdir(pb)) if os.path.isdir(pb) else set()
    if got != expect:
        bad.append(f"shards_pb holds {len(got)} files, expected {len(expect)}")
    if stdout is not None:
        summary = [ln for ln in stdout.splitlines() if ln.startswith("swivel-prep done:")]
        if not summary or f"cells={want['cells']} " not in summary[-1]:
            bad.append(f"reported cells differ from the oracle's {want['cells']}")
    return bad


def swivel_workload(w, seed, seconds, trace, classpath, work, started, params=SWIVEL):
    corpus = os.path.join(work, "corpus.txt")
    gen.corpus(corpus, seed, w["tokens"], w["mean_len"])
    want = oracle.swivel(corpus, params["min_count"], params["shard_size"],
                         params["window_size"])
    if want["num_shards"] < 1:
        fail("the generated corpus truncates to an empty vocabulary")

    def one(d, _):
        return run_jvm(classpath, d, trace, dict(workload="swivel", corpus=corpus, **params),
                       started)
    if trace:
        os.makedirs(os.path.join(work, "trace"))
        runs = [one(os.path.join(work, "trace"), 0)]
    else:
        runs = samples(work, seconds, started, one)
    problems, attempted = [], 0
    walls, sizes = [], []
    for j, r in enumerate(runs):
        for i, c in enumerate(r["calls"]):
            attempted += 1
            bad = [c["error"]] if c["error"] else check_swivel_out(c["out"], want, c["stdout"])
            if bad:
                problems.append(f"jvm {j} call {i}: " + "; ".join(bad))
            else:
                walls.append(c["wall_s"])
                sizes.append(tree_bytes(c["out"]))
        if "staged_out" in r:
            attempted += 1
            bad = check_swivel_out(r["staged_out"], want)
            if bad:
                problems.append("staged pipeline: " + "; ".join(bad))
    if not walls:
        return attempted, problems, None, {}
    if len(set(sizes)) > 1:
        print(f"perfbench: output sizes differ between calls: {sizes}", file=sys.stderr)
    metrics = {
        "wall_s": statistics.median(walls),
        "setup_s": statistics.median(r["setup_s"] for r in runs),
        "out_bytes": statistics.median(sizes),
    }
    layer = {"jvm.peak_rss_mb": runs[0]["peak_rss_mb"]}
    if trace:
        r = runs[0]
        spans = {s["name"]: s for s in r["spans"]}
        staged = 0.0
        for st in SWIVEL_STAGES:
            s = spans[st]
            staged += s["seconds"]
            layer.update({f"{st}_s": s["seconds"], f"{st}_jobs": s["jobs"],
                          f"{st}_tasks": s["tasks"], f"{st}_spill_bytes": s["spill_bytes"]})
        cooc = spans["swivel.cooc"]
        layer["swivel.cooc_shuffle_bytes"] = cooc["shuffle_write_bytes"]
        layer["swivel.cooc_busy_frac"] = cooc["executor_run_ms"] / 1e3 / (cooc["seconds"] * CORES)
        layer["swivel.marginals_shuffle_bytes"] = spans["swivel.marginals"]["shuffle_write_bytes"]
        layer["swivel.corpus_passes"] = r["call_bytes_read"] / os.path.getsize(corpus)
        # the traced call's wall time is the sum of the stage spans plus this
        layer["swivel.untraced_s"] = spans["swivel.call"]["seconds"] - staged
        traced_out = r["calls"][-1]["out"]
        layer["sources.pb_files"] = len(os.listdir(os.path.join(traced_out, "shards_pb")))
    return attempted, problems, metrics, layer


# ---------------------------------------------------------------------- mix

def verify_local():
    """The repo's own oracle comparator (tools/verify_local.py), loaded as
    a module so its type and value comparison is reused as is."""
    path = os.path.join(ROOT, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def hash_check(dump, expected):
    """Compares each dumped key with its oracle relation the way the gate
    does (column types, row count, values in emitted order); returns the
    list of problems."""
    import duckdb
    import glob
    vl = verify_local()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    bad = []
    for k, (exp_types, exp) in sorted(expected.items()):
        files = sorted(glob.glob(os.path.join(dump, k, "*.parquet")))
        if not files:
            bad.append(f"{k}: no dump")
            continue
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_types = dict(zip(got_rel.columns, [str(t) for t in got_rel.types]))
        ok, msg = vl.compare_types(got_types, exp_types)
        if ok:
            ok, msg, _ = vl.compare(got_rel.fetchdf(), exp)
        if not ok:
            bad.append(f"{k}: {msg}")
    con.close()
    return bad


def mix_workload(w, seed, seconds, trace, classpath, work, started,
                 keys=MIX_KEYS, rows=MIX_ROWS, fail_key=""):
    """`fail_key` makes that key throw, to test the failure accounting."""
    base, mirror, dump = (os.path.join(work, d) for d in ("tables", "mirror", "dump"))
    gen.write_tables(gen.star_tables(seed, rows), base, mirror)

    def one(d, _):
        extra = {"dump": dump} if trace else {}
        return run_jvm(classpath, d, trace, dict(workload="mix", keys=",".join(keys),
                                                 mirror=mirror, fail_key=fail_key, **extra),
                       started)
    if trace:
        os.makedirs(os.path.join(work, "trace"))
        runs = [one(os.path.join(work, "trace"), 0)]
    else:
        runs = samples(work, seconds, started, one)
    with open(os.path.join(work, "trace" if trace else "jvm0", "oracle_sql.json")) as f:
        expected = oracle.relations(base, TABLES, json.load(f))
    problems, attempted, clean = [], 0, []
    for j, r in enumerate(runs):
        for tag in ("cold", "warm"):
            print(f"perfbench: jvm {j} {tag} pass {r[tag]['seconds']:.2f} s: " + ", ".join(
                f"{q['key']} {q['seconds']:.2f}" for q in r[tag]["keys"]), file=sys.stderr)
        ok = True
        for tag in ("cold", "warm"):
            for q in r[tag]["keys"]:
                attempted += 1
                k = q["key"]
                if q["error"]:
                    problems.append(f"jvm {j} {tag} {k}: {q['error']}")
                elif k in expected and q["rows"] != len(expected[k][1]):
                    problems.append(f"jvm {j} {tag} {k}: {q['rows']} rows, "
                                    f"oracle {len(expected[k][1])}")
                elif k not in expected and q["rows"] <= 0:
                    problems.append(f"jvm {j} {tag} {k}: no rows")
                else:
                    continue
                ok = False
        if ok:
            clean.append(r)
    if trace:
        attempted += len(expected)
        problems += hash_check(dump, expected)
    if not clean:
        return attempted, problems, None, {}
    metrics = {
        "wall_s": statistics.median(r["wall_s"] for r in clean),
        "setup_s": statistics.median(r["setup_s"] for r in runs),
        "out_bytes": statistics.median(r["warm"]["staging_bytes"] for r in clean),
    }
    layer = {"jvm.peak_rss_mb": runs[0]["peak_rss_mb"]}
    if trace:
        r = runs[0]
        spans = {s["name"]: s for s in r["spans"]}
        layer["mix.cold_s"] = r["cold"]["seconds"]
        layer["mix.warm_s"] = r["warm"]["seconds"]
        layer["memo.fills_cold"] = r["cold"]["fills"]
        layer["memo.fills_warm"] = r["warm"]["fills"]
        layer["memo.staging_bytes"] = r["cold"]["staging_bytes"]
        for k in keys:
            cold, warm = spans[f"q.{k}.cold"], spans[f"q.{k}.warm"]
            layer.update({f"q.{k}.cold_s": cold["seconds"], f"q.{k}.warm_s": warm["seconds"],
                          f"q.{k}.jobs": warm["jobs"],
                          f"q.{k}.widest_stage_tasks": warm["widest_stage_tasks"],
                          f"q.{k}.shuffle_bytes": warm["shuffle_write_bytes"],
                          f"q.{k}.spill_bytes": warm["spill_bytes"]})
    return attempted, problems, metrics, layer


# --------------------------------------------------------------------- main

def check_repeat(workload, seed, stamp, layer):
    """Compares this traced run's deterministic counts with the previous
    traced run of the same build, workload and seed; returns how many
    differ and reports each on stderr."""
    d = os.path.join(BUILD, "trace_counts")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-{seed}.json")
    counts = {n: layer[n] for n, u, _ in per_layer_names() if is_count(n, u)}
    differ = 0
    if os.path.isfile(path):
        with open(path) as f:
            prev = json.load(f)
        if prev.get("stamp") == stamp:
            for n, v in counts.items():
                if prev["counts"].get(n) != v:
                    differ += 1
                    print(f"perfbench: count {n} did not repeat: {prev['counts'].get(n)} then {v}",
                          file=sys.stderr)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "counts": counts}, f)
    return differ


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath, stamp = build()
    started = time.monotonic()  # the 180 s budget starts after a build
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        w = WORKLOADS[a.workload]
        fn = swivel_workload if w["kind"] == "swivel" else mix_workload
        attempted, problems, metrics, layer = fn(
            w, a.seed, a.seconds, bool(a.trace), classpath, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    if metrics is None:
        fail("no operation succeeded, so there is nothing to report")
    if a.trace:
        names = per_layer_names()
        full = {n: layer.get(n, 0) for n, _, _ in names}
        full["trace.unrepeated_counts"] = check_repeat(a.workload, a.seed, stamp, full)
        out = {n: {"value": full[n], "unit": u} for n, u, _ in names}
    else:
        out = {n: {"value": metrics[n], "unit": u} for n, u, _, _ in END_TO_END}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": out}))


if __name__ == "__main__":
    main()
