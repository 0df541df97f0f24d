"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests

The generator and hand-derived oracle tests are pure Python. The other
two build the program (as perfbench/run.py does) and run the JVM on
small inputs, so they take a few minutes the first time.
"""
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL_ROWS = {"supplier": 20, "customer": 150, "part": 200, "orders": 1_500,
              "lineitem": 6_000, "events": 1_000, "documents": 200, "embeddings": 200}


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-", dir=run.BUILD)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class GeneratorTest(Scratch):
    def test_corpus_repeats_for_a_seed(self):
        paths = [os.path.join(self.dir, f"c{i}.txt") for i in range(3)]
        for p, seed in zip(paths, (7, 7, 8)):
            gen.corpus(p, seed, 20_000, 50)
        data = [run.read(p) for p in paths]
        self.assertEqual(data[0], data[1])
        self.assertNotEqual(data[0], data[2])

    def test_corpus_shape(self):
        p = os.path.join(self.dir, "c.txt")
        docs, tokens = gen.corpus(p, 3, 30_000, 300)
        self.assertEqual(tokens, 30_000)
        lines = run.read(p).split("\n")[:-1]
        self.assertEqual(len(lines), docs)
        self.assertEqual(sum(len(ln.split(" ")) for ln in lines), tokens)

    def test_tables_repeat_for_a_seed(self):
        a, b, c = (gen.star_tables(s, SMALL_ROWS) for s in (5, 5, 6))
        self.assertEqual(sorted(a), sorted(run.TABLES))
        for t in run.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class OracleTest(Scratch):
    def test_hand_derived_corpus(self):
        # "a b a", window 2: pairs (a,b,1), (a,a,2), (b,a,1), both orientations
        p = os.path.join(self.dir, "c.txt")
        with open(p, "w") as f:
            f.write("a b a\n")
        want = oracle.swivel(p, min_count=1, shard_size=1, window=2)
        self.assertEqual(want, {"vocab": ["a", "b"], "sums": ["3.0000", "2.0000"],
                                "cells": 3, "num_shards": 2})

    def test_oracle_equals_swivel_main(self):
        classpath, _ = run.build()
        attempted, problems, metrics, _ = run.swivel_workload(
            {"tokens": 6_000, "mean_len": 40}, 5, 0, False, classpath, self.dir,
            time.monotonic(), params={"min_count": 2, "window_size": 10, "shard_size": 32})
        self.assertEqual(problems, [])
        self.assertEqual(attempted, 1)
        self.assertGreater(metrics["out_bytes"], 0)


class FailureAccountingTest(Scratch):
    KEYS = ["maintenance_incremental_agg", "join_bucketed"]

    def mix(self, fail_key):
        classpath, _ = run.build()
        return run.mix_workload({}, 9, 0, False, classpath, self.dir, time.monotonic(),
                                keys=self.KEYS, rows=SMALL_ROWS, fail_key=fail_key)

    def test_clean_mix_passes(self):
        attempted, problems, metrics, _ = self.mix("")
        self.assertEqual(problems, [])
        self.assertEqual(attempted, 2 * len(self.KEYS))
        self.assertIsNotNone(metrics)

    def test_throwing_key_fails_and_is_never_timed(self):
        attempted, problems, metrics, _ = self.mix("join_bucketed")
        self.assertEqual(attempted, 2 * len(self.KEYS))
        self.assertEqual(len(problems), 2)  # the cold and the warm pass
        self.assertTrue(all("join_bucketed" in p and "injected" in p for p in problems))
        # the only run had a failing key, so it yields no time at all
        self.assertIsNone(metrics)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        import json
        spec = json.loads(run.read(os.path.join(run.ROOT, "BENCHMARK.json")))
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         [m[0] for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.per_layer_names())


if __name__ == "__main__":
    unittest.main()
