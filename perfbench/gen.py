"""Seeded input generators for the benchmark.

`corpus` writes a plain-text corpus (one document per line) whose document
lengths follow an exponential distribution and whose words follow a
finite Zipf distribution. The same arguments always give the same bytes.
"""
import numpy as np

VOCAB_WORDS = 50_000
ZIPF_S = 1.07
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def words(rng, n):
    """n distinct lowercase words of 3..9 letters, in random rank order."""
    out, seen = [], set()
    while len(out) < n:
        lens = rng.integers(3, 10, size=n)
        codes = rng.integers(0, 26, size=(n, 9))
        for ln, row in zip(lens, codes):
            w = "".join(LETTERS[row[:ln]])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def corpus(path, seed, total_tokens, mean_len):
    """Write the corpus to `path`; returns (documents, tokens)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(words(rng, VOCAB_WORDS), dtype=object)
    p = np.arange(1, VOCAB_WORDS + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    lens = []
    n = 0
    while n < total_tokens:
        ln = max(1, int(round(rng.exponential(mean_len))))
        ln = min(ln, total_tokens - n)
        lens.append(ln)
        n += ln
    toks = vocab[rng.choice(VOCAB_WORDS, size=n, p=p)]
    with open(path, "w", encoding="utf-8") as f:
        i = 0
        for ln in lens:
            f.write(" ".join(toks[i:i + ln]))
            f.write("\n")
            i += ln
    return len(lens), n


# ---------------------------------------------------------------------------
# Star-schema tables (the layout FIXTURES.md describes), for the operator mix.

DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
PART_ADJ = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
PART_NOUN = np.array(["ring", "widget", "bolt", "plate", "gear", "nut"])
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Bench's v5 multi-split rule: files per table in the mirror.
SPLITS = {"lineitem": 32, "documents": 8, "events": 4, "orders": 4}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """n millisecond timestamps at midnight, uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000).astype("datetime64[ms]")


def star_tables(seed, rows):
    """Seeded tables as {name: pyarrow.Table}. `rows` maps supplier,
    customer, part, orders, lineitem, events, documents, embeddings to
    row counts; region and nation are fixed."""
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    n = rows
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n["customer"])]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(np.char.add(PART_ADJ[rng.integers(0, 8, np_)], " "),
                              PART_NOUN[rng.integers(0, 6, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 200) * 0.1, 2)})
    no = n["orders"]
    odate = _days(rng, "1995-01-01", "2001-08-01", no)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[lok] + (rng.integers(1, 122, nl) * 86_400_000).astype("timedelta64[ms]")
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship, pa.timestamp("ms"))})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, ne // 66), ne),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(40.0, ne) + 0.03, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(nd)]
    # planted near-duplicates: every 20th document copies an earlier one
    # with one token replaced, so the dedup kernels have pairs to find
    for i in range(20, nd, 20):
        toks = texts[int(rng.integers(0, i))].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, nd, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    label = rng.integers(0, 10, nv)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = np.clip(centers[label] + rng.normal(0, 0.08, (nv, 64)), -0.3, 0.3)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def write_tables(tables, base_dir, mirror_dir):
    """Writes each table as one file under base_dir (the layout the DuckDB
    oracle reads) and as a multi-file directory under mirror_dir, split by
    SPLITS (the layout the timed keys read)."""
    import os
    import pyarrow.parquet as pq
    os.makedirs(base_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, f"{base_dir}/{name}.parquet")
        d = f"{mirror_dir}/{name}.parquet"
        os.makedirs(d, exist_ok=True)
        k = SPLITS.get(name, 1)
        step = -(-tab.num_rows // k)
        for i in range(k):
            pq.write_table(tab.slice(i * step, step), f"{d}/part-{i:05d}.parquet")
