"""Seeded input generators.

`tables(out_dir, scale, seed)` writes the ten TPC-H-ish tables the engine's
queries read (`region nation customer supplier part orders lineitem events
documents embeddings`), one parquet file each, with the column names,
types and value domains of the engine's fixtures. Row counts depend only on
`scale` (1.0 = TPC-H sf1 row counts for the fact tables); values depend
only on `seed`.

`many_tables(base_dir, out_dir, schemas, per_schema, seed)` samples a
nested multi-schema source (`out_dir/<schema>/<table>.parquet`) from a
generated base with DuckDB: table `j` of schema `i` is a seeded sample of
one base table, 100 to 4,000 rows.

Documents keep the near-duplicate margin the LSH-fed queries assume: 5% are
an earlier document with " dup" appended (word 3-gram Jaccard >= 0.88 for
the 10-word minimum), the rest are independent draws.
"""
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from selfcheck import TABLES  # noqa: E402

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _rows(scale: float) -> dict:
    n = lambda base: max(1, int(round(base * scale)))
    return {"customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
            "orders": n(1_500_000), "lineitem": n(6_000_000),
            "events": n(1_000_000), "documents": n(50_000),
            "embeddings": n(20_000), "users": n(15_000)}


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * DAY_US, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n, p=None):
    return pa.array(np.asarray(options, dtype=object)[
        rng.choice(len(options), n, p=p)], type=pa.string())


def _texts(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    out = []
    for i, k in enumerate(lengths):
        if i > 20 and rng.random() < 0.05:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            out.append(" ".join(words[rng.integers(0, len(WORDS), k)]))
    return out


def build(scale: float, seed: int) -> dict:
    """The ten tables as pyarrow Tables."""
    rng = np.random.default_rng(seed)
    r = _rows(scale)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = r["part"]
    keys = np.arange(npart)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})
    no = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = r["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")})
    ne = r["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, r["users"], ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = r["documents"]
    texts = _texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(s) for s in texts], i64)})
    nv = r["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return t


def tables(out_dir: str, scale: float, seed: int) -> None:
    """Write the ten tables under `out_dir` (flat `<table>.parquet`)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in build(scale, seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def many_tables(base_dir: str, out_dir: str, schemas: int, per_schema: int,
                seed: int) -> None:
    """Nested multi-schema source sampled from a generated base."""
    rng = np.random.default_rng(seed + 1)
    sources = [t for t in TABLES if t not in ("region", "nation")]
    con = duckdb.connect()
    con.execute("SET threads = 1")  # a repeatable sample needs one thread
    for i in range(schemas):
        sdir = os.path.join(out_dir, f"s{i}")
        os.makedirs(sdir, exist_ok=True)
        for j in range(per_schema):
            src = sources[(i * per_schema + j) % len(sources)]
            n = int(rng.integers(100, 4001))
            path = os.path.join(sdir, f"t{j:02d}_{src}.parquet")
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{base_dir}/{src}.parquet') "
                f"USING SAMPLE reservoir({n} ROWS) REPEATABLE ({seed + i * 100 + j})) "
                f"TO '{path}' (FORMAT parquet)")
    con.close()
