"""Output checks made apart from the engine, with DuckDB.

ETL: per table, row count plus an order-independent checksum over every
column, on the source and on the imported copy. Timestamps enter the
checksum as epoch nanoseconds and integers as BIGINT, so a timestamp
carried as long nanos and a widened integer compare equal to the source.

Analytics: each delivered result against the query's DuckDB oracle
(`SparkEntry.oracleSql`) over the same input files, canonicalized with
`canon` from `scripts/selfcheck.py` and compared as it compares: columns,
dtypes, row count, then values. Oracle results are cached under a key of
oracle text plus input digest.

Command: python3 perfbench/checks.py oracle <data_dir> <oracle_sql.json> <cache_dir>
computes (or reuses) every oracle result and prints one line per query.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from selfcheck import TABLES, canon  # noqa: E402


# ---- ETL -------------------------------------------------------------------

def _canon_expr(name: str, typ: str) -> str:
    q = '"' + name.replace('"', '""') + '"'
    t = typ.upper()
    if t.startswith("TIMESTAMP"):
        return f"epoch_ns({q})"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
        return f"CAST({q} AS BIGINT)"
    if t.endswith("]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return f"CAST({q} AS VARCHAR)"
    return q


def table_digest(con, pattern: str, columns=None):
    """(rows, checksum, column names) of the parquet files matching
    `pattern`; `columns` fixes the column order (the source's)."""
    src = f"read_parquet('{pattern}')"
    desc = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    types = {r[0]: r[1] for r in desc}
    cols = columns or [r[0] for r in desc]
    missing = [c for c in cols if c not in types]
    if missing:
        return None, None, f"missing columns {missing}"
    exprs = ", ".join(_canon_expr(c, types[c]) for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0) FROM {src}"
    ).fetchone()
    return n, int(h), cols


# ---- analytics -------------------------------------------------------------

def input_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle(data_dir: str, name: str, sql: str, cache_dir: str,
           digest: str = None) -> pd.DataFrame:
    """Canonical oracle result, cached under hash(oracle text, input)."""
    digest = digest or input_digest(data_dir)
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    want = canon(con.execute(sql).df())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal, else a one-line reason."""
    g = canon(got)
    if list(g.columns) != list(want.columns):
        return f"columns differ: {list(g.columns)} vs {list(want.columns)}"
    gd = {c: str(t) for c, t in zip(g.columns, g.dtypes)}
    wd = {c: str(t) for c, t in zip(want.columns, want.dtypes)}
    if gd != wd:
        return f"dtypes differ: {({c: (gd[c], wd[c]) for c in gd if gd[c] != wd[c]})}"
    if len(g) != len(want):
        return f"row count {len(g)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(g, want, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return " ".join(str(e).split("\n")[:4])
    return None


def check_result(out_dir: str, want: pd.DataFrame):
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return "no output files"
    got = duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
    return compare(got, want)


def main(argv):
    if len(argv) != 5 or argv[1] != "oracle":
        sys.exit(__doc__)
    data_dir, sql_file, cache_dir = argv[2:]
    with open(sql_file) as f:
        sqls = json.load(f)
    digest = input_digest(data_dir)
    for name in sorted(sqls):
        df = oracle(data_dir, name, sqls[name], cache_dir, digest)
        print(f"{name}\t{len(df)} rows")


if __name__ == "__main__":
    main(sys.argv)
