"""DuckDB oracle check for query results the benchmark dumped.

Same rules as the repository's tools/check.py: columns sorted by name,
dtype kinds equal, rows equal (a relative 1e-9 float tolerance is
accepted), so a result that passes here passes the oracle gate.
"""
import concurrent.futures
import glob
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _close(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare(con, sql, files):
    """None if the Spark result in ``files`` equals the oracle, else why not."""
    odf = con.execute(sql).fetchdf()
    sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    ocols, scols = sorted(odf.columns), sorted(sdf.columns)
    if ocols != scols:
        return f"columns oracle={ocols} spark={scols}"
    bad = [c for c in ocols if odf[c].dtype.kind != sdf[c].dtype.kind]
    if bad:
        return f"dtype drift in {bad}"
    orows = [tuple(_norm(v) for v in r) for r in odf[ocols].itertuples(index=False)]
    srows = [tuple(_norm(v) for v in r) for r in sdf[ocols].itertuples(index=False)]
    if len(orows) != len(srows):
        return f"rows oracle={len(orows)} spark={len(srows)}"
    for i, (o, s) in enumerate(zip(orows, srows)):
        if not all(_close(a, b) for a, b in zip(o, s)):
            return f"row {i}: oracle={o} spark={s}"
    return None


def check(data_dir, results_dir):
    """Map each dumped query to None (pass) or a failure message."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def verdict(name):
        sql = oracle[name]
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not sql:
            return "no oracle SQL"
        if not files:
            return "no result"
        try:
            return compare(con.cursor(), sql, files)
        except Exception as e:  # an oracle error is a failed check, not a crash
            return f"oracle error: {str(e).splitlines()[0]}"

    names = sorted(oracle)
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        return dict(zip(names, pool.map(verdict, names)))
