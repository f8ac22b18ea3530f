"""DuckDB oracle check for the query workloads.

The runner JVM writes each checked query's Spark result as parquet under
`<results>/<name>/` and the query's oracle SQL (`SparkEntry.oracleSql`) to
`<results>/oracle_sql.json`. Both sides are reduced to an order-independent
digest: columns sorted by name, each column's dtype kind, and the sorted
rendered rows. The comparison rules are those of `tools/check_oracle.py`
(exact values, int and float columns never equal each other).
"""
import glob
import hashlib
import json
import math
import os
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return 0.0
    return v


def digest(df):
    cols = sorted(df.columns)
    df = df[cols]
    h = hashlib.sha256()
    h.update(repr([(c, df[c].dtype.kind) for c in cols]).encode())
    rows = sorted(repr(tuple(_norm(v) for v in row)) for row in df.itertuples(index=False, name=None))
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def check(tables_dir, results_dir, cache_path):
    """Returns (checked query count, mismatch messages, DuckDB seconds per query).

    The oracle's digests depend only on the seed's tables and the oracle
    SQL, so they are computed once per seed and kept at `cache_path`.
    """
    import duckdb
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, os.cpu_count() or 1))
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    errors = []
    seconds = {}
    for name in sorted(oracle):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            errors.append(f"{name}: no Spark result")
            continue
        try:
            got = digest(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            if name in cached:
                exp = tuple(cached[name])
            else:
                t0 = time.time()
                exp = cached[name] = digest(con.sql(oracle[name]).df())
                seconds[name] = time.time() - t0
        except Exception as e:  # a failing oracle or unreadable result is a mismatch
            errors.append(f"{name}: {e}")
            continue
        if got != exp:
            errors.append(f"{name}: spark digest {got[0][:12]} ({got[1]} rows) != "
                          f"oracle {exp[0][:12]} ({exp[1]} rows)")
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path, "w") as f:
        json.dump(cached, f)
    return len(oracle), errors, seconds
