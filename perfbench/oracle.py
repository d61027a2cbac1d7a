"""DuckDB oracle check of batch query results.

Mirrors the normalization of the repository's DuckDB correctness gate
(tools/check.py): columns compared by name, rows as sorted multisets,
floats rounded to 9 decimals, NaN and NULL kept distinct. The oracle SQL
is the engine's own (`SparkEntry.oracleSql`), handed over by the harness.
"""
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (2, "NaN")
        return (1, round(v, 9))
    return (1, str(v)) if not isinstance(v, (int, str, bool, bytes)) else (1, v)


def rows(cur, cols):
    ix = [cols.index(c) for c in sorted(cols)]
    return sorted(tuple(norm(r[i]) for i in ix) for r in cur.fetchall())


def check(results_dir, sf_dir, oracle_sql):
    """{query: problem} for every query whose result does not match its
    oracle. Queries without oracle SQL must still have written a result."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = {}
    for name, sql in oracle_sql.items():
        if not glob.glob(f"{results_dir}/{name}/*.parquet"):
            bad[name] = "no result"
            continue
        s = con.execute(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
        s_cols = [d[0] for d in s.description]
        s_rows = rows(s, s_cols)
        if sql is None:
            continue
        try:
            o = con.execute(sql)
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            bad[name] = f"oracle error: {str(e).splitlines()[0][:160]}"
            continue
        o_cols = [d[0] for d in o.description]
        if sorted(o_cols) != sorted(s_cols):
            bad[name] = f"schema: oracle {sorted(o_cols)} vs engine {sorted(s_cols)}"
        elif rows(o, o_cols) != s_rows:
            bad[name] = "rows differ"
    return bad
