"""Output check that does not run on Spark.

Each query's rows, written as parquet by the harness's check pass, are
compared with the query's `SparkEntry.oracleSql` run in DuckDB over the
same parquet tables. The rule is scripts/check_oracle.py's: same column
names, same row count, and exactly equal values once columns are ordered
by name and rows are sorted.
"""
import glob
import os
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TIMEOUT_S = 30


def _norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, repr(v))
    return (1, str(v))


def _fetch(con, sql):
    timer = threading.Timer(TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        rows = con.execute(sql).fetchall()
        return rows, [c[0] for c in con.description]
    finally:
        timer.cancel()


def canonical(rows, cols):
    """Rows with columns ordered by name, sorted."""
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def compare(spark_rows, spark_cols, duck_rows, duck_cols):
    """'ok' or a one-line reason the two results differ."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns differ: {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    a, b = canonical(spark_rows, spark_cols), canonical(duck_rows, duck_cols)
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {first}"
    return "ok"


def check(check_dir, sf_dir, oracle_sql):
    """{query: 'ok' | reason} for every query that has an oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(check_dir, '.duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            out[name] = "no rows written"
            continue
        try:
            s_rows, s_cols = _fetch(con, f"SELECT * FROM read_parquet({files!r})")
            d_rows, d_cols = _fetch(con, sql)
            out[name] = compare(s_rows, s_cols, d_rows, d_cols)
        except Exception as e:  # a failing oracle is a failed check, not a crash
            out[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
    con.close()
    return out
