"""Output checks of one benchmark run.

Entries with a DuckDB oracle: graft's result (parquet written by the
harness's warm-up execution) is compared to the oracle SQL run by
DuckDB over the same generated tables. Columns are matched by name,
rows sorted, values canonicalized exactly as `tools/check_oracle.py`
does, and HUGEINT or decimal-vs-float column types are refused there
too. Entries without an oracle must return the same non-empty row
checksum on two executions.
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def _tclass(ty):
    s = str(ty).upper()
    if "DECIMAL" in s:
        return "decimal"
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if "INT" in s:
        return "int"
    return "other"


def _oracle_mismatch(con, out_dir, name, sql):
    spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    spark_cols = [c.lower() for c in spark_rel.columns]
    spark_rows = spark_rel.fetchall()
    duck_rel = con.sql(sql)
    duck_cols = [c.lower() for c in duck_rel.columns]
    duck_rows = duck_rel.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns differ: graft={sorted(spark_cols)} " \
               f"oracle={sorted(duck_cols)}"
    huge = [c for c, ty in zip(duck_rel.columns, duck_rel.types)
            if "HUGEINT" in str(ty).upper()]
    if huge:
        return f"oracle column(s) {huge} are HUGEINT"
    duck_t = {c.lower(): _tclass(t)
              for c, t in zip(duck_rel.columns, duck_rel.types)}
    spark_t = {c.lower(): _tclass(t)
               for c, t in zip(spark_rel.columns, spark_rel.types)}
    clash = [(c, spark_t[c], duck_t[c]) for c in sorted(duck_t)
             if spark_t.get(c) != duck_t[c]]
    if clash:
        return f"column type classes differ {clash}"
    a, b = rowset(spark_cols, spark_rows), rowset(duck_cols, duck_rows)
    if len(a) != len(b):
        return f"row count graft={len(a)} oracle={len(b)}"
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"values differ at sorted row {i}: graft={a[i]} " \
               f"oracle={b[i]}"
    return None


def verify(data_dir, work_dir, checks):
    """Return {entry: reason} for every entry whose check failed."""
    with open(os.path.join(work_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    bad = {}
    for c in checks:
        name = c["entry"]
        if c["error"]:
            bad[name] = f"check execution failed: {c['error']}"
        elif c["oracle"]:
            try:
                why = _oracle_mismatch(con, os.path.join(work_dir, "out"),
                                       name, oracle[name])
            except Exception as e:  # DuckDB or parquet read error
                why = f"oracle compare failed: {e}"
            if why:
                bad[name] = why
        elif c["rows"] <= 0:
            bad[name] = "empty result"
        elif c["first"] != c["second"]:
            bad[name] = "checksum differs between two executions"
    con.close()
    return bad
