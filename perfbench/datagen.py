"""Seeded generator for the tables graft reads.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as one parquet file each, with the
column names, types and value domains that graft's entries and their
DuckDB oracles expect (TPC-H-like star schema, an events stream, a text
corpus and unit-norm 64-dim embeddings).

Every value is a hash of (seed, table, row, column), so the same seed
and scale give byte-identical inputs on any machine and thread count.

Usage: python3 perfbench/datagen.py <outDir> <seed> <scale>
"""
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
COLORS = ["blue", "cold", "green", "hot", "red", "small", "smooth", "tiny"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _u(seed, tag, col):
    """Uniform [0, 1) from (seed, table tag, row i, column id)."""
    return f"(hash({seed}, {tag}, i, {col}) % 1000000007) / 1000000007.0"


def _list(values):
    return "[" + ",".join(f"'{v}'" for v in values) + "]"


def _pick(seed, tag, col, values):
    return (f"{_list(values)}[1 + floor({_u(seed, tag, col)} * "
            f"{len(values)})::BIGINT]")


def _int(seed, tag, col, lo, hi):
    """Integer uniform on [lo, hi]."""
    return f"({lo} + floor({_u(seed, tag, col)} * {hi - lo + 1})::BIGINT)"


def _money(seed, tag, col, lo, hi):
    return f"round({lo} + {_u(seed, tag, col)} * {hi - lo}, 2)"


def tables(seed, scale):
    n_cust = int(150_000 * scale)
    n_supp = max(25, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * scale)
    n_users = max(20, int(15_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vecs = max(100, int(50_000 * scale))
    s = seed
    day_us = 86_400_000_000
    evt_gap = 30 * day_us // n_evt
    return {
        "region": ("SELECT i::INT AS r_regionkey, "
                   "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1]"
                   " AS r_name FROM range(5) t(i)"),
        "nation": ("SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, "
                   "(i % 5)::INT AS n_regionkey FROM range(25) t(i)"),
        "customer": (
            f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0')"
            f" AS c_name, {_int(s, 1, 1, 0, 24)}::INT AS c_nationkey, "
            f"{_money(s, 1, 2, -999.99, 9999.99)} AS c_acctbal, "
            + _pick(s, 1, 3, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"]) +
            f" AS c_mktsegment FROM range({n_cust}) t(i)"),
        "supplier": (
            f"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0')"
            f" AS s_name, {_int(s, 2, 1, 0, 24)}::INT AS s_nationkey, "
            f"{_money(s, 2, 2, -999.99, 9999.99)} AS s_acctbal "
            f"FROM range({n_supp}) t(i)"),
        "part": (
            "SELECT i AS p_partkey, " + _pick(s, 3, 1, COLORS) + " || ' ' || "
            + _pick(s, 3, 2, NOUNS) + " AS p_name, 'Brand#' || "
            f"{_int(s, 3, 3, 1, 25)} AS p_brand, "
            + _pick(s, 3, 4, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"]) +
            f" AS p_type, {_int(s, 3, 5, 1, 50)}::INT AS p_size, "
            f"900 + (i % 1000) / 10.0 AS p_retailprice "
            f"FROM range({n_part}) t(i)"),
        "orders": (
            f"SELECT i AS o_orderkey, {_int(s, 4, 1, 0, n_cust - 1)} AS "
            f"o_custkey, " + _pick(s, 4, 2, ["F", "O", "P"]) +
            f" AS o_orderstatus, {_money(s, 4, 3, 1000, 500000)} AS "
            f"o_totalprice, TIMESTAMP '1995-01-01' + to_days("
            f"{_int(s, 4, 4, 0, 2404)}::INT) AS o_orderdate, "
            + _pick(s, 4, 5, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                              "4-NOT SPECIFIED", "5-LOW"]) +
            f" AS o_orderpriority FROM range({n_ord}) t(i)"),
        "lineitem": (
            f"SELECT {_int(s, 5, 1, 0, n_ord - 1)} AS l_orderkey, "
            f"{_int(s, 5, 2, 0, n_part - 1)} AS l_partkey, "
            f"{_int(s, 5, 3, 0, n_supp - 1)} AS l_suppkey, "
            f"{_int(s, 5, 4, 1, 7)}::INT AS l_linenumber, "
            f"{_int(s, 5, 5, 1, 50)}::DOUBLE AS l_quantity, "
            f"{_money(s, 5, 6, 900, 105000)} AS l_extendedprice, "
            f"{_int(s, 5, 7, 0, 10)} / 100.0 AS l_discount, "
            f"{_int(s, 5, 8, 0, 8)} / 100.0 AS l_tax, "
            + _pick(s, 5, 9, ["A", "N", "R"]) + " AS l_returnflag, "
            + _pick(s, 5, 10, ["F", "O"]) + " AS l_linestatus, "
            f"TIMESTAMP '1995-01-02' + to_days({_int(s, 5, 11, 0, 2498)}::INT)"
            f" AS l_shipdate FROM range({n_line}) t(i)"),
        "events": (
            f"SELECT i AS event_id, make_timestamp(1704067200000000 + "
            f"i * {evt_gap} + {_int(s, 6, 1, 0, evt_gap - 1)}) AS ts, "
            f"{_int(s, 6, 2, 0, n_users - 1)} AS user_id, "
            + _pick(s, 6, 3, ["click", "error", "purchase", "signup",
                              "view"]) +
            f" AS event_type, round(0.01 - 50 * ln(1 - {_u(s, 6, 4)}), 2)"
            f" AS value, '{{\"k\": ' || {_int(s, 6, 5, 0, 99)} || '}}' AS "
            f"props FROM range({n_evt}) t(i)"),
        "documents": (
            "SELECT i AS doc_id, text, " + _pick(s, 7, 2, LANGS) +
            " AS lang, 'src' || (i % 20) AS source, length(text)::BIGINT AS "
            "n_chars FROM (SELECT i, array_to_string(list_transform("
            f"range({_int(s, 7, 1, 10, 99)}), w -> "
            f"{_list(WORDS)}[1 + (hash({s}, 7, i, 100 + w) % "
            f"{len(WORDS)})::BIGINT]), ' ') AS text "
            f"FROM range({n_docs}) t(i))"),
        # Ten label clusters: a label centroid plus per-vector noise,
        # scaled to unit norm like the corpus graft's ANN entries expect.
        "embeddings": (
            "SELECT i AS vec_id, list_transform(raw, x -> (x / sqrt("
            "list_dot_product(raw, raw)))::FLOAT) AS embedding, label "
            "FROM (SELECT i, label, list_transform(range(64), d -> "
            f"((hash({s}, 8, label, d) % 2001) / 1000.0 - 1.0) + 0.8 * "
            f"((hash({s}, 8, i, 1000 + d) % 2001) / 1000.0 - 1.0)) AS raw "
            f"FROM (SELECT i, {_int(s, 8, 1, 0, 9)}::INT AS label "
            f"FROM range({n_vecs}) t(i)))"),
    }


def _arrow_schema(tbl):
    """Timestamps as naive microseconds, the physical type graft's
    readers and the oracles are written for."""
    fields = []
    for f in tbl.schema:
        if pa.types.is_timestamp(f.type):
            f = f.with_type(pa.timestamp("us"))
        fields.append(f)
    return pa.schema(fields)


def generate(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in tables(seed, scale).items():
        tbl = con.execute(sql).arrow()
        if hasattr(tbl, "read_all"):
            tbl = tbl.read_all()
        tbl = tbl.cast(_arrow_schema(tbl))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
