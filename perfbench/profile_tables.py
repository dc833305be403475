#!/usr/bin/env python3
"""Measure the statistics `gen.write_tables` reproduces, on one or two
directories of registry tables, side by side:

    python3 perfbench/profile_tables.py REAL_DIR [GENERATED_DIR]

Each line is one statistic: physical types, row counts, key ranges and
distinct counts, value distributions, and the input shapes the selected
registry queries depend on (q192's co-occurrence graph, q66's near-duplicate
documents, q46's event days).  Generate tables to compare with

    python3 -c "import sys; sys.path.insert(0, 'perfbench'); import gen; gen.write_tables('OUT', 1, 0.001)"
"""
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["orders", "lineitem", "events", "documents"]

STATS = [
    ("orders: keys", "SELECT min(o_orderkey), max(o_orderkey), count(DISTINCT o_custkey), "
     "max(o_custkey) FROM orders"),
    ("orders: status F/O/P", "SELECT list(c ORDER BY s) FROM (SELECT o_orderstatus s, "
     "count(*) c FROM orders GROUP BY 1)"),
    ("orders: priorities", "SELECT count(DISTINCT o_orderpriority) FROM orders"),
    ("orders: totalprice min/mean/sd/max", "SELECT round(min(o_totalprice)), "
     "round(avg(o_totalprice)), round(stddev(o_totalprice)), round(max(o_totalprice)) FROM orders"),
    ("orders: orderdate range, distinct days", "SELECT min(o_orderdate)::DATE, "
     "max(o_orderdate)::DATE, count(DISTINCT o_orderdate) FROM orders"),
    ("lineitem: distinct orderkey / orders", "SELECT round(count(DISTINCT l_orderkey) / "
     "(SELECT count(*) FROM orders), 3) FROM lineitem"),
    ("lineitem: lines per order 1..6", "SELECT list(c ORDER BY n) FROM (SELECT n, count(*) c "
     "FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey) GROUP BY 1) WHERE n <= 6"),
    ("lineitem: part/supp keys", "SELECT max(l_partkey), count(DISTINCT l_partkey), "
     "max(l_suppkey) FROM lineitem"),
    ("lineitem: linenumber, quantity distinct", "SELECT min(l_linenumber), "
     "max(l_linenumber), count(DISTINCT l_quantity), min(l_quantity), max(l_quantity) FROM lineitem"),
    ("lineitem: extendedprice min/mean/max", "SELECT round(min(l_extendedprice)), "
     "round(avg(l_extendedprice)), round(max(l_extendedprice)) FROM lineitem"),
    ("lineitem: discount/tax values, edge share", "SELECT count(DISTINCT l_discount), "
     "count(DISTINCT l_tax), round(avg((l_discount = 0)::INT) * 11, 2) FROM lineitem"),
    ("lineitem: flag x status groups", "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, "
     "l_linestatus FROM lineitem)"),
    ("lineitem: shipdate range, shipped before order", "SELECT min(l_shipdate)::DATE, "
     "max(l_shipdate)::DATE, round(avg((l_shipdate < o_orderdate)::INT), 2) FROM lineitem "
     "JOIN orders ON o_orderkey = l_orderkey"),
    ("lineitem: q01 rows (shipdate <= 1998-09-02)", "SELECT round(avg((l_shipdate <= "
     "TIMESTAMP '1998-09-02')::INT), 3) FROM lineitem"),
    ("events: users, types", "SELECT count(DISTINCT user_id), max(user_id), "
     "count(DISTINCT event_type) FROM events"),
    ("events: ts range, sub-second share", "SELECT min(ts)::DATE, max(ts)::DATE, "
     "round(avg((epoch_us(ts) % 1000000 <> 0)::INT), 2) FROM events"),
    ("events: ts ascending with event_id", "SELECT count(*) = 0 FROM (SELECT ts, lag(ts) "
     "OVER (ORDER BY event_id) p FROM events) WHERE ts < p"),
    ("events: value mean/sd/p50/p99", "SELECT round(avg(value)), round(stddev(value)), "
     "round(quantile_cont(value, 0.5)), round(quantile_cont(value, 0.99)) FROM events"),
    ("events: props distinct", "SELECT count(DISTINCT props) FROM events"),
    ("q46: event days per series", "SELECT min(n), max(n) FROM (SELECT event_type, "
     "count(DISTINCT ts::DATE) n FROM events GROUP BY 1)"),
    ("documents: words per doc min/mean/max", "SELECT min(n), round(avg(n)), max(n) FROM "
     "(SELECT len(string_split(text, ' ')) n FROM documents)"),
    ("documents: vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split("
     "text, ' ')) w FROM documents)"),
    ("documents: lang share en", "SELECT round(avg((lang = 'en')::INT), 2) FROM documents"),
    ("documents: sources, n_chars = length", "SELECT count(DISTINCT source), "
     "bool_and(n_chars = length(text)) FROM documents"),
    ("q66: ' dup' docs, copies of another doc", "SELECT (SELECT count(*) FROM documents "
     "WHERE text LIKE '% dup'), count(*) FROM documents a JOIN documents b "
     "ON a.text = b.text || ' dup'"),
    ("q192: co-occurrence nodes, edges", "WITH m AS (SELECT DISTINCT l_orderkey g, l_partkey i "
     "FROM lineitem), e AS (SELECT DISTINCT a.i s, b.i d FROM m a JOIN m b ON a.g = b.g "
     "AND a.i <> b.i) SELECT count(DISTINCT s), count(*) FROM e"),
]


def profile(d):
    con = duckdb.connect()
    out = []
    for t in TABLES:
        path = f"{d}/{t}.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        schema = pq.read_schema(path)
        out.append((f"{t}: rows", pq.ParquetFile(path).metadata.num_rows))
        out.append((f"{t}: types", " ".join(f"{f.name}:{f.type}" for f in schema)))
    for label, sql in STATS:
        row = con.sql(sql).fetchone()
        out.append((label, ", ".join(str(v) for v in row)))
    return out


def main():
    dirs = sys.argv[1:]
    if not 1 <= len(dirs) <= 2:
        sys.exit(__doc__)
    cols = [profile(d) for d in dirs]
    for i, (label, v) in enumerate(cols[0]):
        line = f"{label:48s} {v}"
        if len(cols) == 2:
            w = cols[1][i][1]
            line += "\n" + " " * 49 + ("(same)" if w == v else str(w))
        print(line)


if __name__ == "__main__":
    main()
