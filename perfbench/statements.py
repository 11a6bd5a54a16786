"""Short OLAP statements served over HiveServer2 on ``olap_serve``.

Each entry is SQL text that Spark runs as sent and DuckDB runs as the
oracle. Only the LATERAL VIEW statement needs a DuckDB spelling of its
own (``unnest`` instead of ``LATERAL VIEW explode``). Money is summed as
integer cents (``FLOOR(x * 100)``, exact in both engines), so every
output column is BIGINT, INT or STRING and the answer check is exact.
Every ORDER BY ... LIMIT carries a unique tiebreaker.
"""

from __future__ import annotations

_REV = "SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))"

STATEMENTS: dict[str, str] = {
    "tpch_q1": f"""
SELECT l_returnflag, l_linestatus,
       SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS sum_qty,
       {_REV} AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    "tpch_q3": f"""
SELECT o.o_orderkey, {_REV} AS revenue, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10""",
    "tpch_q5": f"""
SELECT n.n_name, {_REV} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey AND c.c_nationkey = s.s_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name""",
    "tpch_q10": f"""
SELECT c.c_custkey, c.c_name, {_REV} AS revenue, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20""",
    "tpch_q18": """
SELECT o.o_orderkey, o.o_custkey,
       SUM(CAST(FLOOR(l.l_quantity) AS BIGINT)) AS sum_qty
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 350)
GROUP BY o.o_orderkey, o.o_custkey
ORDER BY sum_qty DESC, o.o_orderkey
LIMIT 100""",
    "join_segment": """
SELECT c.c_mktsegment, COUNT(*) AS n_orders,
       SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment""",
    "cube_flags": """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "grouping_sets": """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "window_topk": """
SELECT c_nationkey, c_custkey, rk FROM (
    SELECT c_nationkey, c_custkey,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rk
    FROM customer) t
WHERE rk <= 3""",
    "orderby_limit": """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50""",
    "lateral_explode": """
SELECT w, COUNT(*) AS n
FROM documents LATERAL VIEW explode(split(text, ' ')) t AS w
GROUP BY w""",
    "point_lookup": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
FROM orders
WHERE o_orderkey = 4242""",
    "wide_fetch": """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderkey % 5 = 2""",
}

# DuckDB spellings where Spark's SQL text is not DuckDB SQL.
ORACLE_OVERRIDES: dict[str, str] = {
    "lateral_explode": """
SELECT w, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
GROUP BY w""",
}


def oracle_sql(name: str) -> str:
    return ORACLE_OVERRIDES.get(name, STATEMENTS[name])
