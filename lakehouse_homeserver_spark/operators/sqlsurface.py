"""SQL-text entry point — the reference's primary query surface.

The reference's users query through SQL engines wired over its tables
(Trino CLI / dbt / Spark SQL — /root/reference/README.md:66-98;
default-catalog wiring /root/reference/scripts/extract_load.py:32).
This module is the native equivalent: fixture tables registered as
views, query text executed by ``spark.sql`` (SURVEY.md §3.2-3.3).

Most queries here run the IDENTICAL SQL text in Spark and in the
DuckDB oracle — demonstrating that the engine's SQL dialect surface
(joins, subqueries, grouping sets, window frames) is ANSI-compatible,
not just DataFrame-reachable.

Scale notes:
- The TPC-H-style multi-join queries leave join strategy to Catalyst:
  region/nation/supplier are far below the broadcast threshold, so
  the plan broadcasts every dimension and the single shuffle is the
  final groupBy — verified in tests/test_plans.py.
- Correlated subqueries (EXISTS / IN / scalar) are decorrelated by
  Catalyst's RewriteCorrelatedScalarSubquery / RewritePredicateSubquery
  into joins — no per-row re-execution, unlike a naive interpreter.
- All double sums go through exact decimal arithmetic (operators/common.py
  rationale) so results are order-independent → reproducible across
  partitionings AND engines.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table as T
from ..sources import register_views
from .common import make_registry, dec, dsum, sql_dsum

QUERIES, ORACLES, query = make_registry()


def sql_query(name: str, sql: str):
    """Register a query whose Spark side IS the oracle SQL text.

    The same string goes through spark.sql() and DuckDB — a literal
    dialect-compatibility check for the exposed SQL surface.
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    run.__name__ = name
    run.__doc__ = f"Same-text SQL in Spark and DuckDB:\n{sql}"
    QUERIES[name] = run
    ORACLES[name] = sql
    return run


REVENUE = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))))"
)

# ---------------------------------------------------------------------------
# TPC-H-style multi-join queries (SURVEY C1/C5/D2/F2-F4 composed),
# adapted to the fixture star schema (FIXTURES.md).
# ---------------------------------------------------------------------------

sql_query(
    "tpch_q3_shipping_priority",
    f"""
    SELECT o_orderkey,
           CAST({REVENUE} AS DOUBLE) AS revenue,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)

sql_query(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n_name,
           CAST({REVENUE} AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

sql_query(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey,
           c_name,
           CAST({REVENUE} AS DOUBLE) AS revenue,
           c_acctbal,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)

# ---------------------------------------------------------------------------
# Subqueries (SURVEY B5 — the full WHERE surface the SQL engines expose).
# Catalyst decorrelates all three forms into joins (no per-row loops).
# ---------------------------------------------------------------------------

sql_query(
    "sql_exists_correlated",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

sql_query(
    "sql_in_subquery",
    """
    SELECT c_mktsegment, COUNT(*) AS big_spenders
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    )
      AND c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          AND o_totalprice > 300000
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

sql_query(
    "sql_scalar_subquery",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders
    WHERE o_totalprice > 4 * (
        SELECT COALESCE(MAX(l_extendedprice), 0)
        FROM lineitem WHERE l_orderkey = o_orderkey
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)

# ---------------------------------------------------------------------------
# GROUPING SETS (SURVEY D4 — beyond cube/rollup) with GROUPING()
# disambiguation of "real NULL" vs "rolled-up level".
# ---------------------------------------------------------------------------

sql_query(
    "sql_grouping_sets",
    f"""
    SELECT l_returnflag,
           l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY l_returnflag, l_linestatus
    """,
)


# ---------------------------------------------------------------------------
# Pivot (wide-format conditional aggregation). Spark side uses the
# DataFrame pivot API (the idiomatic form); the oracle expresses the
# same thing with FILTERed aggregates — identical output schema.
# ---------------------------------------------------------------------------

@query(
    "d8_pivot",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS A,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS N,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS R
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def d8_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: rows→columns on a low-cardinality key (SURVEY D2/D4 family).

    Explicit value list keeps the plan a single pass (no extra job to
    discover pivot values) and fixes the output schema — required both
    for oracle parity and for plan stability at scale.
    """
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity"))
    )


# ---------------------------------------------------------------------------
# RANGE window frame (SURVEY E3 — value-based frame, vs the ROWS-based
# running sum in relational.e3). Frame membership is defined by the
# ORDER BY value, so results are insensitive to peer-row order.
# ---------------------------------------------------------------------------

@query(
    "e3_window_range_frame",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           day_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_orderpriority ORDER BY day_n
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS weekly_total
    FROM (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_n
        FROM orders
    )
    """,
)
def e3_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day sum per priority via a RANGE frame.

    The frame is value-bounded (epoch-day ± interval), so ties on the
    sort key contribute symmetrically — unlike ROWS frames this is
    deterministic under shuffle reordering without a unique tiebreaker.
    """
    o = T(spark, sf_dir, "orders").withColumn(
        "day_n", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_n")
        .rangeBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "day_n",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("weekly_total"),
    )


sql_query(
    "h1_interval_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL '90' DAY AS DATE) AS due_date,
           CAST(o_orderdate - INTERVAL '3' DAY AS DATE) AS gc_cutoff_style,
           o_orderdate + INTERVAL '90' DAY
               > TIMESTAMP '2001-06-01 00:00:00' AS past_horizon
    FROM orders
    WHERE o_orderdate + INTERVAL '30' DAY >= TIMESTAMP '2001-01-01 00:00:00'
    """,
)


sql_query(
    "tpch_q14_promo_revenue",
    """
    SELECT CAST(ROUND(
             100.0
             * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           4) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)

sql_query(
    "tpch_q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           o_totalprice
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 210
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)


sql_query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND CAST(l_discount AS DECIMAL(18,2))
            BETWEEN CAST(0.05 AS DECIMAL(18,2)) AND CAST(0.07 AS DECIMAL(18,2))
      AND l_quantity < 24
    """,
)

sql_query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)

sql_query(
    "tpch_q19_disjunctive_pricing",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)

sql_query(
    "tpch_q22_idle_customers",
    """
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
        -- exact-decimal-sum / count, cast to DOUBLE before the
        -- divide: a bare AVG(DECIMAL) types as DECIMAL(22,6) in
        -- Spark (rounded at 6 dp) but DOUBLE in DuckDB, so the
        -- threshold itself could differ by ~5e-7 and flip a
        -- customer's membership (the repo-wide davg
        -- contract from operators/common.py)
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM customer
        WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)


# ---------------------------------------------------------------------------
# More TPC-H queries. The fixture schema (FIXTURES.md) lacks
# partsupp, l_commitdate/l_receiptdate, o_comment and p_container, so
# Q2/Q9/Q11/Q16/Q20 are out of reach and Q13/Q17/Q21 are adapted to
# equivalent predicates over columns the fixtures do have (adaptation
# noted per query). All are same-text SQL in Spark and DuckDB.
# ---------------------------------------------------------------------------

sql_query(
    "tpch_q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

sql_query(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           CAST(ROUND(
             CAST(SUM(CASE WHEN nation = 'NATION_7' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)

sql_query(
    # Adaptation: TPC-H Q13 excludes orders by o_comment pattern; the
    # fixture has no comment column, so the exclusion predicate is
    # o_orderpriority <> '1-URGENT' (same shape: join-condition filter
    # on the right side of a LEFT JOIN, preserving zero-order customers).
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

sql_query(
    # Adaptation: TPC-H Q17 filters p_brand + p_container; the fixture
    # has no container, so the second predicate is p_type = 'SMALL'.
    # The correlated scalar subquery (per-part 20%-of-average quantity
    # threshold) is the point of the query and is kept verbatim —
    # Catalyst decorrelates it into an aggregate + join, not a per-row
    # re-execution (see module docstring).
    "tpch_q17_small_quantity_revenue",
    """
    SELECT CAST(ROUND(
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND p_type = 'SMALL'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)

sql_query(
    # Adaptation: TPC-H Q21 defines "kept waiting" via l_receiptdate >
    # l_commitdate; the fixture has neither, so the lateness criterion
    # becomes "this supplier shipped strictly last on a multi-supplier
    # finished order" — same correlated EXISTS / NOT EXISTS structure
    # (including the non-equi correlated predicate in the NOT EXISTS),
    # which is the part that stresses the decorrelation machinery.
    "tpch_q21_waiting_supplier",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name IN ('NATION_5', 'NATION_10', 'NATION_15')
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)

sql_query(
    # Adaptation: TPC-H Q4 counts orders with at least one late line,
    # where "late" is l_commitdate < l_receiptdate; the fixture has
    # neither date, so lateness becomes "shipped more than 30 days
    # after the order date" (l_shipdate > o_orderdate + 30d). The
    # structural point of Q4 — a correlated EXISTS that Catalyst must
    # decorrelate into a left-semi join so lineitem is scanned once,
    # then a tiny GROUP BY on priority — is preserved verbatim. At
    # 100 TB the semi-join shuffles only (orderkey) pairs pruned by
    # the quarter filter; the EXISTS side is never materialized.
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL '30' DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

sql_query(
    # Adaptation: TPC-H Q12 groups late lines by l_shipmode and splits
    # counts by order priority; the fixture has no shipmode or
    # commit/receipt dates, so the grouping key becomes l_linestatus
    # and "late" is the same shipped->ordered 20-day lag used for Q4.
    # The shape Q12 actually exercises — orders⋈lineitem with the
    # selective predicate on the FACT side, then conditional CASE
    # aggregation over a dimension attribute of the joined row — is
    # intact, including the URGENT/HIGH vs other split.
    "tpch_q12_priority_by_status",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL '20' DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE == DuckDB WITH RECURSIVE)
# ---------------------------------------------------------------------------

sql_query(
    # A recursive month spine (the classic gap-free reporting scaffold:
    # months with zero orders must still appear) left-joined to monthly
    # revenue. Recursion surface is new in Spark 4 (SPARK-24497); the
    # IDENTICAL text runs on DuckDB, so anchor/step semantics, DATE +
    # INTERVAL arithmetic inside the recursive step, and termination
    # are all hash-checked cross-engine. The spine is 80 rows — the
    # recursion is driver-cheap scaffolding; the heavy side (orders
    # aggregation) remains one ordinary shuffle, and joining spine to
    # aggregate is a broadcast of the tiny spine at any corpus scale.
    "sql_recursive_month_spine",
    """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01' AS m
      UNION ALL
      SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
      WHERE m < DATE '2001-08-01'
    ),
    rev AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) * 100
               + EXTRACT(MONTH FROM o_orderdate) AS ym,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders
      GROUP BY 1
    )
    SELECT CAST(EXTRACT(YEAR FROM m) * 100
                + EXTRACT(MONTH FROM m) AS BIGINT) AS ym,
           COALESCE(n_orders, 0) AS n_orders,
           CAST(COALESCE(revenue, 0.0) AS DOUBLE) AS revenue
    FROM months
    LEFT JOIN rev
      ON EXTRACT(YEAR FROM m) * 100 + EXTRACT(MONTH FROM m) = rev.ym
    ORDER BY ym
    """,
)


# ---------------------------------------------------------------------------
# TPC-H queries needing PARTSUPP (Q2/Q9/Q11/Q16/Q20)
# ---------------------------------------------------------------------------
# The fixture ships no partsupp table, so these five queries were
# unreachable in rounds 1-2. Unlocked here by DERIVING partsupp as a
# deterministic CTE computed identically by both engines from the
# part x supplier tables they both read: dbgen's own assignment shape
# (exactly 4 suppliers per part, offset by quarter-strides of the
# supplier count) with integer-arithmetic availqty/supplycost. This is
# a query-level construct over the given inputs — no synthesized
# fixture data — and the SAME text runs in Spark and DuckDB, so the
# derivation itself is hash-checked. FLOOR() is spelled explicitly
# everywhere a fractional intermediate appears: CAST(double AS INT)
# truncates in Spark but rounds in DuckDB (supplier count 10 at
# sf0.001 makes n_supp/4 fractional).

PARTSUPP_CTE = """sc AS (SELECT COUNT(*) AS n_supp FROM supplier),
    ps0 AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey + i * CAST(FLOOR(n_supp / 4) AS INT)
                + CAST(FLOOR(p_partkey / n_supp) AS INT)) % n_supp AS ps_suppkey
      FROM part CROSS JOIN sc
      CROSS JOIN (VALUES (0), (1), (2), (3)) AS gen(i)
    ),
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             CAST((ps_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS INT)
               AS ps_availqty,
             CAST((ps_partkey * 31 + ps_suppkey * 17) % 100000 AS DOUBLE) / 100.0
               AS ps_supplycost
      FROM ps0
    )"""

sql_query(
    # Q2 minimum-cost supplier. Adaptations: p_type = 'LARGE' stands in
    # for '%BRASS' (fixture p_type is a single word); output keeps
    # fixture columns (no s_address/s_phone/s_comment/p_mfgr) and adds
    # s_suppkey so the LIMIT's ORDER BY is a deterministic total order.
    # The correlated scalar MIN subquery over the EUROPE supplier pool
    # is the part that stresses decorrelation.
    "tpch_q2_min_cost_supplier",
    f"""
    WITH {PARTSUPP_CTE}
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, s_suppkey,
           ps_supplycost
    FROM part, supplier, partsupp, nation, region
    WHERE p_partkey = ps_partkey
      AND s_suppkey = ps_suppkey
      AND p_size BETWEEN 10 AND 20
      AND p_type = 'LARGE'
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM partsupp ps2, supplier s2, nation n2, region r2
        WHERE ps2.ps_partkey = part.p_partkey
          AND s2.s_suppkey = ps2.ps_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    LIMIT 100
    """,
)

sql_query(
    # Q9 product-type profit, '%red%' parts (fixture color vocabulary).
    # amount = revenue - supply cost x quantity, in exact decimal so the
    # per-(nation, year) sums are order-independent across engines.
    "tpch_q9_product_profit",
    f"""
    WITH {PARTSUPP_CTE}
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))
               - CAST(ps_supplycost AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM part, supplier, lineitem, partsupp, orders, nation
      WHERE s_suppkey = l_suppkey
        AND ps_suppkey = l_suppkey
        AND ps_partkey = l_partkey
        AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey
        AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

sql_query(
    # Q11 important stock in NATION_7. The HAVING threshold is the
    # classic uncorrelated scalar subquery (whole-nation stock value
    # times a fraction); 0.002 is tuned to the fixture's 25-nation
    # spread the way 0.0001/SF is tuned in the spec.
    "tpch_q11_important_stock",
    f"""
    WITH {PARTSUPP_CTE}
    SELECT ps_partkey,
           CAST(SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty)
                AS DOUBLE) AS part_value
    FROM partsupp, supplier, nation
    WHERE ps_suppkey = s_suppkey
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_7'
    GROUP BY ps_partkey
    HAVING SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) > (
      SELECT SUM(CAST(ps_supplycost AS DECIMAL(18,2)) * ps_availqty) * 0.002
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey
        AND s_nationkey = n_nationkey
        AND n_name = 'NATION_7'
    )
    ORDER BY part_value DESC, ps_partkey
    """,
)

sql_query(
    # Q16 parts/supplier relationship. Adaptation: "customers with
    # complaints" becomes suppliers in deficit (s_acctbal < 0) — the
    # fixture has no s_comment; the NOT IN anti-join shape is intact.
    "tpch_q16_part_supplier_relationship",
    f"""
    WITH {PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

sql_query(
    # Q20 potential part promotion: suppliers of 'red%' parts whose
    # derived stock exceeds half of what they actually shipped in 1996
    # — the doubly-nested IN + correlated scalar aggregate that makes
    # Q20 the decorrelation stress test. 0.5 * SUM(l_quantity) is exact
    # (integer-valued doubles), so the > boundary cannot drift between
    # engines.
    "tpch_q20_part_promotion",
    f"""
    WITH {PARTSUPP_CTE}
    SELECT s_name, s_suppkey
    FROM supplier, nation
    WHERE s_suppkey IN (
      SELECT ps_suppkey
      FROM partsupp
      WHERE ps_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
      )
      AND ps_availqty > (
        SELECT 0.5 * SUM(l_quantity)
        FROM lineitem
        WHERE l_partkey = ps_partkey
          AND l_suppkey = ps_suppkey
          AND l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
      )
    )
      AND s_nationkey = n_nationkey
      AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    ORDER BY s_name, s_suppkey
    """,
)


sql_query(
    "sql_lateral_join",
    """
    SELECT c.c_custkey, c.c_mktsegment, t.max_price, t.n_orders
    FROM customer c,
    LATERAL (SELECT MAX(o.o_totalprice) AS max_price,
                    COUNT(*) AS n_orders
             FROM orders o WHERE o.o_custkey = c.c_custkey) t
    WHERE c.c_custkey <= 200 AND t.n_orders > 0
    """,
)
# ^ LATERAL correlated derived table (SQL:1999 / Spark 3.4+ lateral
# subquery join, SURVEY SQL-surface ext.): the per-row-subquery shape
# users write when a correlated scalar subquery needs MULTIPLE output
# columns. Catalyst decorrelates it into a single aggregate + join —
# the oracle-identical text proves the dialect surface, and the plan
# keeps the decorrelation contract of sql_scalar_subquery (asserted
# family-wide in test_subqueries_decorrelate_to_joins). The aggregate
# makes the lateral exactly-one-row, so the comma join is safe.


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 / SQL:202x pipe operators, SURVEY B5 ext.):
# the linear FROM → |> WHERE → |> AGGREGATE → |> SELECT form. Spark
# side runs the pipe text; the oracle states the identical query in
# classic clause order — hash-equality proves the two surfaces are the
# same plan, not a dialect fork.
# ---------------------------------------------------------------------------

PIPE_SQL = """
FROM lineitem
|> WHERE l_shipdate >= DATE '1994-01-01'
|> AGGREGATE COUNT(*) AS n_items,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
   GROUP BY l_returnflag, l_linestatus
|> WHERE n_items > 0
|> SELECT l_returnflag, l_linestatus, n_items,
          CAST(q AS DOUBLE) AS sum_qty, CAST(rev AS DOUBLE) AS revenue
|> ORDER BY l_returnflag, l_linestatus
"""


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 0
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipe-syntax SQL (Spark 4's `|>` operators): each stage is a
    self-contained transformation applied top-to-bottom — the SQL
    dialect that reads like a DataFrame chain. Catalyst parses it to
    the SAME logical plan as the clause form (filter→agg→having→
    project→sort), so pushdown/pruning/partial-agg all apply
    unchanged; the DuckDB oracle is that clause form, hash-checked.
    """
    register_views(spark, sf_dir)
    return spark.sql(PIPE_SQL)


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (SURVEY B5/D2 ext.): the DuckDB-born
# shorthand both engines now parse — every non-aggregated select item
# becomes a grouping key. Same text through both engines, so the
# desugaring itself is what's hash-checked.
# ---------------------------------------------------------------------------

sql_query(
    "sql_group_by_all",
    f"""
    SELECT l_returnflag, l_linestatus,
           EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS ship_year,
           COUNT(*) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
)


@query(
    "sql_named_params",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice")} AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_totalprice > 1000.0
    GROUP BY o_orderpriority
    """,
)
def sql_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named markers (`:param` — the
    SQL-injection-safe templating surface dbt/BI tools need;
    `spark.sql(text, args=...)` binds literals at PARSE time, so
    Catalyst still constant-folds and pushes the predicates down
    exactly as in the inlined form). The oracle runs the same query
    with the parameters inlined — hash-equality proves binding
    changes nothing semantically.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={
            "cutoff": datetime.datetime(1996, 1, 1),
            "min_price": 1000.0,
        },
    )
