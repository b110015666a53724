"""Data-quality expectations — the reference's dbt-test surface
(SURVEY §0: dbt is the reference's transformation/testing layer,
reference README.md:79-98) as a first-class engine operator.

dbt's four built-in tests (not_null, unique, accepted_values,
relationships) compile to SQL checks over the warehouse; `expect()`
compiles the same rules to DataFrame plans and returns one summary
row per rule — the CI gate a lakehouse runs after every load.

Scale shape: each rule is one aggregate or one join over the checked
table — not_null/accepted_values are map-side conditional counts
that FUSE into a single scan+agg per table; unique is a distinct
count on the key column only; relationships is a left-anti join
(broadcast when the parent key side is dimension-sized, exactly like
the ingest layer's new-file anti-join). No rule ever collects data.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table as T

from .common import make_registry

QUERIES, ORACLES, query = make_registry()


def expect(
    df: DataFrame,
    rules: list[tuple],
    refs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Evaluate dbt-style rules against `df`; one row per rule:
    (rule, column, n_violations, passed).

    Rules:
      ("not_null", col)                  — NULLs are violations
      ("unique", col)                    — rows beyond the first per value
      ("accepted_values", col, [v, ..])  — values outside the list
      ("relationships", col, ref, refcol)— child keys missing from
                                           refs[ref] (FK integrity)
      ("row_count_between", "*", lo, hi) — dbt's volume test: total
                                           rows outside [lo, hi]
                                           fails (n_violations 0/1)
      ("freshness", col, cutoff)         — dbt source freshness:
                                           max(col) older than the
                                           caller-supplied cutoff
                                           timestamp fails (the
                                           cutoff is an argument so
                                           the check is deterministic
                                           and replayable — callers
                                           pass now()-SLA)

    Same-table rules share one scan: their conditional counts ride a
    single aggregate. Cross-table rules are anti-joins.
    """
    refs = refs or {}
    if not rules:
        raise ValueError("expect(): empty rule list — nothing to check")
    agg_cols: list = []
    names: list[tuple[str, str]] = []
    joins: list[DataFrame] = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        if kind == "not_null":
            agg_cols.append(
                F.count_if(F.col(col).isNull()).alias(f"v{len(names)}")
            )
            names.append((kind, col))
        elif kind == "unique":
            agg_cols.append(
                (
                    F.count(col) - F.count_distinct(F.col(col))
                ).alias(f"v{len(names)}")
            )
            names.append((kind, col))
        elif kind == "accepted_values":
            agg_cols.append(
                F.count_if(
                    F.col(col).isNotNull() & ~F.col(col).isin(rule[2])
                ).alias(f"v{len(names)}")
            )
            names.append((kind, col))
        elif kind == "row_count_between":
            lo, hi = rule[2], rule[3]
            n = F.count(F.lit(1))
            agg_cols.append(
                F.when((n < lo) | (n > hi), 1)
                .otherwise(0)
                .cast("long")
                .alias(f"v{len(names)}")
            )
            names.append((kind, f"*[{lo},{hi}]"))
        elif kind == "freshness":
            cutoff = rule[2]
            # NULL max (empty table / all-NULL column) is a VIOLATION,
            # not a pass: dbt source freshness treats no-data as
            # error/warn — a dead feed must not read as fresh.
            agg_cols.append(
                F.when(
                    F.max(F.col(col)).isNull()
                    | (F.max(F.col(col)) < F.lit(cutoff)),
                    1,
                )
                .otherwise(0)
                .cast("long")
                .alias(f"v{len(names)}")
            )
            names.append((kind, col))
        elif kind == "relationships":
            ref_name, ref_col = rule[2], rule[3]
            if ref_name not in refs:
                raise ValueError(
                    f"relationships rule on {col!r} references unknown "
                    f"table {ref_name!r} (have {sorted(refs)})"
                )
            parent = refs[ref_name].select(
                F.col(ref_col).alias(col)
            ).distinct()
            orphans = (
                df.select(col)
                .filter(F.col(col).isNotNull())
                .join(parent, col, "left_anti")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(
                    F.lit(kind).alias("rule"),
                    F.lit(f"{col}->{ref_name}.{ref_col}").alias("column"),
                    F.col("n").cast("bigint").alias("n_violations"),
                )
            )
            joins.append(orphans)
        else:
            raise ValueError(f"unknown rule {kind!r}")
    parts: list[DataFrame] = []
    if agg_cols:
        wide = df.agg(*agg_cols)
        for i, (kind, col) in enumerate(names):
            parts.append(
                wide.select(
                    F.lit(kind).alias("rule"),
                    F.lit(col).alias("column"),
                    F.col(f"v{i}").cast("bigint").alias("n_violations"),
                )
            )
    parts.extend(joins)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("n_violations") == 0)


@query(
    "a23_expectations",
    oracle="""
    SELECT 'not_null' AS rule, 'o_custkey' AS "column",
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS n_violations,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey),
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) = 0
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus',
           COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F', 'P')),
           COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F', 'P')) = 0
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderpriority',
           COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL
                            AND o_orderpriority NOT IN ('1-URGENT')),
           COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL
                            AND o_orderpriority NOT IN ('1-URGENT')) = 0
    FROM orders
    UNION ALL
    SELECT 'relationships', 'o_custkey->customer.c_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)),
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
    """,
)
def a23_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt test suite a reference user runs after every load
    (README.md:79-98), natively: five rules over orders — three that
    pass (not_null key, unique primary key, accepted order statuses),
    one that FAILS by construction (order priority restricted to a
    single value — the oracle counts the same violations), and one FK
    relationship check against customer. Same-table rules fuse into
    ONE scan+aggregate; the FK check is a broadcast anti-join.
    """
    orders = T(spark, sf_dir, "orders")
    customer = T(spark, sf_dir, "customer")
    return expect(
        orders,
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("accepted_values", "o_orderstatus", ["O", "F", "P"]),
            ("accepted_values", "o_orderpriority", ["1-URGENT"]),
            ("relationships", "o_custkey", "customer", "c_custkey"),
        ],
        refs={"customer": customer},
    )


@query(
    "a28_volume_freshness",
    oracle="""
    SELECT 'row_count_between' AS rule, '*[1,1000000000]' AS "column",
           CAST(CASE WHEN COUNT(*) BETWEEN 1 AND 1000000000
                THEN 0 ELSE 1 END AS BIGINT) AS n_violations,
           COUNT(*) BETWEEN 1 AND 1000000000 AS passed
    FROM events
    UNION ALL
    -- NOT(...) forms, not MAX < cutoff: the engine
    -- deliberately treats MAX(ts) IS NULL — an empty or all-NULL
    -- feed — as a VIOLATION ("a dead feed must not read as fresh");
    -- NOT(MAX >= cutoff) is true for NULL the same way, while the
    -- old MAX < cutoff read NULL as no-violation and diverged on
    -- exactly that edge.
    SELECT 'freshness', 'ts',
           CAST(CASE WHEN NOT COALESCE(MAX(ts) >= TIMESTAMP '1990-01-01',
                               FALSE)
                THEN 1 ELSE 0 END AS BIGINT),
           COALESCE(MAX(ts) >= TIMESTAMP '1990-01-01', FALSE) AS passed
    FROM events
    UNION ALL
    SELECT 'freshness', 'ts',
           CAST(CASE WHEN NOT COALESCE(MAX(ts) >= TIMESTAMP '2030-01-01',
                               FALSE)
                THEN 1 ELSE 0 END AS BIGINT),
           COALESCE(MAX(ts) >= TIMESTAMP '2030-01-01', FALSE) AS passed
    FROM events
    """,
)
def a28_volume_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt's volume + source-freshness tests over the event stream
    (completing the expectations surface next to a23's four row
    rules): a row-count band that passes, a freshness check against a
    past cutoff that passes, and one against a FUTURE cutoff that
    fails by construction (the oracle computes the same verdicts).
    All three ride ONE fused scan+aggregate — the after-every-load CI
    gate costs one pass regardless of how many such rules a table
    declares. The freshness cutoff is an explicit argument (callers
    pass now()-SLA), keeping the check deterministic and replayable.
    """
    import datetime as _dt

    e = T(spark, sf_dir, "events")
    return expect(
        e,
        [
            ("row_count_between", "*", 1, 1_000_000_000),
            ("freshness", "ts", _dt.datetime(1990, 1, 1)),
            ("freshness", "ts", _dt.datetime(2030, 1, 1)),
        ],
    )


@query(
    "a34_profile",
    oracle="""
    SELECT 'l_orderkey' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_orderkey) AS n_nulls,
           COUNT(DISTINCT l_orderkey) AS n_distinct,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*),
           COUNT(*) - COUNT(l_returnflag),
           COUNT(DISTINCT l_returnflag),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', COUNT(*),
           COUNT(*) - COUNT(l_shipdate),
           COUNT(DISTINCT l_shipdate),
           CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR),
           CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR)
    FROM lineitem
    """,
)
def a34_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the ANALYZE/dbt-docs statistics pass every
    catalog needs (Trino `SHOW STATS` / Spark `ANALYZE TABLE ...
    COMPUTE STATISTICS FOR COLUMNS`, both exposed by the reference
    stack's engines over its Iceberg tables): per-column row count,
    null count, exact distinct cardinality, and min/max rendered as
    strings, one profile row per column.

    Plan shape: the first cut fused
    the three exact COUNT(DISTINCT)s into one aggregate, which Spark
    rewrites as Expand — every row replicated 4× (2.4 M rows at
    sf0.1) — and, because min/max over STRING columns carry immutable
    aggregation buffers, the whole expanded stream fell back to
    Sort + SortAggregate (measured 6.3 s at sf0.1; plan:
    plans/r12/a34_profile_before.txt). The profile is instead
    computed per column from `groupBy(col).count()` — HashAggregate
    with map-side partial combine, so the exchange carries only the
    DISTINCT values (~153 k narrow rows total vs 2.4 M wide) and the
    big Sort disappears; every statistic is derived EXACTLY from the
    grouped table (n_rows = Σcnt, n_nulls = Σcnt where key IS NULL,
    n_distinct = count of non-null keys, min/max over keys ≡ min/max
    over rows). Three pruned scans of one column each read the same
    bytes as one three-column scan, so at 100 TB the I/O is unchanged
    while the shuffle shrinks from table-sized to
    distinct-value-sized; swap exact distinct for
    approx_count_distinct when a 2 % HLL estimate is acceptable and
    the per-column pass becomes a 1-row partial aggregate.
    """
    li = T(spark, sf_dir, "lineitem")

    def profile(col: str, render) -> DataFrame:
        g = li.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        return g.agg(
            F.sum("cnt").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col(col).isNull(), F.col("cnt"))),
                F.lit(0).cast("bigint"),
            ).alias("n_nulls"),
            F.count(col).alias("n_distinct"),
            render(F.min(col)).alias("min_value"),
            render(F.max(col)).alias("max_value"),
        ).select(
            F.lit(col).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_value",
            "max_value",
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_date_str = lambda c: c.cast("date").cast("string")  # noqa: E731
    return (
        profile("l_orderkey", as_str)
        .unionAll(profile("l_returnflag", as_str))
        .unionAll(profile("l_shipdate", as_date_str))
    )
