"""Time-series operators over the events stream table — SURVEY.md C6/C7/I2/I3.

The reference wires a full SQL surface over its tables
(/root/reference/README.md:66-98) but has no time-series operators of
its own; these are the engine extensions SURVEY.md §2.C7/§2.I calls
for, implemented as batch DataFrame compositions (their streaming
twins live in ``streaming/``).

Scale design: every operator here is a single window pass or a single
shuffle on (user_id | bucket) — no self-joins, no driver loops. The
as-of join is the classic union-trick (one sort, no range explosion);
sliding windows explode to exactly ceil(w/s) rows per event.

Timestamps in outputs are epoch-microsecond BIGINTs — representation-
stable across Spark and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table as T
from ..streaming.jobs import await_or_raise, pinned_shuffle
from ..workspace import scratch
from .common import dsum, make_registry, sql_dsum

QUERIES, ORACLES, query = make_registry()


def _linked_landing(path: str) -> str:
    """Expose a parquet table as a landing DIRECTORY of symlinked leaf
    files (zero copy — the layout a production stream would tail).
    Handles both the single-file testdata fixtures and directory-style
    tables (e.g. the scale-smoke clones): the flat landing read does
    not recurse into symlinked subdirectories, so leaves are linked
    individually.

    The landing dir is process scratch (`workspace.scratch`): the
    stream reads it after this returns, and it is removed when the
    process ends."""

    d = scratch("landing")
    if os.path.isdir(path):
        leaves = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    else:
        leaves = [path]
    for i, leaf in enumerate(leaves):
        os.symlink(leaf, os.path.join(d, f"part_{i}.parquet"))
    return d

HOUR_US = 3_600_000_000
MIN15_US = 900_000_000
MIN_US = 60_000_000


@query(
    "c7_asof_join",
    oracle="""
    SELECT p.event_id,
           epoch_us(p.ts) AS purchase_us,
           epoch_us(c.ts) AS last_click_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def c7_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it
    (SURVEY C7).

    Spark has no ASOF JOIN; the scalable encoding is the union trick:
    one dataset, one window sorted by time per user, running MAX of
    click-time with a RANGE frame (ties in ts handled exactly like
    ASOF's ``>=``). Cost: a single shuffle on user_id + one sort —
    no range-join explosion, no per-row subquery; this survives 100 TB
    because it's the same plan shape as any windowed aggregation.
    """
    return _purchase_last_click(spark, sf_dir).select(
        "event_id",
        "purchase_us",
        "last_click_us",
    )


def _purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared union-window ASOF frame: one row per purchase with
    (event_id, purchase_us, last_click_us) — consumed by
    `c7_asof_join` as-is and by `c7_asof_tolerance` behind one CASE
    (one body: two copies could drift if the
    union-trick encoding ever changes, e.g. a tie-break fix)."""
    e = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    ts_us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    click_us = F.when(F.col("event_type") == "click", ts_us)
    return (
        e.withColumn("last_click_us", F.max(click_us).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            ts_us.alias("purchase_us"),
            "last_click_us",
        )
    )


@query(
    "c7_asof_tolerance",
    oracle=f"""
    SELECT event_id, purchase_us,
           CASE WHEN purchase_us - last_click_us <= {60 * MIN_US}
                THEN last_click_us END AS last_click_us
    FROM (
      SELECT p.event_id,
             epoch_us(p.ts) AS purchase_us,
             epoch_us(c.ts) AS last_click_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    """,
)
def c7_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (SURVEY C7 ext.; pandas
    merge_asof(tolerance=...) / kdb wj): the latest click at-or-
    before each purchase counts only if it happened within the last
    hour — stale matches surface as NULL instead of attributing a
    purchase to a days-old click. Same single-shuffle union-window
    plan as c7_asof_join; the tolerance is one post-window CASE, so
    the bound costs nothing. The oracle applies the identical cutoff
    to DuckDB's native ASOF JOIN (which has no tolerance clause —
    the post-filter IS the portable encoding).
    """
    tol = 60 * MIN_US
    return _purchase_last_click(spark, sf_dir).select(
        "event_id",
        "purchase_us",
        F.when(
            F.col("purchase_us") - F.col("last_click_us") <= tol,
            F.col("last_click_us"),
        ).alias("last_click_us"),
    )


@query(
    "ts_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {30 * MIN_US}
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           COUNT(*) AS n_events,
           MIN(epoch_us(ts)) AS start_us,
           MAX(epoch_us(ts)) AS end_us,
           {sql_dsum('value')} AS sum_value
    FROM numbered GROUP BY user_id, session_idx
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) — SURVEY I3's
    batch twin. lag → flag → running-sum → group: two window passes
    over one user_id shuffle, the textbook scalable encoding.
    """
    e = T(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # event_id tie-breaker: with duplicate ts, peer order under a ROWS
    # frame is engine-unspecified — a session-opening row could land
    # on either side of its twin and shift every session_idx after it.
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gap = 30 * MIN_US
    flagged = e.withColumn(
        "new_sess",
        F.when(
            (ts_us - F.lag(ts_us).over(w) > gap)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn("session_idx", F.sum("new_sess").over(run))
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_us).alias("start_us"),
        F.max(ts_us).alias("end_us"),
        dsum("value").alias("sum_value"),
    )


@query(
    "i2_tumbling_window",
    oracle=f"""
    SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS window_start_us,
           event_type,
           COUNT(*) AS cnt,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def i2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation (SURVEY I2, batch twin of
    the streaming job in streaming/jobs.py)."""
    e = T(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@query(
    "i2_sliding_window",
    oracle=f"""
    WITH slid AS (
      SELECT (epoch_us(ts) // {MIN15_US} - j) * {MIN15_US} AS window_start_us,
             epoch_us(ts) AS e_us, value
      FROM events, UNNEST(generate_series(0, 3)) AS t(j)
    )
    SELECT window_start_us, COUNT(*) AS cnt, {sql_dsum('value')} AS sum_value
    FROM slid
    WHERE window_start_us + {HOUR_US} > e_us
    GROUP BY window_start_us
    """,
)
def i2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide) — each event lands in
    exactly ≤4 windows; Spark's ``window()`` does the controlled
    explode (SURVEY I2)."""
    e = T(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        e.groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "cnt",
            "sum_value",
        )
    )


@query(
    "ts_gap_fill",
    oracle=f"""
    WITH bounds AS (
      SELECT (MIN(epoch_us(ts)) // {HOUR_US}) * {HOUR_US} AS lo,
             (MAX(epoch_us(ts)) // {HOUR_US}) * {HOUR_US} AS hi
      FROM events
    ), buckets AS (
      SELECT UNNEST(generate_series(lo, hi, {HOUR_US})) AS bucket_us FROM bounds
    ), agg AS (
      SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS bucket_us,
             COUNT(*) AS c
      FROM events WHERE event_type = 'error' GROUP BY 1
    )
    SELECT b.bucket_us, COALESCE(a.c, 0) AS cnt
    FROM buckets b LEFT JOIN agg a ON b.bucket_us = a.bucket_us
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series (hypertable-style dense rollup).

    The bucket spine is generated distributively with
    ``sequence()`` + ``explode`` from a 1-row min/max aggregate —
    no driver-side range loop — then left-joined to the sparse
    aggregate. The sparse side is tiny post-agg, so AQE broadcasts it.
    """
    e = T(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    # us - pmod(us, n) IS floor(us/n)*n in pure integer arithmetic —
    # the old double-divide + bigint cast TRUNCATED toward zero, so a
    # pre-1970 timestamp landed one bucket high of the oracle's `//`
    # floor, and double division loses exactness past 2^53 µs
    # (same class at ts_interpolate / ts_m4 / cohort).
    bucket = ts_us - F.pmod(ts_us, F.lit(HOUR_US))
    bounds = e.agg(
        F.min(bucket).alias("lo"), F.max(bucket).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(HOUR_US))).alias("bucket_us")
    )
    agg = (
        e.filter(F.col("event_type") == "error")
        .groupBy(bucket.alias("bucket_us"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return spine.join(agg, "bucket_us", "left").select(
        "bucket_us", F.coalesce("c", F.lit(0)).cast("bigint").alias("cnt")
    )


@query(
    "ts_rollup_day_hour",
    oracle=f"""
    SELECT CAST(STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS VARCHAR) AS day,
           EXTRACT(hour FROM ts) AS hour,
           GROUPING(EXTRACT(hour FROM ts)) AS gid,
           COUNT(*) AS cnt, {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((1, 2), (1))
    """,
)
def ts_rollup_day_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (hour detail + day summary) via
    GROUPING SETS — the continuous-aggregate/hypertable-rollup
    pattern in one pass (SURVEY D4 applied to time)."""
    e = T(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("bigint").alias("hour"),
        "value",
    )
    # Unique view name + drop-after-analysis: a FIXED
    # name on the shared session races concurrent query builds —
    # another registration between createOrReplaceTempView and
    # spark.sql would swap the data. spark.sql resolves the view at
    # analysis time, so the returned DataFrame stays valid after the
    # drop.
    import uuid

    view = f"_ts_rollup_src_{uuid.uuid4().hex}"
    e.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT day, hour, grouping(hour) AS gid,
                   COUNT(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM {view}
            GROUP BY GROUPING SETS ((day, hour), (day))
            """
        )
    finally:
        spark.catalog.dropTempView(view)


@query(
    "ts_rich_sessions",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {30 * MIN_US}
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) + {30 * MIN_US} AS session_end_us,
           COUNT(*) AS n_events,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS event_types,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM numbered GROUP BY user_id, sess_no
    """,
)
def ts_rich_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful.rich_sessions (custom-payload
    sessionization: distinct-type set + exact cents sum per session).
    Registered with an oracle so the custom stateful operator's
    semantics are SQL-cross-checked even though the streaming
    execution itself is checkpoint-driven (tests/test_streaming.py
    proves stream == this batch twin)."""
    from ..streaming.stateful import batch_rich_sessions

    return batch_rich_sessions(T(spark, sf_dir, "events"))


@query(
    "ts_value_spikes",
    oracle="""
    WITH running AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
             COUNT(*) OVER w AS prior_n,
             COALESCE(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                           OVER w AS BIGINT), 0) AS prior_sum_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, us, value_cents, prior_n, prior_sum_cents
    FROM running
    WHERE prior_n > 0
      AND value_cents * prior_n > 3 * prior_sum_cents
    """,
)
def ts_value_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful.value_spikes — the
    transformWithStateInPandas (SPARK-49564) spike detector: an event
    is flagged when its integer cents value exceeds SPIKE_FACTOR×the
    user's prior running mean (value_cents·n > FACTOR·sum_cents —
    pure integer arithmetic, so stream, batch twin and the DuckDB
    window form agree bit-for-bit). Registered with an oracle so the
    TWS operator's SEMANTICS hold a certificate even where the TWS
    runtime can't run (its state-server protocol needs the protobuf
    wheel; absent in this environment — see streaming/stateful.py
    runtime note; tests/test_streaming.py proves stream == this twin
    when it can run). Scale: state is two longs per user; the batch
    form is one window pass, no shuffle beyond the user_id hash."""
    from ..streaming.stateful import batch_value_spikes

    return batch_value_spikes(T(spark, sf_dir, "events"))


@query(
    "ts_attribution_join",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(p.ts) AS p_us,
           epoch_us(c.ts) AS c_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def ts_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/jobs.interval_join (SURVEY §2.I ext.):
    purchases attributed to same-user clicks within the preceding 30
    minutes. The equi-key (user_id) keeps this a hash join with a
    range residual — never a cross product — and the identical
    function body runs as the watermarked stream-stream join
    (tests/test_streaming.py proves stream == batch on the emitted
    frontier). Output is all-pairs within the window by design
    (multi-touch attribution); first/last-touch is one
    WindowGroupLimit away.
    """
    from ..streaming.jobs import interval_join

    e = T(spark, sf_dir, "events")
    joined = interval_join(
        e.filter(F.col("event_type") == "purchase"),
        e.filter(F.col("event_type") == "click"),
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("p_ts").alias("p_us"),
        F.unix_micros("c_ts").alias("c_us"),
    )


WEEK_US = 604_800_000_000


@query(
    "ts_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.v_us
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.c_us
      GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM v) AS viewed,
           (SELECT COUNT(*) FROM c) AS clicked_after_view,
           (SELECT COUNT(*) FROM p) AS purchased_after_click
    """,
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): how many users
    reach each stage IN ORDER — a later click only counts if at or
    after the user's first view, a purchase only after that click.
    The product-analytics operator every event store grows
    (Mixpanel/Amplitude funnels; Snowplow's SQL runs exactly this
    CTE chain).

    Plan: three sequential per-user MIN aggregates, each joined to a
    strictly SHRINKING user set (stage-2 joins stage-1 survivors,
    ...), so every shuffle is keyed on user_id and bounded by the
    previous stage's cardinality — no window over the full event
    stream, no self-join explosion. Scales as three groupBys.
    """
    e = T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") >= F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("purchased_after_click")))
    )


@query(
    "ts_cohort_retention",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, MIN(epoch_us(ts) // {WEEK_US}) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {WEEK_US} AS w
      FROM events
    )
    SELECT cohort_week,
           w - cohort_week AS week_offset,
           COUNT(*) AS n_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-seen
    week, counted in every subsequent week they were active — the
    second canonical product-analytics rollup next to the funnel.

    Plan: one per-user MIN (cohort assignment), one DISTINCT over
    (user, week) — both keyed on user_id — then the cohort table
    (users-sized, far smaller than events) broadcasts back onto
    activity for the final (cohort, offset) count. Integer week
    arithmetic (epoch-µs floor-div) is exact in both engines.
    """
    e = T(spark, sf_dir, "events").select(
        # (us - pmod) div n = FLOOR division in pure integer
        # arithmetic; bare `div` truncates toward zero and would put
        # a pre-1970 event in the wrong cohort week vs the oracle's
        # `//`
        "user_id",
        F.expr(
            f"(unix_micros(ts) - pmod(unix_micros(ts), {WEEK_US}))"
            f" div {WEEK_US}"
        ).alias("w"),
    )
    firsts = e.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    activity = e.distinct()
    # No broadcast hint on firsts: it is a PER-USER table
    # — corpus-scaled, not dimension-sized — and a forced hint
    # bypasses AQE's size check at exactly the scale the docstring
    # claims. AQE broadcasts it when small, shuffles when not; both
    # sides are already partitioned by user_id so the shuffle case is
    # co-located anyway.
    return (
        activity.join(firsts, "user_id")
        .select("cohort_week", (F.col("w") - F.col("cohort_week")).alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "ts_interpolate",
    oracle=f"""
    WITH sparse AS (
      SELECT event_type,
             (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS val
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM sparse),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM sparse) t
      CROSS JOIN (
        SELECT UNNEST(range(lo, hi + {HOUR_US}, {HOUR_US})) AS h
        FROM bounds
      ) g
    ),
    dense AS (
      SELECT s.event_type, s.h, sp.val
      FROM spine s LEFT JOIN sparse sp
        ON s.event_type = sp.event_type AND s.h = sp.h
    ),
    flanked AS (
      SELECT event_type, h, val,
        LAST_VALUE(val IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        LAST_VALUE(CASE WHEN val IS NOT NULL THEN h END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY h
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        FIRST_VALUE(val IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        FIRST_VALUE(CASE WHEN val IS NOT NULL THEN h END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY h
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM dense
    )
    SELECT event_type, h AS hour_us,
           (val IS NULL) AS was_gap,
           ROUND(CASE
             WHEN val IS NOT NULL THEN val
             WHEN pv IS NULL OR nv IS NULL THEN NULL
             ELSE pv + (nv - pv) * (CAST(h - ph AS DOUBLE)
                                    / CAST(nh - ph AS DOUBLE))
           END, 6) AS value_interp
    FROM flanked
    ORDER BY event_type, hour_us
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a gap-filled hourly series (the
    TimescaleDB `interpolate()` / InfluxDB `fill(linear)` operator):
    per event type, missing hours get the straight line between the
    flanking known points; hours outside the known range stay NULL
    (no extrapolation).

    Plan: sparse hourly aggregate (decimal-exact mean) -> dense spine
    join (spine rows = hours x types, generated distributively) ->
    TWO windows per type (backward LOCF pair, forward NOCB pair) with
    IGNORE NULLS frames — the standard flanking-value encoding that
    keeps interpolation a per-partition sort, never a self-join. All
    lerp arithmetic is the same IEEE double ops in both engines, and
    emitted values are rounded at 6 dp.
    """
    e = T(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    sparse = (
        e.select(
            "event_type",
            # integer floor-to-bucket (see ts_gap_fill — the
            # divide+cast form truncated, diverging pre-1970)
            (ts_us - F.pmod(ts_us, F.lit(HOUR_US))).alias("h"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("event_type", "h")
        .agg(
            (F.sum("v").cast("double") / F.count(F.lit(1))).alias("val")
        )
    )
    bounds = sparse.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = (
        sparse.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(HOUR_US))
            ).alias("h"),
        )
    )
    dense = spine.join(sparse, ["event_type", "h"], "left")
    back = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("val").isNotNull(), F.col("h"))
    flanked = dense.select(
        "event_type",
        "h",
        "val",
        F.last("val", ignorenulls=True).over(back).alias("pv"),
        F.last(known_h, ignorenulls=True).over(back).alias("ph"),
        F.first("val", ignorenulls=True).over(fwd).alias("nv"),
        F.first(known_h, ignorenulls=True).over(fwd).alias("nh"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("h") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph")).cast("double")
    )
    return flanked.select(
        "event_type",
        F.col("h").alias("hour_us"),
        F.col("val").isNull().alias("was_gap"),
        F.round(
            F.when(F.col("val").isNotNull(), F.col("val"))
            .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
            .otherwise(lerp),
            6,
        ).alias("value_interp"),
    ).orderBy("event_type", "hour_us")


@query(
    "ts_m4_downsample",
    oracle="""
    WITH b AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
             epoch_us(ts) AS us, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type,
                            (epoch_us(ts) // 3600000000) * 3600000000
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type,
                            (epoch_us(ts) // 3600000000) * 3600000000
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket_us,
           COUNT(*) AS n,
           MIN(value) AS v_min,
           MAX(value) AS v_max,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS v_last
    FROM b
    GROUP BY event_type, bucket_us
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (SURVEY ts ext.) — the visualization-lossless
    time-series reduction (Jugel et al., VLDB'14): per (series,
    bucket) keep min, max, first, last. Any line rendering of the
    reduced series is pixel-identical to the full series at the
    chosen resolution, which is why every TSDB dashboard layer
    (M4/Grafana-style) uses exactly this reduction.

    Plan shape: the two ROW_NUMBER windows and the final groupBy all
    share the same partition key (event_type, bucket), so Catalyst
    plans ONE exchange and sorts once per direction — no self-join,
    no second shuffle. first/last are deterministic under the
    (ts, event_id) total order (the ADVICE tie-break contract).
    """
    e = T(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    # integer floor-to-bucket (see ts_gap_fill)
    bucket = us - F.pmod(us, F.lit(HOUR_US))
    b = e.select(
        "event_type",
        bucket.alias("bucket_us"),
        "ts",
        "event_id",
        "value",
    )
    part = ["event_type", "bucket_us"]
    w_a = Window.partitionBy(*part).orderBy("ts", "event_id")
    w_d = Window.partitionBy(*part).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        b.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
        .groupBy(*part)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias(
                "v_first"
            ),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias(
                "v_last"
            ),
        )
    )


@query(
    "ts_zscore_anomaly",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value,
             AVG(value) OVER prior AS mu,
             STDDEV_SAMP(value) OVER prior AS sd,
             COUNT(*) OVER prior AS n_prior
      FROM events
      WINDOW prior AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, us,
           ROUND((value - mu) / sd, 4) AS z
    FROM w
    WHERE n_prior >= 5 AND sd > 0
      AND ABS(ROUND((value - mu) / sd, 4)) > 3.0
    """,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection (SURVEY ts ext.): flag an
    event whose value deviates > 3σ from the SAME user's trailing
    20-event window (window excludes the current row, so the anomaly
    cannot mask itself). The classic streaming-metrics outlier gate.

    One window pass, partitioned by user — scales as a single
    shuffle on the series key. The flag predicate uses the ROUNDED
    z (4 dp) in both engines: avg/stddev reduce in different orders
    engine-to-engine, so raw-double thresholding could disagree in
    the last ulp exactly at the boundary; rounding pins the
    comparison to a shared grid.
    """
    e = T(spark, sf_dir, "events")
    prior = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    w = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "value",
        F.avg("value").over(prior).alias("mu"),
        F.stddev_samp("value").over(prior).alias("sd"),
        F.count(F.lit(1)).over(prior).alias("n_prior"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return w.filter(
        (F.col("n_prior") >= 5) & (F.col("sd") > 0) & (F.abs(z) > 3.0)
    ).select("user_id", "event_id", "us", z.alias("z"))


EWMA_TAPS = 16
EWMA_ALPHA = 0.5  # power-of-two decay → every weight is IEEE-exact


def _ewma_terms() -> tuple[str, str]:
    """Numerator/denominator of the normalized 16-tap EWMA as explicit
    left-assoc SQL chains — identical text in both engines."""
    num, den = [], []
    for k in range(EWMA_TAPS):
        w = f"CAST({(1 - EWMA_ALPHA) ** k!r} AS DOUBLE)"
        lagv = f"lag(value, {k}) OVER w" if k else "value"
        num.append(
            f"(CASE WHEN {lagv} IS NOT NULL THEN {w} * {lagv}"
            f" ELSE CAST(0.0 AS DOUBLE) END)"
        )
        den.append(
            f"(CASE WHEN {lagv} IS NOT NULL THEN {w}"
            f" ELSE CAST(0.0 AS DOUBLE) END)"
        )
    return " + ".join(num), " + ".join(den)


def _ewma_sql(us_fn: str) -> str:
    num, den = _ewma_terms()
    # NULLIF on the denominator: when value and all 15
    # prior lags are NULL both sums are 0.0, and 0/0 is where the
    # engines split — Spark yields IEEE NaN, DuckDB yields NULL.
    # NULLIF makes both emit NULL (an all-NULL history has no EWMA).
    return f"""
    SELECT user_id, event_id, {us_fn}(ts) AS us, value,
           ROUND(({num}) / NULLIF(({den}), CAST(0.0 AS DOUBLE)), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("ts_ewma", oracle=_ewma_sql("epoch_us"))
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user series (SURVEY
    ts ext.) — the normalized (pandas ewm adjust=True) form truncated
    at 16 taps: ewma_t = Σ_k w^k·x_{t-k} / Σ_k w^k over available
    history, w = 1-α = 0.5. The everyday smoothing primitive of
    metrics dashboards and anomaly baselines.

    Engine-exactness by construction: α = 0.5 makes every weight a
    power of two (exact doubles); the 16-term numerator/denominator
    chains are generated ONCE and evaluated left-assoc in both
    engines (same SQL text modulo the epoch-µs function name), and
    the final divide+round is a single IEEE op pair. One window
    shuffle on user_id; 16 lags over one sorted pass, map-side after
    the exchange — same cost class as any analytic window.
    """
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ewma_sql("unix_micros"))


@query(
    "c11_scd2_join",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, version, segment, valid_from, valid_to
      FROM (
        SELECT c_custkey,
               CAST(DATE '1995-01-01'
                    + CAST(c_custkey % 2000 AS INTEGER) AS TIMESTAMP)
                 AS split,
               c_mktsegment
        FROM customer
      ), LATERAL (VALUES
        (1, c_mktsegment, TIMESTAMP '1990-01-01', split),
        (2, c_mktsegment || '_R', split, TIMESTAMP '2999-01-01')
      ) AS v(version, segment, valid_from, valid_to)
    )
    SELECT d.version, d.segment,
           COUNT(*) AS n_orders,
           {sql_dsum("o.o_totalprice")} AS revenue
    FROM orders o
    JOIN dim d
      ON d.c_custkey = o.o_custkey
     AND o.o_orderdate >= d.valid_from
     AND o.o_orderdate < d.valid_to
    GROUP BY d.version, d.segment
    """,
)
def c11_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD Type-2) dimension join — the warehouse-standard
    "attribute as of the fact's date" lookup (Kimball slowly-changing
    dimensions; Trino/dbt snapshots expose exactly this shape over
    the reference stack). The dimension history is synthesized
    deterministically from `customer`: version 1 holds until a
    per-key split date, version 2 (re-branded segment) after — the
    oracle builds the identical history, so validity-window
    resolution is hash-checked, not assumed.

    100 TB design: the join is EQUI on the dimension key with the
    validity range as a residual filter — Catalyst plans a hash join
    keyed on custkey (never a range cross product); each fact row
    matches exactly one version because the windows partition the
    timeline. Dimension history stays dimension-sized (2 rows/key) →
    broadcast below threshold, bucketed co-location above.
    """
    cust = T(spark, sf_dir, "customer")
    split = F.date_add(
        F.lit("1995-01-01").cast("date"),
        (F.col("c_custkey") % 2000).cast("int"),
    ).cast("timestamp")
    dim = (
        cust.select("c_custkey", "c_mktsegment", split.alias("split"))
        .select(
            "c_custkey",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("version"),
                        F.col("c_mktsegment").alias("segment"),
                        F.lit("1990-01-01").cast("timestamp").alias("valid_from"),
                        F.col("split").alias("valid_to"),
                    ),
                    F.struct(
                        F.lit(2).alias("version"),
                        F.concat(F.col("c_mktsegment"), F.lit("_R")).alias(
                            "segment"
                        ),
                        F.col("split").alias("valid_from"),
                        F.lit("2999-01-01").cast("timestamp").alias("valid_to"),
                    ),
                )
            ).alias("v"),
        )
        .select("c_custkey", "v.*")
    )
    o = T(spark, sf_dir, "orders")
    joined = o.join(
        dim,
        (o["o_custkey"] == dim["c_custkey"])
        & (o["o_orderdate"] >= dim["valid_from"])
        & (o["o_orderdate"] < dim["valid_to"]),
    )
    return joined.groupBy("version", "segment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


@query(
    "ts_sliding_hll",
    oracle="""
    WITH x AS (
      SELECT date_trunc('hour', ts) AS hour, user_id FROM events
    ),
    h AS (SELECT DISTINCT hour FROM x)
    SELECT h.hour, COUNT(DISTINCT x.user_id) AS exact_users,
           TRUE AS within_bound
    FROM h JOIN x
      ON x.hour BETWEEN h.hour - INTERVAL 2 HOUR AND h.hour
    GROUP BY h.hour
    """,
)
def ts_sliding_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users via MERGEABLE HLL sketches (the
    composable-rollup pattern over time: Druid/Snowflake's
    sketch-per-bucket design): one HLL sketch per hour, then each
    3-hour trailing window is a UNION of three already-built sketches
    — never a re-scan of the raw events. At 100 TB the raw stream is
    sketched once (map-side, constant memory) and every rollup
    granularity (3 h, day, month) derives from bucket sketches by
    merge; exact sliding COUNT(DISTINCT) would re-shuffle the events
    per window.

    The slide is expressed as explode-to-targets (hour h's sketch
    feeds windows h, h+1, h+2) + one union-merge aggregate — bounded
    by buckets × window width, not by events. Oracle pattern as
    d3_approx_count_distinct: exact counts as value columns, the HLL
    estimate as a within-5% boolean pinned TRUE (lgConfigK=14 →
    rsd ≈ 0.8%, 3σ well inside the bound).
    """
    e = T(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    )
    hourly = e.groupBy("hour").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    offsets = F.array(*[F.lit(i) for i in range(3)])
    shifted = hourly.select(
        "sk", F.explode(offsets).alias("o"), "hour"
    ).select(
        "sk",
        (F.col("hour") + F.col("o") * F.expr("INTERVAL 1 HOUR")).alias(
            "target"
        ),
    )
    slid = shifted.groupBy("target").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = (
        e.select("user_id", F.explode(offsets).alias("o"), "hour")
        .select(
            "user_id",
            (F.col("hour") + F.col("o") * F.expr("INTERVAL 1 HOUR")).alias(
                "target"
            ),
        )
        .distinct()
        .groupBy("target")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    hours = hourly.select(F.col("hour").alias("target"))
    return (
        slid.join(exact, "target")
        .join(hours, "target", "left_semi")
        .select(
            F.col("target").alias("hour"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


@query(
    "ts_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS k, o_orderdate AS s,
             o_orderdate + INTERVAL 10 DAY
               + to_days(CAST(o_orderkey % 20 AS INTEGER)) AS e
      FROM orders WHERE o_custkey % 50 = 0
    ),
    flagged AS (
      SELECT k, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY k ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY k ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    grouped AS (
      SELECT k, s, e,
             CAST(SUM(new_island) OVER (
               PARTITION BY k ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM flagged
    )
    SELECT k AS custkey, island,
           MIN(s) AS window_start,
           MAX(e) AS window_end,
           COUNT(*) AS n_intervals
    FROM grouped GROUP BY k, island
    """,
)
def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge (the gaps-and-islands classic over
    RANGES, not points — coverage windows, on-call shifts, session
    spans): per customer, coalesce their order-activity intervals
    (synthesized deterministically: order date + 10-20 days) into
    maximal disjoint windows. An interval starts a new island iff its
    start exceeds the running MAX of all previous ends (max, not lag
    — an interval can be swallowed by an earlier longer one, the
    pitfall that makes the naive lag(e) version wrong); islands are
    then a running sum of the flags, same kernel as sessionization.

    100 TB design: one window + one groupBy, both keyed by the
    interval's partition key — per-key work is sort-linear and
    AQE-splittable; no self-join over interval pairs (the O(n²)
    formulation this replaces).
    """
    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    iv = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("s"),
        (
            F.col("o_orderdate")
            + F.expr("INTERVAL 10 DAYS")
            + F.make_dt_interval(
                (F.col("o_orderkey") % 20).cast("int")
            )
        ).alias("e"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w)
    flagged = iv.withColumn(
        "new_island",
        (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("int"),
    )
    run = (
        Window.partitionBy("k")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = flagged.withColumn("island", F.sum("new_island").over(run))
    return grouped.groupBy(
        F.col("k").alias("custkey"), "island"
    ).agg(
        F.min("s").alias("window_start"),
        F.max("e").alias("window_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


LTTB_BUCKETS = 20


@query(
    "ts_lttb_downsample",
    oracle=f"""
    WITH pts AS (
      SELECT event_type AS series,
             epoch_us(ts) AS x,
             CAST(CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS DOUBLE) AS y,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    bucketed AS (
      SELECT *, CAST(((rn - 1) * {LTTB_BUCKETS}) // n AS INTEGER) AS b
      FROM pts
    ),
    avgs AS (
      SELECT series, b,
             CAST(SUM(x) AS DOUBLE) / COUNT(*) AS ax,
             CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS ay
      FROM bucketed GROUP BY series, b
    ),
    anchors AS (
      SELECT series, b,
             LAG(ax) OVER (PARTITION BY series ORDER BY b) AS px,
             LAG(ay) OVER (PARTITION BY series ORDER BY b) AS py,
             LEAD(ax) OVER (PARTITION BY series ORDER BY b) AS nx,
             LEAD(ay) OVER (PARTITION BY series ORDER BY b) AS ny
      FROM avgs
    ),
    scored AS (
      SELECT p.series, p.b, p.rn, p.x, p.y,
             ROUND(ABS((a.px - a.nx) * (p.y - a.py)
                       - (a.px - p.x) * (a.ny - a.py)), 4) AS area
      FROM bucketed p JOIN anchors a
        ON a.series = p.series AND a.b = p.b
    ),
    picked AS (
      SELECT series, b, rn, x, y,
             ROW_NUMBER() OVER (
               PARTITION BY series, b
               ORDER BY CASE WHEN b = 0 THEN -rn
                             WHEN b = {LTTB_BUCKETS - 1} THEN rn
                        END DESC,
                        area DESC, rn) AS pick
      FROM scored
    )
    SELECT series, b AS bucket, x AS ts_us, y AS value
    FROM picked WHERE pick = 1
    """,
)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (Steinarsson's Largest-Triangle-Three-Buckets
    — the other canonical visualization reducer next to `ts_m4_downsample`):
    keep, per bucket, the point forming the largest triangle with its
    neighbor buckets. This is the parallelizable fixed-anchor variant
    (triangles against the ADJACENT BUCKET AVERAGES rather than the
    sequentially-chosen previous point — the standard streaming/
    distributed adaptation, since exact LTTB's previous-pick
    dependency is a sequential chain); first/last buckets keep their
    endpoint, as LTTB requires.

    Determinism: x is integer µs, y a 2-dp decimal-rounded double, the
    area one fixed IEEE expression rounded to 4 dp, ties broken by
    row number — every engine picks the same points.

    100 TB design: two windows and one aggregate, all partitioned by
    (series[, bucket]) — per-series work is sort-linear, output is
    {LTTB_BUCKETS} points per series regardless of input rate (the
    dashboard contract).
    """
    e = T(spark, sf_dir, "events")
    wser = Window.partitionBy("series").orderBy("ts", "event_id")
    pts = e.select(
        F.col("event_type").alias("series"),
        "ts",
        "event_id",
        F.unix_micros("ts").alias("x"),
        F.round(F.col("value"), 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("y"),
    ).select(
        "series",
        "x",
        "y",
        F.row_number().over(wser).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("series"))
        .alias("n"),
    )
    bucketed = pts.withColumn(
        "b",
        F.expr(f"((rn - 1) * {LTTB_BUCKETS}) div n").cast("int"),
    )
    avgs = bucketed.groupBy("series", "b").agg(
        # x is epoch-µs (~1.7e15): summed as DECIMAL so the partial
        # sums can't overflow int64 (~5,400 rows/bucket would) — the
        # DuckDB oracle's SUM(BIGINT) widens to HUGEINT the same way;
        # both sides cast the exact integer sum to double
        (
            F.sum(F.col("x").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ax"),
        (
            F.sum(F.col("y").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ay"),
    )
    wb = Window.partitionBy("series").orderBy("b")
    anchors = avgs.select(
        "series",
        "b",
        F.lag("ax").over(wb).alias("px"),
        F.lag("ay").over(wb).alias("py"),
        F.lead("ax").over(wb).alias("nx"),
        F.lead("ay").over(wb).alias("ny"),
    )
    area = F.round(
        F.abs(
            (F.col("px") - F.col("nx")) * (F.col("y") - F.col("py"))
            - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
        ),
        4,
    )
    scored = bucketed.join(anchors, ["series", "b"]).select(
        "series", "b", "rn", "x", "y", area.alias("area")
    )
    endpoint_rank = (
        F.when(F.col("b") == 0, -F.col("rn"))
        .when(F.col("b") == LTTB_BUCKETS - 1, F.col("rn"))
    )
    wpick = Window.partitionBy("series", "b").orderBy(
        endpoint_rank.desc(), F.col("area").desc(), F.col("rn")
    )
    return (
        scored.withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") == 1)
        .select(
            "series",
            F.col("b").alias("bucket"),
            F.col("x").alias("ts_us"),
            F.col("y").alias("value"),
        )
    )


@query(
    "i7_stream_stream_join",
    oracle=f"""
    WITH v AS (SELECT user_id, ts AS v_ts FROM events
               WHERE event_type = 'view'),
         p AS (SELECT user_id, ts AS p_ts, value FROM events
               WHERE event_type = 'purchase')
    SELECT v.user_id,
           COUNT(*) AS n_pairs,
           {sql_dsum('p.value')} AS attributed_value
    FROM v JOIN p
      ON p.user_id = v.user_id
     AND p.p_ts >= v.v_ts
     AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
    GROUP BY v.user_id
    """,
)
def i7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (SURVEY I-family; Structured
    Streaming's stateful two-sided join — the one streaming join form
    the engine had not yet driver-certified; Spark docs' canonical
    ad-monetization shape).

    Two REAL file streams over the same events fixture — views and
    purchases — each with a 1-hour watermark, inner-joined on user
    with the event-time band `v_ts <= p_ts <= v_ts + 1h`. The time
    bound plus both watermarks is exactly what lets Spark EVICT join
    state: a buffered view older than (watermark − 1h) can never
    match a future purchase and is dropped, so state is
    O(events in the watermark horizon), not O(stream) — the property
    that makes the join runnable forever at 100 TB/day. With an
    availableNow trigger the whole fixture fits one micro-batch, so
    the emitted pair set equals the batch interval join the DuckDB
    oracle runs — same rows, same per-user attribution totals, same
    hash. Aggregation happens AFTER the sink (memory table) because a
    streaming agg over a stream-stream join would need its own
    output-mode semantics; the certified surface is the join itself.

    The joined pair stream lands in a PARQUET sink and is read back
    for the aggregate — the pair set never
    materializes on the driver, which is the truthful 100 TB shape: a
    production attribution join writes its pairs to a table that
    downstream jobs aggregate.
    """
    import os

    from ..sources.registry import normalize_events_ts, table_path

    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    # The file stream source requires a DIRECTORY (it monitors for new
    # files); the fixture is a single parquet file, so expose it
    # through a symlink dir — zero copy, and exactly the landing-dir
    # layout a production stream would tail.
    d = _linked_landing(path)
    ev = normalize_events_ts(spark.readStream.schema(schema).parquet(d))
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + INTERVAL 1 HOUR"
        ),
        "inner",
    )
    sink_dir = scratch("i7-pairs")
    with pinned_shuffle(spark):
        q = (
            joined.writeStream.format("parquet")
            .option("path", os.path.join(sink_dir, "data"))
            .option("checkpointLocation", os.path.join(sink_dir, "_chk"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q)
    return (
        spark.read.parquet(os.path.join(sink_dir, "data"))
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum("value").alias("attributed_value"),
        )
    )


@query(
    "i8_stream_static_enrich",
    oracle=f"""
    WITH profile AS (
      SELECT user_id,
             {{SQL_DAVG}} AS user_avg_value,
             COUNT(*) AS user_n_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN e.value > p.user_avg_value
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_above_avg,
           {sql_dsum('e.value')} AS total_value
    FROM events e JOIN profile p USING (user_id)
    GROUP BY e.event_type
    """.replace(
        "{SQL_DAVG}",
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)",
    ),
)
def i8_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, driver-certified end to end
    (I-ext; previously pytest-only via its batch twin): a REAL event
    file stream joins a BROADCAST static per-user profile dimension —
    the standard 100 TB/day enrichment shape. Unlike the stream-stream
    join (i7) this needs NO state store and no watermark: each
    micro-batch is map-only against the broadcast dim, and
    re-broadcasting per trigger picks up slowly-changing profile
    updates for free.

    The stream (availableNow over the fixture, one micro-batch) lands
    enriched rows in a PARQUET sink (a memory sink would hold
    the full enriched stream in driver memory; same fix as i7/:1313 and
    i9/:1580 — executor-side files, zero driver residency) and the
    certified result aggregates the read-back per event type — event
    counts, above-personal-average flags (profile avg is the
    decimal-exact davg contract, so the double comparison is
    bit-identical cross-engine), and exact value totals. The oracle
    recomputes the identical enrichment relationally."""
    import os

    from ..sources.registry import normalize_events_ts, table_path
    from ..streaming.jobs import enrich_events, user_profile

    events = T(spark, sf_dir, "events")
    profile = user_profile(events)
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    d = _linked_landing(path)
    stream = normalize_events_ts(
        spark.readStream.schema(schema).parquet(d)
    )
    sink_dir = scratch("i8-enriched")
    q = (
        enrich_events(stream, profile)
        .writeStream.format("parquet")
        .option("path", os.path.join(sink_dir, "data"))
        .option("checkpointLocation", os.path.join(sink_dir, "_chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q)
    return (
        spark.read.parquet(os.path.join(sink_dir, "data"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("above_avg"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above_avg"),
            dsum("value").alias("total_value"),
        )
    )


@query(
    "ts_pattern_match",
    oracle="""
    WITH j AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           COUNT(*) AS n_days,
           CAST(SUM(len(regexp_extract_all(journey, 'vc*p'))) AS BIGINT)
             AS n_funnel,
           CAST(SUM(len(regexp_extract_all(journey, 'ee+'))) AS BIGINT)
             AS n_error_bursts
    FROM j GROUP BY user_id ORDER BY user_id
    """,
)
def ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-sequence pattern matching (ts-ext;
    the complex-event-processing surface Trino/Flink expose as
    ``MATCH_RECOGNIZE`` — Spark has no native equivalent, so the
    engine re-expresses the row-pattern automaton as journey-string
    regex matching, the classic translation for patterns without
    measures over intermediate rows): per user and day, events are
    ordered by (ts, event_id) and encoded one char per type
    (v/c/p/s/e — first letters, all distinct in the fixture's
    vocabulary); a pattern like ``PATTERN (V C* P)`` becomes the
    regex ``vc*p`` counted non-overlapping left-to-right, which is
    exactly SQL row-pattern ``AFTER MATCH SKIP PAST LAST ROW``
    semantics. Two canonical patterns ride the query: the
    view→clicks→purchase conversion funnel and the ``ee+`` error
    burst (>=2 consecutive errors, the ops-alerting shape).

    Scale design: state is bounded BY CONSTRUCTION — the journey
    string is built per (user, day), so no group exceeds a day of
    one user's events (the same chunking MATCH_RECOGNIZE engines
    get from PARTITION BY + session bounds; cross-midnight matches
    are deliberately out of contract, as documented). One shuffle on
    (user_id, day), then a map-side regex count and a second tiny
    per-user rollup; nothing driver-side, no self-joins. Both
    engines build byte-identical journey strings (total order pinned
    by the event_id tie-break), so the match counts hash-match
    cross-engine."""
    ev = T(spark, sf_dir, "events")
    per_day = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ch"),
            ).alias("s"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda x: x["ch"]
                ),
                "",
            ).alias("journey"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.regexp_count("journey", F.lit("vc*p")).alias("n_funnel"),
            F.regexp_count("journey", F.lit("ee+")).alias("n_burst"),
        )
    )
    return (
        per_day.groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n_funnel").cast("bigint").alias("n_funnel"),
            F.sum("n_burst").cast("bigint").alias("n_error_bursts"),
        )
        .orderBy("user_id")
    )


@query(
    "i9_stream_outer_join",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS v_id, ts AS v_ts FROM events
               WHERE event_type = 'view'),
         p AS (SELECT user_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(v_ts) FROM v),
                             (SELECT max(p_ts) FROM p))
                       - INTERVAL 1 HOUR AS w),
         closed AS (SELECT * FROM v
                    WHERE v_ts + INTERVAL 1 HOUR
                          < (SELECT w - INTERVAL 5 MINUTE FROM wm)),
         lj AS (SELECT c.user_id, c.v_id, p.p_ts
                FROM closed c LEFT JOIN p
                  ON p.user_id = c.user_id
                 AND p.p_ts >= c.v_ts
                 AND p.p_ts <= c.v_ts + INTERVAL 1 HOUR)
    SELECT user_id,
           COUNT(DISTINCT v_id) AS n_views_closed,
           CAST(COUNT(p_ts) AS BIGINT) AS n_pairs,
           COUNT(DISTINCT CASE WHEN p_ts IS NULL THEN v_id END)
             AS n_unmatched
    FROM lj GROUP BY user_id ORDER BY user_id
    """,
)
def i9_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark-driven
    NULL emission (I-family; the one streaming-join semantics i7's
    inner join does not exercise): views that never see a purchase
    within their 1-hour window must still be emitted — but only once
    the global watermark proves no future purchase can match, which
    is when Spark evicts the buffered view from the state store and
    appends its NULL-padded row. That deferred emission is THE
    semantic difference between outer streaming joins and their
    batch twins, and the machinery (state watermark = watermark −
    join-interval, plus the no-data batch that advances the clock
    after the last file) is what this query certifies end to end.

    Determinism contract: rows whose eviction straddles the final
    watermark are emission-order-sensitive, so certification is
    restricted to the CLOSED region — views whose whole match window
    sits a 5-minute safety margin below the terminal global
    watermark (min of both streams' max event time, minus the
    1-hour delay). Both engines compute the identical horizon from
    the data, so the per-user matched/unmatched counts hash-match;
    the boundary epsilon is excluded on both sides alike.

    At 100 TB this join form powers "sessions that did NOT convert"
    feeds; state stays O(watermark horizon) exactly as in i7, and
    the NULL rows land in the same parquet sink as the matches (no
    driver-side data plane)."""
    import os

    from ..sources.registry import normalize_events_ts, table_path

    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    d = _linked_landing(path)
    ev = normalize_events_ts(spark.readStream.schema(schema).parquet(d))
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("v_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    )
    sink = scratch("i9-pairs")
    with pinned_shuffle(spark):
        q = (
            joined.writeStream.format("parquet")
            .option("path", os.path.join(sink, "data"))
            .option("checkpointLocation", os.path.join(sink, "_chk"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q)
    # Terminal global watermark, recomputed from the batch twin of the
    # same fixture (identical rule to the oracle's `wm` CTE).
    bev = T(spark, sf_dir, "events")
    wm_row = bev.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("w")
    ).collect()[0]
    horizon = F.lit(wm_row.w) - F.expr(
        "INTERVAL 1 HOUR + INTERVAL 5 MINUTE + INTERVAL 1 HOUR"
    )
    return (
        spark.read.parquet(os.path.join(sink, "data"))
        .filter(F.col("v_ts") < horizon)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.countDistinct("v_id").alias("n_views_closed"),
            F.count("p_ts").alias("n_pairs"),
            F.countDistinct(
                F.when(F.col("p_ts").isNull(), F.col("v_id"))
            ).alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@query(
    "i10_stream_restart_exactly_once",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value,
           CAST(3 AS BIGINT) AS n_batches,
           (SELECT COUNT(*) FROM events WHERE event_id % 3 = 2)
             AS phase_b_rows,
           TRUE AS no_reprocessing
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def i10_stream_restart_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-micro-batch ingest with rate limiting and CHECKPOINT
    RESTART (I-family; the property every other streaming cert here
    leaves unexercised — i7/i8/i9 and the a29/a30 jobs all complete
    in ONE availableNow batch, so file-offset tracking never has to
    survive a trigger boundary, let alone a query restart):

    - Phase A: a landing dir holds 2 of 3 deterministic fixture
      slices (event_id mod 3); ``maxFilesPerTrigger=1`` forces one
      file per micro-batch, so availableNow commits TWO batches with
      the offset log advancing between them.
    - Phase B: the third slice lands, and a NEW query starts over
      the SAME checkpoint — recovery must resume from the committed
      offsets and process exactly the new file, never re-reading
      slices already ingested by the dead query.

    Each batch appends its per-type partial sums to a snapshot
    table (the foreachBatch pattern of a30); the certified result
    folds the partials and rides three facts on the driver hash:
    ``n_batches`` (2 + 1 — rate limiting and restart both really
    happened), ``phase_b_rows`` (the restarted query's row count ==
    the third slice exactly, which the oracle recomputes from the
    fixture), and ``no_reprocessing`` (rows processed across all
    batches == the fixture total — any offset-replay would break
    BOTH this fact and the decimal-exact totals, since partials are
    append-only).

    At 100 TB/day this is the operational core of incremental
    ingest: jobs die and restart daily, and the offset log — not
    rereading the lake — is what makes `load_incremental` O(new
    files). Totals stay decimal-exact so the three-batch fold is
    bit-identical to the oracle's one-pass aggregate."""
    import os
    import shutil

    from ..sources.registry import normalize_events_ts, table_path
    from ..sources.snapshot import SnapshotTable

    events = T(spark, sf_dir, "events")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    work = scratch("i10")
    landing = os.path.join(work, "landing")
    os.makedirs(landing)

    def drop_slice(i: int) -> None:
        staged = os.path.join(work, f"stage{i}")
        (
            spark.read.parquet(table_path(sf_dir, "events"))
            .filter(F.col("event_id") % 3 == i)
            .repartition(1)
            .write.parquet(staged)
        )
        part = next(
            f for f in os.listdir(staged) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(staged, part),
            os.path.join(landing, f"slice{i}.parquet"),
        )
        shutil.rmtree(staged, ignore_errors=True)

    totals = SnapshotTable(spark, os.path.join(work, "totals"))
    batches: list[tuple[int, int]] = []  # driver-side control plane

    def fold(bdf: DataFrame, batch_id: int) -> None:
        part = (
            normalize_events_ts(bdf)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("v_dec"),
            )
        )
        if totals.exists():
            totals.append(part)
        else:
            totals.create(part)
        batches.append((batch_id, bdf.count()))

    def run_stream() -> None:
        with pinned_shuffle(spark):
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(landing)
                .writeStream.foreachBatch(fold)
                .option("checkpointLocation", os.path.join(work, "_chk"))
                .trigger(availableNow=True)
                .start()
            )
            await_or_raise(q)

    drop_slice(0)
    drop_slice(1)
    run_stream()          # phase A: two rate-limited batches
    phase_a_batches = len(batches)
    drop_slice(2)
    run_stream()          # phase B: restart from the checkpoint
    phase_b_rows = sum(n for _, n in batches[phase_a_batches:])
    total_rows = sum(n for _, n in batches)
    n_fixture = events.count()
    return (
        totals.read()
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("v_dec").cast("double").alias("total_value"),
        )
        .select(
            "event_type",
            "n_events",
            "total_value",
            F.lit(len(batches)).cast("bigint").alias("n_batches"),
            F.lit(phase_b_rows).cast("bigint").alias("phase_b_rows"),
            F.lit(total_rows == n_fixture).alias("no_reprocessing"),
        )
        .orderBy("event_type")
    )


@query(
    "i11_stream_dedup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value,
           (SELECT COUNT(*) * 2 FROM events) AS n_input_rows,
           (SELECT COUNT(*) FROM events) AS n_unique_rows
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def i11_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful deduplication, driver-certified end to end
    (SURVEY I5 — previously pytest-only via `streaming/jobs.
    stream_dedup`): the landing dir holds the SAME events file TWICE
    (symlinked under two names — the at-least-once delivery every
    file-dropping extractor exhibits on retry), so every event_id
    arrives exactly twice; ``withWatermark("ts", 1 hour).
    dropDuplicatesWithinWatermark(["event_id"])`` must emit each
    exactly once. State is keyed on event_id and GC'd past the
    watermark horizon, so memory is bounded by the horizon's key
    cardinality no matter how long the stream runs — the property
    that distinguishes it from a plain ``dropDuplicates`` whose state
    grows forever.

    Certified: per-type counts and decimal-exact value totals over
    the PARQUET-sink read-back (executor-side files, the i7/i8/i9
    pattern), plus `n_input_rows` (both copies really entered the
    stream: counted from the landing scan, = 2x the fixture) and
    `n_unique_rows` riding the hash. DuckDB recomputes everything
    from `events` (event_id is unique in the fixture, asserted by
    n_unique_rows matching the oracle's COUNT(*))."""
    import os

    from ..sources.registry import normalize_events_ts, table_path

    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    # Two landing copies of every leaf file (retry-style at-least-once
    # delivery), via the shared leaf-linking helper so directory-style
    # tables work too.
    d = _linked_landing(path)
    for f in list(os.listdir(d)):
        os.symlink(
            os.path.realpath(os.path.join(d, f)),
            os.path.join(d, f"dup_{f}"),
        )
    n_input = spark.read.parquet(d).count()
    stream = normalize_events_ts(
        spark.readStream.schema(schema).parquet(d)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink_dir = scratch("i11-dedup")
    with pinned_shuffle(spark):
        q = (
            deduped.writeStream.format("parquet")
            .option("path", os.path.join(sink_dir, "data"))
            .option("checkpointLocation", os.path.join(sink_dir, "_chk"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q)
    out = spark.read.parquet(os.path.join(sink_dir, "data"))
    n_unique = out.count()
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_value",
            F.lit(n_input).cast("bigint").alias("n_input_rows"),
            F.lit(n_unique).cast("bigint").alias("n_unique_rows"),
        )
        .orderBy("event_type")
    )


@query(
    "i12_stateful_session_timeout",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {30 * MIN_US}
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM flagged
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) + {30 * MIN_US} AS session_end_us,
           COUNT(*) AS n_events,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS event_types,
           CAST(SUM(cents) AS BIGINT) AS value_cents,
           TRUE AS tail_open_held
    FROM numbered GROUP BY user_id, sess_no
    """,
)
def i12_stateful_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`applyInPandasWithState` driver-certified end to end (SURVEY
    I3/J-state — the batch twin
    `ts_rich_sessions` is green but the STATEFUL RUNTIME path, with
    its EventTimeTimeout discipline, never rode a driver hash): the
    events fixture is replayed as 3 time-ordered landing files plus
    two far-future sentinel files (a sentinel user at max_ts+10d and
    +20d), one file per micro-batch, through the custom
    rich-sessionization state function (streaming/stateful.py) into a
    parquet sink.

    Why the sentinels certify the TIMEOUT semantics: gap-closed
    sessions emit inline, but each real user's FINAL session can only
    emit via `state.hasTimedOut` — the sentinel-1 batch advances the
    event-time watermark past every real session's gap horizon, so
    the sentinel-2 batch fires EventTimeTimeout for every key with
    open state (keys with NO data in that batch — the contract that
    distinguishes timeouts from data-driven calls). The sink must
    therefore contain EXACTLY the batch twin's session set — DuckDB
    recomputes it relationally — while the sentinel user's still-open
    tail session must NOT be emitted (`tail_open_held` rides the
    hash: availableNow terminates without firing timers the watermark
    never passed, so open state is held for the next incremental run,
    not flushed).

    Scale: state is hash-distributed by user_id, payload O(#distinct
    event types) per key, and the watermark GC's every closed key —
    the reference's incremental contract (extract_load.py:154-165)
    generalized to continuous per-key state."""
    import os
    import time as _time

    from ..streaming.jobs import events_schema
    from ..streaming.stateful import stream_rich_sessions

    root = scratch("i12-sessions")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    events = T(spark, sf_dir, "events")
    # One scan for both fixture-prep scalars (max stamp for the
    # sentinels, terciles for the slice cuts).
    max_us, (b1, b2) = events.agg(
        F.max(F.unix_micros("ts")),
        F.percentile_approx(F.unix_micros("ts"), [1 / 3, 2 / 3], 10_000),
    ).collect()[0]

    # Deterministic per-file mtimes (base-60+k): the file source
    # orders new files by modification time, and the watermark must
    # advance slice -> slice -> sentinels for the cert to be
    # reproducible. Fresh stamps keep every file inside maxFileAge.
    base = _time.time()
    seen: set[str] = set()

    def _stamp(k: int) -> None:
        for f in os.listdir(landing):
            if f.endswith(".parquet") and f not in seen:
                os.utime(os.path.join(landing, f), (base - 60 + k, base - 60 + k))
                seen.add(f)

    # Time-ordered slices by RANGE CUTS, not a global-sort ntile: the
    # first cut sorted all events in ONE window task and re-scanned
    # the sorted frame per slice — 5.5x at the 10x smoke. Two
    # approximate ts terciles give map-only, mutually exclusive,
    # jointly exhaustive slices whose time ranges are disjoint —
    # exactly what the batch-by-batch watermark advance needs (equal
    # slice SIZES are not required).
    us = F.unix_micros(F.col("ts"))
    cuts = [us < b1, (us >= b1) & (us < b2), us >= b2]
    for i, cut in enumerate(cuts, start=1):
        (
            events.filter(cut)
            .coalesce(1)
            .write.mode("append")
            .parquet(landing)
        )
        _stamp(i)
    day_us = 86_400 * 1_000_000
    for j, delta in enumerate((10 * day_us, 20 * day_us), start=4):
        (
            spark.range(1)
            .select(
                F.lit(-j).cast("long").alias("event_id"),
                F.timestamp_micros(F.lit(max_us + delta)).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(landing)
        )
        _stamp(j)

    # Scale-adaptive state-partition pin (partitioning from input size):
    # 8 is the measured optimum at sf0.1 but caps the summed per-key
    # Python time at 8-way on bigger inputs — the 10× clone runs 2.1×
    # faster at 32 partitions. Results are partition-count invariant
    # (the standing local[4]/7-partition parity axis).
    from ..streaming.jobs import scaled_state_partitions

    with pinned_shuffle(spark, scaled_state_partitions(sf_dir)):
        q = stream_rich_sessions(
            spark,
            landing,
            os.path.join(root, "out"),
            os.path.join(root, "_chk"),
            events_schema(),
            max_files_per_trigger=1,
        )
        await_or_raise(q)
    out = spark.read.parquet(os.path.join(root, "out"))
    # The sentinel's FIRST session gap-closes when sentinel 2 arrives;
    # its second (tail) session's timer sits past the final watermark
    # and must still be open — zero rows may carry its start stamp.
    tail_held = (
        out.filter(
            (F.col("user_id") == -1)
            & (F.col("session_start_us") == max_us + 20 * day_us)
        ).count()
        == 0
    )
    return out.filter(F.col("user_id") >= 0).withColumn(
        "tail_open_held", F.lit(tail_held)
    )
