"""Table registry over the parquet fixture zone.

Reference parity: the reference's only scan is a multi-file parquet
read of an S3 landing prefix (`/root/reference/scripts/extract_load.py:68-73`,
`:136-139` — SURVEY.md A1/A2). Here the landing zone is a directory of
parquet files; `spark.read.parquet` gives the same schema-on-read
contract (SURVEY.md §1.2) and keeps predicate pushdown + column
pruning intact because the scan is a native FileScan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_row_count(sf_dir: str, name: str) -> int:
    """Footer-only row count of a fixture table — never scans data.

    Handles both fixture layouts: the driver's single-file
    `<t>.parquet` and Spark-written DIRECTORY tables of part files
    (scripts/scale_smoke.py's scaled clones); `pq.ParquetFile` on a
    directory raises, which crashed the 10× smoke for every
    operator using a footer count to size a model."""
    import pyarrow.parquet as pq

    p = table_path(sf_dir, name)
    if os.path.isdir(p):
        return sum(
            pq.ParquetFile(os.path.join(p, f)).metadata.num_rows
            for f in os.listdir(p)
            if f.endswith(".parquet") and not f.startswith(".")
        )
    return pq.ParquetFile(p).metadata.num_rows


# Session -> {(sf_dir, table): DataFrame} handle memo. A DataFrame is
# an immutable UNRESOLVED plan — no rows, no results; executing a
# memoized handle still scans the parquet files. What the memo skips
# is the spark.read.parquet listing + schema round-trip, measured at
# 120-200 ms per call warm (~1 s cold) on this box — paid hundreds of
# times per bench sweep because most queries load 1-4 tables
# (fewer driver round-trips per build). Keyed on the live session
# (plan resolution is conf-dependent at read time, e.g. nanosAsLong)
# and dropped with it; the fixture zone is immutable by contract, so
# a pinned file listing cannot go stale.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # set below


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> DataFrame:
    """Schema-on-read parquet scan (SURVEY.md A1).

    ``fresh=True`` bypasses the handle memo and plans the read NOW —
    required by certificates that toggle read-time-resolved confs
    around the scan (a40: ``useV1SourceList``/``aggregatePushdown``
    select the DSv2 path at spark.read time; a memoized handle was
    planned under the session defaults and the PushedAggregation
    fact silently disappears — caught by the post-memo sweep).

    ``events.ts`` normalization: the fixture has shipped it both as
    parquet TIMESTAMP(NANOS) (read as raw nanos via ``nanosAsLong``,
    see session.py — truncated to µs here, matching DuckDB) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    Engine code uses instant functions (``unix_micros`` etc.), so both
    land on the session-TZ TIMESTAMP type; the session pins UTC, which
    makes the NTZ→TZ cast value-exact and keeps DuckDB (which treats
    the same column as a naive TIMESTAMP) hash-identical.
    """
    if fresh:
        df = spark.read.parquet(table_path(sf_dir, name))
        return normalize_events_ts(df) if name == "events" else df
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            df = normalize_events_ts(df)
        per_session[key] = df
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The events.ts conversion from `load_table`, shared with
    STREAMING scans of the same fixture (a readStream must apply the
    identical schema-on-read rule or its watermarks/joins would run
    on a different clock than the batch oracle)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session -> sf_dir whose views are currently registered. Pure
# METADATA memo (no query results, no data): every sql_* query paid
# ten spark.read.parquet schema/listing round-trips per call even
# though the views are identical within a session (~0.5 s build
# per query × 30 queries). Keyed on the live session
# object (temp views are per-session) and on sf_dir, so pointing the
# same session at a different scale factor re-registers; a dead
# session's entry is dropped by the weak reference.
import weakref

_VIEWS_CURRENT: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)

_TABLE_MEMO = weakref.WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    key = os.path.abspath(sf_dir)
    # Guard on the memo fast path: the memo assumes no code drops a
    # fixture temp view within the session. Verify every view still
    # resolves (catalog lookups, no job) before skipping
    # re-registration, so a dropTempView of any TABLES name degrades
    # to a re-register instead of silently running later sql_*
    # queries against a missing view.
    if _VIEWS_CURRENT.get(spark) == key and all(
        spark.catalog.tableExists(name) for name in TABLES
    ):
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_CURRENT[spark] = key
