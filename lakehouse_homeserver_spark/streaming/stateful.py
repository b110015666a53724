"""Custom stateful streaming operator — SURVEY.md §2.I / §2.J.

`applyInPandasWithState` is the engine's escape hatch for stateful
semantics the built-in operators can't express. The demo operator is
*rich sessionization*: like `session_window` it groups events into
gap-bounded sessions, but the per-session payload carries custom
accumulators — the set of distinct event types and an exact value sum
— which the built-in windowed agg cannot produce in one pass.

Semantics
- State per user: open session (start, last ts, counts, type set).
- An event later than `gap` after the last one closes the session and
  opens a new one; closed sessions are emitted immediately.
- The open session is emitted when the event-time watermark passes
  last_ts + gap (EventTimeTimeout) — the same late-data contract as
  the built-in session window, so state is GC'd and memory stays
  bounded regardless of stream length.

Scale notes: state is keyed by user_id → distributed across
executors by hash; each micro-batch ships one Arrow batch per active
key group (vectorized, not per-row python). The payload kept per key
is O(#distinct event types), bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("event_types", StringType()),  # sorted, comma-joined
        StructField("value_cents", LongType()),  # exact integer cents
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("types_csv", StringType()),
        StructField("value_cents", LongType()),
    ]
)

GAP_US = 30 * 60 * 1_000_000  # 30 minutes, in µs


_SESSION_COLS = [f.name for f in SESSION_SCHEMA.fields]


def _close(user_id, row: tuple) -> pd.DataFrame:
    start_us, last_us, n, types_csv, cents = row
    return pd.DataFrame(
        [
            (
                user_id,
                start_us,
                last_us + GAP_US,
                n,
                ",".join(sorted(set(types_csv.split(",")))),
                cents,
            )
        ],
        columns=_SESSION_COLS,
    )


def sessionize_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Grouped-map state function: one user's new events per batch.

    Vectorized: the original per-event Python loop (branch +
    string concat per row, one 1-row DataFrame per closed session)
    made the custom operator the one row-at-a-time path in the repo —
    i12's 10× smoke put it at 3.7×. Session boundaries are now a
    numpy diff-threshold scan, per-session aggregates are reduceat
    folds, and ALL closed sessions of a batch emit as ONE frame. The
    emitted rows are bit-identical to the loop's (same HALF_UP cents,
    same (us, event_id) tie order, same dedup-sorted type sets).

    Per-KEY overhead trimmed: this
    function runs once per active key per micro-batch — thousands of
    invocations each seeing a handful of rows — so constant work per
    call is what `allUpdatesTimeMs` actually measures (~20 s summed
    per 33 k-row batch before). Three cuts, none observable in the
    output: (a) keys with nothing to emit yield NOTHING instead of
    building+serializing an empty DataFrame; (b) the per-segment
    event-type strings are raw `join`s over numpy slices (the final
    dedup-sort happens once at emit/close, where it always did)
    instead of a 4-op pandas groupby chain per key; (c) the single
    common case of one Arrow frame per key skips pd.concat. State
    stays bounded: the types csv is dedup-sorted at `state.update`
    time, which also fixes the continuation path that previously
    accumulated raw per-event types across batches."""
    import numpy as np

    (user_id,) = key

    if state.hasTimedOut:
        # Watermark passed the open session's gap horizon — finalize.
        if state.exists:
            pdf = _close(user_id, state.get)
            state.remove()
            yield pdf
        return

    cur = list(state.get) if state.exists else None
    first = next(pdfs, None)
    rest = list(pdfs) if first is not None else []
    batch = (
        pd.concat([first, *rest]) if rest else first
    )
    if batch is None:
        batch = pd.DataFrame(
            {"ts": pd.Series(dtype="datetime64[ns]"), "event_type": [],
             "value": pd.Series(dtype="float64")}
        )
    # numpy lexsort over the two key arrays instead of a pandas
    # sort_values + sorted-frame copy: this runs once per key group,
    # so its constant cost is multiplied by thousands of calls per
    # micro-batch. Tie order within equal (us,
    # event_id) is output-invariant (types dedup-sort at emit; sums/
    # counts are order-free), and event_id makes keys unique anyway.
    us_raw = batch["ts"].to_numpy("datetime64[ns]").astype(np.int64) // 1000
    if "event_id" in batch:
        order = np.lexsort(
            (batch["event_id"].to_numpy(), us_raw)
        )
    else:
        order = np.argsort(us_raw, kind="stable")
    us = us_raw[order]
    # HALF_UP to match F.round/DuckDB ROUND in the batch twin (Python
    # round() is banker's: 12.5 -> 12, breaking the stream==batch
    # contract on exact half-cents). Values are non-negative here;
    # floor(x + 0.5) is HALF_UP for x >= 0.
    # NaN (NULL value) contributes 0 to the session sum — the batch
    # twin's F.sum skips NULLs, which is additive-identical; without
    # the guard, floor(NaN).astype(int64) silently injects INT64_MIN
    # and corrupts value_cents. Known residual edge: a
    # session whose EVERY value is NULL sums to NULL in the twin but
    # 0 here — matching that would mean widening the state tuple.
    vals = batch["value"].to_numpy(np.float64)[order]
    cents = np.where(
        np.isnan(vals), 0.0, np.floor(vals * 100.0 + 0.5)
    ).astype(np.int64)
    et = batch["event_type"].to_numpy()[order]
    n = len(us)
    closed: list[tuple] = []
    if n:
        starts = np.empty(n, dtype=bool)
        starts[0] = cur is None or (us[0] - cur[1] > GAP_US)
        np.greater(us[1:] - us[:-1], GAP_US, out=starts[1:])
        b = np.flatnonzero(starts)
        # rows before the first boundary continue the open session
        cont_end = int(b[0]) if b.size else n
        if cur is not None and cont_end > 0:
            # max(): a batch of only LATE (within-watermark) events
            # must not move the open session's clock BACKWARD — that
            # both split sessions the globally-ordered batch twin
            # keeps together and regressed the timeout horizon,
            # firing the close early.
            cur[1] = max(cur[1], int(us[cont_end - 1]))
            cur[2] += cont_end
            cur[3] = cur[3] + "," + ",".join(et[:cont_end])
            cur[4] += int(cents[:cont_end].sum())
        if b.size:
            if cur is not None:
                closed.append(tuple(cur))
            ends = np.append(b[1:], n)
            counts = ends - b
            sums = np.add.reduceat(cents, b)
            # Per-segment type strings: a raw ",".join over the numpy
            # slice (C-level) — the dedup-sort happens exactly once,
            # at emit/_close/state.update below, where the old code
            # re-did it anyway on top of a per-key pandas
            # drop_duplicates/sort/groupby chain.
            k = len(b)
            for j in range(k - 1):
                closed.append(
                    (
                        int(us[b[j]]),
                        int(us[ends[j] - 1]),
                        int(counts[j]),
                        ",".join(et[b[j] : ends[j]]),
                        int(sums[j]),
                    )
                )
            cur = [
                int(us[b[k - 1]]),
                int(us[n - 1]),
                int(counts[k - 1]),
                ",".join(et[b[k - 1] : n]),
                int(sums[k - 1]),
            ]
    if cur is not None:
        # Dedup-sort the state csv so the per-key payload stays
        # O(#distinct event types) no matter how many batches extend
        # the open session (_close dedup-sorts again — idempotent).
        cur[3] = ",".join(sorted(set(cur[3].split(","))))
        state.update(tuple(cur))
        # Fire when the event-time watermark passes the gap horizon;
        # if the group's data is already behind the watermark
        # (late/replayed keys), clamp forward so the session finalizes
        # at the next trigger instead of crashing on a timeout in the
        # past.
        timeout_ms = (cur[1] + GAP_US) // 1000
        state.setTimeoutTimestamp(
            max(timeout_ms, state.getCurrentWatermarkMs() + 1)
        )

    if closed:
        yield pd.DataFrame(
            [
                (
                    user_id,
                    s,
                    last + GAP_US,
                    ne,
                    ",".join(sorted(set(t.split(",")))),
                    c,
                )
                for (s, last, ne, t, c) in closed
            ],
            columns=_SESSION_COLS,
        )


def rich_sessions(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """The stateful transformation (stream-side): watermarked events →
    closed rich sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_rich_sessions(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """I2/I3/I5 composite via the custom-state path: landing files →
    rich sessions → parquet sink, exactly-once per checkpoint.

    maxFilesPerTrigger=1 by default so an AvailableNow run replays the
    landing dir as a sequence of micro-batches — the watermark then
    advances between batches and closed sessions actually emit (a
    single mega-batch would close nothing, exactly like the built-in
    session window in append mode).
    """
    from .jobs import read_file_stream

    src = read_file_stream(
        spark, landing_dir, schema, max_files_per_trigger=max_files_per_trigger
    )
    return (
        rich_sessions(src)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def batch_rich_sessions(events: DataFrame) -> DataFrame:
    """Batch twin of `rich_sessions` (same output schema, computed
    with window functions) — the cross-check oracle for tests."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col("ts"))
    # event_id tie-breaker: duplicate ts must order identically in the
    # stream (pandas sort below) and this batch twin, or session
    # boundaries drift between the two.
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    with_gap = (
        events.select(
            "user_id",
            us.alias("us"),
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "new_session",
            (F.col("prev_us").isNull() | ((F.col("us") - F.col("prev_us")) > GAP_US))
            .cast("int"),
        )
        .withColumn("session_no", F.sum("new_session").over(w))
    )
    return (
        with_gap.groupBy("user_id", "session_no")
        .agg(
            F.min("us").alias("session_start_us"),
            (F.max("us") + F.lit(GAP_US)).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "event_types"
            ),
            F.sum("cents").alias("value_cents"),
        )
        .drop("session_no")
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4) — the successor stateful API
#
# Runtime dependency note: pyspark's transformWithState state-server
# protocol is protobuf-encoded (pyspark.sql.streaming.proto imports
# google.protobuf lazily in the driver worker). In environments
# without the protobuf wheel the query fails at plan time with
# STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE; the test suite
# skips the TWS test there. applyInPandasWithState (the sessionizer
# above) has no such dependency and is the portable stateful path.
# ---------------------------------------------------------------------------

SPIKE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("us", LongType()),
        StructField("value_cents", LongType()),
        StructField("prior_n", LongType()),
        StructField("prior_sum_cents", LongType()),
    ]
)

SPIKE_FACTOR = 3  # flag when value > FACTOR × user's prior mean


def _spike_processor_cls():
    """Deferred import/definition: StatefulProcessor subclasses are
    pickled to the python workers; defining the class lazily keeps
    module import safe on Spark versions without the API."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SpikeProcessor(StatefulProcessor):
        """Per-user value-spike detector on the NEW transformWithState
        API (SPARK-49564; complements the applyInPandasWithState
        sessionizer above): ValueState keeps (n, sum_cents) per user;
        an event is flagged when value_cents * n > FACTOR * sum_cents
        — pure integer arithmetic, so the stream and the batch twin
        agree bit-for-bit with the DuckDB-checkable window form.
        State is two longs per user, bounded; no timers needed (the
        running mean never expires)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, sum_cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            # Vectorized: prior_n/prior_sum are prefix
            # aggregates — arange + shifted cumsum — and the flag is
            # one comparison; the old per-row zip loop was exactly
            # the row-at-a-time shape the sessionizer rewrite
            # removed. NaN (NULL value): flag false (NULL comparison
            # in the twin), counts toward prior_n (count(*)), adds 0
            # to prior_sum (F.sum skips NULLs) — and no longer
            # crashes the micro-batch via int(floor(nan)).
            import numpy as np

            (user_id,) = key
            n, total = (self._agg.get() or (0, 0)) if self._agg.exists() else (0, 0)
            batch = pd.concat(list(rows))
            batch["us"] = batch["ts"].astype("int64") // 1000
            sort_keys = ["us", "event_id"] if "event_id" in batch else ["us"]
            batch = batch.sort_values(sort_keys)
            vals = batch["value"].to_numpy(np.float64)
            nan = np.isnan(vals)
            cents = np.where(
                nan, 0.0, np.floor(vals * 100.0 + 0.5)  # HALF_UP, ≥0
            ).astype(np.int64)
            m = len(cents)
            prior_n = n + np.arange(m, dtype=np.int64)
            prior_sum = total + np.concatenate(
                ([0], np.cumsum(cents[:-1], dtype=np.int64))
            )
            flag = (
                (prior_n > 0)
                & ~nan
                & (cents * prior_n > SPIKE_FACTOR * prior_sum)
            )
            self._agg.update((n + m, int(total + cents.sum())))
            if flag.any():
                idx = np.flatnonzero(flag)
                yield pd.DataFrame(
                    {
                        "user_id": np.full(len(idx), user_id, np.int64),
                        "event_id": batch["event_id"]
                        .to_numpy(np.int64)[idx],
                        "us": batch["us"].to_numpy(np.int64)[idx],
                        "value_cents": cents[idx],
                        "prior_n": prior_n[idx],
                        "prior_sum_cents": prior_sum[idx],
                    }
                )

        def close(self) -> None:
            pass

    return SpikeProcessor


def value_spikes(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream-side transformation: watermarked events → flagged spike
    events, via transformWithStateInPandas."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_spike_processor_cls()(),
            outputStructType=SPIKE_SCHEMA,
            outputMode="append",
            timeMode="None",
        )
    )


def stream_value_spikes(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint: str,
    schema: StructType,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Landing files → spike flags → parquet sink, exactly-once."""
    from .jobs import read_file_stream

    src = read_file_stream(
        spark, landing_dir, schema, max_files_per_trigger=max_files_per_trigger
    )
    return (
        value_spikes(src)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def batch_value_spikes(events: DataFrame) -> DataFrame:
    """Batch twin of `value_spikes`: the running (n, sum) pair is a
    ROWS UNBOUNDED PRECEDING .. 1 PRECEDING window; the flag predicate
    is the same integer comparison. Used by the stream==batch test."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    base = events.select(
        "user_id", "event_id", us.alias("us"), cents.alias("value_cents")
    ).select(
        "*",
        F.count(F.lit(1)).over(w).alias("prior_n"),
        F.coalesce(F.sum("value_cents").over(w), F.lit(0)).alias(
            "prior_sum_cents"
        ),
    )
    return base.filter(
        (F.col("prior_n") > 0)
        & (
            F.col("value_cents") * F.col("prior_n")
            > SPIKE_FACTOR * F.col("prior_sum_cents")
        )
    )
