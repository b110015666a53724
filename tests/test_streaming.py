"""Structured Streaming tests (SURVEY.md §2.I / §5.3): exactly-once
file ingestion, windowed aggregation parity with the batch twin,
session windows, stateful dedup. All rows-only / self-consistency —
streaming ops are not SQL-oracle-expressible (driver contract)."""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from lakehouse_homeserver_spark.operators.timeseries import i2_tumbling_window
from lakehouse_homeserver_spark.sources import load_table
from lakehouse_homeserver_spark.streaming import jobs


def _run(q):
    q.awaitTermination()


def test_stream_ingest_exactly_once(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=3)
    total = load_table(spark, sf_dir, "events").count()

    _run(jobs.stream_ingest(spark, landing, out, ckpt, jobs.events_schema()))
    assert spark.read.parquet(out).count() == total

    # re-run with no new files → nothing re-processed
    _run(jobs.stream_ingest(spark, landing, out, ckpt, jobs.events_schema()))
    assert spark.read.parquet(out).count() == total

    # drop one more file → only its rows are appended
    extra = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    extra.coalesce(1).write.mode("append").parquet(landing)
    _run(jobs.stream_ingest(spark, landing, out, ckpt, jobs.events_schema()))
    assert spark.read.parquet(out).count() == total + extra.count()


def test_stream_tumbling_matches_batch(spark, sf_dir, tmp_path):
    """Streaming windowed agg over the full fixture == batch twin
    (modulo the watermark, which drops nothing on an ordered replay
    with AvailableNow: all data is seen before final emit)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=2)
    _run(
        jobs.stream_tumbling_counts(
            spark, landing, out, ckpt, jobs.events_schema()
        )
    )
    streamed = {
        (r.window_start_us, r.event_type): (r.cnt, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.window_start_us, r.event_type): (r.cnt, r.sum_value)
        for r in i2_tumbling_window(spark, sf_dir).collect()
    }
    # Append mode emits a window only once the watermark passes its
    # end: every emitted window must match the batch twin exactly,
    # and the only batch windows allowed to be missing are the tail
    # ones the final watermark (max ts - 1 h) hadn't closed.
    assert streamed, "no windows emitted"
    for k, v in streamed.items():
        assert batch[k] == v
    hour_us = 3_600_000_000
    max_ts_us = max(k[0] for k in batch)
    for (ws, et), v in batch.items():
        if ws + hour_us <= max_ts_us - hour_us:
            assert (ws, et) in streamed


def test_stream_session_windows(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=1)
    _run(
        jobs.stream_session_windows(
            spark, landing, out, ckpt, jobs.events_schema()
        )
    )
    rows = spark.read.parquet(out).collect()
    assert rows
    for r in rows:
        assert r.session_end_us > r.session_start_us
        assert r.n_events >= 1
    # sessions per user don't overlap
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.session_start_us, r.session_end_us)
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 >= e1


def test_stateful_rich_sessions_match_batch_twin(spark, sf_dir, tmp_path):
    """Custom applyInPandasWithState sessionization: every emitted
    session must EXACTLY equal a session computed by the batch twin
    (same start, end, count, type-set, exact cents sum), and sessions
    whose gap horizon the final watermark passed must all be emitted."""
    from lakehouse_homeserver_spark.streaming import stateful

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=4)
    _run(
        stateful.stream_rich_sessions(
            spark, landing, out, ckpt, jobs.events_schema()
        )
    )
    emitted = spark.read.parquet(out).collect()
    assert emitted, "no sessions emitted"
    events = load_table(spark, sf_dir, "events")
    batch = {
        (r.user_id, r.session_start_us): r
        for r in stateful.batch_rich_sessions(events).collect()
    }
    for r in emitted:
        b = batch[(r.user_id, r.session_start_us)]
        assert (r.session_end_us, r.n_events, r.event_types, r.value_cents) == (
            b.session_end_us,
            b.n_events,
            b.event_types,
            b.value_cents,
        )
    # completeness: sessions closed well before the final watermark
    # (max ts - 1 h watermark - 30 min gap) must have been emitted
    emitted_keys = {(r.user_id, r.session_start_us) for r in emitted}
    max_us = events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    horizon = max_us - 3_600_000_000 - stateful.GAP_US
    for key, b in batch.items():
        if b.session_end_us < horizon:
            assert key in emitted_keys


def test_stream_dedup_drops_duplicates(spark, sf_dir, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    os.makedirs(landing, exist_ok=True)
    # write the same rows twice (two files) → dup keys within watermark
    events.coalesce(1).write.mode("append").parquet(landing)
    events.coalesce(1).write.mode("append").parquet(landing)
    assert len(glob.glob(os.path.join(landing, "*.parquet"))) == 2
    _run(
        jobs.stream_dedup(
            spark, landing, out, ckpt, jobs.events_schema(), key="event_id"
        )
    )
    got = spark.read.parquet(out)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_stream_ingest_to_catalog_table(spark, sf_dir, tmp_path):
    """I6: writeStream.toTable — the streaming sink lands in a
    catalog-managed table (the reference's `writeTo(...).append()`
    generalized to continuous ingestion)."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=2)
    spark.sql("CREATE DATABASE IF NOT EXISTS streamsink")
    spark.sql("DROP TABLE IF EXISTS streamsink.events_stream")
    src = jobs.read_file_stream(spark, landing, jobs.events_schema())
    q = (
        src.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", str(tmp_path / "tbl"))
        .trigger(availableNow=True)
        .toTable("streamsink.events_stream")
    )
    q.awaitTermination()
    total = load_table(spark, sf_dir, "events").count()
    assert spark.table("streamsink.events_stream").count() == total
    spark.sql("DROP TABLE IF EXISTS streamsink.events_stream")


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream attribution join == batch twin on a full replay.

    NOTE on append-mode semantics: a stream-stream inner join only
    emits a match once BOTH watermarks pass; with AvailableNow over a
    finite replay, the final watermark still trails the last events,
    so matches inside that tail window are held back. We therefore
    compare against the batch twin restricted to purchases at or
    below the emitted frontier — exact equality on that prefix proves
    the join semantics; the tail is a documented property of
    append-mode streaming, not data loss (it emits when more data or
    a final empty batch advances the watermark)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=3)

    _run(jobs.stream_interval_join(spark, landing, out, ckpt))
    got_files = glob.glob(os.path.join(out, "*.parquet"))
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    batch = jobs.interval_join(purchases, clicks)

    if not got_files:
        # Degenerate only if the fixture genuinely has no matches.
        assert batch.count() == 0
        return
    got = spark.read.parquet(out)
    assert got.columns == ["user_id", "purchase_id", "click_id", "p_ts", "c_ts"]
    frontier = got.agg(F.max("p_ts")).collect()[0][0]
    expect = batch.filter(F.col("p_ts") <= frontier)
    got_keys = {(r.purchase_id, r.click_id) for r in got.collect()}
    expect_keys = {(r.purchase_id, r.click_id) for r in expect.collect()}
    assert got_keys == expect_keys
    assert len(got_keys) > 0


def test_stream_upsert_totals_match_batch_and_replay_safe(spark, sf_dir, tmp_path):
    """foreachBatch MERGE view: after draining the landing dir file by
    file, the totals table must equal the one-shot batch aggregate;
    replaying an already-committed batch id must be a no-op."""
    from lakehouse_homeserver_spark.operators.common import dsum
    from lakehouse_homeserver_spark.sources import load_table
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable
    from lakehouse_homeserver_spark.streaming.jobs import (
        prepare_events_landing,
        stream_upsert_user_totals,
        upsert_user_totals_batch,
    )

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "user_totals")
    prepare_events_landing(spark, sf_dir, landing, slices=3)
    q = stream_upsert_user_totals(
        spark, landing, table, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    t = SnapshotTable(spark, table)
    got = {
        r.user_id: (r.n_events, r.total_value) for r in t.read().collect()
    }
    events = load_table(spark, sf_dir, "events")
    exp = {
        r.user_id: (r.n_events, r.total_value)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .collect()
    }
    assert got == exp
    # one commit per micro-batch (3 files, maxFilesPerTrigger=1)
    assert len(t.history()) == 3
    ops = [e["operation"] for e in t.history()]
    assert ops[0] == "create" and set(ops[1:]) == {"merge"}

    # replay the LAST batch id (at-least-once delivery): no-op
    before = t.latest_version()
    last_events = load_table(spark, sf_dir, "events").limit(50)
    replay_id = t.entry(before)["properties"]["stream_batch_id"]
    upsert_user_totals_batch(spark, table, last_events, replay_id)
    assert t.latest_version() == before
    # a genuinely new batch id DOES commit
    upsert_user_totals_batch(spark, table, last_events, replay_id + 1000)
    assert t.latest_version() == before + 1
    # a REGRESSED batch id means a recreated checkpoint was pointed at
    # this table (ids restart at 0): silently skipping would drop every
    # new batch (r8 advice — data loss); it must fail loudly instead.
    with pytest.raises(ValueError, match="checkpoint lineage"):
        upsert_user_totals_batch(spark, table, last_events, 0)
    assert t.latest_version() == before + 1


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment: draining the landing dir
    through the streaming join must produce exactly the batch twin's
    rows (same join, static left side)."""
    from lakehouse_homeserver_spark.sources import load_table
    from lakehouse_homeserver_spark.streaming.jobs import (
        enrich_events,
        prepare_events_landing,
        stream_enrich_events,
        user_profile,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    prepare_events_landing(spark, sf_dir, landing, slices=3)
    events = load_table(spark, sf_dir, "events")
    profile = user_profile(events)

    q = stream_enrich_events(
        spark, landing, profile, out, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    exp = sorted(map(tuple, enrich_events(events, profile).collect()))
    assert got == exp and len(got) > 0


def _has_protobuf() -> bool:
    # transformWithState's state-server protocol is protobuf-encoded;
    # pyspark imports google.protobuf lazily inside the streaming
    # driver worker. Without it the query crashes at plan time, so the
    # capability is environment-gated (it is a Spark runtime dep, not
    # one of ours — see stateful.py docstring).
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas requires google.protobuf "
    "(pyspark streaming-state runtime dep) — absent in this env",
)
def test_transform_with_state_spikes_match_batch_twin(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 stateful API): the per-user
    value-spike stream must emit EXACTLY the rows the window-function
    batch twin computes — the flag predicate is integer arithmetic
    (cents × n > 3 × sum_cents), so equality is exact, and because
    state never expires the stream must emit every batch-twin row
    (no watermark-horizon carve-out needed, unlike sessions)."""
    from lakehouse_homeserver_spark.streaming import stateful

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=4)
    _run(
        stateful.stream_value_spikes(
            spark, landing, out, ckpt, jobs.events_schema()
        )
    )
    emitted = {
        (r.user_id, r.event_id, r.us, r.value_cents, r.prior_n, r.prior_sum_cents)
        for r in spark.read.parquet(out).collect()
    }
    events = load_table(spark, sf_dir, "events")
    expected = {
        (r.user_id, r.event_id, r.us, r.value_cents, r.prior_n, r.prior_sum_cents)
        for r in stateful.batch_value_spikes(events).collect()
    }
    assert emitted == expected
    assert emitted, "fixture produced no spikes — test is vacuous"


def test_stream_interval_join_left_outer_emits_unmatched(spark, sf_dir, tmp_path):
    """Stream-stream LEFT OUTER interval join: unattributed purchases
    must surface with NULL click columns once the watermark passes
    their candidate-click window (state eviction = outer emission).

    Horizon semantics: with AvailableNow over a finite replay the
    final watermark trails max(ts) by the 1 h delay, and an outer row
    for purchase p can only emit once the click watermark passes
    p_ts (no earlier click can still arrive). Assertions therefore
    split three ways: every emitted row (inner AND outer) must be in
    the batch twin; every batch-outer purchase older than the safe
    horizon MUST have been emitted; the tail may be withheld."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    jobs.prepare_events_landing(spark, sf_dir, landing, slices=3)

    _run(
        jobs.stream_interval_join(
            spark, landing, out, ckpt, how="leftOuter"
        )
    )
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    batch = jobs.interval_join(purchases, clicks, how="leftOuter")
    batch_rows = {
        (r.purchase_id, r.click_id) for r in batch.collect()
    }
    got = spark.read.parquet(out)
    got_rows = {(r.purchase_id, r.click_id) for r in got.collect()}
    assert got_rows <= batch_rows  # nothing fabricated
    assert len(got_rows) > 0

    # Outer completeness below the safe horizon: watermark delay 1 h
    # + 30 min candidate window + 30 min slack for batch boundaries.
    max_us = events.agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    horizon_us = max_us - 3_600_000_000 - 1_800_000_000 - 1_800_000_000
    batch_outer_old = {
        r.purchase_id
        for r in batch.filter(
            F.col("click_id").isNull()
            & (F.unix_micros("p_ts") < horizon_us)
        ).collect()
    }
    got_outer = {
        r.purchase_id for r in got.collect() if r.click_id is None
    }
    assert batch_outer_old <= got_outer


def test_stream_cdc_aggregate_tracks_mutating_table(spark, sf_dir, tmp_path):
    """Streaming IVM: the CDC stream maintains a keyed count/sum view
    across appends AND row-level deletes; a second drain off the same
    checkpoint consumes only the new commits; the view always equals
    the batch aggregate of the CURRENT table state."""
    from pyspark.sql import functions as F

    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable
    from lakehouse_homeserver_spark.streaming.jobs import stream_cdc_aggregate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 5 == 0
    )
    src = SnapshotTable(spark, str(tmp_path / "src"))
    view_path = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = stream_cdc_aggregate(
            spark, src.path, view_path,
            keys=["o_orderstatus"], measure="o_totalprice",
            checkpoint=ckpt,
        )
        assert q.awaitTermination(180)

    def assert_in_sync():
        got = {
            (r.o_orderstatus, r.cnt, str(r.total))
            for r in SnapshotTable(spark, view_path).read().collect()
        }
        want = {
            (r.o_orderstatus, r.cnt, str(r.total))
            for r in src.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "total"
                ),
            )
            .collect()
        }
        assert got == want

    src.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    src.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    drain(); assert_in_sync()

    src.delete_where(
        F.col("o_orderkey") % 4 == 0, mode="mor", equality_on=["o_orderkey"]
    )
    src.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    drain(); assert_in_sync()

    # nothing new: drain again, view unchanged (idempotent replay)
    before = sorted(
        map(tuple, SnapshotTable(spark, view_path).read().collect())
    )
    drain()
    after = sorted(
        map(tuple, SnapshotTable(spark, view_path).read().collect())
    )
    assert before == after


def test_scaled_state_partitions_tracks_volume():
    """Scale-adaptive state-partition pin (optimization r13): the pin
    must reproduce the two measured optima — 8 at the sf0.1 volume
    (100 k events), cores at the 10× volume — clamp to the low bound
    on tiny fixtures, and never exceed the core budget (the hi clamp
    is what keeps an 8-core driver run at 8 partitions)."""
    from lakehouse_homeserver_spark.streaming.jobs import (
        scaled_state_partitions,
    )

    assert scaled_state_partitions("/root/testdata/sf0.001", hi=32) == "8"
    assert scaled_state_partitions("/root/testdata/sf0.01", hi=32) == "8"
    assert scaled_state_partitions("/root/testdata/sf0.1", hi=32) == "8"
    # 10× the sf0.1 volume → the core budget, whatever it is
    assert scaled_state_partitions(
        "/root/testdata/sf0.1", rows_per_partition=1_250, hi=32
    ) == "32"
    assert scaled_state_partitions(
        "/root/testdata/sf0.1", rows_per_partition=1_250, hi=8
    ) == "8"


def test_events_key_makes_slice_order_total():
    """`prepare_events_landing` slices by `ntile` over (ts, event_id);
    that order is total, and the persisted slices are the same on any
    recompute, only while `event_id` is unique in every events
    fixture. DuckDB only: no Spark job."""
    import duckdb

    paths = sorted(glob.glob("/root/testdata/sf*/events.parquet"))
    assert paths, "no events fixtures found"
    con = duckdb.connect()
    try:
        for path in paths:
            n, distinct = con.execute(
                "SELECT count(*), count(DISTINCT event_id) "
                f"FROM '{path}'"
            ).fetchone()
            assert n > 0 and n == distinct, (path, n, distinct)
    finally:
        con.close()
