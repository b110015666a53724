"""Snapshot-table (ACID) layer tests — SURVEY.md §2 A5-A7/A10/A12.

Covers real atomic commits (not saveAsTable), snapshot lineage +
time travel, schema evolution on append, optimistic-concurrency
conflict retry, and a snapshot expiry that verifiably deletes files.
The ingest path on top of it (`Lakehouse`) is in tests/test_ingest.py.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_homeserver_spark.sources.snapshot import (
    SnapshotNotFound,
    SnapshotTable,
    merge_schemas,
)


@pytest.fixture()
def nations(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/nation.parquet")


def _table(spark, tmp_path, name="t"):
    return SnapshotTable(spark, str(tmp_path / name))


def test_create_read_roundtrip_and_create_conflict(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    assert not t.exists()
    t.create(nations)
    assert t.exists()
    assert t.read().count() == nations.count()
    assert t.row_count() == nations.count()
    with pytest.raises(ValueError, match="already exists"):
        t.create(nations)
    # create_if_absent on an existing table: clean no-op, same version.
    before = t.latest_version()
    t.create_if_absent(nations.limit(1))
    assert t.latest_version() == before
    assert t.read().count() == nations.count()


def test_append_accumulates_and_overwrite_swaps(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.append(nations.filter(F.col("n_regionkey") == 0))  # creates
    t.append(nations.filter(F.col("n_regionkey") == 1))
    n01 = nations.filter(F.col("n_regionkey") < 2).count()
    assert t.read().count() == n01
    t.create_or_replace(nations.filter(F.col("n_regionkey") == 2))
    assert t.read().count() == nations.filter(F.col("n_regionkey") == 2).count()
    ops = [e["operation"] for e in t.history()]
    assert ops == ["create", "append", "overwrite"]


def test_time_travel_reads_exact_old_state(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))
    t.append(nations.filter(F.col("n_regionkey") == 1))
    t.create_or_replace(nations.limit(0))
    # Latest is empty; v1/v2 still read their exact historical states.
    assert t.read().count() == 0
    v1 = t.read(version=1)
    assert v1.count() == nations.filter(F.col("n_regionkey") == 0).count()
    assert set(
        r.n_regionkey for r in t.read(version=2).select("n_regionkey").distinct().collect()
    ) == {0, 1}
    with pytest.raises(SnapshotNotFound):
        t.read(version=99)


def test_schema_evolution_append_widens(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    t.append(
        nations.filter(F.col("n_regionkey") == 0).withColumn(
            "ingest_batch", F.lit("b2")
        )
    )
    df = t.read()
    assert "ingest_batch" in df.columns
    # Pre-evolution rows surface NULL for the new column.
    n_old = nations.count()
    assert df.filter(F.col("ingest_batch").isNull()).count() == n_old
    assert df.filter(F.col("ingest_batch") == "b2").count() == nations.filter(
        F.col("n_regionkey") == 0
    ).count()
    # v1 read keeps the ORIGINAL 4-column schema (schema is per snapshot).
    assert "ingest_batch" not in t.read(version=1).columns


def test_schema_evolution_type_conflict_raises(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    mutated = nations.withColumn("n_name", F.col("n_nationkey"))
    with pytest.raises(ValueError, match="n_name"):
        t.append(mutated.select(*nations.columns))
    # strict mode: any schema drift without merge_schema raises
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(nations.withColumn("extra", F.lit(1)), merge_schema=False)


def test_merge_schemas_is_additive_only():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    old = StructType([StructField("a", LongType()), StructField("b", StringType())])
    new = StructType([StructField("b", StringType()), StructField("c", LongType())])
    merged = merge_schemas(old, new)
    assert [f.name for f in merged.fields] == ["a", "b", "c"]


def test_concurrent_writer_conflict_retries(spark, tmp_path, nations):
    """Optimistic concurrency: a competing commit lands between our
    head-resolve and publish; the commit must re-resolve and stack on
    TOP of the competitor, losing neither."""
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))

    competitor = _table(spark, tmp_path)  # same table, separate handle
    orig_write = SnapshotTable._write_entry
    fired = {"done": False}

    def racing_write(self, entry):
        if not fired["done"] and self is t:
            fired["done"] = True
            competitor.append(nations.filter(F.col("n_regionkey") == 1))
        return orig_write(self, entry)

    try:
        SnapshotTable._write_entry = racing_write
        t.append(nations.filter(F.col("n_regionkey") == 2))
    finally:
        SnapshotTable._write_entry = orig_write

    # Both appends landed, in conflict order: competitor at v2, ours at v3.
    assert t.latest_version() == 3
    assert t.read().count() == nations.filter(F.col("n_regionkey") < 3).count()
    assert [e["operation"] for e in t.history()] == ["create", "append", "append"]


def test_crashed_commit_is_invisible_and_gc_able(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    orig_link = os.link

    def crash_link(src, dst, **kw):
        raise RuntimeError("injected crash during publish")

    os.link = crash_link
    try:
        with pytest.raises(RuntimeError, match="injected"):
            t.append(nations)
    finally:
        os.link = orig_link
    # The aborted commit left no visible state...
    assert t.latest_version() == 1
    assert t.read().count() == nations.count()
    # ...only orphan data files, which expiry garbage-collects.
    stats = t.expire_snapshots(keep_last=1, orphan_grace_ms=0)
    assert stats["deleted_files"] > 0
    assert t.read().count() == nations.count()


def test_expire_snapshots_deletes_files_and_old_versions(
    spark, tmp_path, nations
):
    t = _table(spark, tmp_path)
    t.create(nations)
    t.create_or_replace(nations.filter(F.col("n_regionkey") == 0))
    t.append(nations.filter(F.col("n_regionkey") == 1))
    data_dir = tmp_path / "t" / "data"
    files_before = len(list(data_dir.glob("*.parquet")))
    stats = t.expire_snapshots(keep_last=2)
    # v1 gone: its files (the full nations set) are unreferenced by v2/v3.
    assert stats["expired_snapshots"] == 1
    assert stats["deleted_files"] > 0
    assert len(list(data_dir.glob("*.parquet"))) < files_before
    with pytest.raises(SnapshotNotFound):
        t.read(version=1)
    # Retained snapshots still read correctly after GC.
    assert t.read(version=3).count() == nations.filter(
        F.col("n_regionkey") < 2
    ).count()


def test_log_entries_are_valid_json_with_full_manifest(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    t.append(nations.limit(5))
    log_dir = tmp_path / "t" / "_log"
    entries = sorted(log_dir.glob("*.json"))
    assert len(entries) == 2
    e2 = json.loads(entries[1].read_text())
    assert e2["version"] == 2 and e2["parent"] == 1
    # Full-manifest model: v2 references v1's files plus its own.
    e1 = json.loads(entries[0].read_text())
    assert set(e1["manifest"]).issubset(set(e2["manifest"]))
    assert set(e2["added"]) == set(e2["manifest"]) - set(e1["manifest"])


# -- model-based test: random op sequences vs a pure-Python model ----------


def test_snapshot_table_matches_model_under_random_ops(spark, sf_dir, tmp_path):
    """Hypothesis-style model check (deterministic example set, since
    each Spark commit costs ~0.5 s): replay random create_or_replace /
    append / expire sequences against a trivial Python model of the
    table contents and lineage; the real table must agree on row
    count, version numbering, time-travel reads, and post-expiry
    visibility at every step."""
    import random

    from pyspark.sql import functions as F

    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    nations = spark.read.parquet(f"{sf_dir}/nation.parquet")
    slices = {k: nations.filter(F.col("n_regionkey") == k) for k in range(5)}
    counts = {k: slices[k].count() for k in range(5)}

    keys = {
        k: [r.n_nationkey for r in slices[k].select("n_nationkey").collect()]
        for k in range(5)
    }

    rng = random.Random(2026)
    for trial in range(3):
        t = SnapshotTable(spark, str(tmp_path / f"m{trial}"))
        model_keys: list[int] = []  # key multiset at head
        model_versions = []         # (version, rows_at_version)
        next_v = 1
        for _ in range(7):
            op = rng.choice(["replace", "append", "append", "merge", "expire"])
            k = rng.randrange(5)
            if op == "replace":
                t.create_or_replace(slices[k])
                model_keys = list(keys[k])
                model_versions.append((next_v, len(model_keys)))
                next_v += 1
            elif op == "append":
                t.append(slices[k])
                model_keys = (
                    model_keys + keys[k] if model_versions else list(keys[k])
                )
                model_versions.append((next_v, len(model_keys)))
                next_v += 1
            elif op == "merge":
                if not model_versions:
                    continue
                # MERGE is key-based: ALL target rows whose n_nationkey
                # appears in the source are replaced by the source's
                # single row per key (dedup-by-upsert when the target
                # holds duplicate keys from repeated appends).
                t.merge(slices[k], on=["n_nationkey"])
                src = set(keys[k])
                model_keys = [x for x in model_keys if x not in src] + keys[k]
                model_versions.append((next_v, len(model_keys)))
                next_v += 1
            else:
                if not model_versions:
                    continue
                t.expire_snapshots(keep_last=2)
                model_versions = model_versions[-2:]
            # invariants after every op
            assert t.versions() == [v for v, _ in model_versions]
            if model_versions:
                assert t.read().count() == model_versions[-1][1]
                assert sorted(
                    r.n_nationkey for r in t.read().collect()
                ) == sorted(model_keys)
                for v, rows in model_versions:
                    assert t.read(version=v).count() == rows
                    assert t.row_count(version=v) == rows


def test_zorder_key_matches_python_morton(spark):
    from lakehouse_homeserver_spark.sources.ingest import zorder_key

    rows = [(a, b) for a in [0, 1, 5, 170, 255] for b in [0, 3, 128, 255]]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", zorder_key(F.col("a"), F.col("b"), bits=8).alias("z")
        ).collect()
    }

    def morton(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b, z)


def test_zorder_rewrite_preserves_rows_and_clusters(spark, sf_dir, tmp_path):
    """After the Z-order rewrite, rows are intact and each output file
    covers a narrow band of BOTH clustering columns (the property that
    makes min/max stats prune either-column filters)."""
    import glob as _glob

    from lakehouse_homeserver_spark.sources.ingest import Lakehouse, SnapshotFormat

    lh = Lakehouse(spark, fmt=SnapshotFormat(spark, str(tmp_path / "wh")))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lh.fmt.create_or_replace(li.repartition(4), "src.lineitem")
    n = li.count()

    lh.optimize_layout_zorder(
        "lineitem", "l_quantity", "l_extendedprice", target_files=8
    )
    assert lh.table("lineitem").count() == n

    # Per-file spread of each column should be well below global spread
    # for most files (Z-order trades a little per-dimension locality
    # for locality in both).
    files = [
        f
        for f in _glob.glob(str(tmp_path / "wh/src/lineitem/data/*.parquet"))
    ]
    # keep only files from the latest snapshot
    latest = lh.fmt._table("src.lineitem").entry(
        lh.fmt._table("src.lineitem").latest_version()
    )["manifest"]
    files = [f for f in files if os.path.basename(f) in latest]
    assert len(files) >= 4
    import pyarrow.parquet as pq

    def spread(path, col):
        t = pq.read_table(path, columns=[col]).column(0).to_pylist()
        return max(t) - min(t) if t else 0.0

    g_qty = li.agg(F.max("l_quantity") - F.min("l_quantity")).collect()[0][0]
    g_price = (
        li.agg(F.max("l_extendedprice") - F.min("l_extendedprice")).collect()[0][0]
    )
    narrow_both = sum(
        1
        for f in files
        if spread(f, "l_quantity") <= 0.8 * g_qty
        and spread(f, "l_extendedprice") <= 0.8 * g_price
    )
    assert narrow_both >= len(files) // 2, (narrow_both, len(files))


# -- MERGE INTO (upsert) ----------------------------------------------------


def _merge_src(nations, lo, hi):
    """Source slice [lo, hi) with a rewritten n_name (visible update)."""
    return nations.filter(
        (F.col("n_nationkey") >= lo) & (F.col("n_nationkey") < hi)
    ).withColumn("n_name", F.concat(F.lit("MERGED_"), F.col("n_nationkey")))


def test_merge_upsert_updates_and_inserts(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_nationkey") < 10))
    t.merge(_merge_src(nations, 5, 15), on=["n_nationkey"])

    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    # keys 0-4 untouched, 5-9 updated in place, 10-14 inserted
    assert sorted(rows) == list(range(15))
    for k in range(5):
        assert not rows[k].startswith("MERGED_")
    for k in range(5, 15):
        assert rows[k] == f"MERGED_{k}"
    assert [e["operation"] for e in t.history()] == ["create", "merge"]


def test_merge_modes(spark, tmp_path, nations):
    base = nations.filter(F.col("n_nationkey") < 10)

    # matched=delete, not_matched=insert: 5-9 deleted, 10-14 inserted
    t = _table(spark, tmp_path, "del_ins")
    t.create(base)
    t.merge(
        _merge_src(nations, 5, 15),
        on=["n_nationkey"],
        when_matched="delete",
        when_not_matched="insert",
    )
    assert sorted(r.n_nationkey for r in t.read().collect()) == list(
        range(5)
    ) + list(range(10, 15))

    # matched=update, not_matched=ignore: 5-9 updated, nothing inserted
    t2 = _table(spark, tmp_path, "upd_ign")
    t2.create(base)
    t2.merge(
        _merge_src(nations, 5, 15),
        on=["n_nationkey"],
        when_not_matched="ignore",
    )
    rows = {r.n_nationkey: r.n_name for r in t2.read().collect()}
    assert sorted(rows) == list(range(10))
    assert all(rows[k] == f"MERGED_{k}" for k in range(5, 10))

    # matched=delete, not_matched=ignore: pure keyed delete
    t3 = _table(spark, tmp_path, "del_ign")
    t3.create(base)
    t3.merge(
        _merge_src(nations, 5, 15),
        on=["n_nationkey"],
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert sorted(r.n_nationkey for r in t3.read().collect()) == list(range(5))

    with pytest.raises(ValueError, match="when_matched"):
        t3.merge(_merge_src(nations, 0, 1), on=["n_nationkey"], when_matched="upsert")


def test_merge_is_idempotent(spark, tmp_path, nations):
    """Re-merging the same source must not change the table state —
    the re-run safety the reference's incremental loader lacks."""
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_nationkey") < 10))
    src = _merge_src(nations, 5, 15)
    t.merge(src, on=["n_nationkey"])
    first = sorted(map(tuple, t.read().collect()))
    t.merge(src, on=["n_nationkey"])
    assert sorted(map(tuple, t.read().collect())) == first
    assert t.latest_version() == 3


def test_merge_concurrent_append_is_not_lost(spark, tmp_path, nations):
    """Write-skew guard: an append that lands between merge's read and
    its commit must survive — the pinned-parent commit aborts, and the
    merge re-derives its plan on top of the new head."""
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_nationkey") < 10))

    competitor = _table(spark, tmp_path)
    late_row = nations.filter(F.col("n_nationkey") == 20)
    orig_write = SnapshotTable._write_entry
    fired = {"done": False}

    def racing_write(self, entry):
        if not fired["done"] and entry["operation"] == "merge":
            fired["done"] = True
            competitor.append(late_row)
        return orig_write(self, entry)

    try:
        SnapshotTable._write_entry = racing_write
        t.merge(_merge_src(nations, 5, 15), on=["n_nationkey"])
    finally:
        SnapshotTable._write_entry = orig_write

    rows = {r.n_nationkey: r.n_name for r in t.read().collect()}
    # competitor's key-20 row survived the merge AND the merge applied
    assert sorted(rows) == list(range(15)) + [20]
    assert rows[7] == "MERGED_7"
    assert not rows[20].startswith("MERGED_")
    assert [e["operation"] for e in t.history()] == [
        "create",
        "append",
        "merge",
    ]


def test_merge_schema_evolution_new_column(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_nationkey") < 10))
    src = _merge_src(nations, 5, 15).withColumn("batch_tag", F.lit("m1"))
    t.merge(src, on=["n_nationkey"])
    got = t.read()
    assert "batch_tag" in got.columns
    tags = {r.n_nationkey: r.batch_tag for r in got.collect()}
    assert all(tags[k] == "m1" for k in range(5, 15))
    assert all(tags[k] is None for k in range(5))


def test_merge_missing_table_raises(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    with pytest.raises(SnapshotNotFound):
        t.merge(nations, on=["n_nationkey"])


def test_expire_snapshots_by_wall_clock(spark, tmp_path, nations):
    """Reference contract: expire_snapshots(TIMESTAMP now-3d) — age-
    based retention, head always kept even if old."""
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))
    t.append(nations.filter(F.col("n_regionkey") == 1))
    t.append(nations.filter(F.col("n_regionkey") == 2))

    # age v1/v2 artificially (3 days+); v3 stays "now"
    old_ms = int((__import__("time").time() - 4 * 86400) * 1000)
    for v in (1, 2):
        p = t._entry_path(v)
        e = json.load(open(p))
        e["timestamp_ms"] = old_ms
        json.dump(e, open(p, "w"))

    cutoff = int((__import__("time").time() - 3 * 86400) * 1000)
    res = t.expire_snapshots(keep_last=0, older_than_ms=cutoff)
    assert res["expired_snapshots"] == 2
    assert t.versions() == [3]
    # head state intact; expired versions unreachable
    assert t.read().count() == nations.filter(F.col("n_regionkey") < 3).count()
    with pytest.raises(SnapshotNotFound):
        t.read(version=1)

    # head is never expired, even when older than the cutoff
    p = t._entry_path(3)
    e = json.load(open(p))
    e["timestamp_ms"] = old_ms
    json.dump(e, open(p, "w"))
    res2 = t.expire_snapshots(keep_last=0, older_than_ms=cutoff)
    assert res2["expired_snapshots"] == 0
    assert t.versions() == [3]


def test_file_skipping_prunes_and_preserves_results(spark, sf_dir, tmp_path):
    """Commit orders in 4 disjoint o_orderkey ranges (one append each,
    so files carry disjoint footer ranges), then range-scan a narrow
    window: prune_files must drop most files, and scan() must return
    exactly what a full-table filter returns."""
    from pyspark.sql import functions as F

    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    hi_key = orders.agg(F.max("o_orderkey")).first()[0]
    step = (hi_key + 1) // 4 + 1
    t = SnapshotTable(spark, str(tmp_path / "orders_ranged"))
    for i in range(4):
        sl = orders.filter(
            (F.col("o_orderkey") >= i * step)
            & (F.col("o_orderkey") < (i + 1) * step)
        ).coalesce(1)
        if i == 0:
            t.create(sl)
        else:
            t.append(sl)

    all_files = [f["file"] for f in t.files()]
    assert len(all_files) == 4
    lo, hi = step // 2, step // 2 + step // 4  # inside slice 0 only
    kept = t.prune_files("o_orderkey", lo, hi)
    assert len(kept) < len(all_files)
    got = sorted(r.o_orderkey for r in t.scan("o_orderkey", lo, hi).collect())
    want = sorted(
        r.o_orderkey
        for r in orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        ).collect()
    )
    assert got == want and len(got) > 0


def test_file_stats_survive_append_and_missing_stats_are_safe(
    spark, tmp_path, nations
):
    """Stats accumulate across appends; a file absent from the stats
    map (simulating a pre-upgrade snapshot) is never pruned."""
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "n"))
    t.create(nations.filter("n_nationkey < 10").coalesce(1))
    t.append(nations.filter("n_nationkey >= 10").coalesce(1))
    fs = t.files()
    assert all(f["stats"].get("n_nationkey") for f in fs)
    # every file's recorded range really bounds its rows
    for f in fs:
        lo, hi = f["stats"]["n_nationkey"]
        assert lo <= hi
    # simulate a stats-less legacy file: drop stats from the newest
    # entry in-memory via prune on a column that has no stats anywhere
    kept = t.prune_files("no_such_column", 0, 1)
    assert kept == [f["file"] for f in fs]


def test_scan_outside_all_ranges_reads_zero_files(spark, tmp_path, nations):
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "n2"))
    t.create(nations.coalesce(1))
    assert t.prune_files("n_nationkey", 10_000, 20_000) == []
    assert t.scan("n_nationkey", 10_000, 20_000).count() == 0


def test_incremental_read_returns_exactly_new_rows(spark, tmp_path, nations):
    """added_between(v1, v3) == rows of commits 2..3, nothing else;
    (head, head) is empty; spanning a replace raises."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "inc"))
    t.create(nations.filter("n_nationkey < 5"))
    v1 = t.latest_version()
    t.append(nations.filter("n_nationkey >= 5 AND n_nationkey < 10"))
    t.append(nations.filter("n_nationkey >= 10 AND n_nationkey < 15"))
    v3 = t.latest_version()
    got = sorted(
        r.n_nationkey for r in t.added_between(v1, v3).collect()
    )
    assert got == list(range(5, 15))
    assert t.added_between(v3, v3).count() == 0
    t.create_or_replace(nations.filter("n_nationkey < 3"))
    with pytest.raises(ValueError, match="incremental read undefined"):
        t.added_between(v1).collect()


def test_python_datasource_reads_snapshot_format(spark, tmp_path, nations):
    """spark.read.format("snapshot") — the Spark 4 Python DataSource
    wrapper — must agree with SnapshotTable.read() for the head AND
    for version-as-of, including null-fill on pre-evolution files."""
    from pyspark.sql import functions as F

    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "fmt")
    t = SnapshotTable(spark, path)
    t.create(nations.filter("n_nationkey < 10"))
    v1 = t.latest_version()
    t.append(
        nations.filter("n_nationkey >= 10").withColumn(
            "extra", F.col("n_nationkey") * 2
        )
    )

    head = spark.read.format("snapshot").load(path)
    assert sorted(head.columns) == sorted(t.read().columns)
    assert head.count() == 25
    # pre-evolution rows surface NULL for the evolved column
    assert head.filter("n_nationkey < 10 AND extra IS NULL").count() == 10
    assert head.filter("n_nationkey >= 10 AND extra IS NOT NULL").count() == 15

    old = spark.read.format("snapshot").option("version", v1).load(path)
    assert old.count() == 10
    assert "extra" not in old.columns

    got = {r.n_nationkey for r in head.collect()}
    want = {r.n_nationkey for r in t.read().collect()}
    assert got == want


def test_clone_is_zero_copy_and_content_exact(spark, tmp_path, nations):
    src = _table(spark, tmp_path, "src")
    src.create(nations.filter(F.col("n_nationkey") < 10))
    src.append(nations.filter(F.col("n_nationkey") >= 10))
    clone = src.clone(str(tmp_path / "clone"))
    # content parity at the cloned version
    assert clone.read().count() == nations.count()
    assert sorted(r.n_nationkey for r in clone.read().collect()) == sorted(
        r.n_nationkey for r in nations.collect()
    )
    # zero-copy: every cloned data file shares the source's inode
    e = clone.entry(1)
    assert e["operation"] == "clone"
    assert e["properties"]["cloned_version"] == 2
    for name in e["manifest"]:
        s = os.stat(os.path.join(str(tmp_path / "src"), "data", name))
        c = os.stat(os.path.join(str(tmp_path / "clone"), "data", name))
        assert s.st_ino == c.st_ino


def test_clone_at_old_version_and_divergence(spark, tmp_path, nations):
    src = _table(spark, tmp_path, "src")
    src.create(nations.filter(F.col("n_nationkey") < 10))
    src.append(nations.filter(F.col("n_nationkey") >= 10))
    # branch from v1, then both sides write independently
    clone = src.clone(str(tmp_path / "clone"), version=1)
    n_v1 = nations.filter(F.col("n_nationkey") < 10).count()
    assert clone.read().count() == n_v1
    clone.append(nations.filter(F.col("n_nationkey") == 10))
    src.create_or_replace(nations.limit(3))
    assert clone.read().count() == n_v1 + 1
    assert src.read().count() == 3


def test_clone_survives_source_expiry(spark, tmp_path, nations):
    """The GC-safety contract: expiring (and file-deleting) the SOURCE
    must not break the clone — hard links keep the shared inodes alive
    until the last referencing table drops them."""
    src = _table(spark, tmp_path, "src")
    src.create(nations)
    clone = src.clone(str(tmp_path / "clone"))
    total = nations.count()
    # source rewrites itself and GCs everything but the head snapshot
    src.create_or_replace(nations.limit(2))
    gone = src.expire_snapshots(keep_last=1)
    assert gone["deleted_files"] >= 1
    # clone still reads the full original content
    assert clone.read().count() == total
    # and the reverse: dropping the clone's files never touches source
    clone.create_or_replace(nations.limit(1))
    clone.expire_snapshots(keep_last=1)
    assert src.read().count() == 2


def test_rollback_restores_state_metadata_only(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))
    t.append(nations.filter(F.col("n_regionkey") == 1))
    v2_keys = sorted(r.n_nationkey for r in t.read().collect())
    t.create_or_replace(nations.filter(F.col("n_regionkey") == 2))
    files_before = set(os.listdir(t._data_path))
    e = t.rollback(2)
    # Content is exactly v2's; the commit added zero data files.
    assert sorted(r.n_nationkey for r in t.read().collect()) == v2_keys
    assert e["added"] == []
    assert set(os.listdir(t._data_path)) == files_before
    assert e["operation"] == "rollback"
    assert e["properties"]["rolled_back_to"] == 2
    assert [x["operation"] for x in t.history()] == [
        "create", "append", "overwrite", "rollback",
    ]
    # The table keeps working: append after rollback builds on v2.
    t.append(nations.filter(F.col("n_regionkey") == 3))
    n = nations.filter(F.col("n_regionkey") < 2).count() + nations.filter(
        F.col("n_regionkey") == 3
    ).count()
    assert t.read().count() == n


def test_rollback_to_expired_version_raises(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))
    t.create_or_replace(nations.filter(F.col("n_regionkey") == 1))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotNotFound):
        t.rollback(1)


def test_delete_where_rewrites_only_overlapping_files(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    # Four single-file commits with disjoint n_nationkey ranges.
    for i, (lo, hi) in enumerate([(0, 5), (6, 11), (12, 17), (18, 24)]):
        sl = nations.filter(F.col("n_nationkey").between(lo, hi)).coalesce(1)
        t.create(sl) if i == 0 else t.append(sl)
    before = t.entry(t.latest_version())
    inode = {
        f: os.stat(os.path.join(t._data_path, f)).st_ino
        for f in before["manifest"]
    }
    e = t.delete_where(
        (F.col("n_nationkey").between(7, 9)),
        prune_column="n_nationkey",
        lo=7,
        hi=9,
    )
    assert e["properties"] == {"rewritten_files": 1, "carried_files": 3}
    # The three non-overlapping files carry over by NAME (no rewrite).
    carried = [f for f in e["manifest"] if f in inode]
    assert len(carried) == 3
    for f in carried:
        assert os.stat(os.path.join(t._data_path, f)).st_ino == inode[f]
    got = sorted(r.n_nationkey for r in t.read().collect())
    want = sorted(
        r.n_nationkey
        for r in nations.filter(~F.col("n_nationkey").between(7, 9)).collect()
    )
    assert got == want
    assert t.row_count() == len(want)


def test_delete_where_full_rewrite_without_bounds(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    t.delete_where(F.col("n_regionkey") == 2)
    assert t.read().filter(F.col("n_regionkey") == 2).count() == 0
    n = nations.filter(F.col("n_regionkey") != 2).count()
    assert t.row_count() == n
    # Deleting the same rows again is a no-op commit, not an error.
    t.delete_where(F.col("n_regionkey") == 2)
    assert t.row_count() == n


def _four_slice_table(spark, tmp_path, nations, name="mor"):
    t = _table(spark, tmp_path, name)
    for i, (lo, hi) in enumerate([(0, 5), (6, 11), (12, 17), (18, 24)]):
        sl = nations.filter(F.col("n_nationkey").between(lo, hi)).coalesce(1)
        t.create(sl) if i == 0 else t.append(sl)
    return t


def test_mor_delete_writes_delete_file_not_data(spark, tmp_path, nations):
    t = _four_slice_table(spark, tmp_path, nations)
    before = t.entry(t.latest_version())
    inode = {
        f: os.stat(os.path.join(t._data_path, f)).st_ino
        for f in before["manifest"]
    }
    e = t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    # Manifest unchanged, every data file intact; one delete file.
    assert e["manifest"] == before["manifest"]
    for f, ino in inode.items():
        assert os.stat(os.path.join(t._data_path, f)).st_ino == ino
    assert len(e["delete_files"]) == 1
    assert e["delete_files"][0]["columns"] == ["n_nationkey"]
    got = sorted(r.n_nationkey for r in t.read().collect())
    want = sorted(
        r.n_nationkey
        for r in nations.filter(F.col("n_nationkey") % 5 != 0).collect()
    )
    assert got == want
    assert t.row_count() == len(want)
    assert e["properties"]["deleted_rows"] == 25 - len(want)
    # Time travel to the pre-delete snapshot still sees every row.
    assert t.read(version=4).count() == 25


def test_mor_delete_sequencing_spares_later_appends(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_nationkey") < 10).coalesce(1))
    t.delete_where(
        F.col("n_nationkey") % 2 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    # Re-append some of the deleted keys AFTER the delete: the delete
    # file's sequence number is lower, so the new rows survive.
    t.append(nations.filter(F.col("n_nationkey").isin(0, 2, 11)).coalesce(1))
    got = sorted(r.n_nationkey for r in t.read().collect())
    assert got == [0, 1, 2, 3, 5, 7, 9, 11]
    assert t.row_count() == len(got)


def test_rewrite_deletes_compacts_to_plain_scan(spark, tmp_path, nations):
    t = _four_slice_table(spark, tmp_path, nations)
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    want = sorted(r.n_nationkey for r in t.read().collect())
    e = t.rewrite_deletes()
    assert e["delete_files"] == []
    assert e["properties"]["compacted_delete_files"] == 1
    assert sorted(r.n_nationkey for r in t.read().collect()) == want
    assert t.row_count() == len(want)
    # Second call is a no-op (same head entry).
    assert t.rewrite_deletes()["version"] == e["version"]


def test_cow_delete_with_pending_mor_never_resurrects(spark, tmp_path, nations):
    t = _four_slice_table(spark, tmp_path, nations)
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    e = t.delete_where(F.col("n_regionkey") == 2)  # CoW, compacts pending
    assert e["properties"]["compacted_delete_files"] == 1
    assert e["delete_files"] == []
    got = sorted(r.n_nationkey for r in t.read().collect())
    want = sorted(
        r.n_nationkey
        for r in nations.filter(
            (F.col("n_nationkey") % 5 != 0) & (F.col("n_regionkey") != 2)
        ).collect()
    )
    assert got == want


def test_mor_requires_equality_columns(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    with pytest.raises(ValueError, match="equality_on"):
        t.delete_where(F.col("n_nationkey") == 1, mode="mor")


def test_clone_carries_pending_mor_deletes(spark, tmp_path, nations):
    t = _four_slice_table(spark, tmp_path, nations)
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    c = t.clone(str(tmp_path / "branch"))
    want = sorted(r.n_nationkey for r in t.read().collect())
    assert sorted(r.n_nationkey for r in c.read().collect()) == want
    # A clone-local append of a deleted key outranks the carried
    # delete file (remapped seq <= 0 < new commit's version).
    c.append(nations.filter(F.col("n_nationkey") == 0).coalesce(1))
    got = sorted(r.n_nationkey for r in c.read().collect())
    assert got == sorted(want + [0])


def test_expire_keeps_live_delete_files(spark, tmp_path, nations):
    t = _four_slice_table(spark, tmp_path, nations)
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    want = sorted(r.n_nationkey for r in t.read().collect())
    t.expire_snapshots(keep_last=1)
    assert sorted(r.n_nationkey for r in t.read().collect()) == want


def test_pyds_applies_mor_deletes(spark, tmp_path, nations):
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    t = _four_slice_table(spark, tmp_path, nations)
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    t.append(nations.filter(F.col("n_nationkey") == 10).coalesce(1))
    spark.dataSource.register(SnapshotDataSource)
    df = spark.read.format("snapshot").load(t.path)
    got = sorted(r.n_nationkey for r in df.collect())
    want = sorted(r.n_nationkey for r in t.read().collect())
    assert got == want


def test_snapshot_stream_tails_commit_log(spark, tmp_path, nations):
    """readStream.format("snapshot"): an availableNow run replays every
    existing snapshot; a second run off the SAME checkpoint consumes
    ONLY the commits made in between (exactly-once via version offsets
    in the checkpoint); with nothing new the batch is empty."""
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    t = SnapshotTable(spark, path)
    t.create(nations.filter("n_nationkey < 10"))
    t.append(nations.filter("n_nationkey >= 10 AND n_nationkey < 20"))

    def drain():
        q = (
            spark.readStream.format("snapshot")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    drain()
    assert sorted(
        r.n_nationkey for r in spark.read.parquet(out).collect()
    ) == list(range(20))

    # restart from checkpoint: only the new commit's rows arrive
    t.append(nations.filter("n_nationkey >= 20"))
    drain()
    assert sorted(
        r.n_nationkey for r in spark.read.parquet(out).collect()
    ) == list(range(25))

    # nothing new: a third drain appends zero rows (no re-consumption)
    drain()
    assert spark.read.parquet(out).count() == 25


def test_snapshot_stream_rejects_replace_commits(spark, tmp_path, nations):
    """A replace inside the consumed range fails the stream loudly
    (Delta-source-without-skipChangeCommits contract) instead of
    silently missing changed rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "stream_src2")
    t = SnapshotTable(spark, path)
    t.create(nations.filter("n_nationkey < 5"))
    t.create_or_replace(nations.filter("n_nationkey < 3"))
    q = (
        spark.readStream.format("snapshot")
        .load(path)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="not an append"):
        q.awaitTermination(180)


def test_tags_pin_versions_and_survive_gc(spark, tmp_path, nations):
    """Tags (named refs): resolve in read() and the format reader,
    are immutable (re-tag raises), and keep their snapshot + files
    alive through expire_snapshots until dropped."""
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    t = _table(spark, tmp_path)
    t.create(nations.filter("n_nationkey < 10"))
    t.tag("corpus-v1")
    t.append(nations.filter("n_nationkey >= 10"))
    t.append(nations.limit(0))  # v3 head

    assert t.tags() == {"corpus-v1": 1}
    assert t.read("corpus-v1").count() == 10
    spark.dataSource.register(SnapshotDataSource)
    via_fmt = (
        spark.read.format("snapshot")
        .option("version", "corpus-v1")
        .load(t.path)
    )
    assert via_fmt.count() == 10

    with pytest.raises(ValueError, match="immutable"):
        t.tag("corpus-v1", 2)
    with pytest.raises(SnapshotNotFound, match="no tag"):
        t.read("nope")

    # GC keeps the tagged snapshot even though keep_last=1 would drop it
    res = t.expire_snapshots(keep_last=1)
    assert 1 in t.versions() and 3 in t.versions() and 2 not in t.versions()
    assert t.read("corpus-v1").count() == 10
    # drop the tag: the next GC really expires it
    t.drop_tag("corpus-v1")
    t.expire_snapshots(keep_last=1)
    assert t.versions() == [3]
    with pytest.raises(SnapshotNotFound):
        t.read("corpus-v1")
    assert res["expired_snapshots"] == 1  # only v2 went in the first pass


def test_tag_requires_existing_snapshot(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations)
    with pytest.raises(SnapshotNotFound):
        t.tag("v9", 9)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.tag("bad/name")


def test_bloom_filters_prune_point_lookups(spark, tmp_path, nations):
    """Bloom file skipping: with per-file blooms on n_nationkey, a
    point lookup prunes files that range stats cannot (every slice
    spans the full key range via a wrap-around key), results stay
    exact, and filters survive manifest-only commits (rollback)."""
    t = _table(spark, tmp_path).with_bloom_filters("n_nationkey")
    # two slices whose n_nationkey ranges BOTH span [0, 24]: range
    # stats alone can never skip either file for any key.
    t.create(nations.filter("n_nationkey % 24 = 0").coalesce(1))  # 0, 24
    t.append(
        nations.filter("n_nationkey > 0 AND n_nationkey < 24").coalesce(1)
    )
    all_files = [f["file"] for f in t.files()]
    assert len(all_files) == 2
    # range pruning keeps both files for key 5; bloom drops slice 1
    assert t.prune_files("n_nationkey", 5, 5) == all_files
    pruned = t.prune_files_equals("n_nationkey", 5)
    assert pruned == [all_files[1]]
    got = t.scan_equals("n_nationkey", 5)
    assert [r.n_nationkey for r in got.collect()] == [5]
    # a key in the first slice keeps that file
    assert all_files[0] in t.prune_files_equals("n_nationkey", 24)
    # absent key: bloom may keep files only on false positives; the
    # residual filter still yields zero rows
    assert t.scan_equals("n_nationkey", 999).count() == 0
    # blooms ride manifest-only commits: rollback keeps pruning alive
    t.rollback(1)
    assert t.prune_files_equals("n_nationkey", 5) == []
    assert t.prune_files_equals("n_nationkey", 24) != []


def test_wap_branch_audit_publish(spark, tmp_path, nations):
    """Write-audit-publish: stage an append on a zero-copy branch,
    audit it there (main readers see nothing), cherry-pick to publish
    metadata-only; a failed audit just deletes the branch. Re-publish
    and non-append picks raise."""
    import shutil

    t = _table(spark, tmp_path)
    t.create(nations.filter("n_nationkey < 10"))

    # -- stage on a branch
    b = t.clone(str(tmp_path / "branch"))
    b.append(nations.filter("n_nationkey >= 10 AND n_nationkey < 20"))
    assert t.read().count() == 10  # main unaffected while auditing
    # audit: the staged batch has the agreed row count and no nulls
    staged = b.added_between(1)
    assert staged.count() == 10
    assert staged.filter("n_name IS NULL").count() == 0

    # -- publish
    e = t.cherry_pick(b, b.latest_version())
    assert e["operation"] == "cherry-pick"
    assert t.read().count() == 20
    assert sorted(r.n_nationkey for r in t.read().collect()) == list(range(20))
    # metadata-only: published files share inodes with the branch
    f = e["added"][0]
    assert os.stat(os.path.join(t.path, "data", f)).st_ino == os.stat(
        os.path.join(b.path, "data", f)
    ).st_ino
    with pytest.raises(ValueError, match="already published"):
        t.cherry_pick(b, b.latest_version())

    # -- failed audit: branch with bad data is just deleted
    b2 = t.clone(str(tmp_path / "branch2"))
    b2.append(nations.limit(3))  # "bad" batch
    shutil.rmtree(b2.path)
    assert t.read().count() == 20  # main never saw it

    # -- only appends are pickable
    b3 = t.clone(str(tmp_path / "branch3"))
    b3.create_or_replace(nations.limit(1))
    with pytest.raises(ValueError, match="cherry-picked"):
        t.cherry_pick(b3)
    # publishing survives branch deletion (hard links keep inodes)
    shutil.rmtree(b.path)
    assert t.read().count() == 20


def test_wap_second_branch_after_publish_still_publishes(
    spark, tmp_path, nations
):
    """r8 advice (high): the WAP audit scope must be expressed in the
    BRANCH's version space. clone() restarts numbering at 1, so a
    branch forked when the SOURCE is at version >= 2 has versions
    {1, 2} after staging — using the source's latest_version() as
    added_between's from-version made the audit range empty, the
    audit saw zero staged rows, and a CLEAN batch silently never
    published."""
    t = _table(spark, tmp_path)
    t.create(nations.filter("n_nationkey < 5"))

    # first publish moves the source to version 2
    b1 = t.clone(str(tmp_path / "b1"))
    b1.append(nations.filter("n_nationkey >= 5 AND n_nationkey < 10"))
    t.cherry_pick(b1, b1.latest_version())
    assert t.latest_version() >= 2

    # clean second branch forked AFTER the prior publish
    b2 = t.clone(str(tmp_path / "b2"))
    branch_v = b2.latest_version()  # the branch point, in b2's space
    assert branch_v == 1
    b2.append(nations.filter("n_nationkey >= 10 AND n_nationkey < 15"))
    staged = b2.added_between(branch_v)
    # the audit MUST see exactly the staged batch — nonempty, and not
    # the already-published slices
    assert staged.count() == 5
    assert staged.filter("n_nationkey < 10").count() == 0
    assert staged.filter("n_name IS NULL").count() == 0
    t.cherry_pick(b2, b2.latest_version())
    assert t.read().count() == 15


def test_metadata_tables_via_format_reader(spark, tmp_path, nations):
    """Iceberg metadata-table surface (`iceberg.metadata` parity):
    .snapshots lineage, .files manifest (version-aware), and .refs
    as DataFrames through format("snapshot").option("metadata",...)."""
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    t = _table(spark, tmp_path).with_bloom_filters("n_nationkey")
    t.create(nations.filter("n_nationkey < 10").coalesce(1))
    t.append(nations.filter("n_nationkey >= 10").coalesce(1))
    t.tag("rel-1", 1)

    def meta(name, **opts):
        r = spark.read.format("snapshot").option("metadata", name)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(t.path)

    snaps = meta("snapshots").orderBy("version").collect()
    assert [(s.version, s.operation, s.n_added) for s in snaps] == [
        (1, "create", 1),
        (2, "append", 1),
    ]
    assert snaps[1].row_count == 25

    files = meta("files").collect()
    assert len(files) == 2
    assert {f.seq for f in files} == {1, 2}
    assert all(f.has_blooms and f.n_stat_columns > 0 for f in files)
    assert sum(f.row_count for f in files) == 25
    # version-aware: the v1 manifest has one file
    assert meta("files", version=1).count() == 1
    assert meta("files", version="rel-1").count() == 1

    refs = meta("refs").collect()
    assert [(r.name, r.type, r.version) for r in refs] == [("rel-1", "tag", 1)]

    with pytest.raises(Exception, match="unknown metadata table"):
        meta("nope").count()


def test_incremental_aggregate_matches_full_recompute(spark, tmp_path, sf_dir):
    """IVM: the incrementally-maintained aggregate equals the full
    recompute after every refresh; a refresh with nothing new is a
    no-op; a replayed refresh (crash-and-rerun) does not double-count;
    work is driven by added_between (O(delta)), cursor rides the view
    commit."""
    from lakehouse_homeserver_spark.sources.ivm import IncrementalAggregate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = SnapshotTable(spark, str(tmp_path / "src"))
    dest = SnapshotTable(spark, str(tmp_path / "agg"))
    ivm = IncrementalAggregate(
        spark, src, dest, keys=["o_orderstatus"], measure="o_totalprice"
    )

    def check():
        got = sorted(map(tuple, dest.read().collect()))
        want = sorted(map(tuple, ivm.recompute().collect()))
        assert got == want and got

    src.create(orders.filter("o_orderkey % 3 = 0"))
    r = ivm.refresh()
    assert r["refreshed"] and r["from_version"] == 0
    check()

    src.append(orders.filter("o_orderkey % 3 = 1"))
    src.append(orders.filter("o_orderkey % 3 = 2"))
    r = ivm.refresh()
    assert r["refreshed"] and r["from_version"] == 1 and r["to_version"] == 3
    check()

    # idempotent: nothing new -> no-op, no new dest version
    v = dest.latest_version()
    assert ivm.refresh() == {
        "from_version": 3,
        "to_version": 3,
        "refreshed": False,
    }
    assert dest.latest_version() == v

    # replay safety: re-running the same refresh logic against an
    # already-advanced cursor consumes zero rows (no double counting)
    assert src.added_between(ivm.consumed_version()).count() == 0


def test_bloom_columns_persist_across_handles(spark, tmp_path, nations):
    """Bloom config is a TABLE property (rides the commit log): a
    fresh handle that never called with_bloom_filters keeps producing
    bloomed files on append."""
    t = _table(spark, tmp_path).with_bloom_filters("n_nationkey")
    t.create(nations.filter("n_nationkey < 10").coalesce(1))
    t2 = SnapshotTable(spark, t.path)  # fresh handle, no fluent call
    t2.append(nations.filter("n_nationkey >= 10").coalesce(1))
    e = t2.entry(t2.latest_version())
    assert all("n_nationkey" in b for b in e["blooms"].values())
    assert len(e["blooms"]) == 2


def test_stream_fails_loudly_when_snapshots_expired_mid_gap(
    spark, tmp_path, nations
):
    """failOnDataLoss contract: if expire_snapshots removed commits
    the stream had not consumed, the next batch raises instead of
    silently skipping their rows; and cherry-pick commits stream
    fine (they are add-only)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "s")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    t = SnapshotTable(spark, path)
    t.create(nations.filter("n_nationkey < 5"))

    def drain(expect_ok=True):
        q = (
            spark.readStream.format("snapshot")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if expect_ok:
            assert q.awaitTermination(180)
        return q

    drain()
    # a WAP publish streams fine
    b = t.clone(str(tmp_path / "br"))
    b.append(nations.filter("n_nationkey >= 5 AND n_nationkey < 10"))
    t.cherry_pick(b, b.latest_version())
    drain()
    assert spark.read.parquet(out).count() == 10

    # expire unconsumed commits -> loud failure
    t.append(nations.filter("n_nationkey >= 10 AND n_nationkey < 15"))
    t.append(nations.filter("n_nationkey >= 15"))
    t.expire_snapshots(keep_last=1)
    q = drain(expect_ok=False)
    with pytest.raises(StreamingQueryException, match="expired before"):
        q.awaitTermination(180)


def _feed_counts(feed):
    rows = feed.groupBy("_commit_version", "_change_type").count().collect()
    return {(r[0], r[1]): r[2] for r in rows}


def test_change_feed_covers_every_commit_shape(spark, tmp_path, nations):
    """changes_between: appends emit only added rows, CoW delete emits
    the bag-diff of rewritten files, rewrite emits nothing, rollback
    emits the full preimage/postimage diff."""
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))          # v1
    t.append(nations.filter(F.col("n_regionkey") == 1))          # v2
    t.delete_where(F.col("n_nationkey") % 2 == 0, mode="cow")    # v3
    n0 = nations.filter(F.col("n_regionkey") == 0).count()
    n1 = nations.filter(F.col("n_regionkey") == 1).count()
    ndel = (
        nations.filter(
            (F.col("n_regionkey") < 2) & (F.col("n_nationkey") % 2 == 0)
        ).count()
    )
    c = _feed_counts(t.changes_between(0))
    assert c[(1, "insert")] == n0
    assert c[(2, "insert")] == n1
    assert c[(3, "delete")] == ndel
    assert (3, "insert") not in c

    # MoR delete then rewrite_deletes: the delete emits rows, the
    # compaction emits NOTHING (physical-only commit).
    t.delete_where(
        F.col("n_nationkey") % 3 == 0, mode="mor", equality_on=["n_nationkey"]
    )                                                            # v4
    visible_pre = t.read(version=3)
    ndel2 = visible_pre.filter(F.col("n_nationkey") % 3 == 0).count()
    t.rewrite_deletes()                                          # v5
    c = _feed_counts(t.changes_between(3))
    assert c.get((4, "delete"), 0) == ndel2
    assert all(v != 5 for (v, _) in c), "rewrite must be a logical no-op"

    # Rollback: full diff — everything deleted since v2 comes back.
    head = t.latest_version()
    t.rollback(2)                                                # v6
    c = _feed_counts(t.changes_between(head))
    restored = t.read().count() - t.read(version=head).count()
    assert sum(n for (v, ch), n in c.items() if ch == "insert") == restored
    assert sum(n for (v, ch), n in c.items() if ch == "delete") == 0

    # Row CONTENT (not just counts): replaying the feed reproduces the
    # head state from the from-version state.
    feed = t.changes_between(0)
    ins = feed.filter(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version"
    )
    dels = feed.filter(F.col("_change_type") == "delete").drop(
        "_change_type", "_commit_version"
    )
    replayed = ins.exceptAll(dels)
    assert replayed.exceptAll(t.read()).count() == 0
    assert t.read().exceptAll(replayed).count() == 0


def test_change_feed_unions_multiple_delete_files_per_commit(
    spark, tmp_path, nations
):
    """A MoR commit carrying SEVERAL delete files deletes the UNION of
    their key sets. delete_where currently coalesces to one file per
    commit, so this surgically splits a committed delete file in two
    (same columns, same seq) and asserts the batch feed emits each
    deleted row exactly once — the chained-left_semi INTERSECTION bug
    and the per-(data×delete)-partition double-emission bug both fail
    this."""
    import pyarrow.parquet as pq

    from lakehouse_homeserver_spark.sources.snapshot import (
        _DATA_DIR,
        _LOG_DIR,
    )

    t = _table(spark, tmp_path)
    t.create(nations)                                             # v1
    t.delete_where(
        F.col("n_nationkey") % 3 == 0, mode="mor", equality_on=["n_nationkey"]
    )                                                             # v2
    entry_path = os.path.join(t.path, _LOG_DIR, f"{2:020d}.json")
    with open(entry_path) as fh:
        e = json.load(fh)
    (df_entry,) = e["delete_files"]
    tab = pq.read_table(os.path.join(t.path, _DATA_DIR, df_entry["file"]))
    assert tab.num_rows >= 2, "need >=2 keys to split the delete file"
    half = tab.num_rows // 2
    parts = []
    for i, sl in enumerate((tab.slice(0, half), tab.slice(half))):
        name = df_entry["file"].replace(".parquet", f"-split{i}.parquet")
        pq.write_table(sl, os.path.join(t.path, _DATA_DIR, name))
        parts.append({**df_entry, "file": name})
    e["delete_files"] = parts
    with open(entry_path, "w") as fh:
        json.dump(e, fh)

    expected = {
        r.n_nationkey
        for r in nations.filter(F.col("n_nationkey") % 3 == 0).collect()
    }
    # batch feed: union, each deleted row exactly once
    dels = (
        t.changes_between(1)
        .filter(F.col("_change_type") == "delete")
        .select("n_nationkey")
        .collect()
    )
    got = [r.n_nationkey for r in dels]
    assert set(got) == expected, "must delete the UNION of the key sets"
    assert len(got) == len(expected), "each deleted row exactly once"
    # read() visibility agrees
    assert {
        r.n_nationkey for r in t.read().collect()
    }.isdisjoint(expected)

    # streaming feed: same union-once contract
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    out = str(tmp_path / "feed-out")
    ck = str(tmp_path / "feed-ck")
    q = (
        spark.readStream.format("snapshot")
        .option("readChangeFeed", "true")
        .load(t.path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    feed = spark.read.parquet(out)
    sdels = feed.filter(F.col("_change_type") == "delete").select(
        "n_nationkey"
    ).collect()
    sgot = [r.n_nationkey for r in sdels]
    assert set(sgot) == expected
    assert len(sgot) == len(expected), (
        "stream double-emitted rows matched by more than one delete file"
    )


def test_change_feed_aligns_evolving_schema(spark, tmp_path, nations):
    t = _table(spark, tmp_path)
    t.create(nations.filter(F.col("n_regionkey") == 0))
    t.append(
        nations.filter(F.col("n_regionkey") == 1).withColumn(
            "tag", F.lit("x")
        )
    )
    feed = t.changes_between(0)
    assert "tag" in feed.columns
    v1 = feed.filter(F.col("_commit_version") == 1)
    assert v1.filter(F.col("tag").isNull()).count() == v1.count()


def test_partition_spec_evolution_clusters_future_writes_only(
    spark, tmp_path, sf_dir
):
    """set_partition_spec: metadata-only commit; existing files are
    never rewritten; subsequent appends are range-clustered on the
    spec so their footer stats prune; the spec inherits across
    unrelated commits and spec_id bumps on re-evolution."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = _table(spark, tmp_path)
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    assert t.partition_spec() is None
    old_files = set(t.entry(t.latest_version())["manifest"])
    old_inodes = {
        f: os.stat(os.path.join(t._data_path, f)).st_ino for f in old_files
    }

    t.set_partition_spec(["o_custkey"])
    e = t.entry(t.latest_version())
    assert e["operation"] == "set-spec" and e["added"] == []
    assert set(e["manifest"]) == old_files
    assert t.partition_spec() == {"columns": ["o_custkey"], "spec_id": 1}

    # AQE's size-based coalesce folds this tiny fixture append into
    # one file (the right call in production); pin it off so the
    # range-clustering is observable across several files.
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.append(orders.filter(F.col("o_orderkey") % 3 == 1).repartition(8))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    e = t.entry(t.latest_version())
    # old files carried by name, bytes untouched
    for f in old_files:
        assert f in e["manifest"]
        assert os.stat(os.path.join(t._data_path, f)).st_ino == old_inodes[f]
    # new files are range-clustered: sorted by min, ranges touch only
    # at boundaries (RangePartitioner keeps equal keys together)
    new = [f for f in e["added"]]
    assert len(new) > 1, "expected multiple clustered files"
    ranges = sorted(
        tuple(e["stats"][f]["o_custkey"]) for f in new
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert lo2 >= hi1, f"overlapping clustered ranges {ranges}"

    # pruning: a narrow key slice keeps all OLD files (unclustered,
    # wide stats) but skips most NEW ones
    lo, hi = ranges[0]
    pruned = set(t.prune_files("o_custkey", lo, hi))
    assert old_files <= pruned
    assert len(pruned & set(new)) < len(new)

    # spec survives an unrelated append; re-evolution bumps spec_id
    t.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    assert t.partition_spec() == {"columns": ["o_custkey"], "spec_id": 1}
    t.set_partition_spec(["o_orderdate"])
    assert t.partition_spec() == {"columns": ["o_orderdate"], "spec_id": 2}
    rows = orders.count()
    assert t.read().count() == rows


def test_python_datasource_write_path(spark, tmp_path, nations):
    """df.write.format("snapshot") — the V2 write loop on the
    format-string surface: executors stage parquet directly, the
    driver publishes one atomic commit; append/overwrite modes map to
    append/replace commits; fully interoperable with SnapshotTable
    writes on the same directory."""
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "t")

    n0 = nations.filter(F.col("n_regionkey") == 0)
    n0.write.format("snapshot").mode("append").save(path)
    t = SnapshotTable(spark, path)
    assert t.latest_version() == 1
    assert t.entry(1)["operation"] == "create"
    assert t.read().count() == n0.count()

    n1 = nations.filter(F.col("n_regionkey") == 1)
    n1.write.format("snapshot").mode("append").save(path)
    assert t.entry(2)["operation"] == "append"
    assert t.read().count() == n0.count() + n1.count()
    # footer stats harvested on the staged files (skipping index live)
    e = t.entry(2)
    assert all(e["stats"].get(f) for f in e["added"])

    # native-path interop: SnapshotTable.append on the same table
    t.append(nations.filter(F.col("n_regionkey") == 2))
    assert t.latest_version() == 3

    # overwrite → replace commit; history preserved
    n0.write.format("snapshot").mode("overwrite").save(path)
    assert t.entry(4)["operation"] == "overwrite"
    assert t.read().count() == n0.count()
    assert t.read(version=3).count() == nations.filter(
        F.col("n_regionkey") < 3
    ).count()

    # round-trip through the format reader
    back = spark.read.format("snapshot").load(path)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in n0.collect()
    )


def test_snapshot_stream_change_feed(spark, tmp_path, nations):
    """readChangeFeed streaming: inserts arrive from added files,
    MoR deletes arrive as row-level 'delete' changes replayed from
    the committed delete file, compaction emits nothing, and a CoW
    delete fails the stream loudly."""
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "cdc_src")
    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ckpt")
    t = SnapshotTable(spark, path)
    t.create(nations.filter("n_nationkey < 10"))                       # v1
    t.append(nations.filter("n_nationkey >= 10 AND n_nationkey < 20")) # v2
    t.delete_where(
        F.col("n_nationkey") % 3 == 0, mode="mor",
        equality_on=["n_nationkey"],
    )                                                                  # v3

    def drain():
        q = (
            spark.readStream.format("snapshot")
            .option("readChangeFeed", "true")
            .load(path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    drain()
    feed = spark.read.parquet(out)
    ins = feed.filter("_change_type = 'insert'")
    dels = feed.filter("_change_type = 'delete'")
    assert sorted(r.n_nationkey for r in ins.collect()) == list(range(20))
    assert sorted(r.n_nationkey for r in dels.collect()) == [
        k for k in range(20) if k % 3 == 0
    ]
    assert {r._commit_version for r in dels.collect()} == {3}

    # compaction: physical-only, the feed stays silent
    t.rewrite_deletes()                                                # v4
    before = spark.read.parquet(out).count()
    drain()
    assert spark.read.parquet(out).count() == before

    # CoW delete: not expressible -> loud failure on the next batch
    t.delete_where(F.col("n_nationkey") == 1, mode="cow")              # v5
    q = (
        spark.readStream.format("snapshot")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    import pyspark.errors

    with pytest.raises(Exception, match="not expressible|delete"):
        q.awaitTermination(180)


def test_incremental_aggregate_survives_deletes_and_replaces(
    spark, tmp_path, sf_dir
):
    """IVM over the CHANGE FEED: the view stays equal to the full
    recompute across MoR deletes, CoW deletes, and an overwrite —
    and a fully-deleted group vanishes from the view."""
    from lakehouse_homeserver_spark.sources.ivm import IncrementalAggregate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 5 == 0
    )
    src = _table(spark, tmp_path, "src")
    dest = _table(spark, tmp_path, "view")
    ivm = IncrementalAggregate(
        spark, src, dest, keys=["o_orderstatus"], measure="o_totalprice"
    )

    def assert_in_sync():
        got = {
            (r.o_orderstatus, r.cnt, str(r.total))
            for r in dest.read().collect()
        }
        want = {
            (r.o_orderstatus, r.cnt, str(r.total))
            for r in ivm.recompute().collect()
        }
        assert got == want

    src.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    ivm.refresh(); assert_in_sync()

    src.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    src.delete_where(
        F.col("o_orderkey") % 4 == 2, mode="mor", equality_on=["o_orderkey"]
    )
    ivm.refresh(); assert_in_sync()

    src.delete_where(F.col("o_orderkey") % 7 == 0, mode="cow")
    ivm.refresh(); assert_in_sync()

    # a whole group vanishes: delete every 'P' order (if any remain,
    # this exercises the cnt=0 drop; otherwise it's a no-op delta)
    src.delete_where(F.col("o_orderstatus") == "P", mode="cow")
    ivm.refresh(); assert_in_sync()
    assert dest.read().filter(F.col("o_orderstatus") == "P").count() == 0

    # overwrite: full preimage/postimage diff through the feed
    src.create_or_replace(orders.filter(F.col("o_orderkey") % 3 == 2))
    ivm.refresh(); assert_in_sync()

    # replay safety unchanged: blind re-run is a no-op
    assert ivm.refresh()["refreshed"] is False


def test_python_datasource_write_abort_leaves_no_visible_state(
    spark, tmp_path, nations
):
    """A failed format("snapshot") write must change NOTHING a reader
    can see: the commit never happens, successful tasks' staged files
    are unlinked by abort(), and any crash leftovers are invisible
    orphans that expire_snapshots GCs."""
    from pyspark.sql.types import LongType, StructField, StructType

    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path)
    t.create(nations)
    v_before = t.latest_version()
    data_before = set(os.listdir(t._data_path))

    schema = StructType([StructField("n_nationkey", LongType())])

    def boom(batches):
        import pandas as pd

        for pdf in batches:
            if (pdf["n_nationkey"] % 2 == 0).any():
                raise RuntimeError("injected task failure")
            yield pd.DataFrame({"n_nationkey": pdf["n_nationkey"]})

    bad = nations.select("n_nationkey").repartition(4).mapInPandas(
        boom, schema
    )
    with pytest.raises(Exception, match="injected task failure"):
        bad.write.format("snapshot").mode("append").save(path)

    assert t.latest_version() == v_before, "no commit may appear"
    assert t.read().count() == nations.count()
    leftovers = set(os.listdir(t._data_path)) - data_before
    # leftovers (partial task files) are INVISIBLE: no manifest
    # references them, and GC removes them
    manifest = set(t.entry(v_before)["manifest"])
    assert not (leftovers & manifest)
    t.append(nations.limit(1))  # bump so expire has a retained head
    t.expire_snapshots(keep_last=1)
    after_gc = set(os.listdir(t._data_path)) - data_before
    live = set(t.entry(t.latest_version())["manifest"])
    assert after_gc <= live, f"orphans survived GC: {after_gc - live}"


def test_compact_files_binpacks_small_files_only(spark, tmp_path, nations):
    """compact_files semantics (Iceberg rewrite_data_files binpack):
    only sub-threshold files are rewritten, big files carry by NAME,
    pending MoR deletes are materialized into the rewrite, and the
    carried delete file still guards the untouched files."""
    t = _table(spark, tmp_path, "opt")
    # one big file (19 rows) + two small drizzle files (3 each)
    t.create(nations.filter(F.col("n_nationkey") <= 18).coalesce(1))
    t.append(nations.filter(F.col("n_nationkey").between(19, 21)).coalesce(1))
    t.append(nations.filter(F.col("n_nationkey").between(22, 24)).coalesce(1))
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    before = t.entry(t.latest_version())
    sizes = {
        f: os.path.getsize(os.path.join(t._data_path, f))
        for f in before["manifest"]
    }
    big = max(sizes, key=sizes.get)
    want = sorted(r.n_nationkey for r in t.read().collect())

    e = t.compact_files(small_file_bytes=sizes[big], target_files=1)
    assert e["properties"]["compacted_files"] == 2
    assert len(e["manifest"]) == 2
    assert big in e["manifest"], "big file must carry by name"
    assert set(e["manifest"]) - {big} == set(e["added"])
    # delete file carried: still guards the untouched big file
    assert e["delete_files"] == before["delete_files"]
    # visible rows bit-identical
    assert sorted(r.n_nationkey for r in t.read().collect()) == want
    # deletes were MATERIALIZED into the rewritten file: reading the
    # new file raw (no delete application) must not contain 20
    new_file = next(iter(set(e["manifest"]) - {big}))
    raw = spark.read.parquet(os.path.join(t._data_path, new_file))
    raw_keys = {r.n_nationkey for r in raw.collect()}
    assert raw_keys == {19, 21, 22, 23, 24}
    # time travel to pre-compaction still exact
    assert t.read(version=before["version"]).count() == len(want)
    # second call with same threshold: only 1 small candidate -> no-op
    assert (
        t.compact_files(small_file_bytes=sizes[big], target_files=1)[
            "version"
        ]
        == e["version"]
    )


def test_compact_files_full_rewrite_and_empty_table_guard(
    spark, tmp_path, nations
):
    t = _table(spark, tmp_path, "opt2")
    with pytest.raises(SnapshotNotFound):
        t.compact_files()
    for lo, hi in [(0, 7), (8, 15), (16, 24)]:
        sl = nations.filter(F.col("n_nationkey").between(lo, hi)).coalesce(1)
        t.create(sl) if lo == 0 else t.append(sl)
    e = t.compact_files(target_files=2)  # no threshold = all files
    assert e["properties"]["compacted_files"] == 3
    assert len(e["manifest"]) == 2
    assert t.read().count() == 25


def test_overwrite_where_replaces_region_atomically(spark, tmp_path, nations):
    """replaceWhere: one commit deletes the predicate region and
    inserts the new rows; pruning rewrites only stat-overlapping
    files; incoming rows outside the region are rejected."""
    t = _table(spark, tmp_path, "ow")
    # three key-ranged files: [0,7], [8,15], [16,24]
    for lo, hi in [(0, 7), (8, 15), (16, 24)]:
        sl = nations.filter(F.col("n_nationkey").between(lo, hi)).coalesce(1)
        t.create(sl) if lo == 0 else t.append(sl)
    base = t.latest_version()
    # restate the middle band with remapped regions
    new = (
        nations.filter(F.col("n_nationkey").between(8, 15))
        .withColumn("n_regionkey", F.lit(9))
        .coalesce(1)
    )
    e = t.overwrite_where(
        new,
        F.col("n_nationkey").between(8, 15),
        prune_column="n_nationkey",
        lo=8,
        hi=15,
    )
    assert e["properties"]["rewritten_files"] == 1
    assert e["properties"]["carried_files"] == 2
    got = t.read()
    assert got.count() == 25
    assert got.filter(F.col("n_regionkey") == 9).count() == 8
    assert (
        got.filter(
            F.col("n_nationkey").between(8, 15) & (F.col("n_regionkey") != 9)
        ).count()
        == 0
    )
    # untouched bands bit-identical
    assert sorted(
        r.n_nationkey for r in got.filter(~F.col("n_nationkey").between(8, 15)).collect()
    ) == sorted(
        r.n_nationkey
        for r in nations.filter(~F.col("n_nationkey").between(8, 15)).collect()
    )
    # pre-overwrite snapshot still readable (time travel)
    assert t.read(version=base).filter(F.col("n_regionkey") == 9).count() == 0
    # replaceWhere contract: out-of-region rows are rejected
    with pytest.raises(ValueError, match="replace predicate"):
        t.overwrite_where(
            nations.filter(F.col("n_nationkey") == 0),
            F.col("n_nationkey").between(8, 15),
        )


def test_overwrite_where_compacts_pending_mor_deletes(
    spark, tmp_path, nations
):
    t = _four_slice_table(spark, tmp_path, nations)
    t.delete_where(
        F.col("n_nationkey") % 5 == 0, mode="mor", equality_on=["n_nationkey"]
    )
    new = nations.filter(F.col("n_nationkey").between(0, 5)).withColumn(
        "n_name", F.lit("RESTATED")
    )
    e = t.overwrite_where(new, F.col("n_nationkey").between(0, 5))
    assert e["delete_files"] == []
    got = t.read()
    # region [0,5] fully restated (6 rows, deleted keys resurrected BY
    # THE NEW DATA, which is the replaceWhere semantic), outside rows
    # still honor the MoR delete (10, 15, 20 gone)
    assert got.filter(F.col("n_name") == "RESTATED").count() == 6
    assert sorted(
        r.n_nationkey for r in got.filter(F.col("n_nationkey") > 5).collect()
    ) == [k for k in range(6, 25) if k % 5 != 0]


def test_overwrite_partitions_dynamic(spark, tmp_path, nations):
    """Dynamic partition overwrite: only partitions present in the
    batch are replaced; the predicate is derived from the data."""
    t = _table(spark, tmp_path, "dyn")
    t.create(nations.coalesce(1))
    t.set_partition_spec(["n_regionkey"])
    # cluster the table by the spec so files are partition-pure
    t.create_or_replace(t.read())
    batch = (
        nations.filter(F.col("n_regionkey").isin(1, 3))
        .withColumn("n_name", F.lit("restated"))
    )
    e = t.overwrite_partitions(batch)
    assert e["properties"]["overwritten_partitions"] == 2
    got = t.read()
    assert got.count() == 25
    assert (
        got.filter(F.col("n_name") == "restated").count()
        == nations.filter(F.col("n_regionkey").isin(1, 3)).count()
    )
    assert got.filter(
        (F.col("n_name") == "restated") & ~F.col("n_regionkey").isin(1, 3)
    ).count() == 0
    with pytest.raises(ValueError, match="partition spec"):
        _table(spark, tmp_path, "nospec").overwrite_partitions(batch)
    # empty batch = no-op
    assert (
        t.overwrite_partitions(batch.filter(F.lit(False)))["version"]
        == e["version"]
    )


def test_positional_delete_semantics(spark, tmp_path, nations):
    """Iceberg v2 positional deletes: ordinal-addressed rows die, no
    data file is touched, later appends are unaffected, stacking on
    pending deletes never re-counts, and equality+positional mix."""
    t = _table(spark, tmp_path, "pos")
    t.create(nations.filter(F.col("n_nationkey") <= 11).coalesce(1))
    t.append(nations.filter(F.col("n_nationkey") > 11).coalesce(1))
    files_before = set(t.entry(t.latest_version())["manifest"])
    e = t.delete_where(F.col("n_nationkey") % 4 == 0, mode="mor_positional")
    assert set(e["manifest"]) == files_before, "no data file may change"
    assert e["delete_files"][0]["kind"] == "positional"
    assert e["properties"]["deleted_rows"] == 7
    want = [k for k in range(25) if k % 4 != 0]
    assert sorted(r.n_nationkey for r in t.read().collect()) == want
    assert t.row_count() == len(want)
    # later append of a deleted key: new file ordinals are never
    # referenced by the old delete file
    t.append(nations.filter(F.col("n_nationkey") == 4).coalesce(1))
    assert t.read().filter(F.col("n_nationkey") == 4).count() == 1
    # stacking: second positional delete derives from VISIBLE rows
    # only (row 4's resurrected copy dies; nothing double-counts)
    before = t.row_count()
    e2 = t.delete_where(F.col("n_nationkey") == 4, mode="mor_positional")
    assert e2["properties"]["deleted_rows"] == 1
    assert t.row_count() == before - 1
    # mix an equality delete on top; both kinds apply together
    t.delete_where(
        F.col("n_regionkey") == 2, mode="mor", equality_on=["n_regionkey"]
    )
    got = {r.n_nationkey for r in t.read().collect()}
    reg2 = {
        r.n_nationkey
        for r in nations.filter(F.col("n_regionkey") == 2).collect()
    }
    assert got == {k for k in range(25) if k % 4 != 0 and k != 4} - reg2
    # rewrite_deletes materializes BOTH kinds back to a plain scan
    e3 = t.rewrite_deletes()
    assert e3["delete_files"] == []
    assert {r.n_nationkey for r in t.read().collect()} == got


def test_positional_delete_pyds_and_change_feed(spark, tmp_path, nations):
    t = _table(spark, tmp_path, "posfeed")
    t.create(nations.coalesce(1))
    t.delete_where(F.col("n_nationkey") % 5 == 0, mode="mor_positional")
    want = [k for k in range(25) if k % 5 != 0]
    # python-datasource batch read applies ordinal deletes Arrow-side
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    got = sorted(
        r.n_nationkey
        for r in spark.read.format("snapshot").load(t.path).collect()
    )
    assert got == want
    # batch change feed emits exactly the ordinal-addressed rows
    ch = t.changes_between(1, 2)
    dels = sorted(
        r.n_nationkey
        for r in ch.collect()
        if r["_change_type"] == "delete"
    )
    assert dels == [0, 5, 10, 15, 20]
    # streaming change feed replays the same rows
    q = (
        spark.readStream.format("snapshot")
        .option("readChangeFeed", "true")
        .load(t.path)
        .writeStream.format("memory")
        .queryName("posfeed_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select _change_type, n_nationkey from posfeed_mem"
    ).collect()
    sdels = sorted(
        r.n_nationkey for r in rows if r._change_type == "delete"
    )
    assert sdels == [0, 5, 10, 15, 20]
    assert (
        sorted(r.n_nationkey for r in rows if r._change_type == "insert")
        == list(range(25))
    )


def test_check_constraints_enforced_on_write(spark, tmp_path, nations):
    from lakehouse_homeserver_spark.sources.snapshot import (
        ConstraintViolation,
    )

    t = _table(spark, tmp_path, "chk")
    t.create(nations.filter(F.col("n_nationkey") < 10))
    t.add_constraint("band", "n_nationkey BETWEEN 0 AND 24")
    t.add_constraint("named", "n_name IS NOT NULL")
    # adding a constraint existing data violates must fail
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("narrow", "n_nationkey < 5")
    assert sorted(t.constraints()) == ["band", "named"]
    v = t.latest_version()
    t.append(nations.filter(F.col("n_nationkey").between(10, 24)))
    with pytest.raises(ConstraintViolation, match="band"):
        t.append(
            nations.withColumn("n_nationkey", F.col("n_nationkey") + 30)
        )
    # nothing landed: no snapshot, no rows
    assert t.latest_version() == v + 1
    assert t.read().count() == 25
    # NULL predicate result counts as a violation (SQL CHECK treats
    # unknown as pass, Delta treats it as fail — we follow Delta)
    with pytest.raises(ConstraintViolation, match="named"):
        t.append(
            nations.limit(1).withColumn(
                "n_name", F.lit(None).cast("string")
            )
        )
    # constraints survive via a DIFFERENT handle (log inheritance)
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    t2 = SnapshotTable(spark, t.path)
    assert sorted(t2.constraints()) == ["band", "named"]
    with pytest.raises(ConstraintViolation):
        t2.append(
            nations.withColumn("n_nationkey", F.col("n_nationkey") + 30)
        )
    # drop then the same append lands; change feed skips the
    # constraint commits (metadata-only)
    t2.drop_constraint("band")
    t2.append(
        nations.limit(2).withColumn("n_nationkey", F.col("n_nationkey") + 30)
    )
    assert t2.read().count() == 27
    ch = t.changes_between(1, t.latest_version())
    assert ch.filter(F.col("_change_type") == "delete").count() == 0


def test_overwrite_where_null_predicate_rows_survive(spark, tmp_path, nations):
    """Delta replaceWhere removes only rows where the predicate IS
    TRUE: rows where it evaluates NULL are outside the replace region
    and must survive (ADVICE r3 high: filter(~pred) silently deleted
    them); as incoming rows they fail validation."""
    t = _table(spark, tmp_path, "ownull")
    base = nations.withColumn(
        "n_regionkey",
        F.when(F.col("n_nationkey") < 5, F.lit(None)).otherwise(
            F.col("n_regionkey")
        ),
    )
    t.create(base.coalesce(1))
    assert t.read().filter(F.col("n_regionkey").isNull()).count() == 5
    new = (
        nations.filter(F.col("n_regionkey") == 2)
        .withColumn("n_name", F.lit("RESTATED"))
    )
    # unpruned path: only the 4 non-NULL regionkey==2 rows are in the
    # region (nationkey 2's row has a NULL key -> survives), so 25
    # rows - 4 deleted + 5 inserted = 26
    t.overwrite_where(new, F.col("n_regionkey") == 2)
    got = t.read()
    assert got.filter(F.col("n_regionkey").isNull()).count() == 5
    assert got.count() == 26
    # pruned path: candidates include the NULL-key rows' file
    t.overwrite_where(
        new, F.col("n_regionkey") == 2, prune_column="n_nationkey",
        lo=0, hi=24,
    )
    assert t.read().filter(F.col("n_regionkey").isNull()).count() == 5
    # pending-MoR compaction path
    t.delete_where(
        F.col("n_nationkey") == 23, mode="mor", equality_on=["n_nationkey"]
    )
    t.overwrite_where(new, F.col("n_regionkey") == 2)
    assert t.read().filter(F.col("n_regionkey").isNull()).count() == 5
    # incoming NULL-predicate row is OUTSIDE the region -> rejected
    bad = new.limit(1).withColumn("n_regionkey", F.lit(None).cast("long"))
    with pytest.raises(ValueError, match="replace predicate"):
        t.overwrite_where(bad, F.col("n_regionkey") == 2)


def test_delete_where_null_predicate_rows_survive(spark, tmp_path, nations):
    """SQL DELETE removes rows where the predicate IS TRUE; NULL
    evaluates to not-deleted (same null rule as replaceWhere)."""
    t = _table(spark, tmp_path, "delnull")
    base = nations.withColumn(
        "n_regionkey",
        F.when(F.col("n_nationkey") < 5, F.lit(None)).otherwise(
            F.col("n_regionkey")
        ),
    )
    t.create(base.coalesce(1))
    t.delete_where(F.col("n_regionkey") == 2)
    got = t.read()
    assert got.filter(F.col("n_regionkey").isNull()).count() == 5
    assert got.filter(F.col("n_regionkey") == 2).count() == 0


def test_check_constraints_enforced_on_overwrite_where_and_staged(
    spark, tmp_path, nations
):
    """ADVICE r3 medium: the pruned overwrite_where path committed via
    _commit_manifest and bypassed CHECK enforcement; so did
    commit_staged (Python DataSource write path). Both must reject."""
    from lakehouse_homeserver_spark.sources.snapshot import (
        ConstraintViolation,
    )

    t = _table(spark, tmp_path, "chkow")
    t.create(nations.coalesce(1))
    t.add_constraint("band", "n_nationkey BETWEEN 0 AND 24")
    v = t.latest_version()
    bad = nations.filter(F.col("n_regionkey") == 2).withColumn(
        "n_nationkey", F.col("n_nationkey") + 100
    )
    # pruned path (no pending deletes -> _commit_manifest fast path)
    with pytest.raises(ConstraintViolation, match="band"):
        t.overwrite_where(
            bad,
            F.col("n_nationkey") >= 100,
            prune_column="n_nationkey",
            lo=100,
            hi=200,
        )
    assert t.latest_version() == v
    assert t.read().count() == 25
    # overwrite_partitions routes through the same gate
    t.set_partition_spec(["n_regionkey"])
    with pytest.raises(ConstraintViolation, match="band"):
        t.overwrite_partitions(
            nations.filter(F.col("n_regionkey") == 1).withColumn(
                "n_nationkey", F.col("n_nationkey") + 100
            )
        )
    # commit_staged: stage violating files directly, commit must
    # refuse AND clean up the staged files
    staged = t._stage(bad)
    n_data = len(os.listdir(os.path.join(t.path, "data")))
    with pytest.raises(ConstraintViolation, match="band"):
        t.commit_staged(staged, bad.schema)
    assert len(os.listdir(os.path.join(t.path, "data"))) == n_data - len(
        staged
    )
    assert t.read().count() == 25


def test_add_constraint_rejects_existing_null_rows(spark, tmp_path, nations):
    """ADVICE r3 low: add_constraint validated with ~expr (NULL
    passes) while enforcement treats NULL as a violation — a
    constraint must not be addable over rows any later rewrite of the
    same data would reject."""
    from lakehouse_homeserver_spark.sources.snapshot import (
        ConstraintViolation,
    )

    t = _table(spark, tmp_path, "chknull")
    t.create(
        nations.withColumn(
            "n_name",
            F.when(F.col("n_nationkey") == 0, F.lit(None)).otherwise(
                F.col("n_name")
            ),
        )
    )
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint("c", "length(n_name) > 0")
    assert t.constraints() == {}


def test_manifest_list_indirection_for_many_file_tables(
    spark, tmp_path, nations
):
    """Iceberg-style manifest-list indirection (the r3 documented
    seam, implemented r4): past `manifest_inline_max` live files the
    log entry publishes an O(1) pointer and the per-file payload
    (manifest/stats/seq/blooms) moves to one sidecar. Everything —
    reads, time travel, file skipping, pyds metadata tables, GC —
    must behave identically to inline entries."""
    import json as _json

    t = SnapshotTable(spark, str(tmp_path / "big"), manifest_inline_max=2)
    # 4 key-ranged files -> sidecar territory from the first commit
    for lo, hi in [(0, 5), (6, 11), (12, 17), (18, 24)]:
        sl = nations.filter(F.col("n_nationkey").between(lo, hi)).coalesce(1)
        t.create(sl) if lo == 0 else t.append(sl)
    v_mid = t.latest_version() - 1
    # raw entry is a pointer, resolved entry is the full shape
    raw = t._entry_raw(t.latest_version())
    assert "manifest_ref" in raw and "manifest" not in raw
    assert raw["n_files"] == 4
    e = t.entry(t.latest_version())
    assert len(e["manifest"]) == 4 and e["stats"]
    sidecars = os.listdir(tmp_path / "big" / "_log" / "manifests")
    assert len(sidecars) >= 2  # one per >2-file commit
    # reads, time travel, and stat-based pruning resolve the sidecar
    assert t.read().count() == 25
    assert t.read(version=v_mid).count() == 18
    pruned = t.prune_files("n_nationkey", 12, 13)
    assert len(pruned) == 1
    # pyds metadata tables resolve it too
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)
    files_df = (
        spark.read.format("snapshot")
        .option("metadata", "files")
        .load(t.path)
    )
    assert files_df.count() == 4
    # pyds batch read resolves it
    assert (
        spark.read.format("snapshot").load(t.path).count() == 25
    )
    # expire: old sidecars GC'd with their entries, live one retained
    t.expire_snapshots(keep_last=1)
    left = os.listdir(tmp_path / "big" / "_log" / "manifests")
    assert len(left) == 1
    assert t.read().count() == 25
    # a small table stays inline (no sidecar dir at default threshold)
    t2 = SnapshotTable(spark, str(tmp_path / "small"))
    t2.create(nations)
    assert "manifest" in t2._entry_raw(t2.latest_version())
    assert not os.path.isdir(tmp_path / "small" / "_log" / "manifests")


def test_version_as_of_boundaries(spark, sf_dir, tmp_path):
    """FOR TIMESTAMP AS OF: exact stamp → that version, between
    stamps → the earlier version, before-first → raises, far future
    → head; the pyds option("timestampAsOf") applies the same rule."""
    import time

    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource
    from lakehouse_homeserver_spark.sources.snapshot import (
        SnapshotNotFound,
        SnapshotTable,
    )

    from lakehouse_homeserver_spark.sources import load_table

    nations = load_table(spark, sf_dir, "nation")
    t = SnapshotTable(spark, str(tmp_path / "n"))
    t.create(nations.filter(F.col("n_nationkey") < 10))
    time.sleep(0.003)
    t.append(nations.filter(F.col("n_nationkey") >= 10))
    ts1 = t._entry_raw(1)["timestamp_ms"]
    ts2 = t._entry_raw(2)["timestamp_ms"]
    assert t.version_as_of(ts1) == 1
    assert t.version_as_of(ts2) == 2
    if ts2 - ts1 > 1:
        assert t.version_as_of(ts1 + (ts2 - ts1) // 2) == 1
    assert t.version_as_of(ts2 + 10_000) == 2
    with pytest.raises(SnapshotNotFound):
        t.version_as_of(ts1 - 1)
    assert t.read(as_of_ms=ts1).count() == 10
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, as_of_ms=ts1)

    spark.dataSource.register(SnapshotDataSource)
    via_opt = (
        spark.read.format("snapshot")
        .option("timestampAsOf", ts1)
        .load(t.path)
    )
    assert via_opt.count() == 10
    with pytest.raises(Exception, match="at or before"):
        spark.read.format("snapshot").option(
            "timestampAsOf", ts1 - 1
        ).load(t.path).count()


def test_pyds_filter_pushdown_prunes_files(spark, tmp_path):
    """Spark 4.1 Python-DataSource pushdown: `SnapshotReader.pushFilters`
    must skip whole data files via manifest stats (+ bloom for
    equality) while every filter is still re-applied by Spark —
    identical results, fewer partitions planned."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

    from lakehouse_homeserver_spark.sources.pyds import (
        SnapshotDataSource,
        SnapshotReader,
    )
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    spark.dataSource.register(SnapshotDataSource)
    t = SnapshotTable(spark, str(tmp_path / "t")).with_bloom_filters("k")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # range partitioning -> 4 files with DISJOINT k ranges
    t.create(df.repartitionByRange(4, "k"))
    entry = t.entry(t.latest_version())
    schema = t.read().schema
    assert len(entry["manifest"]) == 4

    def n_parts(*filters):
        r = SnapshotReader(schema, entry, t.path)
        returned = list(r.pushFilters(list(filters)))
        # every filter comes back: pruning never absorbs a predicate
        assert returned == list(filters)
        return len(r.partitions())

    assert n_parts() == 4
    assert n_parts(GreaterThan(("k",), 299)) == 1
    assert n_parts(LessThan(("k",), 100)) == 1
    assert n_parts(EqualTo(("k",), 123)) == 1
    assert n_parts(GreaterThan(("k",), 10_000)) == 0
    # conjunction narrows to the intersection
    assert n_parts(GreaterThan(("k",), 99), LessThan(("k",), 200)) == 1
    # end-to-end: results identical to the unpruned truth
    got = (
        spark.read.format("snapshot")
        .load(t.path)
        .filter("k > 250")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    )
    want = df.filter("k > 250").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    ).collect()
    assert got == want
    assert (
        spark.read.format("snapshot").load(t.path).filter("k > 10000").count()
        == 0
    )


# -- r6 review-finding regressions ------------------------------------------


def test_expire_keep_last_zero_keeps_head(spark, tmp_path, nations):
    """keep_last=0 must never wipe the head: the docstring promises
    head retention under ANY rule (r6 fix)."""
    t = _table(spark, tmp_path)
    t.create(nations)
    t.append(nations.limit(3))
    res = t.expire_snapshots(keep_last=0, orphan_grace_ms=0)
    assert res["expired_snapshots"] == 1
    assert t.versions() == [2]
    assert t.read().count() == nations.count() + 3


def test_orphan_grace_protects_inflight_staged_files(
    spark, tmp_path, nations
):
    """A freshly staged (uncommitted) file is indistinguishable from
    crash debris — with the default grace it must SURVIVE expiry (it
    may be a commit in flight); a back-dated orphan is reaped."""
    t = _table(spark, tmp_path)
    t.create(nations)
    staged = t._stage(nations.limit(2).coalesce(1))
    res = t.expire_snapshots(keep_last=1)  # default 3-day grace
    assert res["deleted_files"] == 0
    for f in staged:
        assert os.path.exists(os.path.join(t._data_path, f))
    old = os.path.join(t._data_path, staged[0])
    os.utime(old, (1000, 1000))  # simulate ancient crash debris
    res2 = t.expire_snapshots(keep_last=1)
    assert res2["deleted_files"] == 1
    assert not os.path.exists(old)


def test_wap_branch_respects_constraints(spark, tmp_path, nations):
    """clone carries CHECK constraints and cherry_pick enforces the
    target's constraints — the WAP flow must not be a constraint
    bypass (r6 fix)."""
    from lakehouse_homeserver_spark.sources.snapshot import (
        ConstraintViolation,
    )

    t = _table(spark, tmp_path)
    t.create(nations)
    t.add_constraint("keypos", "n_nationkey >= 0")
    branch = t.clone(str(tmp_path / "branch"))
    # the clone inherited the constraint: a bad branch append fails
    bad = nations.limit(1).withColumn(
        "n_nationkey", (F.col("n_nationkey") * 0 - 5).cast("int")
    )
    with pytest.raises(ConstraintViolation):
        branch.append(bad)
    # constraint-free branch (pre-fix shape): publish must still gate
    rogue = _table(spark, tmp_path / "rogue")
    rogue.create(nations.limit(1))
    rogue.append(bad)
    with pytest.raises(ConstraintViolation):
        t.cherry_pick(rogue)
    # a clean branch append still publishes
    good = nations.limit(2).withColumn(
        "n_nationkey", F.col("n_nationkey") + 100
    )
    branch.append(good)
    t.cherry_pick(branch)
    assert t.read().count() == nations.count() + 2


def test_bloom_config_survives_metadata_commits(spark, tmp_path, nations):
    """bloom.columns must persist through _commit_manifest commits
    (add_constraint here): a fresh handle appending afterwards still
    builds blooms (r6 fix)."""
    t = _table(spark, tmp_path)
    t.with_bloom_filters("n_nationkey").create(nations.coalesce(1))
    t.add_constraint("pos", "n_nationkey >= 0")
    head_props = t.entry(t.latest_version())["properties"]
    assert head_props.get("bloom.columns") == ["n_nationkey"]
    fresh = _table(spark, tmp_path)  # new handle, no with_bloom_filters
    fresh.append(nations.limit(3).coalesce(1))
    e = fresh.entry(fresh.latest_version())
    added = e["added"][0]
    assert "n_nationkey" in e["blooms"][added]


def test_bloom_probe_matches_across_numeric_types(spark, tmp_path):
    """A double column probed with an int literal (and vice versa)
    must still bloom-HIT — str()-canonical single-form probing
    returned definite-no and unsoundly pruned matching files
    (r6 fix)."""
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "px"))
    df = spark.range(10).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 1.0).alias("price"),
    )
    t.with_bloom_filters("price", "k").create(df.coalesce(1))
    # int probe on double column: file must be KEPT
    assert t.prune_files_equals("price", 5) == t.entry(1)["manifest"]
    # float probe on long column: file must be KEPT
    assert t.prune_files_equals("k", 5.0) == t.entry(1)["manifest"]
    # rows actually come back through the pruned scan
    assert t.scan_equals("price", 5).count() == 1
    assert t.scan_equals("k", 5.0).count() == 1


def test_overwrite_partitions_handles_null_partition(spark, tmp_path):
    """NULL is a real partition value (the Hive default partition):
    restating it must replace the old NULL rows, not crash (single
    col) or silently duplicate them (multi col) — r6 fix."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("part", StringType()),
            StructField("grp", IntegerType()),
            StructField("v", IntegerType()),
        ]
    )
    rows = [("a", 1, 1), ("a", 2, 2), (None, 1, 3), ("b", 1, 4)]
    t = _table(spark, tmp_path)
    t.create(spark.createDataFrame(rows, schema))
    t.set_partition_spec(["part"])
    restated = spark.createDataFrame(
        [("a", 1, 10), (None, 1, 30)], schema
    )
    t.overwrite_partitions(restated)
    got = sorted(
        ((r.part, r.grp, r.v) for r in t.read().collect()),
        key=lambda x: (x[0] is None, x),
    )
    assert got == [("a", 1, 10), ("b", 1, 4), (None, 1, 30)]
    # multi-column spec: NULL in one spec column
    t2 = _table(spark, tmp_path / "m")
    t2.create(spark.createDataFrame(rows, schema))
    t2.set_partition_spec(["part", "grp"])
    t2.overwrite_partitions(
        spark.createDataFrame([(None, 1, 99)], schema)
    )
    got2 = sorted(
        ((r.part, r.grp, r.v) for r in t2.read().collect()),
        key=lambda x: (x[0] is None, x),
    )
    assert got2 == [("a", 1, 1), ("a", 2, 2), ("b", 1, 4), (None, 1, 99)]


def test_incremental_read_raises_on_expired_range(spark, tmp_path, nations):
    """added_between/changes_between must raise when a snapshot
    inside the requested range was expired — silently omitting its
    rows permanently loses data downstream (r6 fix)."""
    t = _table(spark, tmp_path)
    t.create(nations.limit(2))
    t.append(nations.limit(3))
    t.append(nations.limit(4))
    t.expire_snapshots(keep_last=1, orphan_grace_ms=0)  # v1, v2 gone
    with pytest.raises(ValueError, match="expired"):
        t.added_between(0)
    with pytest.raises(ValueError, match="expired"):
        t.changes_between(1)
    # a range entirely inside retained history still works
    assert t.added_between(2, 3).count() == 4
