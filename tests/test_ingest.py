"""Ingestion-semantics unit tests (SURVEY.md §5.4) — the reference's
contract replicated on the snapshot log: full-load replaces,
incremental appends only unseen files, empty source is a no-op,
bookkeeping rides inside each commit, re-runs are idempotent."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from lakehouse_homeserver_spark.sources.ingest import Lakehouse, SnapshotFormat
from lakehouse_homeserver_spark.sources.snapshot import SnapshotNotFound


@pytest.fixture()
def landing(tmp_path, spark, sf_dir):
    """A landing dir with the sf0.001 lineitem split into 3 files."""
    d = tmp_path / "landing" / "lineitem"
    d.mkdir(parents=True)
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    parts = df.randomSplit([1.0, 1.0, 1.0], seed=42)
    for i, p in enumerate(parts):
        out = tmp_path / f"part{i}"
        p.coalesce(1).write.mode("overwrite").parquet(str(out))
        src = next(f for f in os.listdir(out) if f.endswith(".parquet"))
        shutil.copy(out / src, d / f"batch_{i}.parquet")
        os.utime(d / f"batch_{i}.parquet", (1000 + i, 1000 + i))
    return str(tmp_path / "landing")


@pytest.fixture()
def landing3(tmp_path, spark, sf_dir):
    """nation split into 3 landing files by n_nationkey % 3."""
    d = tmp_path / "landing" / "nation"
    d.mkdir(parents=True)
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    for i in range(3):
        out = tmp_path / f"p{i}"
        df.filter(F.col("n_nationkey") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(out))
        src = next(f for f in os.listdir(out) if f.endswith(".parquet"))
        shutil.copy(out / src, d / f"batch_{i}.parquet")
        os.utime(d / f"batch_{i}.parquet", (1000 + i, 1000 + i))
    return str(tmp_path / "landing")


@pytest.fixture()
def lh(spark, tmp_path):
    return Lakehouse(spark, SnapshotFormat(spark, str(tmp_path / "wh")))


def _counts(spark, landing):
    import glob

    files = glob.glob(os.path.join(landing, "lineitem", "*.parquet"))
    return {f: spark.read.parquet(f).count() for f in files}


def test_full_load_replaces_with_latest(spark, lh, landing):
    n = lh.load_full("lineitem", landing)
    counts = _counts(spark, landing)
    latest = max(counts, key=lambda p: (os.path.getmtime(p), p))
    assert n == counts[latest]
    assert lh.table("lineitem").count() == counts[latest]
    # second full load replaces, not appends
    n2 = lh.load_full("lineitem", landing)
    assert lh.table("lineitem").count() == n2 == n


def test_incremental_appends_only_unseen(spark, lh, landing):
    total = sum(_counts(spark, landing).values())
    n1 = lh.load_incremental("lineitem", landing)
    assert n1 == total
    assert lh.table("lineitem").count() == total
    # Bookkeeping is derived from commit properties, not a side table.
    src_dir = os.path.join(landing, "lineitem")
    assert sorted(r.file_path for r in lh.loaded_files("lineitem").collect()) == [
        os.path.join(src_dir, f"batch_{i}.parquet") for i in range(3)
    ]
    # idempotent re-run: nothing new, no new snapshot
    assert lh.load_incremental("lineitem", landing) == 0
    assert lh.table("lineitem").count() == total
    assert len(lh.fmt.history("src.lineitem")) == 1
    # drop a new file → only it is appended
    first = sorted(os.listdir(src_dir))[0]
    new = os.path.join(src_dir, "batch_new.parquet")
    shutil.copy(os.path.join(src_dir, first), new)
    n3 = lh.load_incremental("lineitem", landing)
    assert n3 == spark.read.parquet(new).count()
    assert lh.table("lineitem").count() == total + n3
    # bookkeeping reflects all 4 files
    assert lh.loaded_files("lineitem").count() == 4


def test_empty_source_is_noop(spark, lh, tmp_path):
    empty = tmp_path / "empty_landing"
    empty.mkdir()
    assert lh.load_full("nothing", str(empty)) == 0
    assert lh.load_incremental("nothing", str(empty)) == 0
    assert not lh.fmt.exists("src.nothing")


def test_expire_snapshots_is_safe_and_table_survives(spark, lh, landing3):
    """A10 maintenance: expiry after a load keeps the current state
    and drops the expired versions."""
    lh.load_incremental("nation", landing3)
    lh.load_full("nation", landing3)
    lh.expire_snapshots("nation", retain_days=1)
    assert lh.table("nation").count() == 8
    with pytest.raises(SnapshotNotFound):
        lh.table_at("nation", 1)


def test_full_then_incremental_roundtrip(spark, lh, landing):
    """The reference's documented workflow (README.md:56-61): full load
    first, then incremental runs picking up only newer drops."""
    lh.load_full("lineitem", landing)
    base = lh.table("lineitem").count()
    # incremental now appends the two files full-load skipped
    added = lh.load_incremental("lineitem", landing)
    assert added > 0
    assert lh.table("lineitem").count() == base + added
    # and is idempotent on re-run
    assert lh.load_incremental("lineitem", landing) == 0


def _live_files(lh, table: str) -> list[dict]:
    """The data files the table's current manifest lists."""
    return lh.fmt._table(f"src.{table}").files()


def test_compact_preserves_rows_and_reduces_files(spark, lh, landing):
    lh.load_full("lineitem", landing)
    added = lh.load_incremental("lineitem", landing)
    assert added > 0
    n_before = lh.table("lineitem").count()
    files_before = len(_live_files(lh, "lineitem"))
    assert files_before > 1
    n = lh.compact("lineitem", target_files=1)
    assert n == n_before
    assert lh.table("lineitem").count() == n_before
    assert len(_live_files(lh, "lineitem")) == 1
    # Compaction is a new snapshot; pre-compaction state is preserved.
    assert lh.table_at("lineitem", 1).count() == n_before - added


def test_optimize_layout_sorts_and_preserves(spark, lh, landing):
    lh.load_full("lineitem", landing)
    before = lh.table("lineitem").count()
    lh.optimize_layout("lineitem", ["l_shipdate"])
    after_df = lh.table("lineitem")
    assert after_df.count() == before
    # a shipdate range filter must push to the (now clustered) scan
    from lakehouse_homeserver_spark.plans import pushed_filters

    q = after_df.filter("l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'")
    assert any("l_shipdate" in p for p in pushed_filters(q))


def test_maintenance_rewrite_keeps_ingest_bookkeeping(spark, lh, landing3):
    """compact()/optimize_layout() issue replacing commits, and a
    replacing commit resets the loaded-file set derived from commit
    properties. Without carrying the set forward, the next
    load_incremental re-ingests every loaded file and silently
    duplicates rows. The maintenance commit must carry it."""
    assert lh.load_incremental("nation", landing3) == 25
    assert lh.compact("nation", target_files=1) == 25
    # Bookkeeping survives the replacing maintenance commit...
    assert lh.loaded_files("nation").count() == 3
    # ...so an incremental re-run is still a 0-row no-op, no dupes.
    assert lh.load_incremental("nation", landing3) == 0
    assert lh.table("nation").count() == 25
    # Same through the sorted-rewrite path.
    lh.optimize_layout("nation", ["n_nationkey"])
    assert lh.loaded_files("nation").count() == 3
    assert lh.load_incremental("nation", landing3) == 0
    assert lh.table("nation").count() == 25
    # A genuinely new landing file still flows in afterwards.
    src_dir = os.path.join(landing3, "nation")
    shutil.copy(
        os.path.join(src_dir, "batch_0.parquet"),
        os.path.join(src_dir, "batch_3.parquet"),
    )
    n2 = lh.load_incremental("nation", landing3)
    assert n2 > 0
    assert lh.table("nation").count() == 25 + n2


def test_snapshot_ingest_crash_between_data_and_bookkeeping(
    spark, lh, landing3
):
    """Data and bookkeeping are one commit: a crash during publish
    records NOTHING, so the re-run loads every file exactly once (a
    two-step write, like the reference's read-modify-write
    bookkeeping, double-loads on re-run)."""
    orig_link = os.link
    calls = {"n": 0}

    def crash_once(src, dst, **kw):
        calls["n"] += 1
        raise OSError("injected crash mid-commit")

    os.link = crash_once
    try:
        with pytest.raises(Exception, match="injected|commit"):
            lh.load_incremental("nation", landing3)
    finally:
        os.link = orig_link
    assert calls["n"] >= 1
    # Nothing visible, nothing bookkept...
    assert lh.loaded_files("nation").count() == 0
    # ...so the retry ingests all 25 rows exactly once, never twice.
    assert lh.load_incremental("nation", landing3) == 25
    assert lh.table("nation").count() == 25
    assert lh.load_incremental("nation", landing3) == 0


def test_snapshot_ingest_full_load_and_time_travel(spark, lh, landing3):
    lh.load_incremental("nation", landing3)
    lh.load_full("nation", landing3)  # newest file replaces
    assert lh.table("nation").count() == 8  # keys ≡ 2 mod 3 in 0..24
    # v1 (the incremental load) is still readable as-of.
    assert lh.table_at("nation", 1).count() == 25
    ops = [e["operation"] for e in lh.fmt.history("src.nation")]
    assert ops == ["create", "overwrite"]


def test_observation_metrics_ride_the_job(spark, sf_dir):
    """`df.observe()` — pipeline audit counters collected ON the
    executors during the one real pass (no second scan): row count +
    revenue sum must equal a direct aggregation's answer."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    obs = Observation("audit")
    out = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
    ).filter(F.col("l_quantity") > 25)
    kept = out.count()
    direct = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
    ).first()
    assert obs.get["n_rows"] == direct.n
    assert obs.get["rev"] == direct.rev
    assert kept < direct.n


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """Backfill contract: with partitionOverwriteMode=dynamic, an
    INSERT OVERWRITE of one partition's recomputed data must replace
    ONLY that partition and leave the others byte-identical — the
    idempotent-backfill pattern every scheduled pipeline needs."""
    from pyspark.sql import functions as F

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
            "status", F.col("o_orderstatus")
        )
        path = str(tmp_path / "part_tbl")
        orders.write.partitionBy("status").parquet(path)
        before = {
            r.status: r.n
            for r in spark.read.parquet(path).groupBy("status").count()
            .withColumnRenamed("count", "n").collect()
        }
        # backfill exactly one partition with half its rows
        redo = orders.filter("o_orderstatus = 'F'").filter("o_orderkey % 2 = 0")
        redo.write.mode("overwrite").partitionBy("status").parquet(path)
        after = {
            r.status: r.n
            for r in spark.read.parquet(path).groupBy("status").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert after["F"] == redo.count()
        for k in before:
            if k != "F":
                assert after[k] == before[k], f"partition {k} was clobbered"
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)


@pytest.fixture()
def json_landing(tmp_path, spark, sf_dir):
    """A landing dir with nation as 2 JSONL files (the raw-extractor
    drop shape: Airbyte-style newline-delimited JSON)."""
    import json as jsonlib

    d = tmp_path / "landing" / "nation"
    d.mkdir(parents=True)
    rows = [
        r.asDict()
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    ]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(d / f"batch_{i}.json", "w") as fh:
            for r in chunk:
                fh.write(jsonlib.dumps(r) + "\n")
        os.utime(d / f"batch_{i}.json", (1000 + i, 1000 + i))
    return str(tmp_path / "landing"), len(rows), half


def test_json_landing_full_and_incremental(spark, json_landing, tmp_path):
    """A5/A6 over a JSONL landing zone: the landing format changes the
    codec, not the load semantics — full load takes the newest file,
    incremental appends only unseen files and re-runs are no-ops."""
    landing, total, half = json_landing
    lh = Lakehouse(
        spark, SnapshotFormat(spark, str(tmp_path / "wh")), source_format="json"
    )
    n_full = lh.load_full("nation", landing)
    assert n_full == total - half  # newest file = second chunk
    # full load recorded its file; incremental appends only the
    # still-unseen first chunk
    n_inc = lh.load_incremental("nation", landing)
    assert n_inc == half
    assert lh.table("nation").count() == total
    assert lh.load_incremental("nation", landing) == 0


def _plant_leftovers(table_dir: str) -> None:
    """What a killed writer leaves in a table directory with no commit:
    a stale data file (n_nationkey 999) and an uncommitted log entry
    that names it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(table_dir, "data"))
    os.makedirs(os.path.join(table_dir, "_log"))
    pq.write_table(
        pa.table({"n_nationkey": [999], "n_name": ["STALE"]}),
        os.path.join(table_dir, "data", "stale.parquet"),
    )
    with open(os.path.join(table_dir, "_log", ".tmp-killed.json"), "w") as fh:
        json.dump({"version": 1, "manifest": ["stale.parquet"]}, fh)


def test_orphaned_location_is_replaced_not_read(spark, sf_dir, tmp_path):
    """A table directory holding a killed run's stale data file and
    uncommitted log entry must not change a load: the table holds
    exactly the loaded rows and `loaded_files` exactly the landing
    file. Covers both creating verbs, full and incremental."""
    d = tmp_path / "landing" / "nation"
    d.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/nation.parquet", d / "batch_0.parquet")
    want = sorted(
        tuple(r) for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    )
    for verb in ("full", "incremental"):
        wh = tmp_path / f"wh-{verb}"
        _plant_leftovers(str(wh / "src" / "nation"))
        lh = Lakehouse(spark, SnapshotFormat(spark, str(wh)))
        load = lh.load_full if verb == "full" else lh.load_incremental
        assert load("nation", str(tmp_path / "landing")) == len(want)
        assert sorted(tuple(r) for r in lh.table("nation").collect()) == want
        assert [r.file_path for r in lh.loaded_files("nation").collect()] == [
            str(d / "batch_0.parquet")
        ]


def test_csv_landing_incremental_roundtrip(spark, sf_dir, tmp_path):
    """A5/A6 over a CSV landing zone (header + inferSchema): values
    survive the text round-trip and the unseen-file contract holds."""
    d = tmp_path / "landing" / "region"
    d.mkdir(parents=True)
    rows = spark.read.parquet(f"{sf_dir}/region.parquet").collect()
    with open(d / "batch_0.csv", "w") as fh:
        fh.write("r_regionkey,r_name\n")
        for r in rows:
            fh.write(f"{r.r_regionkey},{r.r_name}\n")
    lh = Lakehouse(
        spark, SnapshotFormat(spark, str(tmp_path / "wh")), source_format="csv"
    )
    assert lh.load_incremental("region", str(tmp_path / "landing")) == len(rows)
    got = {(r.r_regionkey, r.r_name) for r in lh.table("region").collect()}
    assert got == {(r.r_regionkey, r.r_name) for r in rows}
    assert lh.load_incremental("region", str(tmp_path / "landing")) == 0


def test_cli_entry_point_full_then_incremental(spark, sf_dir, tmp_path):
    """The literal reference entry point (README.md:56-61 runs
    `extract_load.py <table> <load_type>`): drive
    `python -m lakehouse_homeserver_spark.sources.ingest` as real
    subprocesses over one landing dir and one `--warehouse`. A full
    load exits 0 and reports rows; an immediate incremental re-run is
    the clean no-new-data no-op (exit 0, :141-143 parity); after a
    new landing file, a third process appends only that file. The
    commit log is the only cross-run state: it lands under
    `--warehouse`, and the cwd gets no metastore, Derby log or Spark
    warehouse."""
    import subprocess
    import sys

    landing = tmp_path / "landing" / "region_cli"
    landing.mkdir(parents=True)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, landing / "batch0.parquet")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    wh = tmp_path / "wh"

    env = dict(
        os.environ,
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )

    def run(load_type):
        out = subprocess.run(
            [
                sys.executable,
                "-m",
                "lakehouse_homeserver_spark.sources.ingest",
                "region_cli",
                load_type,
                str(tmp_path / "landing"),
                "--warehouse",
                str(wh),
            ],
            cwd=cwd,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    assert "loaded 5 rows (full)" in run("full")
    # the one file is already in the log's loaded-file set -> no-op
    assert "no new data" in run("incremental")
    shutil.copy(src, landing / "batch1.parquet")
    assert "loaded 5 rows (incremental)" in run("incremental")

    lh = Lakehouse(spark, SnapshotFormat(spark, str(wh)))
    assert lh.table("region_cli").count() == 10
    assert sorted(
        r.file_path for r in lh.loaded_files("region_cli").collect()
    ) == [str(landing / "batch0.parquet"), str(landing / "batch1.parquet")]
    assert os.path.isdir(wh / "src" / "region_cli" / "_log")
    assert sorted(os.listdir(cwd)) == []


def test_expiry_preserves_incremental_bookkeeping(spark, lh, landing):
    """`ingested_files` derives from commit properties, and snapshot
    expiry used to DELETE old commits' properties with them — the
    next incremental then silently re-ingested those files as
    duplicate rows. expire_snapshots folds the expired prefix's
    bookkeeping into the oldest retained entry."""
    fmt = lh.fmt
    n1 = lh.load_incremental("lineitem", landing)  # commit 1: 3 files
    assert n1 > 0
    # a LATER landing file forces a SECOND commit, so expiry with
    # keep_last=1 really drops commit 1's bookkeeping properties
    d = os.path.join(landing, "lineitem")
    shutil.copy(
        os.path.join(d, "batch_0.parquet"),
        os.path.join(d, "batch_3.parquet"),
    )
    assert lh.load_incremental("lineitem", landing) > 0  # commit 2: 1 file
    t = fmt._table("src.lineitem")
    assert len(t.versions()) >= 2
    before = lh.table("lineitem").count()
    files_before = set(fmt.ingested_files("src.lineitem"))
    assert len(files_before) == 4
    t.expire_snapshots(keep_last=1, orphan_grace_ms=0)
    assert len(t.versions()) == 1  # commit 1 really expired
    assert set(fmt.ingested_files("src.lineitem")) == files_before
    # the re-run must be a no-op, not a duplicate ingest
    n2 = lh.load_incremental("lineitem", landing)
    assert n2 == 0
    assert lh.table("lineitem").count() == before
