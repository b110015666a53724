"""Ingestion-semantics unit tests (SURVEY.md §5.4) — the reference's
contract replicated: full-load replaces, incremental appends only
unseen files, empty source is a no-op, bookkeeping round-trips,
re-runs are idempotent."""

from __future__ import annotations

import os
import shutil

import pytest

from lakehouse_homeserver_spark.sources.ingest import Lakehouse


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
def lh(spark, tmp_path_factory):
    lh = Lakehouse(spark)
    yield lh
    for t in spark.catalog.listTables("src"):
        spark.sql(f"DROP TABLE IF EXISTS src.{t.name}")
    for t in spark.catalog.listTables("metadata"):
        spark.sql(f"DROP TABLE IF EXISTS metadata.{t.name}")


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
    # idempotent re-run: nothing new
    assert lh.load_incremental("lineitem", landing) == 0
    assert lh.table("lineitem").count() == total
    # drop a new file → only it is appended
    src_dir = os.path.join(landing, "lineitem")
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
    assert not spark.catalog.tableExists("src.nothing")


def test_expire_snapshots_is_safe_and_table_survives(spark, lh, landing):
    """A10 maintenance seam: expire_snapshots after a load must not
    disturb the table (no-op on plain parquet; VACUUM with Delta)."""
    n = lh.load_full("lineitem", landing)
    assert n > 0
    lh.expire_snapshots("lineitem", retain_days=3)
    assert lh.table("lineitem").count() == n


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


def test_compact_preserves_rows_and_reduces_files(spark, lh, landing):
    import glob as g

    lh.load_full("lineitem", landing)
    added = lh.load_incremental("lineitem", landing)
    assert added > 0
    n_before = lh.table("lineitem").count()
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED src.lineitem")
        .filter("col_name = 'Location'")
        .collect()[0][1]
    ).replace("file:", "")
    files_before = len(g.glob(os.path.join(loc, "*.parquet")))
    n = lh.compact("lineitem", target_files=1)
    files_after = len(g.glob(os.path.join(loc, "*.parquet")))
    assert n == n_before
    assert lh.table("lineitem").count() == n_before
    assert files_after <= files_before
    assert files_after == 1


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


def test_tableformat_create_uses_writer_v2(spark, tmp_path):
    """A7 through the REAL DataFrameWriterV2 verb: create() must make a
    catalog table readable by name, and a second create() must fail
    with Spark's V2 table-exists analysis error (proving the call went
    through writeTo().create(), which has create-exclusive semantics,
    not saveAsTable overwrite)."""
    import pytest
    from pyspark.errors import AnalysisException

    from lakehouse_homeserver_spark.sources.ingest import TableFormat

    fmt = TableFormat()
    spark.sql("DROP TABLE IF EXISTS default.v2_create_probe")
    df = spark.range(7).toDF("id")
    fmt.create(df, "default.v2_create_probe")
    assert spark.table("default.v2_create_probe").count() == 7
    with pytest.raises(AnalysisException):
        fmt.create(df, "default.v2_create_probe")
    spark.sql("DROP TABLE IF EXISTS default.v2_create_probe")


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


def _plant_orphan(spark, table: str) -> str:
    """Leave `table`'s managed location behind with no catalog entry
    — what a killed run or a lost Derby metastore leaves — holding
    one stale parquet file (n_nationkey 999)."""
    db, name = table.split(".")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark.catalog.getDatabase(db).locationUri.rstrip("/") + "/" + name
    spark.createDataFrame(
        [(999, "STALE", 0, "stale")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    ).coalesce(1).write.mode("overwrite").parquet(loc)
    return loc


def test_json_landing_full_and_incremental(spark, json_landing, tmp_path):
    """A5/A6 over a JSONL landing zone: the format seam changes the
    codec, not the load semantics — full load takes the newest file,
    incremental appends only unseen files and re-runs are no-ops.
    Hermetic: an orphaned warehouse location for the table is planted
    first and must not change the outcome."""
    landing, total, half = json_landing
    _plant_orphan(spark, "src.nation")
    lh = Lakehouse(spark, source_format="json")
    try:
        n_full = lh.load_full("nation", landing)
        assert n_full == total - half  # newest file = second chunk
        # full load recorded its file; incremental appends only the
        # still-unseen first chunk
        n_inc = lh.load_incremental("nation", landing)
        assert n_inc == half
        assert lh.table("nation").count() == total
        assert lh.load_incremental("nation", landing) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS src.nation")
        spark.sql("DROP TABLE IF EXISTS metadata.nation_loaded_files")


def test_orphaned_location_is_replaced_not_read(spark, sf_dir, tmp_path):
    """A managed location with no catalog entry (killed run, lost
    metastore) must not break CREATE with LOCATION_ALREADY_EXISTS,
    and none of its stale files may be read: the table holds exactly
    the loaded rows. Covers both creating verbs, full and
    incremental, and the orphaned bookkeeping table."""
    d = tmp_path / "landing" / "nation"
    d.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/nation.parquet", d / "batch_0.parquet")
    want = sorted(
        tuple(r) for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    )
    lh = Lakehouse(spark)
    try:
        for load in (lh.load_full, lh.load_incremental):
            _plant_orphan(spark, "src.nation")
            _plant_orphan(spark, "metadata.nation_loaded_files")
            assert load("nation", str(tmp_path / "landing")) == len(want)
            assert sorted(tuple(r) for r in lh.table("nation").collect()) == want
            assert [r.file_path for r in lh.loaded_files("nation").collect()] == [
                str(d / "batch_0.parquet")
            ]
    finally:
        spark.sql("DROP TABLE IF EXISTS src.nation")
        spark.sql("DROP TABLE IF EXISTS metadata.nation_loaded_files")


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
    lh = Lakehouse(spark, source_format="csv")
    try:
        assert lh.load_incremental("region", str(tmp_path / "landing")) == len(rows)
        got = {
            (r.r_regionkey, r.r_name) for r in lh.table("region").collect()
        }
        assert got == {(r.r_regionkey, r.r_name) for r in rows}
        assert lh.load_incremental("region", str(tmp_path / "landing")) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS src.region")
        spark.sql("DROP TABLE IF EXISTS metadata.region_loaded_files")


def test_cli_entry_point_full_then_incremental(spark, sf_dir, tmp_path):
    """The literal reference entry point (README.md:56-61 runs
    `extract_load.py <table> <load_type>`): drive
    `python -m lakehouse_homeserver_spark.sources.ingest` as a real
    subprocess twice over one landing dir — a full load must exit 0
    and report rows; an immediate incremental re-run must be the
    clean no-new-data no-op (exit 0, :141-143 parity). Runs with
    cwd=tmp_path so the CLI's Hive-metastore persistence (Derby
    files, warehouse dir) lands in the sandbox, proving the CLI
    works from ANY directory like the streaming-source tests do."""
    import os
    import shutil
    import subprocess
    import sys

    landing = tmp_path / "landing" / "region_cli"
    landing.mkdir(parents=True)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, landing / "batch0.parquet")

    env = dict(
        os.environ,
        PYTHONPATH=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )

    def run(load_type):
        return subprocess.run(
            [
                sys.executable,
                "-m",
                "lakehouse_homeserver_spark.sources.ingest",
                "region_cli",
                load_type,
                str(tmp_path / "landing"),
            ],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )

    out = run("full")
    assert out.returncode == 0, out.stderr[-2000:]
    assert "loaded 5 rows (full)" in out.stdout, out.stdout
    # incremental over the same landing state: the one file is already
    # bookkept by the full load -> clean no-op via the anti-join
    out2 = run("incremental")
    assert out2.returncode == 0, out2.stderr[-2000:]
    assert "no new data" in out2.stdout, out2.stdout


def test_expiry_preserves_incremental_bookkeeping(spark, landing, tmp_path):
    """Regression (r7 review): `ingested_files` derives from commit
    properties, and snapshot expiry used to DELETE old commits'
    properties with them — the next incremental then silently
    re-ingested those files as duplicate rows. expire_snapshots now
    folds the expired prefix's bookkeeping into the oldest retained
    entry."""
    from lakehouse_homeserver_spark.sources.ingest import (
        Lakehouse,
        SnapshotFormat,
    )

    import shutil as _sh

    fmt = SnapshotFormat(spark, str(tmp_path / "wh"))
    lh = Lakehouse(spark, fmt=fmt)
    n1 = lh.load_incremental("lineitem", landing)  # commit 1: 3 files
    assert n1 > 0
    # a LATER landing file forces a SECOND commit, so expiry with
    # keep_last=1 really drops commit 1's bookkeeping properties
    d = os.path.join(landing, "lineitem")
    _sh.copy(
        os.path.join(d, "batch_0.parquet"),
        os.path.join(d, "batch_3.parquet"),
    )
    assert lh.load_incremental("lineitem", landing) > 0  # commit 2: 1 file
    t = fmt._table("src.lineitem")
    assert len(t.versions()) >= 2
    before = lh.table("lineitem").count()
    files_before = set(fmt.ingested_files(spark, "src.lineitem"))
    assert len(files_before) == 4
    t.expire_snapshots(keep_last=1, orphan_grace_ms=0)
    assert len(t.versions()) == 1  # commit 1 really expired
    assert set(fmt.ingested_files(spark, "src.lineitem")) == files_before
    # the re-run must be a no-op, not a duplicate ingest
    n2 = lh.load_incremental("lineitem", landing)
    assert n2 == 0
    assert lh.table("lineitem").count() == before
