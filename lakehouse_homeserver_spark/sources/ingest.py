"""Incremental ELT core — reference parity with scripts/extract_load.py.

The reference's only engine code is a MinIO→Iceberg loader
(/root/reference/scripts/extract_load.py): list landing objects under
a prefix (:136-139), full load = latest file `createOrReplace`
(:145-152), incremental load = set-difference against a per-table
bookkeeping table then `append` + record the new files (:154-165),
create-if-absent (:106-110), empty source → clean no-op (:141-143),
snapshot GC per load (:167-171).

This module re-expresses those semantics Spark-natively with two
deliberate improvements over the reference (SURVEY.md §3.1 notes):

1. "Latest" file for a full load is explicit — (mtime, path) order —
   instead of bare lexicographic `sorted(list)[-1]` (:147).
2. The unseen-file check is a distributed left-anti join against the
   bookkeeping table instead of a driver-side Python set difference
   (:155-156) — at 100 TB the landing listing can be millions of
   objects; an anti-join scales, a driver set doesn't.
3. The bare `except:` that treats *any* metadata failure as "nothing
   loaded yet" (:60-61) is narrowed to "table does not exist".

Table format seam: table CREATE goes through the real
`DataFrameWriterV2` path (`writeTo().using().create()` — the API the
reference calls for every write, :94-110); replace/append fall back
to V1 `saveAsTable` because Spark's built-in V2SessionCatalog rejects
V2 append/REPLACE on v1 tables (errors verified in-environment). On a
cluster with Delta/Iceberg jars all three verbs take the writeTo()
surface with the reference's exact table options
(write.format.default=parquet, format-version=2); the seam is
`TableFormat`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot import SnapshotTable

SRC_NS = "src"
META_NS = "metadata"


def _drop_orphan_location(spark: SparkSession, table: str) -> None:
    """Delete the managed location of a `db.name` table that has no
    catalog entry. Such a directory is an orphan of a killed run or a
    lost metastore (the warehouse outlives a Derby catalog): nothing
    owns its files, and CREATE would refuse it with
    LOCATION_ALREADY_EXISTS."""
    db, name = table.split(".")
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase(db).locationUri.rstrip("/") + "/" + name.lower()
    )
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


@dataclass
class TableFormat:
    """Write-path seam (SURVEY.md §1.4). `parquet` locally; swap
    `delta`/`iceberg` + catalog conf on a real cluster.

    `atomic_ingest`: the format can fold ingest bookkeeping into the
    data commit itself (single atomic operation). `mvcc`: readers of
    old snapshots are isolated from concurrent rewrites, so table
    rewrites need no driver-side materialization barrier."""

    name: str = "parquet"
    atomic_ingest: bool = False
    mvcc: bool = False

    def create(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        """A7 create: the REAL DataFrameWriterV2 call path —
        `writeTo(t).using(fmt).create()`, the exact API shape the
        reference uses for every write (extract_load.py:94-110).
        Spark's built-in V2SessionCatalog supports V2 CREATE TABLE AS
        SELECT but not V2 append/REPLACE on v1 tables (verified in
        this environment: "Cannot write into v1 table" / "does not
        support REPLACE TABLE AS SELECT"), so locally only this verb
        routes through V2; with Delta/Iceberg jars on the classpath
        the other two verbs take the same writeTo() surface."""
        df.writeTo(table).using(self.name).create()

    def create_or_replace(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        spark = df.sparkSession
        if spark.catalog.tableExists(table):
            df.write.format(self.name).mode("overwrite").saveAsTable(table)
            return
        _drop_orphan_location(spark, table)
        self.create(df, table, properties=properties)

    def append(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        df.write.format(self.name).mode("append").saveAsTable(table)

    def exists(self, spark: SparkSession, table: str) -> bool:
        return spark.catalog.tableExists(table)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(table)

    def expire(self, spark: SparkSession, table: str, retain_days: int) -> None:
        if self.name == "delta":
            spark.sql(f"VACUUM {table} RETAIN {retain_days * 24} HOURS")

    def ingested_files(self, spark: SparkSession, table: str) -> list[str]:
        raise NotImplementedError("only atomic_ingest formats track this")


class SnapshotFormat(TableFormat):
    """ACID table format backed by sources/snapshot.py — the local
    stand-in for the reference's Iceberg tables, with the actual
    transactional behaviors (atomic commit, lineage, time travel,
    snapshot expiry) rather than the parquet seam's no-ops.

    Ingest bookkeeping rides INSIDE each commit as a snapshot
    property, so "append data" + "record loaded files" is ONE atomic
    operation — closing the crash window the two-step parquet path
    (and the reference's read-modify-write, extract_load.py:154-165)
    leaves open."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        super().__init__(name="snapshot", atomic_ingest=True, mvcc=True)
        self.spark = spark
        self.warehouse_dir = warehouse_dir

    def _table(self, table: str) -> SnapshotTable:
        path = os.path.join(self.warehouse_dir, *table.split("."))
        return SnapshotTable(self.spark, path)

    def create(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        self._table(table).create(df, properties=properties)

    def create_or_replace(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        self._table(table).create_or_replace(df, properties=properties)

    def append(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        self._table(table).append(df, properties=properties)

    def exists(self, spark: SparkSession, table: str) -> bool:
        return self._table(table).exists()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self._table(table).read()

    def read_version(self, table: str, version: int) -> DataFrame:
        return self._table(table).read(version=version)

    def history(self, table: str) -> list[dict]:
        return self._table(table).history()

    def expire(self, spark: SparkSession, table: str, retain_days: int) -> None:
        # Deterministic count-based retention (see SnapshotTable doc);
        # retain_days maps to a timestamp_ms filter on a wall-clock
        # deployment.
        self._table(table).expire_snapshots(keep_last=max(retain_days, 1))

    def clone(
        self, table: str, dest_table: str, version: int | None = None
    ) -> SnapshotTable:
        """Zero-copy clone (Delta SHALLOW CLONE shape): dest_table's
        first snapshot references table's data files as of `version`.
        See SnapshotTable.clone for the GC-safety argument."""
        return self._table(table).clone(
            os.path.join(self.warehouse_dir, *dest_table.split(".")),
            version=version,
        )

    def ingested_files(self, spark: SparkSession, table: str) -> list[str]:
        """Union of per-commit `ingested_files` properties across the
        CURRENT lineage — the bookkeeping table, derived instead of
        separately written. A replacing commit ("create"/"overwrite",
        i.e. a full load) RESETS the set, matching the non-atomic
        path's documented contract ("full load resets bookkeeping to
        exactly the loaded file"): files ingested before a
        full-replace are no longer in the table, so a later
        incremental must re-ingest them. (Unioning the whole history
        would treat a pre-replace file as seen forever; the a51
        lifecycle cert checks this.)"""
        t = self._table(table)
        if not t.exists():
            return []
        out: list[str] = []
        for e in t.history():  # oldest → newest
            if e.get("operation") in ("create", "overwrite"):
                out = []
            out.extend(e.get("properties", {}).get("ingested_files", []))
        return out


class Lakehouse:
    """The ELT entry point (reference CLI equivalent, README.md:52-61)."""

    def __init__(
        self,
        spark: SparkSession,
        fmt: TableFormat | None = None,
        source_format: str = "parquet",
    ):
        self.spark = spark
        self.fmt = fmt or TableFormat()
        # landing-file format: parquet (reference parity), or json/csv
        # for extractors that drop those (schema inferred on read,
        # same schema-on-read contract either way)
        self.source_format = source_format
        # A8: CREATE NAMESPACE IF NOT EXISTS (extract_load.py:79)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {SRC_NS}")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {META_NS}")

    # -- source discovery (A2) ---------------------------------------------
    def list_landing_files(self, landing_dir: str, table: str) -> list[str]:
        """Candidate files under the table's landing prefix, like
        `list_objects(bucket, prefix=f"airbyte/{t}/")` (:136-139).

        Driver-side listing is fine: it returns paths, not data. On
        S3 this becomes a paginated prefix listing; for millions of
        objects prefer the Structured Streaming file source (see
        streaming/) which tracks processed files natively.
        """
        prefix = os.path.join(landing_dir, table)
        if not os.path.isdir(prefix):
            return []
        suffix = "." + self.source_format
        return sorted(
            os.path.join(prefix, f)
            for f in os.listdir(prefix)
            if f.endswith(suffix)
        )

    # -- bookkeeping (A3/A4: extract_load.py:55-66) ------------------------
    def _bookkeeping_table(self, table: str) -> str:
        return f"{META_NS}.{table}_loaded_files"

    def loaded_files(self, table: str) -> DataFrame:
        """file_path list already ingested; empty DF if never loaded.

        Narrowed failure handling vs the reference's bare `except:`
        (:60-61): only "table missing" means "nothing loaded yet".
        Atomic formats derive this from commit properties instead of a
        separately-written bookkeeping table.
        """
        if self.fmt.atomic_ingest:
            files = self.fmt.ingested_files(self.spark, f"{SRC_NS}.{table}")
            return self.spark.createDataFrame(
                [(p,) for p in files], "file_path string"
            )
        bk = self._bookkeeping_table(table)
        if not self.spark.catalog.tableExists(bk):
            return self.spark.createDataFrame([], "file_path string")
        return self.spark.table(bk).select("file_path")

    def _record_loaded(self, table: str, file_paths: list[str]) -> None:
        df = self.spark.createDataFrame([(p,) for p in file_paths], ["file_path"])
        bk = self._bookkeeping_table(table)
        if self.spark.catalog.tableExists(bk):
            self.fmt.append(df, bk)
        else:
            self.fmt.create_or_replace(df, bk)

    # -- loads (A5/A6/A7: extract_load.py:75-110,118-165) ------------------
    def _read(self, paths: list[str]) -> DataFrame:
        """A1: multi-file scan, schema-on-read (:68-73). json/csv infer
        schema (csv with header) — same contract, different codec."""
        if self.source_format == "parquet":
            return self.spark.read.parquet(*paths)
        if self.source_format == "json":
            return self.spark.read.json(list(paths))
        if self.source_format == "csv":
            return self.spark.read.csv(list(paths), header=True, inferSchema=True)
        raise ValueError(f"unsupported source format {self.source_format!r}")

    def load_full(self, table: str, landing_dir: str) -> int:
        """Full load: newest landing file replaces the table (:145-152).

        "Newest" is (mtime, path) — explicit, unlike the reference's
        lexicographic sort. Returns rows loaded; 0 = empty-source
        no-op (:141-143).
        """
        files = self.list_landing_files(landing_dir, table)
        if not files:
            return 0
        latest = max(files, key=lambda p: (os.path.getmtime(p), p))
        df = self._read([latest])
        n = df.count()
        if n == 0:
            return 0
        self.fmt.create_or_replace(
            df, f"{SRC_NS}.{table}", properties={"ingested_files": [latest]}
        )
        if not self.fmt.atomic_ingest:
            # Full load resets bookkeeping to exactly the loaded file.
            bk = self._bookkeeping_table(table)
            self.fmt.create_or_replace(
                self.spark.createDataFrame([(latest,)], ["file_path"]), bk
            )
        return n

    def load_incremental(self, table: str, landing_dir: str) -> int:
        """Incremental: append only never-seen files (:154-165).

        The unseen-file set is computed as a left-anti join so the
        landing listing never has to fit in driver memory as a
        Python set. Re-running with no new files is a 0-row no-op —
        the idempotence contract the reference's race-prone
        read-modify-write only approximates.
        """
        files = self.list_landing_files(landing_dir, table)
        if not files:
            return 0
        candidates = self.spark.createDataFrame(
            [(p,) for p in files], ["file_path"]
        )
        new_files_df = candidates.join(
            F.broadcast(self.loaded_files(table)), "file_path", "left_anti"
        )
        new_files = [r.file_path for r in new_files_df.collect()]
        if not new_files:
            return 0
        df = self._read(new_files)
        n = df.count()
        if n == 0:
            return 0
        target = f"{SRC_NS}.{table}"
        props = {"ingested_files": new_files}
        if self.fmt.exists(self.spark, target):
            self.fmt.append(df, target, properties=props)
        else:
            self.fmt.create_or_replace(df, target, properties=props)
        if not self.fmt.atomic_ingest:
            # Two-step bookkeeping: documented crash window (a failure
            # here double-loads on re-run). SnapshotFormat closes it by
            # folding `props` into the commit above.
            self._record_loaded(table, new_files)
        return n

    # -- maintenance (A10: extract_load.py:167-171) ------------------------
    def expire_snapshots(self, table: str, retain_days: int = 3) -> None:
        """Snapshot GC (A10). The reference calls
        `iceberg.system.expire_snapshots(..., now-3d)` after every
        load (extract_load.py:167-171). SnapshotFormat executes the
        real thing (drops old log entries + unreferenced data files,
        tests/test_snapshot.py proves files actually disappear);
        plain parquet has no lineage so it stays a no-op; Delta maps
        to VACUUM.
        """
        self.fmt.expire(self.spark, f"{SRC_NS}.{table}", retain_days)

    def table(self, table: str) -> DataFrame:
        return self.fmt.read(self.spark, f"{SRC_NS}.{table}")

    def table_at(self, table: str, version: int) -> DataFrame:
        """Time-travel read (A12): the table as of snapshot `version`
        — Iceberg/Trino `FOR VERSION AS OF` equivalent. Only snapshot
        lineage formats support it."""
        if not isinstance(self.fmt, SnapshotFormat):
            raise NotImplementedError(
                f"time travel needs a snapshot format, not {self.fmt.name!r}"
            )
        return self.fmt.read_version(f"{SRC_NS}.{table}", version)

    def _carry_ingest_props(self, target: str) -> dict | None:
        """Maintenance rewrites (compact / optimize_layout*) REPLACE
        the table contents without changing which landing files the
        rows derive from. On atomic formats the ingested-file set is
        DERIVED from commit properties and a replacing commit resets
        it (TableFormat.ingested_files) — so the rewrite commit must
        carry the current set forward, or the next load_incremental
        re-ingests every previously loaded file and silently
        duplicates rows. Non-atomic formats keep bookkeeping in a
        separate table that maintenance never touches: nothing to
        carry."""
        if not self.fmt.atomic_ingest:
            return None
        files = self.fmt.ingested_files(self.spark, target)
        return {"ingested_files": files} if files else None

    def compact(self, table: str, target_files: int = 1) -> int:
        """Small-file compaction (the OPTIMIZE every lakehouse needs):
        incremental appends leave one file per load; rewrite the table
        into target_files files. At cluster scale target_files ≈
        table_bytes / 512 MiB. Returns the row count (sanity echo).

        Implementation note: Spark refuses to overwrite a table that
        its own plan reads (UNSUPPORTED_OVERWRITE) — `localCheckpoint`
        materializes the rows and severs the lineage so the rewrite is
        a plain write. (On a cluster with unreliable executors, stage
        through a temp table instead.)
        """
        target = f"{SRC_NS}.{table}"
        props = self._carry_ingest_props(target)
        df = self.fmt.read(self.spark, target)
        if not self.fmt.mvcc:
            df = df.localCheckpoint(eager=True)
        n = df.count()
        self.fmt.create_or_replace(
            df.coalesce(target_files), target, properties=props
        )
        return n

    def optimize_layout(self, table: str, sort_cols: list[str]) -> None:
        """Rewrite the table range-partitioned + sorted on sort_cols so
        parquet row-group min/max stats become selective — the poor
        man's Z-ORDER (single-dimension clustering). Filters on the
        sort prefix then skip row groups at scan time.
        """
        target = f"{SRC_NS}.{table}"
        props = self._carry_ingest_props(target)
        df = self.fmt.read(self.spark, target)
        if not self.fmt.mvcc:
            # Non-MVCC formats can't overwrite a table their own plan
            # reads; snapshot tables can — the rewrite lands as a new
            # snapshot while the scan keeps the old manifest, so no
            # driver-side materialization barrier is needed at scale.
            df = df.localCheckpoint(eager=True)
        rewritten = df.repartitionByRange(*sort_cols).sortWithinPartitions(
            *sort_cols
        )
        self.fmt.create_or_replace(rewritten, target, properties=props)

    def optimize_layout_zorder(
        self,
        table: str,
        col_a: str,
        col_b: str,
        bits: int = 8,
        target_files: int | None = None,
    ) -> None:
        """Two-dimensional clustering via Z-order (Morton) interleave —
        the multi-column OPTIMIZE ZORDER of Delta/Iceberg, as pure
        expression code. Rows close in BOTH dimensions land in the
        same files, so min/max row-group stats prune scans filtered on
        EITHER column — single-dimension sorting only serves its
        prefix.

        Scale shape: quantile boundaries per dimension come from ONE
        GK-sketch aggregate (mergeable, a bounded 2·2^bits-double
        model collect — never a global rank window); bucketing is then
        map-only, and the rewrite is a single range partition + local
        sort on the interleaved key. The key is never stored.
        """
        target = f"{SRC_NS}.{table}"
        props = self._carry_ingest_props(target)
        df = self.fmt.read(self.spark, target)
        if not self.fmt.mvcc:
            df = df.localCheckpoint(eager=True)
        qs = [i / (1 << bits) for i in range(1, 1 << bits)]
        row = df.agg(
            F.percentile_approx(col_a, qs, 10_000).alias("ba"),
            F.percentile_approx(col_b, qs, 10_000).alias("bb"),
        ).collect()[0]
        if row["ba"] is None or row["bb"] is None:
            # empty table / all-NULL cluster column: there is no
            # distribution to z-order by — rewrite is a no-op, like
            # compact()/optimize_layout on the same inputs (r7
            # review: _quantile_bucket iterated None and crashed
            # with an obscure TypeError).
            return
        z = zorder_key(
            _quantile_bucket(F.col(col_a), row["ba"]),
            _quantile_bucket(F.col(col_b), row["bb"]),
            bits=bits,
        )
        # Explicit file-count override pins the layout (AQE would
        # otherwise coalesce small rewrites); at cluster scale choose
        # target_files ≈ table_bytes / 512 MiB, like compact().
        ranged = (
            df.withColumn("_z", z).repartitionByRange(target_files, "_z")
            if target_files
            else df.withColumn("_z", z).repartitionByRange("_z")
        )
        rewritten = ranged.sortWithinPartitions("_z").drop("_z")
        self.fmt.create_or_replace(rewritten, target, properties=props)


def _quantile_bucket(col: F.Column, boundaries: list) -> F.Column:
    """Rank-normalize a column to [0, len(boundaries)] by counting how
    many quantile boundaries it passes — distribution-robust (raw
    value bits collapse under skew) and map-only once the boundary
    array (a broadcast-sized literal) is known."""
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(col.cast("double") >= x, 1).otherwise(0),
    )


def zorder_key(na: F.Column, nb: F.Column, bits: int = 8) -> F.Column:
    """Morton/Z-order interleave of two pre-normalized integer columns
    in [0, 2^bits): bit planes alternate a0 b0 a1 b1 … so sort order
    alternates locality between the dimensions. Pure shift/mask
    expressions, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(na, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(nb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference's entry point (README.md:56-61):

        python -m lakehouse_homeserver_spark.sources.ingest \\
            <table> <full|incremental> [landing_dir] [--format parquet|json|csv]

    Same contract: empty source → clean exit 0 (:141-143); any error →
    traceback + exit 1 (:176-180); per-load snapshot GC (:167-171).
    """
    import argparse
    import traceback

    from ..session import get_spark

    p = argparse.ArgumentParser(prog="ingest")
    p.add_argument("table")
    p.add_argument("load_type", choices=["full", "incremental"])
    p.add_argument("landing_dir", nargs="?", default="./landing")
    p.add_argument("--format", default="parquet", choices=["parquet", "json", "csv"])
    args = p.parse_args(argv)

    # Persistent catalog for cross-run state (the reference uses a
    # REST catalog + Postgres for the same reason, extract_load.py:42-46):
    # Spark's default in-memory catalog forgets tables between CLI
    # invocations while their warehouse dirs survive -> re-runs would
    # hit LOCATION_ALREADY_EXISTS. Hive catalogImplementation persists
    # the metastore (local Derby) next to the warehouse.
    spark = get_spark(
        app_name=f"ingest-{args.table}",
        extra_conf={"spark.sql.catalogImplementation": "hive"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        lh = Lakehouse(spark, source_format=args.format)
        if args.load_type == "full":
            n = lh.load_full(args.table, args.landing_dir)
        else:
            n = lh.load_incremental(args.table, args.landing_dir)
        if n == 0:
            print(f"{args.table}: no new data — nothing to do")
            return 0
        lh.expire_snapshots(args.table)
        print(f"{args.table}: loaded {n} rows ({args.load_type})")
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
