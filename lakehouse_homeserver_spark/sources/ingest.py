"""Incremental ELT core — reference parity with scripts/extract_load.py.

The reference's only engine code is a MinIO→Iceberg loader
(/root/reference/scripts/extract_load.py): list landing objects under
a prefix (:136-139), full load = latest file `createOrReplace`
(:145-152), incremental load = set-difference against a per-table
bookkeeping table then `append` + record the new files (:154-165),
create-if-absent (:106-110), empty source → clean no-op (:141-143),
snapshot GC per load (:167-171).

Every load commits to a snapshot-log table (`SnapshotFormat`, over
sources/snapshot.py), the local stand-in for the reference's Iceberg
v2 tables: `db.table` lives at `<warehouse>/db/table`, and the catalog
is the directory tree itself, so cross-run state needs no metastore.
The files a load ingested ride inside its commit as a snapshot
property: "append data" and "record loaded files" are one atomic
operation, which closes the crash window the reference's
read-modify-write bookkeeping leaves open.

Three deliberate departures from the reference (SURVEY.md §3.1):

1. "Latest" file for a full load is explicit — (mtime, path) order —
   instead of bare lexicographic `sorted(list)[-1]` (:147).
2. The unseen-file check is a distributed left-anti join against the
   loaded-file set instead of a driver-side Python set difference
   (:155-156) — at 100 TB the landing listing can be millions of
   objects; an anti-join scales, a driver set doesn't.
3. The bare `except:` that treats *any* metadata failure as "nothing
   loaded yet" (:60-61) is narrowed to "table does not exist".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot import SnapshotTable

SRC_NS = "src"


class SnapshotFormat:
    """ACID table format backed by sources/snapshot.py: atomic
    commits, lineage, time travel and snapshot expiry. A rewrite
    lands as a new snapshot while its readers keep the old manifest,
    so a table can be rewritten from a plan that reads it."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir

    def _table(self, table: str) -> SnapshotTable:
        path = os.path.join(self.warehouse_dir, *table.split("."))
        return SnapshotTable(self.spark, path)

    def create_or_replace(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        self._table(table).create_or_replace(df, properties=properties)

    def append(
        self, df: DataFrame, table: str, properties: dict | None = None
    ) -> None:
        self._table(table).append(df, properties=properties)

    def exists(self, table: str) -> bool:
        return self._table(table).exists()

    def read(self, table: str, version: int | None = None) -> DataFrame:
        return self._table(table).read(version=version)

    def history(self, table: str) -> list[dict]:
        return self._table(table).history()

    def expire(self, table: str, retain_days: int) -> None:
        # Deterministic count-based retention (see SnapshotTable doc);
        # retain_days maps to a timestamp_ms filter on a wall-clock
        # deployment.
        self._table(table).expire_snapshots(keep_last=max(retain_days, 1))

    def ingested_files(self, table: str) -> list[str]:
        """Union of per-commit `ingested_files` properties across the
        CURRENT lineage — the loaded-file set, derived from the log
        instead of separately written. A replacing commit
        ("create"/"overwrite", i.e. a full load) RESETS the set to
        exactly the loaded file: files ingested before a full-replace
        are no longer in the table, so a later incremental must
        re-ingest them. (Unioning the whole history would treat a
        pre-replace file as seen forever; the a51 lifecycle cert
        checks this.)"""
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
        fmt: SnapshotFormat,
        source_format: str = "parquet",
    ):
        self.spark = spark
        self.fmt = fmt
        # landing-file format: parquet (reference parity), or json/csv
        # for extractors that drop those (schema inferred on read,
        # same schema-on-read contract either way)
        self.source_format = source_format

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
    def loaded_files(self, table: str) -> DataFrame:
        """file_path list already ingested; empty DF if never loaded.

        Narrowed failure handling vs the reference's bare `except:`
        (:60-61): only "table missing" means "nothing loaded yet". The
        list is derived from commit properties, not a separately
        written bookkeeping table.
        """
        files = self.fmt.ingested_files(f"{SRC_NS}.{table}")
        return self.spark.createDataFrame([(p,) for p in files], "file_path string")

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
        return n

    def load_incremental(self, table: str, landing_dir: str) -> int:
        """Incremental: append only never-seen files (:154-165).

        The unseen-file set is computed as a left-anti join so the
        landing listing never has to fit in driver memory as a
        Python set. Re-running with no new files is a 0-row no-op —
        the idempotence contract the reference's race-prone
        read-modify-write only approximates. The new files are
        recorded in the same commit as their rows.
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
        if self.fmt.exists(target):
            self.fmt.append(df, target, properties=props)
        else:
            self.fmt.create_or_replace(df, target, properties=props)
        return n

    # -- maintenance (A10: extract_load.py:167-171) ------------------------
    def expire_snapshots(self, table: str, retain_days: int = 3) -> None:
        """Snapshot GC (A10). The reference calls
        `iceberg.system.expire_snapshots(..., now-3d)` after every
        load (extract_load.py:167-171); this drops old log entries and
        unreferenced data files (tests/test_snapshot.py proves files
        actually disappear).
        """
        self.fmt.expire(f"{SRC_NS}.{table}", retain_days)

    def table(self, table: str) -> DataFrame:
        return self.fmt.read(f"{SRC_NS}.{table}")

    def table_at(self, table: str, version: int) -> DataFrame:
        """Time-travel read (A12): the table as of snapshot `version`
        — Iceberg/Trino `FOR VERSION AS OF` equivalent."""
        return self.fmt.read(f"{SRC_NS}.{table}", version=version)

    def _carry_ingest_props(self, target: str) -> dict | None:
        """Maintenance rewrites (compact / optimize_layout*) REPLACE
        the table contents without changing which landing files the
        rows derive from. The loaded-file set is DERIVED from commit
        properties and a replacing commit resets it
        (`SnapshotFormat.ingested_files`) — so the rewrite commit must
        carry the current set forward, or the next load_incremental
        re-ingests every previously loaded file and silently
        duplicates rows."""
        files = self.fmt.ingested_files(target)
        return {"ingested_files": files} if files else None

    def compact(self, table: str, target_files: int = 1) -> int:
        """Small-file compaction (the OPTIMIZE every lakehouse needs):
        incremental appends leave one file per load; rewrite the table
        into target_files files. At cluster scale target_files ≈
        table_bytes / 512 MiB. Returns the row count (sanity echo).
        """
        target = f"{SRC_NS}.{table}"
        props = self._carry_ingest_props(target)
        df = self.fmt.read(target)
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
        rewritten = (
            self.fmt.read(target)
            .repartitionByRange(*sort_cols)
            .sortWithinPartitions(*sort_cols)
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
        df = self.fmt.read(target)
        qs = [i / (1 << bits) for i in range(1, 1 << bits)]
        row = df.agg(
            F.percentile_approx(col_a, qs, 10_000).alias("ba"),
            F.percentile_approx(col_b, qs, 10_000).alias("bb"),
        ).collect()[0]
        if row["ba"] is None or row["bb"] is None:
            # empty table / all-NULL cluster column: there is no
            # distribution to z-order by — rewrite is a no-op, like
            # compact()/optimize_layout on the same inputs
            # (_quantile_bucket would iterate None and crash with an
            # obscure TypeError).
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
            <table> <full|incremental> [landing_dir] [--format parquet|json|csv] \\
            [--warehouse DIR]

    Same contract: empty source → clean exit 0 (:141-143); any error →
    traceback + exit 1 (:176-180); per-load snapshot GC (:167-171).
    Cross-run state is the commit log under `--warehouse` (default
    `./warehouse`, the reference's warehouse mount point).
    """
    import argparse
    import traceback

    from ..session import get_spark

    p = argparse.ArgumentParser(prog="ingest")
    p.add_argument("table")
    p.add_argument("load_type", choices=["full", "incremental"])
    p.add_argument("landing_dir", nargs="?", default="./landing")
    p.add_argument("--format", default="parquet", choices=["parquet", "json", "csv"])
    p.add_argument("--warehouse", default="./warehouse")
    args = p.parse_args(argv)

    spark = get_spark(app_name=f"ingest-{args.table}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        lh = Lakehouse(
            spark,
            SnapshotFormat(spark, os.path.abspath(args.warehouse)),
            source_format=args.format,
        )
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
