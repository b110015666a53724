"""ACID table operators — snapshot lineage + time travel (SURVEY A10/A12).

Driver-verifiable demonstrations of the transactional layer in
sources/snapshot.py: each query builds a real snapshot table from the
fixture `orders` rows (deterministic key-modulus slices), commits a
known sequence of create/append/overwrite/evolve operations, and
returns results DuckDB can recompute directly from `orders` — so the
commit protocol, lineage metadata, time-travel read, and schema
evolution are all covered by the hash-checked correctness gate, not
just pytest.

Reference parity: Iceberg snapshot lineage and `FOR VERSION AS OF`
reads are exposed by construction in the reference stack
(/root/reference/scripts/extract_load.py:94-110, README.md:109-111,
config/iceberg-template.properties:1-5).

The demo tables land in a fresh scratch directory per invocation
(`workspace.scratch`: the result DataFrame scans them lazily, so the
directory lives until the process ends). The cross-engine and catalog
certificates read build-once tables under `workspace.FIXTURES`
instead, so repeated runs measure the read, not the build.
Table-build cost is three small commits of fixture slices; the data
plane never leaves Spark.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table as T
from ..streaming.jobs import await_or_raise, pinned_shuffle
from ..sources.registry import table_row_count
from ..sources.snapshot import SnapshotNotFound, SnapshotTable
from ..workspace import FIXTURES, fixture, scratch
from .common import make_registry, dec, dsum, sql_dsum

QUERIES, ORACLES, query = make_registry()


def _demo_table(spark: SparkSession, sf_dir: str, *, evolve: bool) -> SnapshotTable:
    """v1 create (keys ≡0 mod 3) → v2 append (≡1) → v3 overwrite
    (status='F') → v4 append of ≡2∧status='O' rows carrying a NEW
    `batch_tag` column (additive schema evolution).

    Built from a deterministic 10 % key slice of `orders`: the demo
    exists to prove commit semantics, not to re-benchmark parquet
    writes — the slice keeps the bench honest while the oracle applies
    the identical predicate."""
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    root = scratch("snap-demo")
    t = SnapshotTable(spark, os.path.join(root, "orders_acid"))
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    if evolve:
        t.create_or_replace(orders.filter(F.col("o_orderstatus") == "F"))
        t.append(
            orders.filter(
                (F.col("o_orderkey") % 3 == 2) & (F.col("o_orderstatus") == "O")
            ).withColumn("batch_tag", F.lit("b4")),
        )
    else:
        t.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    return t


@query(
    "a10_snapshot_lineage",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 3 = 0) AS n_rows,
           CAST(6 AS BIGINT) AS n_cols
    UNION ALL
    SELECT 2, 'append',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 3 IN (0, 1)), 6
    UNION ALL
    SELECT 3, 'overwrite',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0 AND o_orderstatus = 'F'), 6
    UNION ALL
    SELECT 4, 'append',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 10 = 0
              AND (o_orderstatus = 'F'
                   OR (o_orderkey % 3 = 2 AND o_orderstatus = 'O'))), 7
    """,
)
def a10_snapshot_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot lineage (A10; Iceberg `.snapshots` / DESCRIBE HISTORY).

    Commits create/append/overwrite/evolving-append, then returns the
    log itself: version, operation, committed row count, and schema
    width — the width step 6→7 at v4 is the additive schema
    evolution landing, and every number is independently recomputed
    by the oracle from `orders`. Lineage is metadata: the result is
    built from the log (O(#snapshots)), no table scan.
    """
    t = _demo_table(spark, sf_dir, evolve=True)
    rows = [
        (
            e["version"],
            e["operation"],
            e["row_count"],
            len(t.schema(e["version"]).fields),
        )
        for e in t.history()
    ]
    return spark.createDataFrame(
        rows, "version bigint, operation string, n_rows bigint, n_cols bigint"
    )


@query(
    "a12_time_travel",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    """,
)
def a12_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-as-of read (A12): commit three slices, then aggregate
    the table AS OF version 2 — the v3 rows must be invisible. The
    oracle recomputes the same aggregate from the slices v2 contained
    (keys ≡0,1 mod 3), so a time-travel read that leaked v3 data or
    dropped v1 files hash-mismatches immediately.
    """
    t = _demo_table(spark, sf_dir, evolve=False)
    return (
        t.read(version=2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


def _merge_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MERGE source built from the fixtures: an UPDATE
    branch (customers ≡0 mod 10 with their order spend folded into
    `c_acctbal`, segment → 'UPDATED') plus an INSERT branch (customers
    ≡3 mod 5, guaranteed disjoint from the ≡0 mod 5 target, segment →
    'INSERTED')."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    upd = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .agg(
            (dec("c_acctbal") + F.sum(dec("o_totalprice")))
            .cast("double")
            .alias("new_acctbal")
        )
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.col("new_acctbal").alias("c_acctbal"),
            F.lit("UPDATED").alias("c_mktsegment"),
        )
    )
    ins = cust.filter(F.col("c_custkey") % 5 == 3).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.lit("INSERTED").alias("c_mktsegment"),
    )
    return upd.unionByName(ins)


@query(
    "a13_merge_upsert",
    oracle="""
    WITH tgt AS (
      SELECT * FROM customer WHERE c_custkey % 5 = 0
    ),
    upd AS (
      SELECT c.c_custkey, c.c_name, c.c_nationkey,
             CAST(CAST(c.c_acctbal AS DECIMAL(18,2))
                  + SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey % 10 = 0
      GROUP BY c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal
    ),
    ins AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             'INSERTED' AS c_mktsegment
      FROM customer WHERE c_custkey % 5 = 3
    ),
    src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
    SELECT * FROM tgt
    WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
    UNION ALL
    SELECT * FROM src
    ORDER BY c_custkey
    """,
)
def a13_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO result (SURVEY A-ext): commit a customer slice as a
    snapshot table, `merge` an update+insert source into it (real
    copy-on-write commit via SnapshotTable.merge), and return the
    post-merge table state. The oracle recomputes the merged state
    relationally (anti-join ∪ source), so the whole MERGE path —
    plan, commit, and post-merge read — is hash-checked. Customers
    ≡0 mod 10 without orders stay un-updated (inner-join source), a
    deliberate edge the oracle shares.
    """
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-merge"), "cust")
    )
    t.create(T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 5 == 0))
    t.merge(_merge_source(spark, sf_dir), on=["c_custkey"])
    return t.read().orderBy("c_custkey")


@query(
    "a18_rollback",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(4 AS BIGINT) AS head_version,
           'rollback' AS head_operation
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    """,
)
def a18_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (Iceberg `rollback_to_snapshot` / Delta
    RESTORE, A-ext): after three commits, roll the table back to v2 —
    a NEW head (v4) that re-references v2's files without touching
    data. The aggregate of the post-rollback read must equal the
    oracle's recomputation of v2's content (keys ≡0,1 mod 3: the v3
    slice must vanish, the v1/v2 slices must all survive), and the
    head's (version, operation) pair rides along as columns, so both
    the restored state and the metadata-only commit are hash-checked.
    At 100 TB this "undo" is one conditional log write — that is the
    entire point.
    """
    t = _demo_table(spark, sf_dir, evolve=False)
    t.rollback(2)
    head = t.entry(t.latest_version())
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("head_version", F.lit(head["version"]).cast("bigint"))
        .withColumn("head_operation", F.lit(head["operation"]))
    )


@query(
    "a19_delete_where",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM orders)
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(1 AS BIGINT) AS rewritten_files,
           CAST(3 AS BIGINT) AS carried_files
    FROM orders
    WHERE NOT (o_orderkey BETWEEN (SELECT (n * 2) // 5 FROM n)
                               AND (SELECT (n * 99) // 200 FROM n)
               AND o_orderstatus = 'O')
    """,
)
def a19_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE with file pruning (Iceberg CoW
    delete / Delta DELETE, A-ext): orders is committed as four
    key-range quartile slices, then a key-scoped delete removes open
    orders in [0.40n, 0.495n] — a range strictly inside the second
    slice. Footer min/max stats prove only ONE file overlaps, so
    exactly one file is rewritten and three carry over by name — the
    commit's (rewritten, carried) counts are emitted as columns and
    pinned by the oracle, alongside the surviving rows' aggregate.
    Slice bounds derive from the table's footer row count (orderkeys
    are dense 0..n-1 in the fixture), so the construction is
    SF-independent; the oracle repeats the same integer arithmetic.
    This is the GDPR-erasure / retention-delete shape: at 100 TB a
    key- or time-bounded delete rewrites the overlapping handful of
    files, not the table.
    """

    t = SnapshotTable(
        spark, os.path.join(scratch("snap-del"), "orders")
    )
    orders = T(spark, sf_dir, "orders")
    n = table_row_count(sf_dir, "orders")
    bounds = [0, n // 4, n // 2, (3 * n) // 4, 10**12]
    for i in range(4):
        sl = orders.filter(
            (F.col("o_orderkey") >= bounds[i])
            & (F.col("o_orderkey") < bounds[i + 1])
        ).coalesce(1)
        t.create(sl) if i == 0 else t.append(sl)
    lo, hi = (n * 2) // 5, (n * 99) // 200
    e = t.delete_where(
        (F.col("o_orderkey").between(lo, hi))
        & (F.col("o_orderstatus") == "O"),
        prune_column="o_orderkey",
        lo=lo,
        hi=hi,
    )
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    ).select(
        "n_rows",
        "total_price",
        F.lit(e["properties"]["rewritten_files"]).cast("bigint").alias(
            "rewritten_files"
        ),
        F.lit(e["properties"]["carried_files"]).cast("bigint").alias(
            "carried_files"
        ),
    )


@query(
    "a20_mor_delete",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM orders),
         half AS (SELECT * FROM orders
                  WHERE o_orderkey < (SELECT n // 2 FROM n)),
         kept AS (SELECT * FROM half WHERE o_custkey % 7 <> 0
                  UNION ALL
                  SELECT * FROM orders
                  WHERE o_orderkey >= (SELECT n // 2 FROM n))
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           (SELECT COUNT(*) FROM half WHERE o_custkey % 7 = 0) AS n_deleted,
           CAST(1 AS BIGINT) AS n_delete_files,
           'append' AS head_operation
    FROM kept
    """,
)
def a20_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (Iceberg v2 equality-delete files,
    A-ext; the complement of a19's copy-on-write): commit the lower
    half of `orders`, MoR-delete every order whose customer key is
    ≡0 mod 7 — a DELETE FILE of key tuples, zero data files touched —
    then append the upper half. Readers anti-join the delete file
    against only LOWER-seq data files, so the appended half keeps its
    ≡0 mod 7 customers (Iceberg's sequencing rule), while the lower
    half loses them. The final aggregate, the commit's deleted-row
    count, the pending-delete-file count, and the head operation are
    all recomputed declaratively by the oracle. At 100 TB this is the
    O(keys)-write delete path whose read cost `rewrite_deletes()`
    reclaims during maintenance.
    """

    t = SnapshotTable(
        spark, os.path.join(scratch("snap-mor"), "orders")
    )
    orders = T(spark, sf_dir, "orders")
    n = table_row_count(sf_dir, "orders")
    t.create(orders.filter(F.col("o_orderkey") < n // 2))
    e = t.delete_where(
        F.col("o_custkey") % 7 == 0, mode="mor", equality_on=["o_custkey"]
    )
    t.append(orders.filter(F.col("o_orderkey") >= n // 2))
    head = t.entry(t.latest_version())
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    ).select(
        "n_rows",
        "total_price",
        F.lit(e["properties"]["deleted_rows"]).cast("bigint").alias("n_deleted"),
        F.lit(len(head["delete_files"])).cast("bigint").alias("n_delete_files"),
        F.lit(head["operation"]).alias("head_operation"),
    )


_FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@query(
    "a14_table_stats",
    oracle="\n    UNION ALL\n".join(
        f"""SELECT '{t}' AS table_name, COUNT(*) AS num_rows,
           (SELECT COUNT(*) FROM information_schema.columns c
            WHERE c.table_name = '{t}') AS n_cols
        FROM {t}"""
        for t in _FIXTURE_TABLES
    ),
)
def a14_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/metadata introspection the Iceberg way (SURVEY A9/A-ext;
    the reference exposes `.snapshots`/`.files` metadata tables by
    construction): per-table row counts and column counts answered
    from PARQUET FOOTERS ONLY — zero data bytes scanned, O(files)
    driver-side metadata reads, exactly how an Iceberg manifest scan
    answers COUNT(*). The DuckDB oracle recomputes the same numbers
    the expensive way (full COUNT(*) per table + information_schema),
    so "metadata says" is hash-checked against "data says".

    At 100 TB this is the difference between a milliseconds planning
    query and a cluster-wide scan; the same footer pass powers the
    ingest layer's commit bookkeeping (no per-commit Spark count
    jobs).
    """
    import pyarrow.parquet as pq

    rows = []
    for t in _FIXTURE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written directory table
            parts = sorted(
                os.path.join(p, f)
                for f in os.listdir(p)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            n_cols = pq.ParquetFile(parts[0]).metadata.num_columns
            rows.append((t, table_row_count(sf_dir, t), n_cols))
        else:
            md = pq.ParquetFile(p).metadata
            rows.append((t, md.num_rows, md.num_columns))
    return spark.createDataFrame(
        rows, "table_name string, num_rows bigint, n_cols bigint"
    )


@query(
    "a15_file_skipping",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN 6000 AND 7499
    ORDER BY o_orderkey
    """,
)
def a15_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file skipping end to end (SURVEY A-ext; Iceberg's
    core scan optimization): orders is committed as four key-range
    slices (each commit's footer min/max recorded in the snapshot,
    zero extra scan jobs), then a narrow range scan prunes the
    manifest BEFORE Spark plans the read — only overlapping files are
    opened, and the residual predicate keeps pruning semantically
    invisible. The oracle answers the same range from the raw table,
    so pruned == unpruned is hash-checked; the pytest layer
    additionally asserts the file-count reduction (pruning actually
    happened, not just correct results).

    At 100 TB with time- or key-clustered commits (the natural ingest
    order), this is the difference between opening every file in a
    million-file table and opening the handful whose range matches —
    metadata-only, before any executor starts.
    """
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-skip"), "orders")
    )
    orders = T(spark, sf_dir, "orders")
    bounds = [0, 5000, 10000, 15000, 10**12]
    for i in range(4):
        sl = orders.filter(
            (F.col("o_orderkey") >= bounds[i])
            & (F.col("o_orderkey") < bounds[i + 1])
        ).coalesce(1)
        if i == 0:
            t.create(sl)
        else:
            t.append(sl)
    return (
        t.scan("o_orderkey", 6000, 7499)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "a16_incremental_read",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer
    WHERE c_custkey % 4 IN (1, 2)
    ORDER BY c_custkey
    """,
)
def a16_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption between snapshots (SURVEY A-ext;
    Iceberg incremental scan / Delta CDF for append-only tables):
    customer is committed in four residue-class slices; the consumer
    asks for "everything added after version 1, up to version 3" and
    gets EXACTLY slices 2 and 3 — resolved as manifest arithmetic
    (union of the intervening commits' `added` file lists), no state
    diffing, no re-scan of slices 0/1. The oracle states the same
    contract declaratively (residues 1 and 2). This is how periodic
    downstream jobs stay O(new data) at 100 TB.
    """
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-inc"), "cust")
    )
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    t.create(c.filter(F.col("c_custkey") % 4 == 0))
    v1 = t.latest_version()
    t.append(c.filter(F.col("c_custkey") % 4 == 1))
    t.append(c.filter(F.col("c_custkey") % 4 == 2))
    v3 = t.latest_version()
    t.append(c.filter(F.col("c_custkey") % 4 == 3))
    return t.added_between(v1, v3).orderBy("c_custkey")


@query(
    "a17_zero_copy_clone",
    oracle="""
    SELECT 'source' AS tbl, 'overwrite' AS operation,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 10 = 0 AND o_orderstatus = 'F') AS n_rows
    UNION ALL
    SELECT 'clone', 'append',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey % 10 = 0
              AND (o_orderkey % 3 IN (0, 1)
                   OR (o_orderkey % 3 = 2 AND o_orderstatus = 'O')))
    """,
)
def a17_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy clone divergence (Delta SHALLOW CLONE / Iceberg
    branch equivalent, A-ext): create + append a source table, branch
    it with `clone()` (hard-linked data files, no rewrite), then let
    BOTH sides write independently — the clone appends a new slice,
    the source overwrites itself entirely. The emitted head counts
    prove (a) the clone saw exactly the source's state at branch
    time, (b) neither table's subsequent writes leaked into the
    other. The oracle recomputes both heads from `orders` directly.
    Isolation mechanics (shared inodes, GC safety under expiry) are
    pinned by tests/test_snapshot.py.
    """
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    root = scratch("snap-clone")
    src = SnapshotTable(spark, os.path.join(root, "src"))
    src.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    src.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    clone = src.clone(os.path.join(root, "branch"))
    clone.append(
        orders.filter(
            (F.col("o_orderkey") % 3 == 2) & (F.col("o_orderstatus") == "O")
        )
    )
    src.create_or_replace(orders.filter(F.col("o_orderstatus") == "F"))
    rows = [
        ("source", src.entry(src.latest_version())["operation"],
         src.row_count()),
        ("clone", clone.entry(clone.latest_version())["operation"],
         clone.row_count()),
    ]
    return spark.createDataFrame(rows, "tbl string, operation string, n_rows bigint")


@query(
    "a21_bloom_skipping",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS bloom_pruned
    FROM orders
    WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders
                        WHERE o_orderkey >= 100)
    """,
)
def a21_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point-lookup pruning (SURVEY A-ext; Iceberg
    `write.bloom-filter-enabled` / parquet column bloom filters):
    orders is committed as four RESIDUE-CLASS slices (o_orderkey % 4),
    so every file's key range spans the whole table and min/max stats
    can never skip anything — the worst case for range pruning and the
    exact case bloom filters exist for. Each commit harvests a 2 KiB
    md5-double-hash bloom per file; the point lookup consults them and
    opens only maybe-containing files (exactly 1 of 4 absent false
    positives), with the residual predicate keeping pruning invisible.
    The `bloom_pruned` certificate pins that skipping actually
    happened (deterministic: md5 blooms over fixed fixture keys).

    At 100 TB: this is the metadata path for needle-in-haystack id
    lookups (doc digest, user id) over ingest-ordered tables where
    every file overlaps every key range — manifest-resident blooms
    answer "which files can contain key X" without opening any file.
    """
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-bloom"), "orders")
    ).with_bloom_filters("o_orderkey")
    orders = T(spark, sf_dir, "orders")
    for i in range(4):
        sl = orders.filter(F.col("o_orderkey") % 4 == i).coalesce(1)
        t.create(sl) if i == 0 else t.append(sl)
    key = orders.filter(F.col("o_orderkey") >= 100).agg(
        F.min("o_orderkey")
    ).collect()[0][0]
    n_total = len(t.files())
    n_kept = len(t.prune_files_equals("o_orderkey", key))
    return t.scan_equals("o_orderkey", key).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit(n_kept < n_total).alias("bloom_pruned"),
    )


@query(
    "a22_wap_publish",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           {sql_dsum("c_acctbal")} AS total_bal
    FROM customer
    WHERE c_custkey % 3 IN (0, 1)
    GROUP BY c_mktsegment
    """,
)
def a22_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish end to end (SURVEY A-ext; Iceberg WAP /
    `cherrypick_snapshot`): main holds the ≡0 (mod 3) customer slice;
    the ≡1 slice is STAGED on a zero-copy branch (clone + append),
    audited there (row count > 0, no null keys — main readers see
    nothing during the audit), then published with `cherry_pick` — a
    metadata-only commit that hard-links the branch's files into
    main. A deliberately bad batch (the ≡2 slice with nulled keys) is
    staged on a second branch, FAILS the audit, and is discarded —
    the oracle proves main ended with exactly slices 0 and 1.

    At 100 TB this is the ingest-quality gate: audits run on the real
    committed files (not a copy), publish costs one log write, and a
    bad batch never touches the production table's lineage.
    """
    root = scratch("snap-wap")
    cust = T(spark, sf_dir, "customer")
    t = SnapshotTable(spark, os.path.join(root, "customer"))
    t.create(cust.filter(F.col("c_custkey") % 3 == 0))

    # The audit scope is everything added SINCE THE BRANCH POINT,
    # expressed in the BRANCH's own version space: clone() restarts
    # numbering at 1, so the branch point is always the clone's
    # latest_version() right after cloning — NOT the source's (a
    # source-space version >= 2 made added_between an empty
    # range on the clone, so the audit saw zero staged rows and a
    # clean batch forked after a prior publish would never publish).
    good = t.clone(os.path.join(root, "branch-good"))
    branch_v = good.latest_version()
    good.append(cust.filter(F.col("c_custkey") % 3 == 1))
    staged = good.added_between(branch_v)
    if staged.count() > 0 and staged.filter("c_custkey IS NULL").count() == 0:
        t.cherry_pick(good, good.latest_version())

    bad = t.clone(os.path.join(root, "branch-bad"))
    branch_v = bad.latest_version()
    bad.append(
        cust.filter(F.col("c_custkey") % 3 == 2).withColumn(
            "c_custkey", F.lit(None).cast("long")
        )
    )
    staged = bad.added_between(branch_v)
    if staged.count() > 0 and staged.filter("c_custkey IS NULL").count() == 0:
        t.cherry_pick(bad, bad.latest_version())  # pragma: no cover

    return (
        t.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


@query(
    "a24_schema_history",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'create',    6, CAST(NULL AS VARCHAR)),
      (CAST(2 AS BIGINT), 'append',    6, CAST(NULL AS VARCHAR)),
      (CAST(3 AS BIGINT), 'overwrite', 6, CAST(NULL AS VARCHAR)),
      (CAST(4 AS BIGINT), 'append',    7, 'batch_tag')
    ) AS t(version, operation, n_columns, added_columns)
    """,
)
def a24_schema_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema lineage across snapshots (SURVEY A-ext; the audit view
    of Iceberg's per-snapshot schema tracking): for each commit,
    the column count and which columns that commit ADDED — how a
    data team answers "when did this field appear and which load
    introduced it" without replaying history. Pure metadata: the
    per-snapshot schemas come from the commit log (the same
    evolution demo as a12_time_travel: create/append/overwrite on
    the 6-column orders slice, then an append carrying the new
    `batch_tag` column). The oracle pins the expected lineage as
    literal rows — the fixture's orders schema is 6 columns wide, so
    drift in evolution handling (silently dropped or duplicated
    columns) breaks the hash.
    """
    import json as _json

    from pyspark.sql.types import StructType as _ST

    t = _demo_table(spark, sf_dir, evolve=True)
    rows = []
    prev_cols: set[str] = set()
    for e in t.history():
        cols = [f.name for f in _ST.fromJson(_json.loads(e["schema"])).fields]
        added = sorted(set(cols) - prev_cols) if prev_cols else []
        rows.append(
            (
                e["version"],
                e["operation"],
                len(cols),
                ",".join(added) if added else None,
            )
        )
        prev_cols = set(cols)
    return spark.createDataFrame(
        rows,
        "version bigint, operation string, n_columns int, "
        "added_columns string",
    )


@query(
    "a25_change_feed",
    oracle=f"""
    WITH s AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0)
    SELECT CAST(1 AS INTEGER) AS version, 'insert' AS change,
           COUNT(*) AS n_rows, {sql_dsum("o_totalprice")} AS total_price,
           CAST(0 AS BIGINT) AS n_tagged
    FROM s WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2, 'insert', COUNT(*), {sql_dsum("o_totalprice")}, 0
    FROM s WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT 3, 'delete', COUNT(*), {sql_dsum("o_totalprice")}, 0
    FROM s WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 4 = 2
    UNION ALL
    SELECT 4, 'insert', COUNT(*), {sql_dsum("o_totalprice")}, COUNT(*)
    FROM s WHERE o_orderkey % 3 = 2
    """,
)
def a25_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read (SURVEY A-ext; Delta `table_changes` /
    Iceberg changelog scan): commit a known create → append →
    MoR-delete → schema-evolving append sequence, then consume
    `changes_between(0)` and aggregate the feed per (commit, change
    type) — row counts, exact decimal-summed preimage/postimage
    value, and how many change rows carry the post-evolution column.
    The oracle recomputes each commit's change set directly from
    `orders` with the identical predicates, so insert AND delete row
    content is hash-checked, not just counted.

    The feed itself is O(what each commit touched): appends read only
    their added files, the MoR delete replays its committed delete
    file against the parent snapshot (see
    `SnapshotTable.changes_between`).
    """
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    root = scratch("snap-cdf")
    t = SnapshotTable(spark, os.path.join(root, "orders_cdf"))
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    t.delete_where(
        F.col("o_orderkey") % 4 == 2, mode="mor", equality_on=["o_orderkey"]
    )
    t.append(
        orders.filter(F.col("o_orderkey") % 3 == 2).withColumn(
            "batch_tag", F.lit("b4")
        )
    )
    feed = t.changes_between(0)
    return (
        feed.groupBy(
            F.col("_commit_version").alias("version"),
            F.col("_change_type").alias("change"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
            F.count("batch_tag").alias("n_tagged"),
        )
    )


@query(
    "a26_ivm_view",
    oracle=f"""
    WITH s AS (
      SELECT * FROM orders WHERE o_orderkey % 10 = 0
    ), live AS (
      SELECT * FROM s
      WHERE o_orderkey % 3 IN (0, 1)      -- create + append
        AND o_orderkey % 4 <> 2           -- minus the MoR delete
      UNION ALL
      SELECT * FROM s WHERE o_orderkey % 3 = 2   -- post-delete append
    )
    SELECT o_orderstatus, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice")} AS total
    FROM live GROUP BY o_orderstatus
    """,
)
def a26_ivm_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate (SURVEY A-ext;
    Databricks materialized views / incremental dbt): the view is
    refreshed ONLY from commit deltas — one refresh per commit here,
    so the create, append, row-level MoR DELETE (consumed as signed
    change-feed rows: the counting-algorithm IVM), and a post-delete
    append each flow through `IncrementalAggregate.refresh`, never a
    full recompute. The oracle computes the final aggregate from the
    equivalent predicates, so a wrong delta ANYWHERE in the chain
    (double-count on replay, missed delete, stale cursor) breaks the
    hash.
    """
    from ..sources.ivm import IncrementalAggregate

    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    root = scratch("snap-ivm")
    src = SnapshotTable(spark, os.path.join(root, "src"))
    dest = SnapshotTable(spark, os.path.join(root, "view"))
    ivm = IncrementalAggregate(
        spark, src, dest, keys=["o_orderstatus"], measure="o_totalprice"
    )
    src.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    ivm.refresh()
    src.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    ivm.refresh()
    src.delete_where(
        F.col("o_orderkey") % 4 == 2, mode="mor", equality_on=["o_orderkey"]
    )
    ivm.refresh()
    src.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    ivm.refresh()
    ivm.refresh()  # blind re-run: must be a no-op
    return dest.read().select(
        "o_orderstatus",
        "cnt",
        F.col("total").cast("double").alias("total"),
    )


@query(
    "a27_spec_history",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'create',   CAST(NULL AS VARCHAR), 0),
      (CAST(2 AS BIGINT), 'set-spec', 'o_custkey',           1),
      (CAST(3 AS BIGINT), 'append',   'o_custkey',           1),
      (CAST(4 AS BIGINT), 'set-spec', 'o_orderdate',         2),
      (CAST(5 AS BIGINT), 'append',   'o_orderdate',         2)
    ) AS t(version, operation, spec_columns, spec_id)
    """,
)
def a27_spec_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution lineage (SURVEY A-ext; Iceberg
    partition-spec v2): change the table's write clustering twice
    without rewriting a byte of existing data, and read the spec
    history straight off the commit log — which spec every commit
    wrote under, and the metadata-only `set-spec` commits that
    evolved it. The oracle pins the expected lineage as literals;
    row counts are preserved across both evolutions (asserted in
    pytest; here the METADATA is the contract under test).
    """
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    root = scratch("snap-spec")
    t = SnapshotTable(spark, os.path.join(root, "orders_spec"))
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.set_partition_spec(["o_custkey"])
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    t.set_partition_spec(["o_orderdate"])
    t.append(orders.filter(F.col("o_orderkey") % 3 == 2))
    rows = [
        (
            e["version"],
            e["operation"],
            ",".join(e["properties"].get("partition.spec", [])) or None,
            e["properties"].get("partition.spec.id", 0),
        )
        for e in t.history()
    ]
    return spark.createDataFrame(
        rows,
        "version bigint, operation string, spec_columns string, spec_id int",
    )


@query(
    "a29_stream_cdc_view",
    oracle=f"""
    WITH s AS (
      SELECT * FROM orders WHERE o_orderkey % 10 = 0
    ), live AS (
      SELECT * FROM s
      WHERE o_orderkey % 3 IN (0, 1)      -- create + append
        AND o_orderkey % 4 <> 2           -- minus the MoR delete
      UNION ALL
      SELECT * FROM s WHERE o_orderkey % 3 = 2   -- post-restart append
    )
    SELECT o_orderstatus, COUNT(*) AS cnt,
           {sql_dsum("o_totalprice")} AS total
    FROM live GROUP BY o_orderstatus
    """,
)
def a29_stream_cdc_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVM over a mutating table, driver-certified END TO
    END (SURVEY I-ext): a snapshot source
    receives create → append → row-level MoR delete, a Structured
    Streaming change-feed reader (`format("snapshot")` +
    `readChangeFeed`) folds every commit into a keyed aggregate view
    via foreachBatch signed merges — then the source receives one MORE
    append and a SECOND stream with a FRESH checkpoint (batch ids
    restart at 0, the exact recovery the expired-snapshot error
    recommends) must fold exactly the unseen commit: idempotence is
    keyed on the batch's `_commit_version` span, so the replayed
    versions are row-filtered out and only version 4 lands. The oracle
    recomputes the final aggregate from equivalent predicates — a
    double-fold OR a skipped batch anywhere breaks the hash.
    """
    from ..streaming.jobs import stream_cdc_aggregate

    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    root = scratch("snap-scdc")
    src = SnapshotTable(spark, os.path.join(root, "src"))
    view_path = os.path.join(root, "view")
    src.create(orders.filter(F.col("o_orderkey") % 3 == 0))
    src.append(orders.filter(F.col("o_orderkey") % 3 == 1))
    src.delete_where(
        F.col("o_orderkey") % 4 == 2, mode="mor", equality_on=["o_orderkey"]
    )
    with pinned_shuffle(spark):
        q = stream_cdc_aggregate(
            spark, src.path, view_path, ["o_orderstatus"], "o_totalprice",
            os.path.join(root, "ck1"),
        )
        await_or_raise(q)
        # checkpoint-loss recovery: new data, FRESH checkpoint, ids @ 0
        src.append(orders.filter(F.col("o_orderkey") % 3 == 2))
        q2 = stream_cdc_aggregate(
            spark, src.path, view_path, ["o_orderstatus"], "o_totalprice",
            os.path.join(root, "ck2"),
        )
        await_or_raise(q2)
    view = SnapshotTable(spark, view_path)
    return view.read().select(
        "o_orderstatus", "cnt", F.col("total").cast("double").alias("total")
    )


@query(
    "a30_stream_upsert_totals",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS total_value
    FROM events GROUP BY user_id
    """,
)
def a30_stream_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE materialized view, driver-certified (SURVEY
    I-ext): the events fixture is split
    into a 3-file landing dir, drained file-by-file by a Structured
    Streaming file source (maxFilesPerTrigger=1, availableNow), and
    folded into a per-user totals snapshot table by idempotent MERGE
    commits. The oracle is the one-shot batch aggregate over the same
    events — per-batch rounding must reassociate to the exact
    decimal-sum total in any batch split (the dsum re-rounding
    contract), and every row must arrive exactly once across the
    three micro-batch commits.
    """
    from ..streaming.jobs import (
        prepare_events_landing,
        stream_upsert_user_totals,
    )

    root = scratch("snap-sup")
    landing = os.path.join(root, "landing")
    table = os.path.join(root, "user_totals")
    prepare_events_landing(spark, sf_dir, landing, slices=3)
    with pinned_shuffle(spark):
        q = stream_upsert_user_totals(
            spark, landing, table, os.path.join(root, "ck")
        )
        await_or_raise(q)
    t = SnapshotTable(spark, table)
    return t.read().select("user_id", "n_events", "total_value")


@query(
    "a31_compaction",
    oracle=f"""
    WITH slice AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
         vis AS (SELECT * FROM slice
                 WHERE (o_orderkey % 4 IN (0, 1, 2)
                        OR (o_orderkey % 4 = 3 AND o_orderstatus = 'O'))
                   AND o_custkey % 5 <> 0)
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(3 AS BIGINT) AS files_before,
           CAST(2 AS BIGINT) AS files_after,
           CAST(2 AS BIGINT) AS compacted_files,
           CAST(1 AS BIGINT) AS delete_files_carried
    FROM vis
    """,
)
def a31_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-pack small-file compaction (Iceberg `rewrite_data_files`
    binpack / Trino `ALTER TABLE ... EXECUTE optimize`, exposed by the
    reference stack's Iceberg runtime, /root/reference/Dockerfile:57-78
    + config/iceberg-template.properties:1-13).

    One big create (half of a 10 % orders slice) + two drizzle appends
    + one MoR equality delete, then `compact_files` with the threshold
    at the largest file's size: the two small files — and ONLY them —
    are read with the pending delete applied and rewritten as one
    file; the big file carries into the new manifest by name, still
    guarded by the carried delete file (its sequence number outranks
    only the old files). The oracle pins the before/after/selected
    file counts and recomputes the visible rows declaratively — a
    compaction that resurrected a deleted row, dropped a row, or
    rewrote the wrong file set breaks the hash. At 100 TB this is the
    maintenance pass that turns per-load drizzle files into
    512 MiB-class scan units without touching settled data.
    """
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-opt"), "orders")
    )
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    t.create(orders.filter(F.col("o_orderkey") % 4 < 2).coalesce(1))
    t.append(orders.filter(F.col("o_orderkey") % 4 == 2).coalesce(1))
    t.append(
        orders.filter(
            (F.col("o_orderkey") % 4 == 3) & (F.col("o_orderstatus") == "O")
        ).coalesce(1)
    )
    t.delete_where(
        F.col("o_custkey") % 5 == 0, mode="mor", equality_on=["o_custkey"]
    )
    before = t.entry(t.latest_version())
    sizes = [
        os.path.getsize(os.path.join(t.path, "data", f))
        for f in before["manifest"]
    ]
    e = t.compact_files(small_file_bytes=max(sizes), target_files=1)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    ).select(
        "n_rows",
        "total_price",
        F.lit(len(before["manifest"])).cast("bigint").alias("files_before"),
        F.lit(len(e["manifest"])).cast("bigint").alias("files_after"),
        F.lit(e["properties"]["compacted_files"]).cast("bigint").alias(
            "compacted_files"
        ),
        F.lit(len(e["delete_files"])).cast("bigint").alias(
            "delete_files_carried"
        ),
    )


def _sql_morton(xe: str, ye: str, bits: int) -> str:
    """DuckDB bit-interleave expression mirroring
    `sources.ingest.zorder_key` term for term."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xe} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ye} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query(
    "a32_zorder_skipping",
    oracle=f"""
    WITH m AS (SELECT MAX(o_custkey) AS xm, MAX(o_orderkey) AS ym FROM orders),
         b AS (SELECT (o_custkey * 16) // (xm + 1) AS xb,
                      (o_orderkey * 16) // (ym + 1) AS yb
               FROM orders, m),
         z AS (SELECT xb, yb, ({_sql_morton('xb', 'yb', 4)}) >> 4 AS zb FROM b),
         box AS (SELECT COUNT(*) AS n FROM b WHERE xb <= 3 AND yb <= 3),
         zf AS (SELECT zb, MIN(xb) AS minx, MIN(yb) AS miny FROM z GROUP BY zb),
         lf AS (SELECT xb, MIN(xb) AS minx, MIN(yb) AS miny FROM b GROUP BY xb)
    SELECT 'zorder' AS layout,
           COUNT(*) AS n_files,
           CAST(SUM(CASE WHEN minx <= 3 AND miny <= 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_scanned,
           (SELECT n FROM box) AS rows_in_box
    FROM zf
    UNION ALL
    SELECT 'linear',
           COUNT(*),
           CAST(SUM(CASE WHEN minx <= 3 AND miny <= 3 THEN 1 ELSE 0 END)
                AS BIGINT),
           (SELECT n FROM box)
    FROM lf
    """,
)
def a32_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear clustering, certified relationally (Delta
    `OPTIMIZE ZORDER BY` / Iceberg sort-order rewrite — the physical
    rewrite path is `Lakehouse.optimize_layout_zorder`, pytest-pinned
    in tests/test_snapshot.py; this query certifies its MATH against
    DuckDB bit for bit).

    Rows are bucketed into a 16×16 grid on (o_custkey, o_orderkey) by
    exact integer arithmetic, files are modeled as the 16 top-nibble
    Morton buckets (z-order layout) vs the 16 x-slices (linear sort
    layout), and a quarter-by-quarter box predicate is pruned against
    each file's min-stats exactly like `prune_files` prunes footer
    stats. Z-order files cover compact rectangles, so the box touches
    ~1 of 16; the linear layout spans the full y-range in every file,
    so it must scan every x-overlapping slice (4 of 16) — the measured
    counts land in the hash. At 100 TB that factor is the difference
    between opening a rack of files and a single locality cluster for
    2-D-selective scans; one interleave expression, no UDF, no shuffle
    beyond the grouped min (`sources/ingest.py:450`).
    """
    from ..sources.ingest import zorder_key

    orders = T(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.max("o_custkey").alias("xm"), F.max("o_orderkey").alias("ym")
    )
    b = orders.crossJoin(F.broadcast(bounds)).select(
        F.expr("o_custkey * 16 DIV (xm + 1)").alias("xb"),
        F.expr("o_orderkey * 16 DIV (ym + 1)").alias("yb"),
    )
    z = b.select(
        "xb", "yb",
        F.shiftright(zorder_key(F.col("xb"), F.col("yb"), bits=4), 4).alias("zb"),
    )
    box = b.filter((F.col("xb") <= 3) & (F.col("yb") <= 3)).agg(
        F.count(F.lit(1)).alias("n")
    )
    scanned = F.sum(
        F.when((F.col("minx") <= 3) & (F.col("miny") <= 3), 1).otherwise(0)
    ).cast("bigint")

    def layout(df: DataFrame, key: str, name: str) -> DataFrame:
        files = df.groupBy(key).agg(
            F.min("xb").alias("minx"), F.min("yb").alias("miny")
        )
        return files.agg(
            F.count(F.lit(1)).alias("n_files"), scanned.alias("n_scanned")
        ).select(
            F.lit(name).alias("layout"),
            "n_files",
            "n_scanned",
        ).crossJoin(F.broadcast(box.withColumnRenamed("n", "rows_in_box")))

    return layout(z, "zb", "zorder").unionByName(layout(b, "xb", "linear"))


@query(
    "a33_expire_orphans",
    oracle=f"""
    WITH slice AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
         live AS (SELECT * FROM slice WHERE o_orderstatus = 'F')
    SELECT CAST(2 AS BIGINT) AS expired_snapshots,
           CAST(3 AS BIGINT) AS deleted_files,
           CAST(1 AS BIGINT) AS versions_after,
           COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price
    FROM live
    """,
)
def a33_expire_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry + orphan-file GC, driver-certified (SURVEY A10,
    the reference's own maintenance call —
    /root/reference/scripts/extract_load.py:167-171 and README.md:111;
    until this round the GC path was pytest-only).

    create → append → overwrite leaves two expired snapshots whose
    files the head no longer references, plus one deliberately planted
    ORPHAN (a staged file whose commit never happened — the crash
    debris `expire_snapshots` exists to reap). Expiry with keep_last=1
    must delete exactly the two unreferenced data files and the
    orphan, keep exactly one snapshot, and leave the table's visible
    rows bit-identical — all five numbers recomputed by the oracle.
    At 100 TB expiry is O(files) driver metadata plus unlinks; it is
    the ONLY path allowed to delete data, so its precision (never a
    live file, always the debris) is the property this query pins.
    """
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-gc"), "orders")
    )
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    t.create(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(1))
    t.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(1))
    t.create_or_replace(
        orders.filter(F.col("o_orderstatus") == "F").coalesce(1)
    )
    # crash debris: staged but never committed (invisible to readers)
    t._stage(orders.filter(F.col("o_orderkey") % 3 == 2).coalesce(1))
    # orphan_grace_ms=0: this cert OWNS its single-process table, so
    # the in-flight-commit race the default 3-day grace guards cannot
    # exist — and the planted crash debris must be reaped NOW.
    res = t.expire_snapshots(keep_last=1, orphan_grace_ms=0)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    ).select(
        F.lit(res["expired_snapshots"]).cast("bigint").alias(
            "expired_snapshots"
        ),
        F.lit(res["deleted_files"]).cast("bigint").alias("deleted_files"),
        F.lit(len(t.versions())).cast("bigint").alias("versions_after"),
        "n_rows",
        "total_price",
    )


@query(
    "a35_partition_overwrite",
    oracle=f"""
    WITH slice AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
         restated AS (SELECT o_orderpriority,
                             o_totalprice * 2 AS o_totalprice
                      FROM slice
                      WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')),
         kept AS (SELECT o_orderpriority, o_totalprice FROM slice
                  WHERE o_orderpriority NOT IN ('1-URGENT', '3-MEDIUM')),
         final AS (SELECT * FROM restated UNION ALL SELECT * FROM kept)
    SELECT o_orderpriority,
           COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(2 AS BIGINT) AS overwritten_partitions
    FROM final
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def a35_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (Spark
    `partitionOverwriteMode=dynamic` / Iceberg `overwritePartitions`,
    both available on the reference's Iceberg tables by construction —
    /root/reference/Dockerfile:57-78): restate EXACTLY the partitions
    present in the incoming batch, atomically, leaving every other
    partition byte-identical.

    The table is the 10 % orders slice under a `o_orderpriority`
    partition spec; the batch restates two of five priorities with
    doubled prices. `overwrite_partitions` derives the replace
    predicate FROM THE BATCH (distinct spec tuples — O(partitions),
    never O(rows)), prunes untouched files via manifest stats, and
    commits one snapshot. The oracle rebuilds the expected table
    relationally: restated partitions doubled, the rest untouched — a
    lost partition, a half-applied batch, or a leaked old row all
    break the hash. At 100 TB this is the daily-backfill primitive:
    rewrite cost is O(restated partitions), and readers never observe
    a mix of old and new."""
    t = SnapshotTable(
        spark, os.path.join(scratch("snap-dpo"), "orders")
    )
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    t.create(orders.coalesce(1))
    t.set_partition_spec(["o_orderpriority"])
    batch = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")
    ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
    e = t.overwrite_partitions(batch)
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn(
            "overwritten_partitions",
            F.lit(e["properties"]["overwritten_partitions"]).cast("bigint"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "a36_positional_delete",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM orders),
         lower_h AS (SELECT * FROM orders
                     WHERE o_orderkey < (SELECT n // 2 FROM n)),
         upper_h AS (SELECT * FROM orders
                     WHERE o_orderkey >= (SELECT n // 2 FROM n)),
         after_pos AS (SELECT * FROM lower_h WHERE o_custkey % 7 <> 0),
         kept AS (SELECT * FROM after_pos WHERE o_orderstatus <> 'P'
                  UNION ALL
                  SELECT * FROM upper_h WHERE o_orderstatus <> 'P')
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           (SELECT COUNT(*) FROM lower_h WHERE o_custkey % 7 = 0)
             AS n_pos_deleted,
           CAST(2 AS BIGINT) AS n_delete_files,
           'equality,positional' AS delete_kinds
    FROM kept
    """,
)
def a36_positional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 POSITIONAL deletes / Delta deletion vectors
    (A-ext, completing the v2 row-level-delete story next to a20's
    equality form): the delete file records (data file, row ordinal)
    pairs — no key columns required, so the predicate may touch any
    column of a keyless table, and 1 recorded position == 1 deleted
    row (the commit's row-count drop needs no matching pass).

    Sequence: commit the lower half of orders → POSITIONAL-delete
    customers ≡0 mod 7 (zero data files touched) → append the upper
    half (unaffected: its ordinals are in a new file the delete never
    references) → stack an EQUALITY delete (status 'P') on top, which
    by the sequencing rule applies to BOTH data files. Readers apply
    the two kinds together — ordinal anti-join from the parquet
    reader's own (_metadata.file_path, row_index) for one, key
    anti-join for the other — and the final aggregate, the positional
    row count, the pending-file count, and the kind set are all
    recomputed declaratively by the oracle. At 100 TB positional
    files are the deletion-vector path engines reach for when the
    table has no natural key and a CoW rewrite is too large; the
    read-side cost is reclaimed by `rewrite_deletes()`.
    """

    t = SnapshotTable(
        spark, os.path.join(scratch("snap-pos"), "orders")
    )
    orders = T(spark, sf_dir, "orders")
    n = table_row_count(sf_dir, "orders")
    t.create(orders.filter(F.col("o_orderkey") < n // 2))
    e1 = t.delete_where(F.col("o_custkey") % 7 == 0, mode="mor_positional")
    t.append(orders.filter(F.col("o_orderkey") >= n // 2))
    t.delete_where(
        F.col("o_orderstatus") == "P", mode="mor",
        equality_on=["o_orderstatus"],
    )
    head = t.entry(t.latest_version())
    kinds = ",".join(
        sorted(d.get("kind", "equality") for d in head["delete_files"])
    )
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    ).select(
        "n_rows",
        "total_price",
        F.lit(e1["properties"]["deleted_rows"]).cast("bigint").alias(
            "n_pos_deleted"
        ),
        F.lit(len(head["delete_files"])).cast("bigint").alias(
            "n_delete_files"
        ),
        F.lit(kinds).alias("delete_kinds"),
    )


@query(
    "a37_check_constraints",
    oracle=f"""
    WITH slice AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
         final AS (SELECT * FROM slice)
    SELECT COUNT(*) AS n_rows,
           {sql_dsum('o_totalprice')} AS total_price,
           CAST(2 AS BIGINT) AS n_constraints,
           TRUE AS violation_rejected,
           TRUE AS nothing_landed,
           CAST(4 AS BIGINT) AS head_version
    FROM final
    """,
)
def a37_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraints (Delta `ALTER TABLE ... ADD
    CONSTRAINT ... CHECK` — enforced by the engine at commit time,
    not by a post-hoc quality job; the a23/a28 expectations surface
    is the READ-side complement).

    Create half the orders slice → add two constraints (a price
    floor and a status whitelist; adding validates EXISTING data
    with one filtered count) → a conforming append lands → an append
    with negated prices must raise and leave NO new snapshot and NO
    new rows (enforcement is one fused boolean aggregate over the
    incoming batch — O(batch), never O(table) — and all violated
    constraints report at once with counts). The oracle recomputes
    the final aggregate from the two good batches and pins the
    constraint count, the rejection, the no-partial-state guarantee,
    and the head version (create + 2 constraint commits + 1 good
    append = 4). At 100 TB this is the difference between a corrupt
    row costing one failed commit and costing a fleet-wide backfill.
    """
    from ..sources.snapshot import ConstraintViolation

    t = SnapshotTable(
        spark, os.path.join(scratch("snap-chk"), "orders")
    )
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    t.create(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.add_constraint("price_floor", "o_totalprice > 0")
    t.add_constraint("status_domain", "o_orderstatus IN ('O', 'F', 'P')")
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))  # conforms
    v_before = t.latest_version()
    rejected = False
    try:
        t.append(
            orders.limit(50).withColumn(
                "o_totalprice", -F.col("o_totalprice")
            )
        )
    except ConstraintViolation:
        rejected = True
    head = t.latest_version()
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    ).select(
        "n_rows",
        "total_price",
        F.lit(len(t.constraints())).cast("bigint").alias("n_constraints"),
        F.lit(rejected).alias("violation_rejected"),
        F.lit(head == v_before).alias("nothing_landed"),
        F.lit(head).cast("bigint").alias("head_version"),
    )


# The cross-engine table is SF-independent: `nation` is the TPC-H
# fixed 25-row table at every scale factor (asserted in
# tests/test_edge_cases.py), so one fixture serves every SF and the
# static oracle string can name its path.
_XENGINE_ORACLE_BASE = f"{FIXTURES}/xengine/nation"


@query(
    "a41_cross_engine_read",
    oracle=f"""
    WITH head AS (
      SELECT manifest
      FROM read_json('{_XENGINE_ORACLE_BASE}/_log/*.json', format='auto',
                     columns={{'version': 'BIGINT',
                               'manifest': 'VARCHAR[]'}})
      ORDER BY version DESC LIMIT 1
    ),
    live AS (SELECT unnest(manifest) AS f FROM head),
    t AS (
      SELECT * FROM read_parquet('{_XENGINE_ORACLE_BASE}/data/*.parquet',
                                 filename=true)
      WHERE regexp_extract(filename, '[^/]+$') IN (SELECT f FROM live)
    )
    SELECT n_regionkey,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           (SELECT COUNT(*) FROM live) AS n_live_files,
           (SELECT COUNT(*)
            FROM glob('{_XENGINE_ORACLE_BASE}/data/*.parquet'))
             AS n_data_files
    FROM t GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def a41_cross_engine_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine table-format read — the reference's core
    composition, re-expressed: Spark WRITES the lakehouse table and a
    SECOND engine reads the very same files by planning the commit
    log itself (reference wires Trino over the Iceberg tables Spark
    writes — /root/reference/config/iceberg-template.properties:1-13,
    docker-compose.yml Trino service; here DuckDB plays Trino's
    role).

    Spark builds a snapshot table at a FIXED path (create split
    across files → CoW DELETE, which strands the pre-delete files as
    orphans until GC → append), then answers from `read()`. The
    DuckDB oracle does NOT get the answer relayed: it independently
    plans the table — reads `_log/*.json`, takes the HEAD entry's
    manifest, scans only those parquet files (`filename=true` +
    basename semi-join), and aggregates. The hash match IS the
    format-compatibility certificate, and `n_data_files >
    n_live_files` rides the hash to prove the manifest selection did
    real work (a naive data/*.parquet glob would double-count the
    orphaned pre-delete files and produce different sums).

    At 100 TB this property — any engine that can read JSON + parquet
    can consume the table exactly — is what makes the format a
    lakehouse rather than a private cache. (Past `manifest_inline_max`
    the second engine would follow the entry's `manifest_ref` to the
    sidecar first — one more read_json hop, same contract.)

    Deterministic content, memoized per process: repeat invocations
    (bench sweeps) measure the two-commit read, not the rebuild."""
    def build(root: str) -> None:
        nations = T(spark, sf_dir, "nation")
        t = SnapshotTable(spark, os.path.join(root, "nation"))
        t.create(nations.repartition(2))
        t.delete_where(F.col("n_nationkey") % 5 == 0)
        t.append(
            nations.filter(F.col("n_nationkey") < 5).withColumn(
                "n_nationkey", F.col("n_nationkey") + 100
            )
        )

    base = os.path.join(fixture("xengine", build), "nation")
    t = SnapshotTable(spark, base)
    n_live = len(t.entry(t.latest_version())["manifest"])
    n_data = len(
        [f for f in os.listdir(os.path.join(base, "data"))
         if f.endswith(".parquet")]
    )
    return (
        t.read()
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .select(
            "n_regionkey",
            "n_rows",
            "sum_key",
            F.lit(n_live).cast("bigint").alias("n_live_files"),
            F.lit(n_data).cast("bigint").alias("n_data_files"),
        )
        .orderBy("n_regionkey")
    )


# Process-global REST catalog fixture: (base path, server, uri).
_RESTCAT: dict = {}


def _restcat_server(spark: SparkSession, sf_dir: str):
    """Shared a47/a56 fixture: the SF-invariant nation snapshot table
    (create bucketed 2 files → append +200-shifted copy → CoW DELETE
    n_nationkey%7==3, stranding pre-delete orphans) behind a memoized
    in-process REST catalog server with the table registered as
    `analytics.nation`. The on-disk table is cross-process-locked
    build-once; the HTTP server is per-process state over it."""
    from ..sources.restcat import CatalogServer

    def build(root: str) -> None:
        nations = T(spark, sf_dir, "nation").withColumn(
            "n_bucket", F.col("n_nationkey") % 4
        )
        t = SnapshotTable(spark, os.path.join(root, "analytics", "nation"))
        t.create(nations.repartition(2))
        t.append(
            nations.withColumn(
                "n_nationkey", F.col("n_nationkey") + 200
            ).repartition(1)
        )
        t.delete_where(F.col("n_nationkey") % 7 == 3)

    base = os.path.join(fixture("restcat", build), "analytics", "nation")
    if _RESTCAT.get("base") != base:
        server = CatalogServer()
        server.register("analytics", "nation", base)
        server.start()
        _RESTCAT.update({"base": base, "server": server})
    return _RESTCAT["server"]

_RESTCAT_BASE = f"{FIXTURES}/restcat/analytics/nation"


@query(
    "a47_rest_catalog",
    oracle=f"""
    WITH head AS (
      SELECT manifest
      FROM read_json('{_RESTCAT_BASE}/_log/*.json', format='auto',
                     columns={{'version': 'BIGINT',
                               'manifest': 'VARCHAR[]'}})
      ORDER BY version DESC LIMIT 1
    ),
    live AS (SELECT unnest(manifest) AS f FROM head),
    t AS (
      SELECT * FROM read_parquet('{_RESTCAT_BASE}/data/*.parquet',
                                 filename=true)
      WHERE regexp_extract(filename, '[^/]+$') IN (SELECT f FROM live)
    )
    SELECT CAST(n_bucket AS BIGINT) AS n_bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           TRUE AS resolved_via_http,
           (SELECT COUNT(*) FROM live) AS n_live_files,
           CAST(1 AS BIGINT) AS n_namespaces,
           CAST(1 AS BIGINT) AS n_tables
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def a47_rest_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network catalog resolution — SURVEY "missing" #1, re-expressed
    without the infra: the reference runs an Iceberg REST catalog
    container that both its engines resolve tables through
    (/root/reference/docker-compose.yml:8,18,
    scripts/extract_load.py:42-46, `type=rest`). Here the SAME
    architecture runs in-process: a stdlib HTTP server
    (`sources/restcat.CatalogServer`) serves the public REST-catalog
    route shapes (config → namespaces → tables → loadTable) over the
    snapshot commit log, and Spark resolves the table like a real
    REST client — one HTTP round-trip per route, then a direct
    parquet scan of exactly the live files the catalog served. Data
    bytes never touch the catalog, the property that makes the
    architecture scale: at 100 TB the catalog traffic is a few KB of
    JSON while the scan goes straight to object storage.

    Three facts ride the driver hash: `resolved_via_http` (every
    route answered 200 and the manifest came off the wire),
    `n_live_files` (the served scan plan did real work — the table's
    CoW delete strands orphan files a naive data/*.parquet glob
    would double-count), and the namespace/table listing counts. The
    DuckDB oracle never talks to the server: it plans the SAME
    commit log directly from disk (the a41 pattern), so a hash match
    proves catalog resolution and direct log planning agree on one
    set of files — the two-engines-one-catalog contract.

    Fixture (SF-invariant `nation`, same reasoning as a41, distinct
    ops): create 25 rows bucketed n_nationkey%4 split across 2
    files → append the +200-shifted copy → CoW DELETE of
    n_nationkey%7==3, stranding pre-delete files as orphans."""
    from ..sources.restcat import RestCatalog

    server = _restcat_server(spark, sf_dir)
    cat = RestCatalog(server.uri)
    namespaces = cat.list_namespaces()
    tables = cat.list_tables("analytics")
    meta = cat.load_table("analytics", "nation")
    resolved = (
        namespaces == ["analytics"]
        and tables == ["nation"]
        and isinstance(meta.get("x-manifest"), list)
        and meta["metadata"]["location"] == _RESTCAT_BASE
    )
    return (
        cat.read_table(spark, "analytics", "nation")
        .groupBy(F.col("n_bucket").cast("bigint").alias("n_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .select(
            "n_bucket",
            "n_rows",
            "sum_key",
            F.lit(resolved).alias("resolved_via_http"),
            F.lit(len(meta["x-manifest"])).cast("bigint").alias("n_live_files"),
            F.lit(len(namespaces)).cast("bigint").alias("n_namespaces"),
            F.lit(len(tables)).cast("bigint").alias("n_tables"),
        )
        .orderBy("n_bucket")
    )


# Process-global pyds round-trip fixture path (SF-invariant nation).
_PYDS_RT_BASE = f"{FIXTURES}/pyds/nation"


@query(
    "a49_pyds_roundtrip",
    oracle=f"""
    WITH state AS (
      SELECT n_regionkey, n_nationkey FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT n_regionkey, n_nationkey + 100 FROM nation
      WHERE (n_nationkey + 100) % 2 = 0
    )
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           (SELECT COUNT(*)
            FROM glob('{_PYDS_RT_BASE}/_log/*.json')) AS n_commits,
           TRUE AS pyds_read
    FROM state GROUP BY 1 ORDER BY 1
    """,
)
def a49_pyds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource V2 WRITE path, driver-certified end to end
    (the `sources/pyds.py` writer was the last pytest-only runtime
    surface of the format): the table is built entirely through the
    public `df.write.format("snapshot")` API — append-creates v1,
    append v2 (the +100-shifted copy), then `mode("overwrite")`
    commits v3 as the evens of the union, stranding every v1/v2 file
    as an orphan — and read back through `spark.read
    .format("snapshot")`, i.e. both halves of the Arrow-batched V2
    loop Spark drives for Python data sources. DuckDB recomputes the
    expected final state relationally from `nation` and counts the
    commit log entries via glob, so the hash pins (a) the writer's
    commit protocol produced exactly 3 versions, (b) the overwrite
    REPLACED rather than merged, and (c) the reader plans the head
    manifest, not the orphan-strewn data directory.

    At scale the V2 writer is the integration seam third-party
    engines use to write the format without linking the library —
    the same role Iceberg's API spec plays; certifying it in the
    driver loop keeps the seam honest. `pyds_read` rides the hash as
    the plan fact that the scan really went through the Python data
    source (`PythonScan` node), not a parquet fallback."""
    from ..sources.pyds import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)

    def build(root: str) -> None:
        base = os.path.join(root, "nation")
        nations = T(spark, sf_dir, "nation").select(
            "n_regionkey", "n_nationkey"
        )
        shifted = nations.withColumn(
            "n_nationkey", F.col("n_nationkey") + 100
        )
        nations.repartition(2).write.format("snapshot").mode(
            "append"
        ).save(base)
        shifted.repartition(1).write.format("snapshot").mode(
            "append"
        ).save(base)
        final = nations.unionAll(shifted).filter(
            F.col("n_nationkey") % 2 == 0
        )
        final.repartition(2).write.format("snapshot").mode(
            "overwrite"
        ).save(base)

    base = os.path.join(fixture("pyds", build), "nation")
    n_commits = len(
        [
            f
            for f in os.listdir(os.path.join(base, "_log"))
            if f.endswith(".json") and not f.startswith(".")
        ]
    )
    df = spark.read.format("snapshot").load(base)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Exact V2 node for a Python data source scan in this Spark
    # version: `BatchScan snapshot[...] (Python)`. An earlier version
    # accepted any plan containing the substring "snapshot" — a
    # fallback incidental path text could satisfy.
    pyds_read = "BatchScan snapshot[" in plan and "(Python)" in plan
    return (
        df.groupBy(F.col("n_regionkey").cast("bigint").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .select(
            "n_regionkey",
            "n_rows",
            "sum_key",
            F.lit(n_commits).cast("bigint").alias("n_commits"),
            F.lit(pyds_read).alias("pyds_read"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "a50_timestamp_travel",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS exact_ts_resolves_v2,
           TRUE AS between_ts_resolves_v2,
           TRUE AS before_first_raises,
           TRUE AS late_ts_resolves_head
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_orderkey % 3 IN (0, 1)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def a50_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-based time travel (A12-ext; Iceberg ``FOR TIMESTAMP
    AS OF`` / Delta ``timestampAsOf`` — the half of the time-travel
    surface a12's version-as-of read leaves uncovered, and the form
    humans actually use: "the table as it was at 9am"): three commits
    land with strictly increasing wall-clock stamps (guarded by
    millisecond sleeps — commits inside one clock tick would make
    at-that-moment reads ambiguous, the tie the latest-wins rule in
    `version_as_of` resolves), then the table is read AS OF v2's
    exact commit time and the aggregate must equal the v2 state the
    oracle recomputes relationally — the v3 overwrite must be
    invisible even though it is the head.

    Four boundary facts ride the driver hash: the exact commit stamp
    resolves to that commit; a timestamp BETWEEN commits resolves
    DOWN to the earlier one (reader-at-that-moment, never rounding
    up to data that didn't exist yet); a timestamp before the first
    commit RAISES (both reference systems error rather than serving
    an empty table); and a far-future timestamp serves the head.
    The same rule is wired through the Python DataSource as
    ``option("timestampAsOf", ms)`` (pytest-pinned)."""
    import time as _time

    # A build-once fixture keyed by the `orders` source (it differs
    # by SF, unlike the nation fixtures), so repeated runs measure
    # the timestamp-travel read, not the 3-commit build and its
    # sleeps. Commit timestamps persist in the log, so re-reads stay
    # valid across processes; a regenerated orders table gets a
    # fresh build.
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)

    def build(root: str) -> None:
        t = SnapshotTable(spark, os.path.join(root, "orders_ts"))
        t.create(orders.filter(F.col("o_orderkey") % 3 == 0))
        _time.sleep(0.003)
        t.append(orders.filter(F.col("o_orderkey") % 3 == 1))
        _time.sleep(0.003)
        t.create_or_replace(orders.filter(F.col("o_orderstatus") == "F"))

    base = os.path.join(
        fixture("tstravel", build, source=(sf_dir, "orders")), "orders_ts"
    )
    t = SnapshotTable(spark, base)
    ts1 = t._entry_raw(1)["timestamp_ms"]
    ts2 = t._entry_raw(2)["timestamp_ms"]
    ts3 = t._entry_raw(3)["timestamp_ms"]
    exact_v2 = t.version_as_of(ts2) == 2
    between_v2 = t.version_as_of((ts2 + ts3) // 2) == 2
    try:
        t.version_as_of(ts1 - 1)
        before_raises = False
    except SnapshotNotFound:
        before_raises = True
    late_head = t.version_as_of(ts3 + 86_400_000) == 3
    return (
        t.read(as_of_ms=ts2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "total_price",
            F.lit(exact_v2).alias("exact_ts_resolves_v2"),
            F.lit(between_v2).alias("between_ts_resolves_v2"),
            F.lit(before_raises).alias("before_first_raises"),
            F.lit(late_head).alias("late_ts_resolves_head"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "a51_ingest_lifecycle",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           (SELECT COUNT(*) FROM nation WHERE n_nationkey % 3 = 0)
             AS full1_rows,
           (SELECT COUNT(*) FROM nation WHERE n_nationkey % 3 = 2)
             AS full2_rows,
           (SELECT COUNT(*) FROM nation WHERE n_nationkey % 3 IN (0, 1))
             AS incr_rows,
           CAST(0 AS BIGINT) AS noop_rows,
           CAST(0 AS BIGINT) AS absent_rows,
           CAST(3 AS BIGINT) AS n_bookkept
    FROM nation GROUP BY 1 ORDER BY 1
    """,
)
def a51_ingest_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL program, driver-certified end to end
    (SURVEY §3.1; previously pytest-only via tests/test_ingest.py):
    `sources/ingest.Lakehouse` re-expresses extract_load.py's ELT
    loop — landing-prefix discovery (:136-139), full-replace of the
    newest file (:145-152), incremental append of never-seen files
    via the bookkeeping anti-join (:55-66,154-165), and the
    empty-source no-op (:141-143).

    Lifecycle exercised here, on an SF-invariant `nation` landing
    fixture (3 single-file slices by n_nationkey % 3, mtimes strictly
    increasing):
      1. landing holds slice-0 only → `load_full` loads it (9 rows);
      2. slices 1 and 2 land (newer) → `load_full` REPLACES the
         table with ONLY the newest file (slice-2, 8 rows) and resets
         bookkeeping to exactly that file — replace-not-merge is the
         (table went 9 → 8 rows) fact `full2_rows` pins;
      3. `load_incremental` appends the two never-seen files
         (slices 0+1, 17 rows) — the anti-join against bookkeeping;
      4. `load_incremental` again → 0-row NO-OP (idempotent re-run,
         the contract the reference's read-modify-write races on);
      5. `load_incremental` of a table with no landing prefix → 0.
    Afterwards the table is the full 25-row nation and the atomic
    commit-property bookkeeping holds exactly 3 file paths
    (SnapshotFormat folds ingest bookkeeping into the commit — no
    separate-write crash window). Per-region aggregates of the FINAL
    table state plus all five lifecycle facts ride the driver hash;
    DuckDB recomputes every one relationally from `nation`.

    Everything runs eagerly into a per-call mkdtemp that is removed
    before returning (the certified rows are collected first), so
    concurrent driver/mirror runs never share mutable state."""
    import shutil

    from ..sources.ingest import Lakehouse, SnapshotFormat

    root = scratch("a51-ingest")
    try:
        landing = os.path.join(root, "landing")
        prefix = os.path.join(landing, "nation_ing")
        os.makedirs(prefix)
        nation = T(spark, sf_dir, "nation")

        def land(slice_mod: int, mtime: float) -> None:
            tmp = os.path.join(root, f"stage{slice_mod}")
            nation.filter(
                F.col("n_nationkey") % 3 == slice_mod
            ).repartition(1).write.parquet(tmp)
            part = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            dst = os.path.join(prefix, f"slice{slice_mod}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (mtime, mtime))
            shutil.rmtree(tmp)

        lh = Lakehouse(
            spark, fmt=SnapshotFormat(spark, os.path.join(root, "wh"))
        )
        land(0, 1_000_000.0)
        full1 = lh.load_full("nation_ing", landing)
        land(1, 1_000_001.0)
        land(2, 1_000_002.0)
        full2 = lh.load_full("nation_ing", landing)
        incr = lh.load_incremental("nation_ing", landing)
        noop = lh.load_incremental("nation_ing", landing)
        absent = lh.load_incremental("never_landed", landing)
        n_bookkept = lh.loaded_files("nation_ing").count()
        rows = (
            lh.table("nation_ing")
            .groupBy(F.col("n_regionkey").cast("bigint").alias("n_regionkey"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_nationkey").cast("bigint").alias("sum_key"),
            )
            .orderBy("n_regionkey")
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r.n_regionkey,
                r.n_rows,
                r.sum_key,
                full1,
                full2,
                incr,
                noop,
                absent,
                n_bookkept,
            )
            for r in rows
        ],
        "n_regionkey bigint, n_rows bigint, sum_key bigint, "
        "full1_rows bigint, full2_rows bigint, incr_rows bigint, "
        "noop_rows bigint, absent_rows bigint, n_bookkept bigint",
    )


# Fixed fixture paths for the persistent-catalog cert (SF-invariant
# `region`, 5 rows at every SF — same reasoning as the nation
# fixtures). The sqlite db and the table live in one fixture
# directory, built and rebuilt together.
_SQLCAT_ROOT = f"{FIXTURES}/sqlcat"
_SQLCAT_TABLE = f"{_SQLCAT_ROOT}/analytics/region_cat"
_SQLCAT_DB = f"{_SQLCAT_ROOT}/catalog.db"
_SQLCAT_CRED = ("spark-engine", "fixture-secret")


@query(
    "a52_catalog_persistence",
    oracle="""
    WITH t AS (
      SELECT r_regionkey FROM region
      UNION ALL
      SELECT r_regionkey + 10 FROM region
    )
    SELECT CAST(r_regionkey % 5 AS BIGINT) AS key_mod,
           COUNT(*) AS n_rows,
           CAST(SUM(r_regionkey) AS BIGINT) AS sum_key,
           TRUE AS unauthorized_401,
           TRUE AS bad_token_401,
           TRUE AS registered_via_http,
           TRUE AS persisted_across_restart,
           CAST(2 AS BIGINT) AS n_live_files
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def a52_catalog_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent + authenticated network catalog — the two seams the
    REST-catalog cert (a47) left open, certified (SURVEY missing
    #1 narrows again): the reference's catalog persists to POSTGRES
    (docker-compose.yml:8,18) and fronts the spec's OAuth surface;
    here the same contract runs on the embeddable stand-ins —
    `SqlCatalogStore` (SQLite, the JdbcCatalog table shape) and the
    spec's `POST /v1/oauth/tokens` client-credentials grant.

    Lifecycle per call: server #1 over the store requires a bearer
    token (an unauthenticated listing and a bad-credential handshake
    must both 401 — facts ride the hash), the client performs DDL
    OVER THE WIRE (CreateNamespace + the spec's RegisterTableRequest
    pointing at the table's existing metadata), then server #1 STOPS
    and a brand-new server instance over the same sqlite file
    resolves the table and serves its scan plan — catalog state
    survived the "process" restart exactly as Postgres state
    survives the reference's container restarts. The certified
    aggregate scans the table through the RESTARTED server's served
    manifest; DuckDB recomputes it relationally from `region`.

    At 100 TB the catalog is precisely this: a tiny SQL row per
    table pointing at metadata, an auth gate, and zero data bytes
    through either."""
    import urllib.error
    import urllib.request

    from ..sources.restcat import CatalogServer, RestCatalog, SqlCatalogStore

    def build(root: str) -> None:
        region = T(spark, sf_dir, "region").select("r_regionkey")
        t = SnapshotTable(spark, os.path.join(root, "analytics", "region_cat"))
        t.create(region.repartition(1))
        t.append(
            region.withColumn(
                "r_regionkey", F.col("r_regionkey") + 10
            ).repartition(1)
        )
        # create the catalog schema alongside the table
        SqlCatalogStore(os.path.join(root, "catalog.db"))

    fixture("sqlcat", build)

    srv1 = CatalogServer(
        store=SqlCatalogStore(_SQLCAT_DB), credential=_SQLCAT_CRED
    )
    uri1 = srv1.start()
    try:
        # fact 1: no token -> the spec's 401 envelope
        try:
            urllib.request.urlopen(uri1 + "/v1/namespaces", timeout=10)
            unauthorized_401 = False
        except urllib.error.HTTPError as e:
            unauthorized_401 = e.code == 401
        # fact 2: wrong client secret -> 401 at the token route
        try:
            RestCatalog(uri1, credential=(_SQLCAT_CRED[0], "wrong"))
            bad_token_401 = False
        except urllib.error.HTTPError as e:
            bad_token_401 = e.code == 401
        # DDL over the wire (idempotent: register replaces)
        cat1 = RestCatalog(uri1, credential=_SQLCAT_CRED)
        cat1.create_namespace("analytics")
        out = cat1.register_table("analytics", "region_cat", _SQLCAT_TABLE)
        registered = out.get("metadata-location") == _SQLCAT_TABLE
    finally:
        srv1.stop()

    # a brand-new server instance over the same sqlite file: catalog
    # state must survive the restart (the Postgres property)
    srv2 = CatalogServer(
        store=SqlCatalogStore(_SQLCAT_DB), credential=_SQLCAT_CRED
    )
    uri2 = srv2.start()
    try:
        cat2 = RestCatalog(uri2, credential=_SQLCAT_CRED)
        persisted = (
            "analytics" in cat2.list_namespaces()
            and "region_cat" in cat2.list_tables("analytics")
        )
        meta = cat2.load_table("analytics", "region_cat")
        n_live = len(meta["x-manifest"])
        rows = (
            cat2.read_table(spark, "analytics", "region_cat")
            .groupBy((F.col("r_regionkey") % 5).cast("bigint").alias("key_mod"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("r_regionkey").cast("bigint").alias("sum_key"),
            )
            .orderBy("key_mod")
            .collect()
        )
    finally:
        srv2.stop()
    return spark.createDataFrame(
        [
            (
                r.key_mod,
                r.n_rows,
                r.sum_key,
                unauthorized_401,
                bad_token_401,
                registered,
                persisted,
                n_live,
            )
            for r in rows
        ],
        "key_mod bigint, n_rows bigint, sum_key bigint, "
        "unauthorized_401 boolean, bad_token_401 boolean, "
        "registered_via_http boolean, persisted_across_restart boolean, "
        "n_live_files bigint",
    )


@query(
    "a54_pyds_pushdown",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           CAST(4 AS BIGINT) AS n_files_total,
           CAST(1 AS BIGINT) AS n_files_scanned,
           CAST(1 AS BIGINT) AS n_files_point_lookup,
           TRUE AS empty_scan_zero
    FROM nation WHERE n_nationkey > 18
    GROUP BY 1 ORDER BY 1
    """,
)
def a54_pyds_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python DataSource V2 scan path
    (Spark 4.1 ``DataSourceReader.pushFilters``): the V2 reader
    receives the query's comparison predicates at planning time and
    prunes whole data files via the manifest's commit-time footer
    stats — plus the per-file BLOOM filters for equality — before a
    single byte is read; Spark still re-applies every predicate, so
    pruning is an optimization, never a correctness decision. This is
    the same metadata-only job Iceberg manifests do for native scans
    (and `SnapshotTable.prune_files` does engine-side), now reachable
    from the PUBLIC ``spark.read.format("snapshot").load(p)
    .filter(...)`` surface third-party integrations use.

    Fixture (SF-invariant nation, built once, cross-process-locked):
    four single-file commits with DISJOINT n_nationkey ranges
    [0-6] [7-12] [13-18] [19-24]. Facts riding the driver hash:
    `n_files_total` (4), `n_files_scanned` (a `> 18` predicate plans
    exactly the LAST file — probed through the reader's own
    pushFilters/partitions contract), `n_files_point_lookup` (an
    `= 20` equality also plans one file: range stats + bloom), and
    `empty_scan_zero` (a predicate beyond every range plans ZERO
    files and the public read returns zero rows). The certified
    aggregate itself is computed through the public filtered read —
    DuckDB recomputes it relationally from `nation`.

    At 100 TB this is the difference between "open a million files"
    and "open the dozens whose range matches" for every selective
    filter an external engine sends through the format."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    from ..sources.pyds import SnapshotDataSource, SnapshotReader

    spark.dataSource.register(SnapshotDataSource)

    def build(root: str) -> None:
        nation = T(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey"
        )
        t = SnapshotTable(
            spark, os.path.join(root, "nation")
        ).with_bloom_filters("n_nationkey")
        bounds = [(0, 6), (7, 12), (13, 18), (19, 24)]
        lo, hi = bounds[0]
        t.create(
            nation.filter(F.col("n_nationkey").between(lo, hi)).repartition(1)
        )
        for lo, hi in bounds[1:]:
            t.append(
                nation.filter(
                    F.col("n_nationkey").between(lo, hi)
                ).repartition(1)
            )

    base = os.path.join(fixture("pydspush", build), "nation")
    t = SnapshotTable(spark, base)
    entry = t.entry(t.latest_version())
    schema = t.read().schema
    n_total = len(entry["manifest"])

    def n_planned(*filters) -> int:
        r = SnapshotReader(schema, entry, base)
        list(r.pushFilters(list(filters)))
        return len(r.partitions())

    n_scanned = n_planned(GreaterThan(("n_nationkey",), 18))
    n_point = n_planned(EqualTo(("n_nationkey",), 20))
    empty_zero = (
        n_planned(GreaterThan(("n_nationkey",), 1000)) == 0
        and spark.read.format("snapshot")
        .load(base)
        .filter("n_nationkey > 1000")
        .count()
        == 0
    )
    return (
        spark.read.format("snapshot")
        .load(base)
        .filter(F.col("n_nationkey") > 18)
        .groupBy(F.col("n_regionkey").cast("bigint").alias("n_regionkey"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .select(
            "n_regionkey",
            "n_rows",
            "sum_key",
            F.lit(n_total).cast("bigint").alias("n_files_total"),
            F.lit(n_scanned).cast("bigint").alias("n_files_scanned"),
            F.lit(n_point).cast("bigint").alias("n_files_point_lookup"),
            F.lit(empty_zero).alias("empty_scan_zero"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "a55_observed_metrics",
    oracle=f"""
    WITH direct AS (
      SELECT COUNT(*) AS n_all,
             {sql_dsum('o_totalprice')} AS rev_all
      FROM orders
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_price,
           (SELECT n_all FROM direct) AS observed_rows,
           (SELECT rev_all FROM direct) AS observed_revenue,
           TRUE AS metrics_match_direct
    FROM orders o
    WHERE o.o_totalprice > 1000
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def a55_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``df.observe`` driver-certified
    (A-ext row, previously pytest-only): audit counters — total rows
    and decimal-exact revenue over the UNFILTERED input — are
    collected ON the executors during the one real pass that also
    computes the filtered per-priority aggregate; no second scan, no
    driver-side recount. This is how a 100 TB ingest job publishes
    row-count/quality counters for reconciliation without paying a
    second pass: the metrics ride the job.

    The observed values themselves ride the driver hash as columns
    (`observed_rows`, `observed_revenue`) next to the query's own
    aggregate, and `metrics_match_direct` pins that they equal an
    independent direct aggregation — DuckDB recomputes both sides
    relationally."""
    from pyspark.sql import Observation

    orders = T(spark, sf_dir, "orders")
    obs = Observation("audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_all"),
        dsum("o_totalprice").alias("rev_all"),
    )
    rows = (
        observed.filter(F.col("o_totalprice") > 1000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("o_orderpriority")
        .collect()
    )
    got = obs.get  # blocks until the action above finished
    direct = orders.agg(
        F.count(F.lit(1)).alias("n_all"),
        dsum("o_totalprice").alias("rev_all"),
    ).first()
    match = (
        int(got["n_all"]) == int(direct["n_all"])
        and float(got["rev_all"]) == float(direct["rev_all"])
    )
    return spark.createDataFrame(
        [
            (
                r.o_orderpriority,
                r.n_orders,
                r.total_price,
                int(got["n_all"]),
                float(got["rev_all"]),
                match,
            )
            for r in rows
        ],
        "o_orderpriority string, n_orders bigint, total_price double, "
        "observed_rows bigint, observed_revenue double, "
        "metrics_match_direct boolean",
    )


@query(
    "a56_catalog_resolved_scan",
    oracle=f"""
    WITH head AS (
      SELECT manifest
      FROM read_json('{_RESTCAT_BASE}/_log/*.json', format='auto',
                     columns={{'version': 'BIGINT',
                               'manifest': 'VARCHAR[]'}})
      ORDER BY version DESC LIMIT 1
    ),
    live AS (SELECT unnest(manifest) AS f FROM head),
    t AS (
      SELECT * FROM read_parquet('{_RESTCAT_BASE}/data/*.parquet',
                                 filename=true)
      WHERE regexp_extract(filename, '[^/]+$') IN (SELECT f FROM live)
    )
    SELECT CAST(n_nationkey % 5 AS BIGINT) AS key_mod5,
           COUNT(*) AS n_rows,
           CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
           (SELECT COUNT(*) FROM live) AS n_live_files,
           TRUE AS entry_off_wire,
           TRUE AS time_travel_rejected
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def a56_catalog_resolved_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP catalog resolution as the ONLY metadata path (closing
    the last contract daylight to the
    reference's `type=rest` catalog wiring, extract_load.py:42-46):
    a47 proved Spark can resolve a table through the REST client and
    scan the served file list natively; here the resolution runs
    INSIDE the public ``spark.read.format("snapshot")`` surface —
    ``option("catalog_uri", ...)`` + namespace/table options make the
    Python DataSource fetch the full commit entry (manifest + footer
    stats + blooms + delete files) off the catalog's loadTable
    response (`x-entry`); the scan plan, file pruning and delete
    application all derive from wire bytes, and the local `_log` is
    never opened by the reader.

    Facts riding the hash: `n_live_files` (the served plan skipped
    the CoW-stranded orphans a naive data/*.parquet glob would
    double-count — served count must equal DuckDB's own log-derived
    count), `entry_off_wire` (the loadTable response actually carried
    the x-entry inline and its manifest matches what the scan used),
    and `time_travel_rejected` (the catalog serves the CURRENT
    snapshot only; `version`/`timestampAsOf` options must raise, not
    silently serve the head as the past). The DuckDB oracle plans the
    SAME commit log directly from disk — a hash match is the
    two-engines-one-catalog contract with the engine side now behind
    the format string.

    At 100 TB: executors stream data straight from storage; the
    catalog round-trip is a few KB of JSON once per query — and
    because the entry rides the (cloudpickled) DataSource, executors
    never re-contact the catalog."""
    from ..sources.pyds import SnapshotDataSource
    from ..sources.restcat import RestCatalog

    spark.dataSource.register(SnapshotDataSource)
    server = _restcat_server(spark, sf_dir)

    reader = (
        spark.read.format("snapshot")
        .option("catalog_uri", server.uri)
        .option("catalog_namespace", "analytics")
        .option("catalog_table", "nation")
    )
    df = reader.load()
    # Cross-check the wire entry against an independent client read.
    meta = RestCatalog(server.uri).load_table("analytics", "nation")
    entry_off_wire = (
        isinstance(meta.get("x-entry"), dict)
        and meta["x-entry"]["manifest"] == meta["x-manifest"]
    )
    n_live = len(meta["x-manifest"])
    try:
        (
            spark.read.format("snapshot")
            .option("catalog_uri", server.uri)
            .option("catalog_namespace", "analytics")
            .option("catalog_table", "nation")
            .option("version", "1")
            .load()
            .count()
        )
        tt_rejected = False
    except Exception as e:  # noqa: BLE001 — error surfaces via py4j
        tt_rejected = "current snapshot" in str(e)
    return (
        df.groupBy((F.col("n_nationkey") % 5).cast("bigint").alias("key_mod5"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        .select(
            "key_mod5",
            "n_rows",
            "sum_key",
            F.lit(n_live).cast("bigint").alias("n_live_files"),
            F.lit(entry_off_wire).alias("entry_off_wire"),
            F.lit(tt_rejected).alias("time_travel_rejected"),
        )
        .orderBy("key_mod5")
    )
