"""Format-interop certificates: Avro manifest round-trip.

The reference's tables are Iceberg (`/root/reference/Dockerfile:57-78`,
`config/iceberg-template.properties`) — their on-disk metadata is Avro
manifest lists + manifests. The snapshot layer here keeps a JSON
commit log (documented divergence on the a47/a56 SURVEY rows);
`sources/avromanifest.py` closes the gap with a from-spec Avro
object-container codec and an exporter that materializes spec-shaped
manifest metadata beside the JSON log. This module is the driver
certificate: one query that commits a multi-snapshot table, exports
the Avro form, re-reads it with the INDEPENDENT Avro reader (no JSON
consulted), and plans a scan from the Avro-derived file set — every
divergence between the two metadata routes raises in-query, and the
surviving aggregate is hash-checked by the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table as T
from ..sources.avromanifest import (
    bound_from_bytes,
    export_avro_manifests,
    live_files_from_avro,
    _field_ids,
)
from ..sources.snapshot import SnapshotTable

from ..workspace import scratch
from .common import dsum, make_registry, sql_dsum

QUERIES, ORACLES, query = make_registry()


@query(
    "a58_avro_manifest",
    oracle=f"""
    WITH state AS (
      SELECT * FROM orders
      WHERE o_orderkey % 4 IN (0, 1)
        AND NOT COALESCE(o_totalprice < 50000.0, FALSE)
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price,
           TRUE AS avro_manifest_match,
           TRUE AS bounds_roundtrip,
           (SELECT COUNT(*) FROM state) AS avro_rows
    FROM state
    GROUP BY o_orderstatus
    """,
)
def a58_avro_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro manifest round-trip certificate (SURVEY A-ext; Iceberg
    spec "Manifests"/"Manifest Lists" + Avro OCF). Three real commits
    (create, append, CoW delete) produce a snapshot whose live set
    mixes carried-over and rewritten files; the exporter writes
    spec-shaped Avro manifest-list + manifest files beside the JSON
    log, and the INDEPENDENT reader (Avro bytes only) must
    reconstruct:

    - exactly the JSON log's live file set (set mismatch raises);
    - per-file record counts summing to the table row count;
    - column bounds that decode (Iceberg Appendix D single-value
      form) back to the JSON stats bit-for-bit (mismatch raises).

    The scan is then planned FROM THE AVRO-DERIVED FILE LIST and its
    aggregate hash-checked by the oracle — so the certificate fails if
    either metadata route could plan a different table. The TRUE
    columns ride the hash: any divergence raises before a row is
    returned.

    100 TB design: export + read are driver-side metadata ops,
    O(live files) with footer-only I/O — the same cost class as
    commit-time stats harvesting; the data plane is one parquet scan
    of the live set, identical to the JSON route's read()."""
    t = SnapshotTable(
        spark,
        os.path.join(
            scratch("avro"), "orders"
        ),
    )
    o = T(spark, sf_dir, "orders")
    t.create(o.filter(F.col("o_orderkey") % 4 == 0))
    t.append(o.filter(F.col("o_orderkey") % 4 == 1))
    t.delete_where(F.col("o_totalprice") < 50000.0)

    v = t.latest_version()
    export_avro_manifests(t, v)
    avro_files = live_files_from_avro(t.path, v)

    # -- certificate 1: file-set equality vs the JSON log ------------------
    e = t.entry(v)
    json_set = set(e["manifest"])
    avro_set = {f["file"] for f in avro_files}
    if avro_set != json_set:
        raise ValueError(
            f"Avro/JSON live-set divergence: only-avro="
            f"{sorted(avro_set - json_set)} only-json="
            f"{sorted(json_set - avro_set)}"
        )

    # -- certificate 2: bounds decode back to the JSON stats ---------------
    ids = _field_ids(e["schema"])
    by_id = {fid: (col, typ) for col, (fid, typ) in ids.items()}
    serializable = {
        col for col, (_fid, typ) in ids.items()
        if typ in ("integer", "int", "long", "bigint", "float", "double",
                   "string")
    }
    for f in avro_files:
        stats = e["stats"].get(f["file"], {})
        decoded: dict[str, list] = {}
        for lo_kv, hi_kv in zip(
            f["lower_bounds"] or [], f["upper_bounds"] or []
        ):
            col, typ = by_id[lo_kv["key"]]
            decoded[col] = [
                bound_from_bytes(typ, lo_kv["value"]),
                bound_from_bytes(typ, hi_kv["value"]),
            ]
        # the exporter serializes exactly the JSON-stats columns with a
        # spec bound encoding — the decode must reproduce them ALL
        expected = {
            c: list(v_) for c, v_ in stats.items() if c in serializable
        }
        if decoded != expected:
            raise ValueError(
                f"bounds round-trip divergence on {f['file']}: "
                f"{decoded} vs {expected}"
            )

    # -- certificate 3: row counts ----------------------------------------
    avro_rows = sum(f["record_count"] for f in avro_files)
    if avro_rows != e["row_count"]:
        raise ValueError(
            f"Avro record_count sum {avro_rows} != log row_count "
            f"{e['row_count']}"
        )

    # -- plan the scan from the AVRO-derived file list ---------------------
    paths = [os.path.join(t.path, "data", f) for f in sorted(avro_set)]
    df = spark.read.schema(t.schema(v)).parquet(*paths)
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("avro_manifest_match", F.lit(True))
        .withColumn("bounds_roundtrip", F.lit(True))
        .withColumn("avro_rows", F.lit(avro_rows).cast("bigint"))
    )
