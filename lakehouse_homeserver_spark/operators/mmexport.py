"""Corpus -> training-shard export composition.

The two ends of the LLM-data pipeline also exist separately:
ingestion composes (`k4_cc_pipeline`: WARC -> extract -> Gopher gate)
and export exists standalone (`k5_webdataset_shard`: docs -> ustar
WebDataset shards -> verified parse-back). This module supplies the
missing composition on the EXPORT side: exact dedup -> Gopher quality
gate -> WebDataset shard packing -> verified parse-back, as ONE
driver-certified query that reuses the certified code paths verbatim
(`gopher_gate` from operators/text.py, `_wds_assemble` /
`wds_sample_rows` / `tar_pack` / PNG codec from
operators/multimodal.py) — no copies, so the composition cannot
drift from the standalone certificates.

Reference parity: the reference has no training-export stage at all
(its 180-LoC ELT ends in Iceberg tables,
`/root/reference/scripts/extract_load.py:130-140`); this tier is the
100 TB-pipeline extension SURVEY §2.K mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table as T

from .common import make_registry, map_rows
from .dedup import SQL_NORM, norm_text
from .multimodal import (
    WDS_N_SHARDS,
    WDS_SCHEMA,
    _wds_assemble,
    wds_sample_rows,
)
from .text import _gopher_oracle_tail, gopher_gate

QUERIES, ORACLES, query = make_registry()


def corpus_to_wds_shards(docs: DataFrame) -> DataFrame:
    """(doc_id, text) corpus -> (shard_id, shard) WebDataset tar
    shards via the certified packer. The groupBy is the synthesis
    stand-in shuffle (a trainer READS shards: one whole file per
    task, zero shuffle — same posture as `wds_shards`)."""
    body = F.expr("rpad(text || ' x', 192, text || ' x')")
    staged = docs.select(
        "doc_id",
        "text",
        F.encode(body, "UTF-8").alias("pixels"),
        (F.col("doc_id") % WDS_N_SHARDS).alias("shard_id"),
    )
    return staged.groupBy("shard_id").applyInPandas(
        _wds_assemble, "shard_id long, shard binary"
    )


@query(
    "k7_multimodal_export",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {SQL_NORM} AS nt
      FROM documents WHERE text IS NOT NULL
    ), dedup AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY md5(nt)
                                  ORDER BY doc_id) AS rn
        FROM base
      ) WHERE rn = 1
    ), gate AS (
      WITH {_gopher_oracle_tail('dedup')}
    ), survivors AS (
      SELECT d.doc_id, d.text
      FROM dedup d JOIN gate g ON g.doc_id = d.doc_id
      WHERE g.keep
    )
    SELECT doc_id,
           doc_id % {WDS_N_SHARDS} AS shard_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY doc_id % {WDS_N_SHARDS} ORDER BY doc_id
           ) - 1 AS BIGINT) AS sample_index,
           CAST(LENGTH(text) AS BIGINT) AS txt_chars,
           md5(text) AS txt_digest,
           CAST(8 AS BIGINT) AS img_w,
           CAST(8 AS BIGINT) AS img_h,
           md5(rpad(text || ' x', 192, text || ' x')) AS pixel_digest
    FROM survivors
    """,
)
def k7_multimodal_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed export pipeline: exact dedup (K1 keep-lowest
    semantics) -> Gopher gate (`gopher_gate`, the IDENTICAL
    certified rule body) -> WebDataset packing (`_wds_assemble`: real
    ustar, header checksums, same-key .txt/.img pairs with a real PNG
    payload) -> verified parse-back (`wds_sample_rows`: checksum
    walk, pairing contract, PNG decode). The oracle recomputes the
    dedup window, the gate rules, the pairing row-numbers, and both
    member digests from plaintext — so the hash certifies that ONLY
    the deduped+gated survivors were packed, in the contract layout,
    losslessly, end-to-end through the real container bytes.

    100 TB design: dedup is one hash-partition window on the content
    digest; the gate is map-only array arithmetic fused into the same
    scan; packing shuffles each surviving doc exactly once (by
    shard); parse+decode is one map-only `map_rows` pass — a shard never
    leaves the executor that read it. No driver collects, no
    all-pairs anywhere; identical scale shape to the two standalone
    certificates it composes."""
    d = T(spark, sf_dir, "documents").filter(F.col("text").isNotNull())

    # stage 1 — exact dedup, keep lowest doc_id per normalized content
    w = Window.partitionBy(F.md5(norm_text(F.col("text")))).orderBy("doc_id")
    deduped = (
        d.select("doc_id", "text")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    # stage 2 — the certified Gopher gate, survivors keep their text
    keep = gopher_gate(deduped).filter(F.col("keep")).select("doc_id")
    survivors = deduped.join(keep, "doc_id")

    # stage 3 + 4 — pack into real shards, walk them back verified
    return map_rows(corpus_to_wds_shards(survivors), wds_sample_rows, WDS_SCHEMA)
