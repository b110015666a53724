"""Empty-input robustness: every corpus operator must yield an empty
(or well-defined) result on an empty table, not crash — the state a
real pipeline hits on day one (empty landing dir, filtered-out shard,
brand-new table). Catches driver-side collects that assume rows exist
(vocab probes, seed sampling) and HOF folds over empty arrays."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    """A scale-factor dir with every table present but 0 rows."""
    d = tmp_path_factory.mktemp("sf-empty")
    for t in FIXTURE_TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0)
        df.coalesce(1).write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    return str(d)


EMPTY_SAFE = [
    "k1_dedup_exact_groups",
    "k1_dedup_exact_keep",
    "k2_ngram_jaccard",
    "k2_minhash_lsh",
    "k2_simhash",
    "k2_simhash_near_pairs",
    "k3_embedding_near_dup",
    "k3_centroid_by_label",
    "k4_text_stats",
    "k4_lang_id",
    "k4_token_count",
    "k4_fingerprint",
    "k4_corpus_stats",
    "k4_redact",
    "k5_multimodal_features",
    "k5_frame_sample",
    "k5_resize_real",
    "k5_jpeg_decode",
    "k5_media_near_dup",
    "k4_html_extract",
    "k4_html_quality_pipeline",
    "k4_unicode_nfc",
    "k4_warc_parse",
    "k4_cc_pipeline",
    "k5_mjpeg_frames",
    "k5_ulaw_decode",
    "k5_alaw_decode",
    "k5_wav_g711_decode",
    "k6_hash_split",
    "k6_uniform_sample",
    "k7_training_corpus",
    "k7_sequence_packing",
    "k8_decontaminate",
    "k2_dup_clusters",
    "k1_span_dedup",
    "k3_random_projection",
    "k5_ppm_decode",
    "k5_bmp_decode",
    "k5_gif_decode",
    "k5_webdataset_shard",
    "k6_reservoir_per_group",
    "k6_weighted_sample",
    "d10_histogram",
    "k4_tfidf_terms",
    "k3_int8_quantize",
    "j_cogroup_medians",
    "k4_repetition_filter",
    "j_udtf_term_expand",
    "q1_pricing_summary",
    "ts_sessionize",
    "ts_cohort_retention",
    "ts_interpolate",
    "c7_asof_join",
    "d7_quantiles_approx",
    "d3_approx_count_distinct",
    "k4_unigram_lm_score",
    "k6_temperature_resample",
    "ts_m4_downsample",
    "ts_zscore_anomaly",
    "h12_higher_order_funcs",
    "d11_mode_median",
    "k3_pq_quantize",
    "k5_pcm_frames",
    "k9_pagerank_dupgraph",
    "ts_ewma",
    "d12_corr_covar",
    "sql_lateral_join",
    # round-2 additions
    "k4_gopher_rules",
    "k4_bigram_lm_score",
    "k10_bm25",
    "k10_inverted_index",
    "k10_phrase_search",
    "k10_chunk_documents",
    "k2_ppjoin",
    "k5_ahash_near_dup",
    "k6_epoch_shuffle",
    "c11_scd2_join",
    # round-7 additions (review: wav was the one K5 op missing here)
    "k5_wav_decode",
    "k6_stratified_sample",
    "k6_domain_mix",
    "k10_hybrid_rrf",
]


@pytest.mark.parametrize("qname", EMPTY_SAFE)
def test_operator_survives_empty_corpus(spark, empty_sf_dir, qname):
    from lakehouse_homeserver_spark.registry import all_queries

    df = all_queries()[qname](spark, empty_sf_dir)
    assert df.count() == 0


def test_snapshot_table_empty_commit_roundtrip(spark, sf_dir, tmp_path):
    """Committing 0 rows is a legal snapshot (empty-source full load):
    schema preserved, count 0, later appends still work."""
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    nations = spark.read.parquet(f"{sf_dir}/nation.parquet")
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.create(nations.limit(0))
    assert t.read().count() == 0
    assert t.read().schema == nations.schema
    t.append(nations)
    assert t.read().count() == nations.count()
    assert t.read(version=1).count() == 0


def test_ingest_empty_landing_dir_noop(spark, tmp_path):
    from lakehouse_homeserver_spark.sources.ingest import Lakehouse, SnapshotFormat

    lh = Lakehouse(spark, fmt=SnapshotFormat(spark, str(tmp_path / "wh")))
    os.makedirs(tmp_path / "landing" / "nation", exist_ok=True)
    assert lh.load_incremental("nation", str(tmp_path / "landing")) == 0
    assert lh.load_full("nation", str(tmp_path / "landing")) == 0


def test_ivf_on_empty_corpus_raises_cleanly(spark, empty_sf_dir):
    from lakehouse_homeserver_spark.operators.similarity import k3_knn_ivf

    with pytest.raises(ValueError, match="empty"):
        k3_knn_ivf(spark, empty_sf_dir)


def test_nation_is_sf_invariant():
    """a41_cross_engine_read shares ONE fixture path across scale
    factors; that is sound only while `nation` is the TPC-H fixed
    25-row table at every SF (the property this test pins)."""
    import duckdb

    stats = {
        duckdb.sql(
            f"SELECT COUNT(*), SUM(n_nationkey) "
            f"FROM '/root/testdata/sf{sf}/nation.parquet'"
        ).fetchone()
        for sf in ("0.001", "0.01", "0.1")
        if os.path.exists(f"/root/testdata/sf{sf}/nation.parquet")
    }
    assert len(stats) == 1


def test_semdedup_and_kmeans_on_empty_corpus_raise_cleanly(
    spark, empty_sf_dir
):
    """r6 review: these two crashed with IndexError/TypeError on an
    empty embeddings table instead of the module's clean-empty
    ValueError convention (test_ivf_on_empty_corpus_raises_cleanly)."""
    from lakehouse_homeserver_spark.operators.similarity import (
        k3_kmeans,
        k3_semdedup,
    )

    with pytest.raises(ValueError, match="empty"):
        k3_semdedup(spark, empty_sf_dir)
    with pytest.raises(ValueError, match="empty"):
        k3_kmeans(spark, empty_sf_dir)


def test_int8_quantize_constant_vector(spark, tmp_path):
    """r6 review: a constant vector (max == min) made scale 0 —
    Spark NULLed every code through non-ANSI x/0 while DuckDB's
    checked cast errored. Both engines now map it to code 0 with an
    exact dequant. Cross-checked against DuckDB on the same rows."""
    import duckdb

    from lakehouse_homeserver_spark.operators.similarity import (
        QUERIES as SIM_QUERIES,
        ORACLES as SIM_ORACLES,
    )

    d = str(tmp_path)
    rows = [
        (0, 0, [0.0] * 8),          # all-zero: max == min
        (1, 1, [2.5] * 8),          # constant non-zero
        (2, 0, [float(i) for i in range(8)]),  # normal spread
    ]
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = (
        SIM_QUERIES["k3_int8_quantize"](spark, d)
        .orderBy("vec_id")
        .collect()
    )
    assert all(r.within_half_step for r in got)
    assert got[0].code_sum == 0 and got[1].code_sum == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    oracle = {
        r[0]: (r[4], r[5])
        for r in con.execute(
            SIM_ORACLES["k3_int8_quantize"] + " ORDER BY vec_id"
        ).fetchall()
    }
    for r in got:
        assert oracle[r.vec_id] == (r.code_sum, r.within_half_step)


def test_mmr_rerank_pool_smaller_than_k(spark, tmp_path):
    """r6 review: a candidate pool smaller than MMR_K emitted
    (rank, NULL, NULL) filler rows — the kernel must stop when the
    pool exhausts, matching the oracle's empty pick CTEs."""
    from lakehouse_homeserver_spark.operators.similarity import (
        MMR_K,
        QUERIES as SIM_QUERIES,
    )

    d = str(tmp_path)
    rows = [  # 3 vectors -> pool of 2 per query (< MMR_K)
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [0.9, 0.1, 0.0, 0.0]),
        (2, 1, [0.0, 1.0, 0.0, 0.0]),
    ]
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = SIM_QUERIES["k3_mmr_rerank"](spark, d).collect()
    assert got, "tiny pool must still emit picks"
    assert all(r.vec_id is not None and r.score is not None for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.sel_rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= MMR_K


def test_multimodal_kernels_null_and_empty_payload(spark, tmp_path):
    """r7 review hardening: one NULL-text or empty-text row must not
    kill a K5 decode pass (ZeroDivision/TypeError class), and for the
    kernels whose oracle defines NULL semantics the Spark side must
    MATCH that oracle on such rows (ascii('')=0, empty SUM -> NULL,
    md5(NULL) -> NULL). ppm/ahash are no-crash-only: their payload
    synth yields NULL for NULL text and the P6 contract has no
    geometry for a missing image (documented in the kernels)."""
    import duckdb

    from lakehouse_homeserver_spark.registry import all_queries, all_oracles

    d = str(tmp_path / "weird")
    spark.createDataFrame(
        [
            (1, "hello world example text", "en", "src1", 24),
            (2, "", "en", "src1", 0),
            (3, None, "en", "src2", None),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    qs, osql = all_queries(), all_oracles()
    parity = [
        "k5_multimodal_features",
        "k5_multimodal_meta",
        "k5_resize_real",
        "k5_jpeg_decode",
        "k5_mjpeg_frames",
        "k4_html_extract",
        "k4_html_quality_pipeline",
        "k4_unicode_nfc",
        "k4_warc_parse",
        "k4_cc_pipeline",
        "k5_wav_decode",
        "k5_ulaw_decode",
        "k5_alaw_decode",
        "k5_wav_g711_decode",
        "k5_pcm_frames",
        "k5_frame_sample",
    ]
    for name in parity:
        spdf = qs[name](spark, d).toPandas()
        dpdf = con.execute(osql[name]).df()
        assert len(spdf) == len(dpdf), name
        s = sorted(
            "|".join(repr(None if v != v else v) for v in row)
            for row in spdf[sorted(spdf.columns)].itertuples(
                index=False, name=None
            )
        )
        o = sorted(
            "|".join(repr(None if v != v else v) for v in row)
            for row in dpdf[sorted(dpdf.columns)].itertuples(
                index=False, name=None
            )
        )
        assert s == o, f"{name}: {s[:3]} vs {o[:3]}"
    # no-crash contract for the geometry-bound kernels
    assert qs["k5_ppm_decode"](spark, d).count() == 3
    assert qs["k5_bmp_decode"](spark, d).count() == 3
    assert qs["k5_gif_decode"](spark, d).count() == 3
    assert qs["k5_webdataset_shard"](spark, d).count() == 2  # NULL doc absent
    assert qs["k5_ahash_near_dup"](spark, d).count() >= 0
    assert qs["k5_media_near_dup"](spark, d).count() >= 0
    con.close()


def test_wav_parser_fails_loudly_on_corrupt_containers():
    """The RIFF/WAVE chunk walker's loud-failure contract (r10 —
    the PNG codec's corruption posture, applied to the audio twin):
    bad magic, a RIFF file that is not WAVE, and containers missing
    the fmt or data chunk all raise ValueError; a valid container
    with an interleaved foreign chunk still parses (the walker must
    SKIP unknown chunks, not reject them)."""
    import struct

    import pytest as _pytest

    from lakehouse_homeserver_spark.operators import multimodal as mm

    pcm = bytes(range(64))
    good = mm._build_wav(pcm)
    tag, rate, channels, bits, out = mm._parse_wav(good)
    assert (tag, rate, channels, bits) == (
        1, mm.WAV_RATE, mm.WAV_CHANNELS, mm.WAV_BITS,
    )
    assert out == pcm

    with _pytest.raises(ValueError, match="RIFF/WAVE"):
        mm._parse_wav(b"OggS" + good[4:])
    with _pytest.raises(ValueError, match="RIFF/WAVE"):
        mm._parse_wav(good[:8] + b"AVI " + good[12:])

    def container(chunks: list) -> bytes:
        body = b"WAVE"
        for cid, data in chunks:
            body += cid + struct.pack("<I", len(data)) + data
            if len(data) % 2:
                body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body

    fmt = struct.pack(
        "<HHIIHH",
        1,
        mm.WAV_CHANNELS,
        mm.WAV_RATE,
        mm.WAV_RATE * mm.WAV_CHANNELS,
        mm.WAV_CHANNELS,
        mm.WAV_BITS,
    )
    with _pytest.raises(ValueError, match="missing fmt or data"):
        mm._parse_wav(container([(b"data", pcm)]))  # no fmt
    with _pytest.raises(ValueError, match="missing fmt or data"):
        mm._parse_wav(container([(b"fmt ", fmt)]))  # no data
    # interleaved unknown chunk between fmt and data still parses
    t2, r2, c2, b2, p2 = mm._parse_wav(
        container([(b"fmt ", fmt), (b"JUNK", b"\x01\x02\x03"), (b"data", pcm)])
    )
    assert (t2, r2, c2, b2, p2) == (
        1, mm.WAV_RATE, mm.WAV_CHANNELS, mm.WAV_BITS, pcm,
    )
    # a declared RIFF size that truncates before any chunk -> both
    # required chunks unreachable -> loud failure, not silent partial
    short = bytearray(good)
    short[4:8] = struct.pack("<I", 4)  # RIFF size covers only "WAVE"
    with _pytest.raises(ValueError, match="missing fmt or data"):
        mm._parse_wav(bytes(short))


def test_map_rows_contract(spark):
    """`map_rows`, the one map path across the Python boundary: typed
    NULLs pass through (a bigint stays a NULL bigint, never a double
    or NaN), a kernel may emit 0, 1 or many rows per input row, empty
    partitions yield nothing, and a kernel's ValueError reaches the
    driver with its message."""
    from pyspark.errors import PythonException

    from lakehouse_homeserver_spark.operators.common import map_rows

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k bigint, v bigint"
    )

    fan_out = {1: 0, 2: 1, 3: 3}

    def fan(k, v):
        return [(k, v, i) for i in range(fan_out[k])]

    out = map_rows(df, fan, "k bigint, v bigint, i int")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("k", "bigint"), ("v", "bigint"), ("i", "int"),
    ]
    rows = sorted(out.collect())
    assert [(r.k, r.i) for r in rows] == [(2, 0), (3, 0), (3, 1), (3, 2)]
    assert rows[0].v is None
    assert {type(r.v) for r in rows[1:]} == {int}
    assert out.filter(F.col("v").isNull()).count() == 1
    assert out.filter(F.isnan(F.col("v").cast("double"))).count() == 0

    # more partitions than rows: most partitions are empty
    spread = map_rows(df.repartition(7), lambda k, v: [(k, v)], "k bigint, v bigint")
    assert spread.rdd.getNumPartitions() == 7
    assert sorted(spread.collect()) == sorted(df.collect())

    def boom(k, v):
        if k == 3:
            raise ValueError(f"corrupt payload in row {k}")
        return [(k,)]

    with pytest.raises(PythonException, match="ValueError: corrupt payload in row 3"):
        map_rows(df, boom, "k bigint").collect()


def test_register_views_restores_any_dropped_view(spark, sf_dir):
    """register_views' memo fast path probes every fixture view, not
    only the first: dropping a later one makes the next call
    re-register it."""
    from lakehouse_homeserver_spark.sources import TABLES, register_views

    register_views(spark, sf_dir)
    victim = TABLES[-1]
    assert victim != TABLES[0]
    spark.catalog.dropTempView(victim)
    assert not spark.catalog.tableExists(victim)
    register_views(spark, sf_dir)
    assert spark.catalog.tableExists(victim)
    assert spark.sql(f"SELECT COUNT(*) FROM {victim}").first()[0] == (
        spark.read.parquet(f"{sf_dir}/{victim}.parquet").count()
    )


def test_worker_shim_requires_matching_pyspark_release(monkeypatch, tmp_path):
    """The worker shim puts the driver's pyspark and py4j in place of
    $SPARK_HOME's pyspark.zip and py4j zip; it stays off when either
    pair are different releases or py4j is installed apart from
    pyspark."""
    import sys
    import zipfile

    import py4j
    import pyspark

    from lakehouse_homeserver_spark.session import _worker_shim_env

    def spark_home_with(version: str, py4j_version: str = py4j.__version__) -> str:
        home = tmp_path / f"{version}-{py4j_version}"
        lib = home / "python" / "lib"
        lib.mkdir(parents=True)
        with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
            zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
        with zipfile.ZipFile(lib / f"py4j-{py4j_version}-src.zip", "w") as zf:
            zf.writestr("py4j/version.py", f"__version__ = '{py4j_version}'\n")
        return str(home)

    matching = spark_home_with(pyspark.__version__)
    monkeypatch.setenv("SPARK_HOME", matching)
    shim = _worker_shim_env(sys.executable)
    assert shim["SPARK_GRAFT_REAL_PYTHON"] == sys.executable

    monkeypatch.setenv("SPARK_HOME", spark_home_with("0.0.1-other"))
    assert _worker_shim_env(sys.executable) == {}

    monkeypatch.setenv("SPARK_HOME", spark_home_with(pyspark.__version__, "0.0.1"))
    assert _worker_shim_env(sys.executable) == {}

    # py4j installed apart from pyspark: the dir the shim puts in front
    # would not hold it.
    monkeypatch.setenv("SPARK_HOME", matching)
    elsewhere = tmp_path / "other" / "py4j" / "__init__.py"
    monkeypatch.setattr(py4j, "__file__", str(elsewhere))
    assert _worker_shim_env(sys.executable) == {}


def _is_spark_archive(path: str) -> bool:
    """Whether `path` is one of the archives the JVM puts on a Python
    worker's path: pyspark.zip, the py4j source zip or a jar."""
    import fnmatch

    name = os.path.basename(path)
    return (
        name == "pyspark.zip"
        or fnmatch.fnmatch(name, "py4j-*-src.zip")
        or name.endswith(".jar")
    )


def test_worker_shim_drops_spark_archives_from_pythonpath():
    """The shim prepends the driver's pyspark dir and drops Spark's own
    archives from PYTHONPATH, keeping every other entry in order."""
    import subprocess
    import sys

    from lakehouse_homeserver_spark.session import _WORKER_SHIM

    lib = "/spark-home/python/lib"
    entries = [
        f"{lib}/pyspark.zip",
        f"{lib}/py4j-0.10.9.9-src.zip",
        "/spark-home/jars/spark-core_2.13-4.1.2.jar",
        "/keep/a",
        "/keep/user.zip",
    ]
    env = {
        **os.environ,
        "SPARK_GRAFT_PYSPARK_DIR": "/driver/site-packages",
        "SPARK_GRAFT_REAL_PYTHON": sys.executable,
        "PYTHONPATH": ":".join(entries),
    }
    out = subprocess.run(
        [_WORKER_SHIM, "-c", 'import os; print(os.environ["PYTHONPATH"])'],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == "/driver/site-packages:/keep/a:/keep/user.zip"


def test_python_worker_path_holds_no_spark_archive(spark):
    """A Python worker of the session neither has a Spark archive on
    sys.path nor a zipimporter over one: each would re-read its whole
    archive index on every task."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        archives = [
            imp.archive
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        paths = ["path"] * len(sys.path) + ["importer"] * len(archives)
        yield pa.RecordBatch.from_pydict(
            {"kind": paths, "entry": list(sys.path) + archives}
        )

    rows = spark.range(1).mapInArrow(probe, "kind string, entry string").collect()
    assert any(r.kind == "path" for r in rows)
    bad = [(r.kind, r.entry) for r in rows if _is_spark_archive(r.entry)]
    assert bad == []
