"""Physical-plan assertions (SURVEY.md §4): the properties that decide
whether a query survives a 100× scale-up, checked mechanically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_homeserver_spark.operators import dedup, relational, similarity
from lakehouse_homeserver_spark.plans import (
    assert_no_cartesian,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = relational.b_filter_predicates(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed
    assert "l_discount" in pushed
    assert "l_returnflag" in pushed


def test_column_pruning(spark, sf_dir):
    df = relational.b_filter_predicates(spark, sf_dir)
    scans = read_schema_columns(df)
    assert scans, "no parquet scan found"
    # lineitem has 11 columns; the query needs only 6 (5 out + linestatus)
    assert all(len(cols) <= 6 for cols in scans), scans


def test_q1_scan_prunes_columns(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    scans = read_schema_columns(df)
    # needs 7 of 11 lineitem columns
    assert all(len(cols) <= 7 for cols in scans), scans


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = relational.c1_join_revenue_by_nation(spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)


def test_semi_anti_joins_no_cartesian(spark, sf_dir):
    assert_no_cartesian(relational.c3_join_semi(spark, sf_dir))
    assert_no_cartesian(relational.c3_join_anti(spark, sf_dir))


def test_theta_join_keeps_equi_key(spark, sf_dir):
    """The nationkey equi-condition must keep this a hash/merge join,
    never a nested loop over the cross product."""
    assert_no_cartesian(relational.c4_theta_join(spark, sf_dir))


def test_topk_uses_window_group_limit(spark, sf_dir):
    """row_number-only top-k gets the WindowGroupLimit rewrite (per-
    partition heads shipped instead of full partitions). e1_window_rank
    deliberately includes ntile, which opts out of the rewrite — f4 is
    the scale-path formulation."""
    plan = formatted_plan(relational.f4_topk_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_sort_limit_avoids_global_sort(spark, sf_dir):
    plan = formatted_plan(relational.f2_sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    """The LSH pipeline's entire point: candidate pairs via equi-join
    on band hashes, never an n^2 cross join."""
    assert_no_cartesian(dedup.k2_minhash_lsh(spark, sf_dir))


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    assert_no_cartesian(dedup.k2_simhash_near_pairs(spark, sf_dir))


def test_substr_dedup_no_cartesian_and_repeat_bounded(spark, sf_dir):
    """Rolling-substring dedup must stay equi-join-shaped (gram-hash
    join, never pairwise span comparison), and only REPEATED grams
    (occ > 1) may return through the join-back — the filter that
    keeps the join output bounded by true repeats."""
    df = dedup.k1_substr_dedup(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "occ" in plan and "> 1" in plan, (
        "occ>1 repeat filter missing — join-back would carry every "
        "gram occurrence instead of only true repeats"
    )


def test_knn_bruteforce_broadcasts_queries(spark, sf_dir):
    """Exact KNN: the query side must broadcast (corpus never
    shuffles). A nested-loop join IS the right plan here - against a
    broadcast of 10 rows."""
    df = similarity.k3_knn_bruteforce(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    # The only shuffle allowed is the tiny post-WindowGroupLimit
    # exchange on query_id; the corpus scan reaches the join and the
    # partial top-k unshuffled. (In formatted mode a shuffle renders
    # as "+- Exchange (n)"; BroadcastExchange doesn't match.)
    assert plan.count("- Exchange (") == 1
    assert "WindowGroupLimit" in plan


def test_knn_lsh_equi_join_on_bucket(spark, sf_dir):
    df = similarity.k3_knn_lsh(spark, sf_dir)
    assert_no_cartesian(df)


def test_near_dup_no_cartesian(spark, sf_dir):
    assert_no_cartesian(similarity.k3_embedding_near_dup(spark, sf_dir))


def test_tpch_q5_broadcasts_dims_and_pushes_filters(spark, sf_dir):
    """The 6-way star join: region/nation/supplier (and customer at
    fixture scale) must ride broadcast-hash joins — the only shuffle
    should be the final groupBy — and the date-range predicate must
    reach the orders parquet scan."""
    from lakehouse_homeserver_spark.registry import all_queries

    df = all_queries()["tpch_q5_local_supplier_volume"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert_no_cartesian(df)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed


def test_subqueries_decorrelate_to_joins(spark, sf_dir):
    """EXISTS / IN / correlated-scalar subqueries must compile to
    semi/anti/aggregate joins — per-row subquery re-execution would be
    a driver-side loop at scale."""
    from lakehouse_homeserver_spark.registry import all_queries

    for q in (
        "sql_exists_correlated",
        "sql_in_subquery",
        "sql_scalar_subquery",
        # per-part 20%-of-avg threshold (correlated scalar agg)
        "tpch_q17_small_quantity_revenue",
        # EXISTS + NOT EXISTS with a non-equi correlated predicate
        "tpch_q21_waiting_supplier",
    ):
        df = all_queries()[q](spark, sf_dir)
        assert_no_cartesian(df)
        plan = formatted_plan(df)
        assert "Subquery" not in plan.split("== Physical Plan ==")[-1].split(
            "Subqueries"
        )[0] or "Join" in plan
    for q in (
        # nested IN + correlated scalar agg over lineitem (Q20) and
        # correlated MIN over the regional supplier pool (Q2). Their
        # partsupp derivation contains two INTENDED tiny nested-loop
        # broadcasts (the 1-row supplier-count scalar and the 4-row
        # VALUES stride list), so only true cartesians are banned.
        "tpch_q20_part_promotion",
        "tpch_q2_min_cost_supplier",
    ):
        df = all_queries()[q](spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "Join" in plan


def test_ivf_assignment_is_map_only(spark, sf_dir):
    """IVF cluster assignment must not shuffle the corpus: the only
    exchanges allowed are the broadcast of the probed queries and the
    final top-k window shuffle (keyed by query_id, tiny)."""
    df = similarity.k3_knn_ivf(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    # corpus side reaches the join via scan→project→filter only
    assert "BroadcastExchange" in plan


def test_range_frame_single_window_pass(spark, sf_dir):
    from lakehouse_homeserver_spark.registry import all_queries

    plan = formatted_plan(all_queries()["e3_window_range_frame"](spark, sf_dir))
    assert plan.count("Window") >= 1
    assert_no_cartesian(all_queries()["e3_window_range_frame"](spark, sf_dir))


@pytest.mark.parametrize(
    "qname",
    [
        "c2_join_left_outer",
        "d2_group_agg",
        "e3_window_running",
        "g_union",
        "k1_dedup_exact_groups",
        "k2_ngram_jaccard",
        "k4_text_stats",
        "tpch_q3_shipping_priority",
        "c6_range_join_bucketized",
        "c8_salted_skew_join",
        "tpch_q10_returned_items",
        "sql_grouping_sets",
        "d8_pivot",
        "ts_rich_sessions",
    ],
)
def test_no_accidental_cartesian_anywhere(spark, sf_dir, qname):
    from lakehouse_homeserver_spark.registry import all_queries

    assert_no_cartesian(all_queries()[qname](spark, sf_dir))


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key co-locates matching rows:
    the sort-merge join must contain ZERO shuffle exchanges — the
    physical contract that makes repeated fact-fact joins affordable
    at 100 TB (shuffle once at write time, never again at read)."""
    from lakehouse_homeserver_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketed")
    for name, df, key in (("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS bucketed.{name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(f"bucketed.{name}")
        )
    # Force the sort-merge path: at fixture scale orders fits the
    # broadcast threshold and the planner would (correctly) broadcast
    # instead of using bucketing. At 100 TB neither side broadcasts —
    # that's the regime this test pins down.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("bucketed.b_lineitem")
            .join(
                spark.table("bucketed.b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("l_orderkey", "l_extendedprice", "o_orderpriority")
        )
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("b_orders", "b_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS bucketed.{name}")


def test_sequence_packing_single_shard_exchange(spark, sf_dir):
    """Packing must parallelize by shard: exactly one hash exchange
    (on shard, feeding the window + partial agg) and no global sort
    outside window partitions."""
    from lakehouse_homeserver_spark.operators.pipeline import k7_sequence_packing

    plan = formatted_plan(k7_sequence_packing(spark, sf_dir))
    assert plan.count("- Exchange (") <= 2  # shard window + final agg (AQE may merge)
    assert "Window" in plan
    # No global (single-partition) sort: every Sort sits under the
    # shard-partitioned window, which the shard Exchange precedes.
    assert "rangepartitioning" not in plan.lower()


def test_redact_is_map_only(spark, sf_dir):
    """The scrub is scan+project: no exchange, no join, no aggregate."""
    from lakehouse_homeserver_spark.operators.text import k4_redact

    plan = formatted_plan(k4_redact(spark, sf_dir))
    assert "- Exchange (" not in plan
    assert "Join" not in plan


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs predicate must decompose into pushed filters on
    BOTH the lineitem and part scans (Or(...) in PushedFilters), with
    the part side broadcast."""
    from lakehouse_homeserver_spark.registry import all_queries

    df = all_queries()["tpch_q19_disjunctive_pricing"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "Or(" in l]
    assert len(pushed) >= 2, pushed


def test_knn_lsh_probe_join_is_equi(spark, sf_dir):
    """Multi-probe ANN: candidates come from an integer-bucket
    equi-join against a broadcast probe list — never a cartesian."""
    df = similarity.k3_knn_lsh(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """k8: the eval-set gram list must reach the corpus via a
    broadcast hash join (corpus side stays map-only before the join);
    a shuffled or nested-loop join would move the 100 TB side."""
    from lakehouse_homeserver_spark.operators.dedup import k8_decontaminate

    df = k8_decontaminate(spark, sf_dir)
    assert_no_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan


def test_repetition_filter_no_cartesian(spark, sf_dir):
    from lakehouse_homeserver_spark.operators.text import k4_repetition_filter

    assert_no_cartesian(k4_repetition_filter(spark, sf_dir))


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout (partitionBy at write): a filter
    on the partition column must become a PartitionFilter — directory
    pruning before any file is opened. At 100 TB this is the
    difference between scanning one day and scanning the lake."""
    from lakehouse_homeserver_spark.sources import load_table

    path = str(tmp_path / "orders_by_year")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(path)
    )
    df = (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1996)
        .select("o_orderkey", "o_totalprice")
    )
    plan = formatted_plan(df)
    part = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "o_year" in part, plan
    # and the data-column projection still prunes the read schema
    scans = read_schema_columns(df)
    assert scans and all(len(cols) <= 2 for cols in scans), scans


def test_reservoir_sample_uses_window_group_limit(spark, sf_dir):
    """The deterministic per-group reservoir must execute as
    WindowGroupLimit (map-side top-10 per group by hash, i.e. the
    reservoir algorithm) — not a full-partition sort-and-filter."""
    from lakehouse_homeserver_spark.operators import sampling

    plan = formatted_plan(sampling.k6_reservoir_per_group(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """At 100 TB the win on selective shuffle joins is Spark's runtime
    bloom-filter injection: a bloom built from the filtered build side
    is pushed into the probe-side scan so non-matching rows die before
    the exchange. Fixture tables sit under the default 10 GiB
    application-side threshold, so tune the thresholds down and pin
    that the rewrite actually fires (bloom_filter_agg on the build
    side + bloom_filter_might_contain on the probe side)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10000000",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        # force a shuffle join: broadcast joins bypass the bloom path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = formatted_plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    """MIN/MAX/COUNT with no filter can be answered from parquet
    footer statistics without scanning a single data page — at 100 TB
    that's a metadata planning query, not a cluster job. Requires the
    DSv2 parquet path; pin both the PushedAggregation marker and the
    result's correctness."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.parquet.aggregatePushdown",
            "spark.sql.sources.useV1SourceList",
        )
    }
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.parquet(f"{sf_dir}/orders.parquet").agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.count("*").alias("n"),
        )
        plan = formatted_plan(df)
        assert "PushedAggregation: [MIN(o_orderkey), MAX(o_orderkey), COUNT(*)]" in plan
        row = df.first()
        full = spark.read.parquet(f"{sf_dir}/orders.parquet")
        assert row.n == full.count()
        lohi = full.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
        assert (row.lo, row.hi) == (lohi[0], lohi[1])
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_weighted_sample_uses_distributed_topk(spark, sf_dir):
    """The E-S weighted sample must plan as TakeOrderedAndProject
    (per-partition top-20 then a 20-row exchange), never a global
    single-partition sort of the corpus."""
    from lakehouse_homeserver_spark.operators import sampling

    plan = formatted_plan(sampling.k6_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_m4_downsample_single_exchange(spark, sf_dir):
    """Both ROW_NUMBER windows and the final groupBy of the M4
    reduction share (event_type, bucket) partitioning — the physical
    plan must contain exactly ONE shuffle. A second exchange would
    mean the window and aggregate keys diverged."""
    from lakehouse_homeserver_spark.operators import timeseries

    df = timeseries.ts_m4_downsample(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_temperature_resample_corpus_not_shuffled(spark, sf_dir):
    """The thinning decision is map-only: the documents scan must
    reach its per-source counting aggregate through a broadcast join
    of the rate table, never a corpus-sized hash-partition exchange
    keyed on source before the join."""
    from lakehouse_homeserver_spark.operators import sampling

    df = sampling.k6_temperature_resample(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan


# Queries whose physical plan legitimately contains a
# BroadcastNestedLoopJoin — every entry is a bounded broadcast side:
# a 1-row scalar aggregate (total counts / corpus stats / budget),
# a ≤dozens-row model table (quotas, rates, query vectors, spines),
# or a deliberate non-equi/cross semantic (c4, c6 bands).
BNLJ_ALLOWED = {
    "c4_cross_join",            # the cross join operator itself
    "c4_theta_join",            # non-equi predicate by definition
    "c6_range_join",            # broadcast-band variant (bucketized twin is equi)
    "k3_knn_bruteforce",        # broadcast 10-query set over corpus scan
    "k10_hybrid_rrf",           # same bounded flank: broadcast query
                                # vectors over ONE corpus scan (dense
                                # branch of the RRF fusion)
    "k3_ivf_recall",            # inherits bruteforce + IVF parents
    "k3_ivfpq_search",          # certificate inherits the bruteforce side
    "k3_mmr_rerank",            # pool-sized rerank over top-k output
    "d3_hll_sketch_merge",      # 1-row exact-side bound check
    "d10_histogram",            # 1-row (min,max) range broadcast
    "d16_histogram_quantiles",  # 1-row range + 2-row quantile broadcast
    "d17_theta_sketch_setops",  # 1-row sketch x 1-row exact broadcast
    "k4_tfidf_terms",           # 1-row n_docs broadcast
    "k10_bm25",                 # 1-row (n_docs, total_dl) broadcast
    "k4_unigram_lm_score",      # 1-row token-total broadcast
    "k4_bigram_lm_score",       # 1-row token-total broadcast (backoff)
    "k4_dsir_importance",       # 1-row totals broadcast into bucket weights
    "ts_funnel",                # per-stage time-window predicates (non-equi)
    "ts_interpolate",           # hour-spine to series non-equi flank join
    "tpch_q2_min_cost_supplier",        # 1-row min-cost scalar subquery
    "tpch_q9_product_profit",           # partsupp CTE stride (4-row NL)
    "tpch_q11_important_stock",         # 1-row value-threshold scalar
    "tpch_q16_part_supplier_relationship",  # partsupp CTE stride
    "tpch_q20_part_promotion",          # partsupp CTE stride
    "k6_domain_mix",            # 1-row budget × per-domain quota broadcast
    "k6_temperature_resample",  # 1-row totals feeding the rate table
    "k6_epoch_shuffle",         # literal 2-row epoch multiplier
    "a32_zorder_skipping",      # 1-row (max x, max y) grid-bounds broadcast
    "k8_bloom_decontaminate",   # 1-row n_train x 1-row agg result stitch
}


def test_no_cartesian_anywhere_and_bnlj_only_where_bounded(spark, sf_dir):
    """Global plan audit over EVERY registered query: a CartesianProduct
    node is never acceptable (it means a join lost its keys — the
    classic silent 100TB-killer), and BroadcastNestedLoopJoin may only
    appear where the broadcast side is bounded by construction
    (whitelist above, each entry justified). A new query that
    accidentally plans a cartesian — or an edit that drops an equi-key
    — fails here mechanically, not in a code review."""
    from lakehouse_homeserver_spark.registry import all_queries

    offenders_cart = []
    offenders_bnlj = []
    for name, fn in all_queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            offenders_bnlj.append(name)
    assert not offenders_cart, f"cartesian products in: {offenders_cart}"
    assert not offenders_bnlj, (
        f"unexpected BroadcastNestedLoopJoin in: {offenders_bnlj} — "
        "either restore the equi-key or whitelist with justification"
    )


def test_hashed_classifier_is_map_only(spark, sf_dir):
    """k4_hashed_classifier: feature hashing + score fold are lambda
    expressions over the token array — zero exchanges, no explode."""
    from lakehouse_homeserver_spark.operators import text

    plan = formatted_plan(text.k4_hashed_classifier(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode


def test_bpe_token_count_map_path_is_shuffle_free(spark, sf_dir):
    """k4_bpe_token_count, bounded vocabulary (r8): the word→count
    map is a literal expression folded per document — ZERO exchanges,
    no explode, no join; one corpus pass."""
    from lakehouse_homeserver_spark.operators import text

    df = text.k4_bpe_token_count(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "Join" not in plan, plan


def test_bpe_token_count_large_vocab_broadcasts(spark, sf_dir, monkeypatch):
    """k4_bpe_token_count, large-vocabulary path (forced by zeroing
    the driver-path threshold): the word→token-count map joins onto
    the corpus word stream as a BROADCAST join (the corpus side never
    shuffles for the join), and the only exchanges are the vocab-side
    aggregates + the final per-doc agg. Values must match the map
    path exactly — same query, two physical plans."""
    from lakehouse_homeserver_spark.operators import text

    want = sorted(map(tuple, text.k4_bpe_token_count(spark, sf_dir).collect()))
    monkeypatch.setattr(text, "BPE_DRIVER_VOCAB_MAX", 0)
    df = text.k4_bpe_token_count(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert_no_cartesian(df)
    assert sorted(map(tuple, df.collect())) == want


def test_bpe_token_count_map_cap_routes_to_broadcast(
    spark, sf_dir, monkeypatch
):
    """k4_bpe_token_count, driver-trained vocabulary ABOVE the
    tokenize-map cap (r9, VERDICT r8 #4): training stays driver-side
    but the tokenizer must NOT build a literal create_map (GetMapValue
    on a literal map is a per-lookup linear scan — measured knee
    ~200-400 words, scripts/bpe_map_boundary.py) — it routes through
    the broadcast-join arm instead. Values equal the map path."""
    from lakehouse_homeserver_spark.operators import text

    want = sorted(map(tuple, text.k4_bpe_token_count(spark, sf_dir).collect()))
    monkeypatch.setattr(text, "BPE_TOKENIZE_MAP_MAX", 0)
    df = text.k4_bpe_token_count(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "map_from" not in plan and "create_map" not in plan.lower(), plan
    assert sorted(map(tuple, df.collect())) == want


def test_variant_extraction_pushes_column_pruning(spark, sf_dir):
    """h13_variant: the scan reads only the two needed columns."""
    from lakehouse_homeserver_spark.operators import relational

    scans = read_schema_columns(relational.h13_variant(spark, sf_dir))
    assert scans and all(len(cols) <= 2 for cols in scans), scans


def test_bm25_broadcasts_terms_topk_is_window_group_limit(spark, sf_dir):
    """k10_bm25: the corpus token stream must be filtered by a
    BROADCAST of the query-term list (the corpus never shuffles
    whole), and the final top-k must plan as WindowGroupLimit."""
    from lakehouse_homeserver_spark.operators import retrieval

    plan = formatted_plan(retrieval.k10_bm25(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_scd2_join_keeps_the_equi_key(spark, sf_dir):
    """c11_scd2_join: Catalyst must extract the custkey equi-key and
    keep the validity window as a residual — a dropped key turns the
    temporal join into a nested loop over facts x history."""
    from lakehouse_homeserver_spark.operators import timeseries

    plan = formatted_plan(timeseries.c11_scd2_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_kicks_in(spark, sf_dir, tmp_path):
    """§4 optimizer row: DPP. With the fact table PARTITIONED on the
    join key's functional image (order year), a selective dim-side
    filter must inject a runtime subquery filter into the fact scan
    (PartitionFilters: dynamicpruning...) so only matching partition
    directories are read — the partition-level analogue of the
    runtime bloom filter, and the mechanism that makes star joins
    over date-partitioned 100 TB facts read weeks instead of years."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    fact_dir = str(tmp_path / "orders_by_year")
    orders.write.partitionBy("o_year").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # The dim predicate must be UNKNOWABLE at plan time (a static
    # o_year=1995 constant-folds into ordinary partition pruning —
    # verified: PartitionFilters gets the literal and DPP never
    # fires). Filtering on a runtime aggregate keeps the qualifying
    # years runtime-only, so the fact scan must take a
    # dynamicpruning subquery filter instead.
    dim_dir = str(tmp_path / "year_dim")
    orders.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("cnt")
    ).write.mode("overwrite").parquet(dim_dir)
    dim = spark.read.parquet(dim_dir)
    threshold = int(
        dim.agg(F.max("cnt")).collect()[0][0]
    )  # only the busiest year(s) qualify
    joined = fact.join(
        dim.filter(F.col("cnt") >= threshold), "o_year"
    ).groupBy("o_year").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    picked = {r["o_year"] for r in joined.collect()}
    want = {
        r["o_year"]
        for r in dim.filter(F.col("cnt") >= threshold).collect()
    }
    assert picked == want and picked


def test_kmeans_assignment_is_map_only_update_is_partial_agg(spark, sf_dir):
    """k3_kmeans: the Lloyd assignment is a literal-broadcast argmin
    expression (no Join anywhere in the plan), the centroid update is
    a partial-aggregated groupBy whose shuffle carries only k rows,
    and the scan prunes to the embedding column."""
    from lakehouse_homeserver_spark.operators import similarity

    df = similarity.k3_kmeans(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine
    scans = read_schema_columns(df)
    assert scans and all(len(cols) <= 2 for cols in scans), scans


def test_bloom_decontaminate_broadcasts_filter_words(spark, sf_dir):
    """k8_bloom_decontaminate: the probe side joins the <=1041-row
    bloom word table as a BROADCAST (the corpus gram stream never
    shuffles for the membership test)."""
    df = dedup.k8_bloom_decontaminate(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # the only nested loop is the final 1-row x 1-row result stitch
    assert_no_cartesian(df, allow_broadcast_nl=True)
