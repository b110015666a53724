"""Sampling & dataset-split operators — training-data pipeline staples.

A 100 TB corpus is never consumed whole: pipelines carve
deterministic train/eval splits, stratified subsamples for quality
audits, and uniform samples for statistics. Three rules at scale:

- **Hash-based splits, not random()**: membership must be a pure
  function of the row key so it is stable across re-runs, engines,
  and partitionings (random() changes under retry/reordering). The
  split here is md5-based and reproduced bit-for-bit by the DuckDB
  oracle.
- **Map-only**: every operator below is a filter/projection — no
  shuffle, no driver collection; sampling 100 TB costs one scan.
- **Seeded Bernoulli for quick looks**: `df.sample(seed=)` is
  deterministic per (seed, partitioning) — fine for interactive
  stats, wrong for persistent splits; both are exposed, documented
  apart.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table as T

from .common import make_registry, pin

QUERIES, ORACLES, query = make_registry()


def split_bucket(key, buckets: int = 100) -> F.Column:
    """Deterministic bucket 0..buckets-1 from a row key: first 8 hex
    chars of md5 → int → mod. Engine-portable (md5 is md5 everywhere)
    and key-stable — the contract a train/test split needs."""
    col = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % buckets
    )


SQL_BUCKET = (
    "CAST(CAST('0x' || SUBSTRING(md5(CAST({key} AS VARCHAR)), 1, 8) AS BIGINT)"
    " AS BIGINT) % 100"
)


@query(
    "k6_hash_split",
    oracle=f"""
    SELECT CASE WHEN {SQL_BUCKET.format(key="doc_id")} < 80
                THEN 'train' ELSE 'eval' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def k6_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/eval split of the corpus, audited per
    language. Membership is a pure function of doc_id (md5 bucket), so
    the split is identical across engines, re-runs, and cluster
    layouts — verified bit-for-bit by the DuckDB oracle computing the
    same md5 arithmetic.
    """
    d = T(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "split",
            F.when(split_bucket("doc_id") < 80, "train").otherwise("eval"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _binomial_ok(n_sampled, n_total, frac) -> F.Column:
    """|observed − f·n| ≤ 5·sqrt(f(1−f)n) + 1 — a ~5-sigma binomial
    bound, deterministic-in-practice (P(false alarm) ~ 1e-6 per
    stratum) yet meaningful at every stratum size and scale factor.
    This is how seeded-engine-specific samples get a cross-engine
    oracle: the oracle recomputes the exact stratum sizes and pins the
    bound column to TRUE.

    `frac` is a float OR a per-row Column (per-stratum fractions) —
    the Column form exists so k6_stratified_sample shares this body
    instead of hand-copying the formula."""
    f = F.lit(frac) if isinstance(frac, float) else frac
    expect = f * n_total
    slack = F.lit(5.0) * F.sqrt(f * (F.lit(1.0) - f) * n_total) + F.lit(1.0)
    return F.abs(n_sampled - expect) <= slack


@query(
    "k6_stratified_sample",
    oracle="""
    SELECT lang, COUNT(*) AS n_total, TRUE AS frac_ok
    FROM documents GROUP BY lang
    """,
)
def k6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Bernoulli sample: 50 % of en, 10 % of everything
    else (the 'rebalance a skewed corpus' op). `sampleBy` evaluates a
    seeded hash per row — map-only, no shuffle.

    Output = per-stratum audit: exact stratum size (a real value the
    DuckDB oracle recomputes) + the sampled-fraction bound boolean.
    """
    d = T(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "fr": 0.1, "es": 0.1, "zh": 0.1, "de": 0.1}
    tot = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    samp = (
        d.sampleBy("lang", fractions, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    frac = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in fractions.items()],
        F.lit(0.0),
    )
    joined = tot.join(samp, "lang", "left").fillna(0, subset=["n_sampled"])
    return joined.select(
        "lang",
        "n_total",
        _binomial_ok(
            F.col("n_sampled"), F.col("n_total"), frac
        ).alias("frac_ok"),
    )


@query(
    "k6_uniform_sample",
    oracle="""
    SELECT source, COUNT(*) AS n_total, TRUE AS frac_ok
    FROM documents GROUP BY source
    """,
)
def k6_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded uniform 10 % sample audited per source — the interactive
    'eyeball statistics' op. Same bound-boolean oracle pattern as
    k6_stratified_sample; the exact per-source totals are real value
    columns the oracle recomputes independently.
    """
    d = T(spark, sf_dir, "documents")
    tot = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    samp = (
        d.sample(fraction=0.1, seed=7)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    joined = tot.join(samp, "source", "left").fillna(0, subset=["n_sampled"])
    return joined.select(
        "source",
        "n_total",
        _binomial_ok(F.col("n_sampled"), F.col("n_total"), 0.1).alias("frac_ok"),
    )


@query(
    "k6_reservoir_per_group",
    oracle=f"""
    SELECT lang, doc_id, pick_rank FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS pick_rank
      FROM documents
    ) WHERE pick_rank <= 10
    """,
)
def k6_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (10 docs per language) — the
    "reservoir sampling" need, made DETERMINISTIC: order each group by
    md5(doc_id) (a uniform pseudo-random permutation that both engines
    compute identically) and keep the first 10. Same statistical
    behavior as a seeded reservoir — every doc equally likely under
    the hash permutation — but reproducible across engines, re-runs
    and partitionings, which a `rand()`-seeded sample is not.

    Plan: one window per group with a rank-limit predicate — Spark
    compiles this to WindowGroupLimit, so each partition keeps only
    its current top-10 by hash BEFORE the shuffle (exactly the
    reservoir algorithm, executed map-side); the exchange carries
    ~10 rows per group per partition, not the corpus.
    """
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id")
        .withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 10)
    )


@query(
    "k6_weighted_sample",
    oracle="""
    SELECT doc_id, n_chars, pick_rank FROM (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (
               ORDER BY ln(CAST(CAST('0x' ||
                     substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) AS DOUBLE) / 1152921504606846976.0)
                 / n_chars DESC,
               doc_id
             ) AS pick_rank
      FROM documents
    ) WHERE pick_rank <= 20
    """,
)
def k6_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res): each doc gets key ln(u)/w for a uniform u and weight
    w = n_chars; the top-20 keys ARE a weighted sample — longer docs
    proportionally likelier, no sequential pass, no rejection loop.
    The standard trick for 'sample training docs by length/quality
    weight' at scale: one WindowGroupLimit top-k, map-side, no global
    sort of the corpus.

    Determinism: u is md5-derived (15 hex chars / 2^60 — the same
    bigint->double rounding in both engines), so the sample is
    reproducible across engines and re-runs, unlike rand()-seeded
    weighted sampling. ln() may differ from libm by an ulp; adjacent
    keys are ~1e-3 apart vs ~1e-16 ulp noise, and doc_id tie-breaks,
    so the selected set is stable (documented, not assumed — the
    oracle hash-checks it).
    """
    d = T(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(float(1 << 60))
    )
    # Distributed top-k (TakeOrderedAndProject: per-partition heads,
    # k-row exchange) — NOT a global row_number window, which would
    # funnel the corpus through one partition. The rank is assigned
    # afterwards on the 20 survivors.
    top = (
        d.select("doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(20)
    )
    win = Window.orderBy(F.desc("k"), "doc_id")
    return top.select(
        "doc_id", "n_chars", F.row_number().over(win).alias("pick_rank")
    )


@query(
    "k6_domain_mix",
    oracle="""
    WITH w AS (
      SELECT source, COUNT(*) AS n_avail,
             CAST(SUBSTRING(source, 4) AS BIGINT) + 1 AS wt
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(wt) AS wsum FROM w),
    budget AS (
      SELECT CAST(FLOOR(MIN(n_avail * wsum / CAST(wt AS DOUBLE))) AS BIGINT)
             AS n_star
      FROM w, tot
    ),
    quota AS (
      SELECT source, n_avail,
             CAST(FLOOR(n_star * wt / CAST(wsum AS DOUBLE)) AS BIGINT) AS n_take
      FROM w, tot, budget
    ),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS pick_rank
      FROM documents
    )
    SELECT r.doc_id, r.source, r.pick_rank, q.n_take
    FROM ranked r JOIN quota q USING (source)
    WHERE r.pick_rank <= q.n_take
    """,
)
def k6_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling — the 'data mixing' stage of a
    training pipeline: given a target weight per source domain,
    downsample each domain so the output corpus matches the target
    mixture EXACTLY, at the largest size the inventory allows
    (no upsampling; the scarcest-relative-to-weight domain binds the
    budget: N* = floor(min_s n_s * W / w_s)).

    Weights here derive from the source name (src<i> -> i+1) so the
    demo is self-contained; in production they are a tiny dimension
    table — same plan either way, the quota side stays broadcast-size
    (one row per domain).

    Plan shape at 100 TB: one groupBy(source) for the inventory
    (partial-agg, tiny result), the budget as a 1-row reduction over
    it, then one shuffle of the corpus by source for the md5-rank
    window, filtered by the broadcast per-domain quota. The rank
    filter cannot use WindowGroupLimit (the limit is per-group,
    decided at runtime), so the window shuffle is the op's one
    corpus-sized exchange — same cost class as the groupBy a plain
    stratified sample needs. Selection inside each domain is the
    md5-permutation reservoir (deterministic, engine-portable,
    uniform over the domain).
    """
    d = T(spark, sf_dir, "documents")
    # pin: the inventory is ~one row per domain, but the
    # wt/tot/budget/quota chain hangs 3 broadcast subtrees off it and
    # Spark re-executes the corpus groupBy under each one (no CSE
    # across broadcast-exchange boundaries; the same
    # measured behavior retrieval.py documents). Materializing the
    # tiny table once makes every derivation corpus-free.
    w = (
        pin(d.groupBy("source").agg(F.count(F.lit(1)).alias("n_avail")))
        .select(
            "source",
            "n_avail",
            (F.substring("source", 4, 10).cast("bigint") + 1).alias("wt"),
        )
    )
    tot = w.agg(F.sum("wt").alias("wsum"))
    quota_base = w.crossJoin(F.broadcast(tot))
    budget = quota_base.agg(
        F.floor(
            F.min(F.col("n_avail") * F.col("wsum") / F.col("wt").cast("double"))
        ).alias("n_star")
    )
    quota = (
        quota_base.crossJoin(F.broadcast(budget))
        .select(
            "source",
            "n_avail",
            F.floor(
                F.col("n_star") * F.col("wt") / F.col("wsum").cast("double")
            ).alias("n_take"),
        )
    )
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("pick_rank"),
    )
    return ranked.join(F.broadcast(quota), "source").filter(
        F.col("pick_rank") <= F.col("n_take")
    ).select("doc_id", "source", "pick_rank", "n_take")


@query(
    "k6_temperature_resample",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_i FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_i) AS DOUBLE) AS n FROM counts),
    w AS (
      SELECT source, n_i, sqrt(CAST(n_i AS DOUBLE) / tot.n) AS w_i
      FROM counts CROSS JOIN tot
    ),
    sw AS (SELECT CAST(SUM(CAST(ROUND(w_i, 9) AS DECIMAL(20,9)))
                  AS DOUBLE) AS s FROM w),
    q AS (
      SELECT source, n_i, w_i / sw.s AS q_i FROM w CROSS JOIN sw
    ),
    m AS (SELECT MIN(CAST(n_i AS DOUBLE) / q_i) AS m FROM q),
    rates AS (
      SELECT source, n_i, q_i,
             LEAST(CAST(1.0 AS DOUBLE), q_i * m.m / n_i) AS rate
      FROM q CROSS JOIN m
    ),
    kept AS (
      SELECT d.source,
             COUNT(*) FILTER (
               CAST(CAST('0x' || SUBSTRING(
                     md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) AS DOUBLE) / 1152921504606846976.0
               < r.rate
             ) AS n_kept
      FROM documents d JOIN rates r ON d.source = r.source
      GROUP BY d.source
    )
    SELECT r.source, r.n_i AS n_docs, k.n_kept,
           ROUND(r.q_i, 6) AS target_frac,
           ROUND(r.rate, 6) AS keep_rate
    FROM rates r JOIN kept k ON r.source = k.source
    """,
)
def k6_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain resampling (SURVEY K6 ext.) — the
    multilingual/multi-domain rebalancing stage (α-sampling, as in
    multilingual LM training): target share q_i ∝ p_i^α with α = 0.5
    flattens the natural distribution so small domains aren't drowned
    out. Complements `k6_domain_mix` (exact quota per domain via a
    rank window) with the OTHER standard mechanism: stateless
    Bernoulli thinning — each row is kept iff its md5-uniform u(doc)
    < keep_rate(source), a map-only decision with a broadcast rate
    table and NO corpus shuffle at all (the quota variant pays one).
    The output audits per-source kept counts against the target.

    Determinism across engines: α = 0.5 makes the power a sqrt (IEEE-
    exact, unlike pow); all derived rates are identical double
    chains in both engines, and u(doc) is the 15-hex-md5 uniform from
    `k6_weighted_sample` — so the kept SET (not just its size) is
    bit-reproducible, and the audit needs no tolerance bounds.
    """
    d = T(spark, sf_dir, "documents")
    # pin: 5 derivations hang off this ~20-row table via
    # broadcast joins, and Spark re-executes the corpus groupBy under
    # each broadcast subtree (no cross-exchange CSE).
    # One eager materialization makes the whole rate chain
    # corpus-free; the corpus is then scanned exactly twice (counts +
    # the kept audit), not ~6 times.
    counts = pin(d.groupBy("source").agg(F.count(F.lit(1)).alias("n_i")))
    tot = counts.agg(F.sum("n_i").cast("double").alias("n"))
    w = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_i",
        F.sqrt(F.col("n_i").cast("double") / F.col("n")).alias("w_i"),
    )
    # Order-free normalizer: a raw double SUM(w_i) folds
    # in partition-completion order, so s — hence every q_i and rate
    # — could drift an ulp between engines or partitionings,
    # violating the docstring's bit-reproducibility contract. Rounding
    # each w_i to 9 dp (the repo's established cross-engine-parity
    # op) and summing as DECIMAL makes s exact and order-independent;
    # the oracle mirrors the same two steps.
    sw = w.agg(
        F.sum(F.round("w_i", 9).cast("decimal(20,9)"))
        .cast("double")
        .alias("s")
    )
    q = w.crossJoin(F.broadcast(sw)).select(
        "source", "n_i", (F.col("w_i") / F.col("s")).alias("q_i")
    )
    m = q.agg(F.min(F.col("n_i").cast("double") / F.col("q_i")).alias("m"))
    rates = q.crossJoin(F.broadcast(m)).select(
        "source",
        "n_i",
        "q_i",
        F.least(
            F.lit(1.0), F.col("q_i") * F.col("m") / F.col("n_i")
        ).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    kept = (
        d.join(F.broadcast(rates.select("source", "rate")), "source")
        .groupBy("source")
        .agg(F.count(F.when(u < F.col("rate"), 1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source")
        .select(
            "source",
            F.col("n_i").alias("n_docs"),
            "n_kept",
            F.round("q_i", 6).alias("target_frac"),
            F.round("rate", 6).alias("keep_rate"),
        )
    )


@query(
    "k6_leakage_free_split",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             list_distinct(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS tokens
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM toks a JOIN toks b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
              / (len(a.tokens) + len(b.tokens)
                 - len(list_intersect(a.tokens, b.tokens))) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
           FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CASE WHEN {SQL_BUCKET.format(key="cluster_id")} < 80
                THEN 'train' ELSE 'eval' END AS split,
           COUNT(DISTINCT CASE WHEN {SQL_BUCKET.format(key="cluster_id")} < 80
                THEN 'train' ELSE 'eval' END)
             OVER (PARTITION BY cluster_id) = 1 AS leak_free
    FROM cc
    """,
)
def k6_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/eval split (SURVEY K6 ext.): the eval-
    hygiene rule every LLM data pipeline needs — a document and its
    near-duplicates must land in the SAME split, or eval examples
    leak into training as paraphrases (the contamination mode
    k8_decontaminate checks for n-grams, caught here at the
    near-dup level BEFORE it happens). Split assignment hashes the
    duplicate-CLUSTER id (from k2_dup_clusters' connected
    components), not the doc id: cluster members share the bucket by
    construction, singletons degenerate to the plain doc-id hash
    split. The `leak_free` certificate pins the invariant per
    cluster (a one-window check, trivially all-true — which is the
    point: it is structural, not probabilistic).

    Scale: inherits the edge-bounded CC; the split itself is the
    map-only md5 bucket of k6_hash_split keyed on cluster_id.
    """
    from .dedup import k2_dup_clusters

    cl = k2_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    # the one shared bucketing contract (this was an
    # inline expression-for-expression copy of split_bucket that
    # could drift from k6_hash_split/pipeline consumers)
    bucket = split_bucket("cluster_id")
    split = F.when(bucket < 80, F.lit("train")).otherwise(F.lit("eval"))
    w = Window.partitionBy("cluster_id")
    return cl.select(
        "doc_id",
        "cluster_id",
        split.alias("split"),
        (F.size(F.collect_set(split).over(w)) == 1).alias("leak_free"),
    )


SHUFFLE_EPOCHS = 2


@query(
    "k6_epoch_shuffle",
    oracle=f"""
    WITH e AS (SELECT UNNEST(range(1, {SHUFFLE_EPOCHS + 1})) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             md5('epoch-' || e.epoch || ':' || d.doc_id) AS k
      FROM documents d CROSS JOIN e
    )
    SELECT epoch, doc_id,
           ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k) AS position
    FROM keyed
    """,
)
def k6_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle (the "global
    shuffle" stage of an LLM data loader — each epoch must visit the
    corpus in a different but REPRODUCIBLE order, so a resumed run
    re-derives the same order instead of checkpointing a permutation):
    order = rank of md5(epoch, doc_id). Same md5-keyed determinism
    contract as `k6_hash_split`/`k6_reservoir_per_group`.

    100 TB design: the hash key is map-side; the rank is one
    range-partitioned sort per epoch. Positions here are globally
    numbered for the oracle's benefit; a production loader stops at
    the sort (files emitted in range order ARE the permutation) or
    numbers per range-partition and offsets by broadcast partition
    counts — no single-partition window.

    The epoch multiplier is a literal CROSS JOIN of {SHUFFLE_EPOCHS}
    rows (broadcast, bounded); dropping it would silently reuse
    epoch-1 order, which md5('epoch-N:...') keys make impossible.
    """
    d = T(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(1, SHUFFLE_EPOCHS + 1).select(
        F.col("id").cast("int").alias("epoch")
    )
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(F.lit("epoch-"), F.col("epoch"), F.lit(":"), F.col("doc_id"))
        ).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k")
    return keyed.select(
        "epoch", "doc_id", F.row_number().over(w).alias("position")
    )
