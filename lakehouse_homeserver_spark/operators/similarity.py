"""Similarity search over `embeddings` — SURVEY.md §2.K3.

Three tiers, mirroring how a 100 TB vector corpus is actually served:

1. **Brute-force cosine top-k** (`k3_knn_bruteforce`): the exactness
   baseline. The query set is broadcast; the corpus streams once; no
   shuffle of the corpus at all. Cost O(|Q|·n) — right answer, and at
   small |Q| it IS the scale path (a broadcast-map over the corpus).
2. **LSH-bucketed ANN** (`k3_knn_lsh`): random-hyperplane signs give a
   b-bit bucket; query probes its bucket plus all Hamming-1 neighbors
   (multi-probe) via an equi-join on bucket id — the corpus is hashed
   once, candidates are a tiny fraction of n, and the join key is an
   integer. Approximate → verified by property tests, not SQL oracle.
3. **Embedding near-dup pairs** (`k3_embedding_near_dup`): all pairs
   with cosine ≥ τ via the same bucketing, pair join within buckets
   only — the O(n²) cross join never materializes (same shape as
   MinHash-LSH dedup in dedup.py).

Vector math is pure expression code (functions/vectors.py) — JVM
whole-stage codegen, fold order identical to DuckDB's list_sum, so
the brute-force tier is bit-for-bit oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sim, dot
from ..sources import load_table as T

from .common import make_registry, pin, unpin

QUERIES, ORACLES, query = make_registry()

N_QUERIES = 10  # vec_id < 10 are the demo query vectors
TOP_K = 5
N_PLANES = 8
DIM = 64

def _sql_cosine(a: str = "q.embedding", b: str = "c.embedding") -> str:
    """Cosine in DuckDB with the exact fold order of
    functions/vectors.py — bit-identical doubles across engines."""
    return f"""
  list_sum(list_transform(list_zip({a}, {b}),
      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform({a},
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform({b},
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


SQL_COSINE = _sql_cosine()


@query(
    "k3_knn_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {SQL_COSINE} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {SQL_COSINE} DESC, c.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      JOIN embeddings c ON q.vec_id <> c.vec_id
    ) WHERE rn <= {TOP_K}
    """,
)
def k3_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{k} for {q} query vectors (SURVEY K3 baseline).

    Plan shape: broadcast(queries) nested-loop over the corpus scan →
    per-partition top-k via the rank filter (WindowGroupLimit) → tiny
    final shuffle on query_id. The corpus is read once, never
    shuffled; this is the optimal exact plan at any corpus size.
    """
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    cos = cosine_sim(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def _hyperplanes(n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (md5-derived), so the
    LSH bucketing is reproducible across sessions and engines."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 2**32 - 0.5)
        planes.append(row)
    return planes


def _bucket_col(emb, n_planes: int = N_PLANES) -> F.Column:
    """b-bit bucket id: sign bit per hyperplane dot product.

    ``n_planes`` sizes the bucket space: more planes → smaller buckets
    → fewer candidate pairs but lower recall per probe. Rule of thumb:
    2^planes ≈ corpus_size / desired_bucket_occupancy.
    """
    planes = _hyperplanes(n_planes)
    bits = None
    for p, plane in enumerate(planes):
        lit_plane = F.array([F.lit(v) for v in plane])
        bit = F.when(dot(emb, lit_plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits.cast("int")


def _sql_bucket_expr(n_planes: int = N_PLANES, col: str = "embedding") -> str:
    """Sign-bit bucket id in DuckDB SQL with the md5-derived plane
    constants inlined. The dot products are bit-identical to Spark's
    (same fold order), so the sign decisions — and hence the buckets —
    match exactly; 'approximate' here means approximate RESULTS, not
    nondeterministic ones."""
    parts = []
    for i, plane in enumerate(_hyperplanes(n_planes)):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        parts.append(
            f"(CASE WHEN list_sum(list_transform(list_zip({col}, {arr}),"
            f" x -> CAST(x[1] AS DOUBLE) * x[2])) > 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(parts) + " AS INTEGER)"


def _sql_knn_lsh_oracle() -> str:
    probes = ", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES))
    cos = _sql_cosine()
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket_expr()} AS bucket
      FROM embeddings
    ), probes AS (
      SELECT vec_id AS query_id,
             UNNEST([bucket, {probes}]) AS bucket
      FROM bucketed WHERE vec_id < {N_QUERIES}
    ), cand AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN bucketed c USING (bucket)
      WHERE p.query_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                ORDER BY {cos} DESC, cand.neighbor_id) AS rn
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.neighbor_id
    ) WHERE rn <= {TOP_K}
    """


@query("k3_knn_lsh", oracle=_sql_knn_lsh_oracle())
def k3_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH, multi-probe (SURVEY K3
    scale path). Approximate ≠ unverifiable: the hyperplanes are
    md5-derived constants and the bucket dot products are bit-stable
    across engines, so the ENTIRE pipeline — bucketing, multi-probe,
    candidate join, exact re-scoring, top-k — is reproduced by the
    DuckDB oracle and hash-checked, recall gaps and all.

    The corpus is bucketed once (8 sign bits → 256 buckets). Each
    query probes its own bucket plus the 8 Hamming-1 buckets, via an
    equi-join on the integer bucket id. Candidates ≈ 9/256 of the
    corpus per query; exact cosine + top-k only on candidates. At
    100 TB the bucketed corpus would be written bucket-partitioned so
    a probe is a partition-pruned scan.
    """
    e = T(spark, sf_dir, "embeddings")
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _bucket_col(F.col("embedding")).alias("bucket"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _bucket_col(F.col("embedding")).alias("qbucket"),
    )
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << p)).cast("int")
            for p in range(N_PLANES)
        ],
    )
    q_probed = q.select(
        "query_id", "q_emb", F.explode(probes).alias("bucket")
    )
    cos = cosine_sim(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q_probed)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        # no distinct: a corpus vector lives in exactly ONE bucket and
        # the probe buckets (bucket xor distinct single bits) are
        # pairwise distinct, so a (query, neighbor) pair can match at
        # most one probe — the dedup was a full extra shuffle of the
        # candidate set for identical rows.
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


def _sql_near_dup_oracle(n_planes: int = 12, threshold: float = 0.28) -> str:
    probes = ", ".join(f"xor(bucket, {1 << p})" for p in range(n_planes))
    cos = _sql_cosine("a.embedding", "b.embedding")
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_sql_bucket_expr(n_planes)} AS bucket
      FROM embeddings
    ), probed AS (
      SELECT vec_id, embedding,
             UNNEST([bucket, {probes}]) AS bucket
      FROM bucketed
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
    FROM bucketed a JOIN probed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold!r}
    """


@query("k3_embedding_near_dup", oracle=_sql_near_dup_oracle())
def k3_embedding_near_dup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.28
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (SURVEY K1's
    embedding-based rung): pairs with cosine ≥ τ found via LSH-bucket
    equi-join — within-bucket pairs only, no n² cross join.
    Multi-probe on Hamming-1 buckets keeps recall high for
    near-identical vectors (which agree on almost every sign bit).

    The default τ is calibrated to the synthetic fixture, whose
    clusters are loose (max pairwise cosine ≈ 0.33) — real dedup runs
    set τ ≈ 0.95+, where sign-LSH recall is strongest.

    Uses a wider code (12 planes → 4096 buckets) than the ANN query
    path: pair-finding cost grows with bucket occupancy squared, so
    buckets are kept small; near-identical vectors still collide.
    """
    n_planes = 12
    e = T(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        "embedding",
        _bucket_col(F.col("embedding"), n_planes).alias("bucket"),
    )
    probed = vecs.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("int")
                    for p in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    a = vecs.alias("a")  # un-probed side: each true pair met once per shared probe
    b = probed.alias("b")
    cos = cosine_sim(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        # no distinct: one bucket per vector means each (a, b) pair
        # joins at most once (same argument as k3_knn_lsh).
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the classic coarse-quantizer scale path.
# ---------------------------------------------------------------------------

N_LIST = 16  # coarse clusters
N_PROBE = 4  # clusters searched per query


def _nearest_clusters(emb_col: str, centroids: list[list[float]], n: int) -> F.Column:
    """Array of the n nearest cluster ids — a map-only expression.

    The centroid model is ONE literal array-of-arrays scanned by a
    single `transform` lambda (distance fold + index), then an
    nlist-way struct sort. Three deliberate choices:
    - one compact lambda, not nlist inlined copies of the fold (which
      blows the expression tree up ~nlist×);
    - the whole expression is built as ONE SQL string → one py4j
      round-trip, vs nlist×dim F.lit() calls (~0.7 s of driver time
      per build at 16×64);
    - no join and NO shuffle — assignment never moves the corpus,
      matching how a 100 TB cluster-id backfill must behave.
    Ties break toward the lower cluster id via the (dist, id) struct
    order. Float literals use repr() (shortest round-trip), so the
    driver-side model reaches the JVM bit-exactly.
    """
    cents_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(f"cast({v!r} as double)" for v in c) + ")"
            for c in centroids
        )
        + ")"
    )
    return F.expr(
        f"""
        slice(array_sort(transform({cents_sql}, (c, i) -> named_struct(
            'd', aggregate(
                     zip_with({emb_col}, c,
                              (x, y) -> (cast(x as double) - y)
                              * (cast(x as double) - y)),
                     cast(0.0 as double), (acc, v) -> acc + v),
            'c', i))), 1, {n}).c
        """
    )


def _arrow_matrix(col) -> "np.ndarray":
    """(n, d) numpy matrix of a non-empty, fixed-width Arrow list
    column, read through the flattened values buffer."""
    return col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), -1)


def _safe_norms(M: "np.ndarray") -> "np.ndarray":
    """Row L2 norms with zero mapped to 1.0: a zero embedding would
    otherwise turn its normalized row into NaNs (numpy only warns)
    and the NaN poisons every downstream distance/argmin. Dividing
    a zero row by 1.0 leaves it zero — a deterministic, order-stable
    representative."""
    import numpy as np

    norms = np.sqrt((M * M).sum(axis=1))[:, None]
    return np.where(norms == 0.0, 1.0, norms)


def ivf_train(
    spark: SparkSession,
    corpus: DataFrame,
    nlist: int = N_LIST,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n: int | None = None,
) -> list[list[float]]:
    """Lloyd's k-means for the IVF coarse quantizer, distributed.

    Seeds are the nlist vectors with the smallest xxhash64(id) —
    deterministic and uniformly spread over the corpus without a full
    sort at scale (top-k by hash). Each iteration: broadcast-join
    assignment, then one (cluster, dim) groupBy to re-average — the
    canonical distributed k-means step. The model (nlist×dim doubles)
    is collected to the driver between iterations, exactly like any
    broadcast ML model. Training runs on a deterministic hash-sample
    (~256 vectors per cluster — k-means centroids converge on a
    sample; only the final assignment must touch every vector), so
    training cost is O(nlist·sample), independent of corpus size.
    """
    if n is None:
        n = corpus.count()
    every = max(1, n // (256 * nlist))
    train = (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(every)) == 0)
        if every > 1
        else corpus
    )
    # Pin the BOUNDED training sample across training's 1+iters
    # actions (in-query reuse, as for a CDC micro-batch): without it
    # the seeds collect and every Lloyd iteration re-scanned the full
    # corpus parquet and re-applied the hash filter just to re-derive
    # the identical ~256·nlist-row sample. The sample is O(nlist) by
    # construction (the whole point of sampled training), so the pin
    # is bounded at any corpus size; released before returning.
    train = pin(train)
    try:
        seeds = (
            train.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col)))
            .limit(nlist)
            .collect()
        )
        centroids = [[float(x) for x in r[0]] for r in seeds]
        if not centroids:
            raise ValueError(
                "ivf_train: corpus is empty — an IVF index needs at "
                "least one vector (build the index after ingestion, "
                "not before)"
            )
        dim = len(centroids[0])
        for _ in range(iters):
            assigned = train.select(
                F.element_at(
                    _nearest_clusters(vec_col, centroids, 1), 1
                ).alias("cluster_id"),
                vec_col,
            )
            rows = (
                assigned.select(
                    "cluster_id", F.posexplode(vec_col).alias("dim_idx", "v")
                )
                .groupBy("cluster_id", "dim_idx")
                .agg(F.avg(F.col("v").cast("double")).alias("m"))
                .collect()
            )
            new: dict[int, list[float]] = {}
            for r in rows:
                new.setdefault(r["cluster_id"], [0.0] * dim)[r["dim_idx"]] = (
                    r["m"]
                )
            # empty clusters keep their previous centroid
            centroids = [new.get(i, c) for i, c in enumerate(centroids)]
        return centroids
    finally:
        unpin(train)


def k3_knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    nlist: int = N_LIST,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """IVF ANN top-k (SURVEY K3 scale path #2, complementing sign-LSH).

    Index: every corpus vector is assigned to its nearest of nlist
    k-means centroids — an integer ``cluster_id`` (at 100 TB the
    corpus is written partitioned by it, so probes become
    partition-pruned scans). Search: each query ranks the centroids
    (broadcast), probes its nprobe nearest clusters via an integer
    equi-join, and scores exact cosine only on candidates —
    ~nprobe/nlist of the corpus. With nprobe == nlist the result is
    exactly brute force (property test); approximate → no SQL oracle.
    """
    from ..sources.registry import table_row_count

    e = T(spark, sf_dir, "embeddings")
    # footer-probe row count: saves a corpus-wide count job per build
    centroids = ivf_train(
        spark, e, nlist=nlist, n=table_row_count(sf_dir, "embeddings")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.element_at(
            _nearest_clusters("embedding", centroids, 1), 1
        ).alias("cluster_id"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            _nearest_clusters("embedding", centroids, nprobe)
        ).alias("cluster_id"),
    )
    cos = cosine_sim(F.col("q_emb"), F.col("c_emb"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(q)
        .join(corpus, "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


@query(
    "k3_knn_ivf",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {SQL_COSINE} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {SQL_COSINE} DESC, c.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      JOIN embeddings c ON q.vec_id <> c.vec_id
    ) WHERE rn <= {TOP_K}
    """,
)
def k3_knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered IVF search in EXACT mode (nprobe == nlist).

    Probing every cluster makes the IVF result provably identical to
    brute force — each corpus vector lives in exactly one cluster, so
    the probe union covers the corpus once — which lets the exact
    brute-force SQL serve as the oracle while the query still
    exercises the full IVF machinery end-to-end: k-means training,
    cluster assignment, the broadcast probe equi-join, and candidate
    scoring. The APPROXIMATE configuration
    (nprobe={N_PROBE} < nlist={N_LIST}) is certified separately by
    `k3_ivf_recall`, which runs it against brute force and pins
    recall bounds the driver hash-checks.
    """
    return k3_knn_ivf(spark, sf_dir, nprobe=N_LIST)


@query(
    "k3_centroid_by_label",
    oracle=f"""
    WITH unnested AS (
      SELECT label, g.i AS dim_idx, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, {DIM})) AS g(i)
    )
    SELECT label, dim_idx,
           ROUND(SUM(v), 6) AS dim_sum,
           COUNT(*) AS n
    FROM unnested GROUP BY label, dim_idx
    """,
)
def k3_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid accumulators (the reduce step of k-means /
    IVF coarse quantization, SURVEY K3). posexplode → decimal-exact
    dimension sums; one shuffle on (label, dim) — the distributed
    mean-vector pattern. Returned un-divided (sum + count), rounded at
    6 dp — far coarser than cross-engine summation-order noise, far
    finer than float32 data resolution. (A decimal-cast sum would be
    exactly order-independent but float-derived doubles can land on
    exact decimal-rounding ties where Spark HALF_UP and DuckDB
    HALF_EVEN disagree — rounding a plain double sum is the safer
    parity contract here.)"""
    e = T(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "label",
            (F.col("pos") + 1).cast("bigint").alias("dim_idx"),
            F.col("v").cast("double").alias("v"),
        )
        .groupBy("label", "dim_idx")
        .agg(
            F.round(F.sum("v"), 6).alias("dim_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# K3 — diversified retrieval (MMR re-rank)
# ---------------------------------------------------------------------------

MMR_POOL = 10  # candidate pool per query (from the exact top-C pass)
MMR_K = 4  # diversified results returned
MMR_LAMBDA = 0.7  # relevance weight
# Diversity weight as an EXPLICIT literal, not 1-MMR_LAMBDA: Python
# (1 - 0.7) is 0.30000000000000004, and the oracle must run the
# same IEEE constant — one ulp here flips no picks but breaks the
# bit-exact score hash.
MMR_MU = 0.3


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB SQL: pick1 is the top-relevance
    candidate; each later pick maximizes λ·rel − (1−λ)·max-sim-to-
    selected (ties → lowest vec_id). Fixed K ⇒ the greedy loop unrolls
    into K chained CTEs — an exact oracle for an iterative algorithm.
    All float ops are CAST AS DOUBLE so both engines run the same IEEE
    arithmetic on the same JVM/DuckDB-fold-identical cosines."""
    cos_ab = _sql_cosine("ea.embedding", "eb.embedding")
    parts = [
        f"""
    WITH cand AS (
      SELECT query_id, cand_id, rel FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {SQL_COSINE} AS rel,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {SQL_COSINE} DESC, c.vec_id) AS rn
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
        JOIN embeddings c ON q.vec_id <> c.vec_id
      ) WHERE rn <= {MMR_POOL}
    ), pairs AS (
      SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
             {cos_ab} AS sim
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
      JOIN embeddings ea ON ea.vec_id = a.cand_id
      JOIN embeddings eb ON eb.vec_id = b.cand_id
    ), pick1 AS (
      SELECT query_id, cand_id, CAST({MMR_LAMBDA} AS DOUBLE) * rel AS score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, cand_id) AS rn
            FROM cand) WHERE rn = 1
    ), sel1 AS (SELECT query_id, cand_id FROM pick1)"""
    ]
    for t in range(2, MMR_K + 1):
        parts.append(f"""
    , m{t} AS (
      SELECT c.query_id, c.cand_id, c.rel, MAX(p.sim) AS maxsim
      FROM cand c
      JOIN sel{t-1} s ON s.query_id = c.query_id
      JOIN pairs p ON p.query_id = c.query_id
                  AND p.a_id = c.cand_id AND p.b_id = s.cand_id
      WHERE NOT EXISTS (SELECT 1 FROM sel{t-1} x
                        WHERE x.query_id = c.query_id
                          AND x.cand_id = c.cand_id)
      GROUP BY c.query_id, c.cand_id, c.rel
    ), pick{t} AS (
      SELECT query_id, cand_id, score FROM (
        SELECT query_id, cand_id,
               CAST({MMR_LAMBDA} AS DOUBLE) * rel
                 - CAST({MMR_MU!r} AS DOUBLE) * maxsim AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 CAST({MMR_LAMBDA} AS DOUBLE) * rel
                   - CAST({MMR_MU!r} AS DOUBLE) * maxsim DESC,
                 cand_id) AS rn
        FROM m{t}) WHERE rn = 1
    ), sel{t} AS (SELECT query_id, cand_id FROM sel{t-1}
                  UNION ALL SELECT query_id, cand_id FROM pick{t})""")
    finals = [
        f"SELECT query_id, {t} AS sel_rank, cand_id AS vec_id, score FROM pick{t}"
        for t in range(1, MMR_K + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(finals))
    return "".join(parts)


@query("k3_mmr_rerank", oracle=_mmr_oracle())
def k3_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (SURVEY K3 ext.):
    re-rank each query's exact top-{pool} candidates so results are
    relevant AND mutually diverse — the standard retrieval-quality
    step RAG/search stacks run after ANN.

    Split of labor, chosen for both scale and exactness:
    - relevance + pairwise sims are computed JVM-side with the
      bit-stable cosine fold (same plan as k3_knn_bruteforce plus one
      pool-sized self-join — pairs per query = pool², tiny);
    - the greedy selection itself runs in `applyInPandas` per query
      group (group size = pool² rows, BOUNDED by construction — the
      skew warning on grouped-map does not apply), doing NO float
      math beyond λ-weighted add/sub on the precomputed doubles, so
      the unrolled-SQL oracle reproduces every pick bit-for-bit.
    """
    import pandas as pd

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    cand = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "c_emb",
            cosine_sim(F.col("q_emb"), F.col("c_emb")).alias("rel"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )
    a = cand.select("query_id", F.col("cand_id").alias("a_id"),
                    F.col("rel").alias("rel_a"), F.col("c_emb").alias("a_emb"))
    b = cand.select("query_id", F.col("cand_id").alias("b_id"),
                    F.col("c_emb").alias("b_emb"))
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id", "a_id", "rel_a", "b_id",
            cosine_sim(F.col("a_emb"), F.col("b_emb")).alias("sim"),
        )
    )

    lam = MMR_LAMBDA
    mu = MMR_MU

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[int(r.a_id)] = float(r.rel_a)
            sim[(int(r.a_id), int(r.b_id))] = float(r.sim)
        selected: list[int] = []
        out = []
        for rank in range(1, MMR_K + 1):
            best_id, best_score = None, None
            for cid in sorted(rel):  # ascending id ⇒ ties keep lowest
                if cid in selected:
                    continue
                maxsim = (
                    max(sim[(cid, s)] for s in selected) if selected else 0.0
                )
                score = lam * rel[cid] - mu * maxsim if selected else lam * rel[cid]
                if best_score is None or score > best_score:
                    best_id, best_score = cid, score
            if best_id is None:
                # pool smaller than MMR_K: the oracle's pick CTEs
                # simply go empty — emitting (qid, rank, NULL) rows
                # here diverged from it.
                break
            selected.append(best_id)
            out.append((qid, rank, best_id, best_score))
        return pd.DataFrame(
            out, columns=["query_id", "sel_rank", "vec_id", "score"]
        )

    return pairs.groupBy("query_id").applyInPandas(
        greedy, "query_id bigint, sel_rank int, vec_id bigint, score double"
    )


# ---------------------------------------------------------------------------
# K3 — random-projection (Johnson-Lindenstrauss) dimensionality sketch
# ---------------------------------------------------------------------------

PROJ_DIMS = 8


def _proj_signs(j: int, dim: int = DIM) -> list[float]:
    """Deterministic +-1 sign row j of the projection matrix, derived
    from md5 at MODULE BUILD time (not query time) — the same Python
    constants are embedded as literals into BOTH the Spark expression
    and the DuckDB oracle text, so the 'random' matrix is identical by
    construction and costs zero hashing at runtime."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[0], 16) < 8 else -1.0
        for i in range(dim)
    ]


def _spark_proj_expr(j: int) -> str:
    signs = ", ".join(f"{s:.1f}" for s in _proj_signs(j))
    return (
        f"aggregate(zip_with(embedding, array({signs}),"
        " (a, b) -> CAST(a AS DOUBLE) * b),"
        " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        f" / sqrt({float(PROJ_DIMS)})"
    )


def _duck_proj_expr(j: int) -> str:
    signs = ", ".join(f"{s:.1f}" for s in _proj_signs(j))
    return (
        f"list_sum(list_transform(list_zip(embedding, [{signs}]),"
        " x -> CAST(x[1] AS DOUBLE) * x[2]))"
        f" / sqrt({float(PROJ_DIMS)})"
    )


@query(
    "k3_random_projection",
    oracle="SELECT vec_id, label, "
    + ", ".join(f"{_duck_proj_expr(j)} AS proj_{j}" for j in range(PROJ_DIMS))
    + " FROM embeddings",
)
def k3_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-matrix projection 64 -> 8 dims (the
    Achlioptas +-1 construction): the standard pre-step that makes
    downstream clustering / ANN / near-dup cheaper by an 8x column
    shrink while approximately preserving pairwise geometry (distances
    within ~1+-eps with eps ~ sqrt(ln n / k)).

    Map-only: each output dim is one fold over the embedding array
    against a +-1 literal vector — no shuffle, no UDF, whole
    projection inlined as JVM higher-order-function expressions built
    as ONE SQL string (py4j lesson from the IVF centroids). The fold
    order matches DuckDB's list_sum(list_transform(...)) exactly, so
    the projected doubles are bit-identical and fully hash-checked —
    unusual for a 'random' projection, possible because the matrix is
    md5-derived at build time and embedded into both engine texts.
    """
    e = T(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        *[
            F.expr(_spark_proj_expr(j)).alias(f"proj_{j}")
            for j in range(PROJ_DIMS)
        ],
    )


# ---------------------------------------------------------------------------
# K3 — int8 scalar quantization (vector compression)
# ---------------------------------------------------------------------------

@query(
    "k3_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    rng AS (
      SELECT vec_id, label, e,
             list_min(e) AS mn,
             (list_max(e) - list_min(e)) / 255.0 AS scale,
             CASE WHEN list_max(e) = list_min(e) THEN 1.0
                  ELSE (list_max(e) - list_min(e)) / 255.0 END AS sdiv
      FROM v
    )
    SELECT vec_id, label,
           ROUND(mn, 6) AS mn,
           ROUND(scale, 6) AS scale,
           CAST(list_sum(list_transform(e,
                x -> CAST(FLOOR((x - mn) / sdiv + 0.5) AS BIGINT)))
             AS BIGINT) AS code_sum,
           list_max(list_transform(e,
                x -> abs(x - (mn + FLOOR((x - mn) / sdiv + 0.5) * scale))))
             <= scale * 0.5000001 AS within_half_step
    FROM rng
    """,
)
def k3_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard
    4x vector-store compression (FAISS SQ8 / Lucene scalar quantizer):
    per vector, min-max affine map onto 0..255 codes, half-up rounded.
    Emitted as scalar audit columns (range, code checksum, and the
    reconstruction-error contract |x - dequant(x)| <= scale/2 pinned
    as a boolean) because the driver canonicalizer rejects array
    outputs; the codes themselves are the intermediate
    `FLOOR((x-mn)/scale + 0.5)` term.

    Cross-engine determinism: both engines run the identical IEEE
    double ops ((x-mn)/scale, floor, fused nowhere), so codes and
    checksums match bit-for-bit; rounding is spelled FLOOR(x+0.5) —
    never CAST — because CAST(double AS INT) truncates in Spark but
    rounds in DuckDB. The error bound gets a 1e-7 relative epsilon so
    the boolean cannot flip on the one-ulp boundary. Map-only, no
    shuffle; at 100 TB this is a scan-speed rewrite that shrinks the
    ANN working set 4x.
    """
    e = T(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    ).select(
        "vec_id",
        "label",
        "e",
        F.array_min("e").alias("mn"),
        ((F.array_max("e") - F.array_min("e")) / 255.0).alias("scale"),
        # Constant vectors (max == min) give scale 0: dividing by it
        # NULLs every code in Spark but hard-errors in DuckDB's cast.
        # A unit divisor maps them to code 0 and
        # an exact dequant (mn + 0*scale = mn) in BOTH engines.
        F.when(
            F.array_max("e") == F.array_min("e"), F.lit(1.0)
        ).otherwise(
            (F.array_max("e") - F.array_min("e")) / 255.0
        ).alias("sdiv"),
    )
    code = "CAST(FLOOR((x - mn) / sdiv + 0.5) AS BIGINT)"
    return v.select(
        "vec_id",
        "label",
        F.round("mn", 6).alias("mn"),
        F.round("scale", 6).alias("scale"),
        F.expr(
            f"CAST(aggregate(transform(e, x -> {code}), 0L, (a, b) -> a + b)"
            " AS BIGINT)"
        ).alias("code_sum"),
        F.expr(
            "array_max(transform(e,"
            " x -> abs(x - (mn + FLOOR((x - mn) / sdiv + 0.5) * scale))))"
            " <= scale * 0.5000001"
        ).alias("within_half_step"),
    )


@query(
    "k3_ivf_recall",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           TRUE AS min_recall_ok,
           TRUE AS mean_recall_ok
    """,
)
def k3_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall certificate for the IVF index (K3).

    `k3_knn_ivf` itself stays rows-only — an approximate index has no
    SQL twin. This query makes its QUALITY contract a hash-checkable
    fact instead: Spark computes BOTH the IVF top-k (nprobe={N_PROBE}
    of nlist={N_LIST}) and the exact brute-force top-k, joins them,
    and emits per-corpus recall bounds as booleans the oracle pins to
    TRUE — the same bound-certificate pattern as
    `d3_approx_count_distinct` / `k6_uniform_sample`. Everything is
    deterministic: md5/xxhash seeds, fixed Lloyd iterations, id
    tie-breaks on rank order.

    Bounds (MEASURED, not guessed): mean recall at
    nprobe=4/nlist=16 reads 0.64 at sf0.01 and 0.48 at sf0.1 (the
    sf0.1 parity sweep caught the old mean>=0.6 bound failing at
    10x — "holds at any SF" was a claim, not a measurement; recall
    legitimately falls as a fixed-nlist index densifies, which is why
    production IVF grows nlist ~ sqrt(n)). The certificate now pins
    min per-query recall@{TOP_K} >= 0.2 (measured min is exactly 0.2
    at BOTH SFs — the probe always finds SOME true neighbors) and
    mean recall >= 0.4 (margin 0.08 = four neighbor flips at sf0.1).
    A regression that degrades the coarse quantizer or probe routing
    still trips the hash; a merely-denser corpus no longer does.

    Cost note: runs the corpus scan twice (IVF + exact) over the
    broadcast query set — still no corpus shuffle anywhere.
    """
    ivf = k3_knn_ivf(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_n")
    )
    exact = k3_knn_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_n")
    )
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"]) & (F.col("bf_n") == F.col("ivf_n")),
        "left",
    ).groupBy(exact["query_id"]).agg(
        (F.count("ivf_n") / F.lit(float(TOP_K))).alias("recall")
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.min("recall") >= 0.2).alias("min_recall_ok"),
        (F.avg("recall") >= 0.4).alias("mean_recall_ok"),
    )


# ---------------------------------------------------------------------------
# K3 — product quantization (PQ codes, the FAISS-IVFPQ building block)
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces (64-dim embedding → 8 slices of 8 dims)
PQ_K = 16         # centroids per subspace (4-bit codes)
PQ_SUB = 8        # dims per subspace


def _pq_dist_sql(m: int) -> str:
    """Explicit left-assoc 8-term squared-L2 between embedding slice m
    and centroid list `c` (DuckDB 1-based lists, doubles throughout) —
    operand order matches the Spark expression bit-for-bit."""
    terms = [
        f"(CAST(e[{m * PQ_SUB + i + 1}] AS DOUBLE)"
        f" - CAST(c[{m * PQ_SUB + i + 1}] AS DOUBLE))"
        f" * (CAST(e[{m * PQ_SUB + i + 1}] AS DOUBLE)"
        f" - CAST(c[{m * PQ_SUB + i + 1}] AS DOUBLE))"
        for i in range(PQ_SUB)
    ]
    return " + ".join(terms)


_PQ_CODE_COLS = ", ".join(
    f"CAST(list_position(d_{m}, list_min(d_{m})) - 1 AS BIGINT) AS code_{m}"
    for m in range(PQ_M)
)
_PQ_DLIST_COLS = ", ".join(
    f"list_transform(cb.cbs, c -> {_pq_dist_sql(m)}) AS d_{m}"
    for m in range(PQ_M)
)
_PQ_TOTAL = " + ".join(f"list_min(d_{m})" for m in range(PQ_M))


@query(
    "k3_pq_quantize",
    oracle=f"""
    WITH seeds AS (
      SELECT embedding AS c,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS j
      FROM embeddings
      QUALIFY j <= {PQ_K}
    ),
    cb AS (SELECT list(c ORDER BY j) AS cbs FROM seeds),
    d AS (
      SELECT v.vec_id, v.label, {_PQ_DLIST_COLS}
      FROM (SELECT vec_id, label, embedding AS e FROM embeddings) v
      CROSS JOIN cb
    )
    SELECT vec_id, label, {_PQ_CODE_COLS},
           ROUND({_PQ_TOTAL}, 6) AS distortion
    FROM d
    """,
)
def k3_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (SURVEY K3 ext.) — the PQ code assignment
    at the heart of FAISS-style IVFPQ indexes (Jégou et al., TPAMI'11):
    split the 64-dim embedding into 8 subspaces of 8 dims,
    and code each slice as the index of its nearest of 16
    per-subspace centroids → a 64-float vector compresses to 8
    4-bit codes (64× smaller), with the per-vector quantization
    distortion emitted as the quality certificate. Completes the
    vector-compression family (JL projection, int8 SQ → PQ).

    Codebook: the 16 corpus vectors with smallest md5(vec_id) —
    a deterministic hash-sample (same construction as the IVF seed
    sample, similarity.py k-means init), so both engines derive the
    IDENTICAL codebook and the assignment is hash-checkable; a
    k-means-refined codebook drops in without changing the plan.

    Plan shape at 100 TB: the codebook is a bounded model collect
    (16x64 floats — the IVF-centroid precedent); assignment is then
    MAP-ONLY as a batch-vectorized numpy kernel over mapInArrow — the
    vectorized BLAS shape real PQ coders (FAISS) use, ~µs/vector.
    (A pure-expression variant was measured first: the 8×16×8-term
    tree costs ~15 s of py4j construction OR blows janino's 64 KB
    method limit into interpreted eval at ~1 ms/row — the numpy
    kernel is 1000× faster and the honest production path for dense
    vector math.) No join, no shuffle; the oracle recomputes the
    identical distances in SQL from the same SQL-derived codebook.

    Float contract: per-subspace sums run left-to-right over 8
    contiguous float64s in both numpy (sequential under the pairwise-
    summation blocksize) and the oracle's explicit left-assoc chain;
    argmin takes the FIRST minimum (numpy argmin == SQL
    list_position-of-min); distortion rounds HALF_UP like engine
    ROUND.
    """
    import numpy as np

    e = T(spark, sf_dir, "embeddings")
    seeds = [
        r.embedding
        for r in e.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_K)
        .collect()
    ]
    out_schema = (
        "vec_id long, label int, "
        + ", ".join(f"code_{m} long" for m in range(PQ_M))
        + ", distortion double"
    )
    if not seeds:
        return e.selectExpr(
            "vec_id",
            "label",
            *[f"CAST(0 AS BIGINT) AS code_{m}" for m in range(PQ_M)],
            "CAST(0.0 AS DOUBLE) AS distortion",
        ).filter(F.lit(False))

    cb = np.array(seeds, dtype=np.float64)  # PQ_K × 64

    def assign(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            E = _arrow_matrix(batch.column(2)).astype(np.float64)
            codes = []
            total = None
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
                diff = E[:, None, lo:hi] - cb[None, :, lo:hi]
                d = (diff * diff).sum(axis=2)  # n × PQ_K
                codes.append(pa.array(d.argmin(axis=1).astype(np.int64)))
                mins = d.min(axis=1)
                total = mins if total is None else total + mins
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), *codes,
                 pa.array(np.floor(total * 1e6 + 0.5) / 1e6)],
                names=["vec_id", "label"]
                + [f"code_{m}" for m in range(PQ_M)]
                + ["distortion"],
            )

    return e.select("vec_id", "label", "embedding").mapInArrow(
        assign, out_schema
    )


# -- SemDeDup: semantic deduplication via embedding clustering ------------

SEMDEDUP_TAU = 0.28  # fixture-calibrated like k3_embedding_near_dup
SEMDEDUP_K_CAP = 1024  # hard codebook ceiling: driver holds O(K*d), K <= CAP
SEMDEDUP_ROUNDS = 2  # Lloyd update rounds before the final assignment
_SEM_MULT = 2048  # argmin tie-break multiplier; > K_CAP so cid survives %


def _sem_k(n: int) -> int:
    """Bounded SemDeDup codebook size: K = min(CAP, max(8, isqrt(n))).

    K grows sublinearly while the corpus is small and is HARD-CAPPED
    at SEMDEDUP_K_CAP, so the codebook the driver trains/broadcasts
    is O(K*d) <= CAP*d REGARDLESS of corpus size. (An earlier design used
    K = n/64 raw corpus vectors collected to the driver — O(n*d)
    driver memory and an O(n^2*d) assignment kernel, which does not
    scale. The SemDeDup paper itself fixes K, e.g. 50k at
    billions of docs; CAP is that constant, small here to fit the
    fixture.)"""
    import math

    return max(8, min(SEMDEDUP_K_CAP, math.isqrt(n)))


_SEM_PAIR_COS = _sql_cosine("a.embedding", "b.embedding")


def _semdedup_oracle() -> str:
    """DuckDB mirror of `k3_semdedup`: md5-seeded, {SEMDEDUP_ROUNDS}
    integer-exact Lloyd rounds unrolled as CTEs (the `k3_kmeans`
    pattern), final assignment + within-cluster EXISTS drop rule."""
    dist = (
        "CAST(list_sum(list_transform(range(1, 65), "
        "i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))) AS BIGINT)"
    )

    def assign(points: str, cents: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT p.vec_id, p.q,
             CAST(MIN({dist} * {_SEM_MULT} + c.cid) % {_SEM_MULT}
                  AS BIGINT) AS cluster
      FROM {points} p, {cents} c
      GROUP BY p.vec_id, p.q
    )"""

    def update(assigned: str, out: str) -> str:
        return f"""
    {out}_pos AS (
      SELECT cluster AS cid, i.i AS i, SUM(q[i.i]) AS s, COUNT(*) AS n
      FROM {assigned}, (SELECT UNNEST(range(1, 65)) AS i) i
      GROUP BY cluster, i.i
    ),
    {out} AS (
      SELECT cid, list(s // n ORDER BY i) AS c
      FROM {out}_pos GROUP BY cid
    )"""

    rounds = []
    points = "q"
    for r in range(SEMDEDUP_ROUNDS):
        rounds.append(assign(points, "seeds" if r == 0 else f"c{r}", f"a{r + 1}"))
        rounds.append(update(f"a{r + 1}", f"c{r + 1}"))
    final_cents = f"c{SEMDEDUP_ROUNDS}"
    final_assign = assign("q", final_cents, "af")
    csim = (
        "(CAST(list_sum(list_transform(range(1, 65),"
        " i -> a.q[i] * c.c[i])) AS DOUBLE)"
        " / (SQRT(CAST(CAST(list_sum(list_transform(range(1, 65),"
        " i -> a.q[i] * a.q[i])) AS BIGINT) AS DOUBLE))"
        " * SQRT(CAST(CAST(list_sum(list_transform(range(1, 65),"
        " i -> c.c[i] * c.c[i])) AS BIGINT) AS DOUBLE))))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id, label, embedding,
             list_transform(embedding,
                            x -> CAST(ROUND((CAST(x AS DOUBLE) + 2) * 1000)
                                      AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT q AS c,
             ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
      FROM q
      QUALIFY cid <= (SELECT GREATEST(8, LEAST({SEMDEDUP_K_CAP},
                        CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)))
                      FROM embeddings)
    ),{",".join(rounds)},{final_assign},
    assigned AS (
      SELECT a.vec_id, p.label, p.embedding, a.cluster,
             {csim} AS csim
      FROM af a
      JOIN q p ON p.vec_id = a.vec_id
      JOIN {final_cents} c ON c.cid = a.cluster
    )
    SELECT a.vec_id, a.label, a.cluster,
           ROUND(a.csim, 6) AS centroid_sim,
           NOT EXISTS (
             SELECT 1 FROM assigned b
             WHERE b.cluster = a.cluster AND b.vec_id <> a.vec_id
               AND {_SEM_PAIR_COS} >= {SEMDEDUP_TAU}
               AND (b.csim < a.csim
                    OR (b.csim = a.csim AND b.vec_id < a.vec_id))
           ) AS is_kept
    FROM assigned a
    """


@query("k3_semdedup", oracle=_semdedup_oracle())
def k3_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540) — semantic
    deduplication for training corpora: cluster the embedding space
    with k-means, then inside each cluster drop every vector that has
    a near-duplicate (cosine >= tau) with LOWER similarity to the
    cluster centroid (ties: lower vec_id wins). Keeping the
    LOW-centroid-sim member of each duplicate pair is the paper's
    diversity heuristic: survivors sit toward cluster edges,
    duplicates collapse toward the prototype. The non-chained EXISTS
    form (a doc is dropped iff SOME same-cluster doc beats it) makes
    the result order-free and engine-checkable.

    Engine shape and 100 TB plan:
    - Codebook: K = min({SEMDEDUP_K_CAP}, max(8, isqrt(n))) centroids
      TRAINED by {SEMDEDUP_ROUNDS} distributed Lloyd rounds (the
      `k3_kmeans` machinery: integer-exact fixed-point coordinates,
      deterministic `min(dist*{_SEM_MULT}+cid)` argmin, `sum div
      count` updates), md5-hash-sampled seeds. The driver never holds
      more than K*d ints — corpus-INDEPENDENT, vs an earlier design's
      n/64 collected corpus vectors (O(n*d) driver memory, O(n^2*d)
      assignment: a scale-killer).
    - Training rounds: map-only Arrow/numpy assignment (|q|^2+|c|^2
      -2qC' int64 matmul — exact, no 3-D intermediate) + ONE groupBy
      shuffling K x (d+1) partial-aggregated ints per round; the
      corpus itself never shuffles.
    - Final assignment: the same map-only kernel, passing label/
      embedding through so NO join re-shuffles the corpus; csim is
      integer dot/norms -> one IEEE sqrt/divide on identical int64
      operands in both engines (bit-exact cross-engine, no FP
      summation-order drift).
    - Pair stage: equi-join on cluster id — within-cluster pairs
      only, never n^2; the pair cosine runs as the JVM-side HOF
      expression shared with k3_embedding_near_dup.
    tau={SEMDEDUP_TAU} is fixture-calibrated (the synthetic clusters
    are loose, max pairwise cosine ~ 0.33); production corpora use
    tau ~ 0.95+ on real encoder embeddings.
    """
    import numpy as np

    from ..sources.registry import table_row_count

    e = T(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    k = _sem_k(n)
    q = e.select(
        "vec_id",
        "label",
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.round((x + F.lit(2.0)) * 1000).cast("bigint"),
        ).alias("q"),
    )
    seeds = (
        q.select("vec_id", "q")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError(
            "k3_semdedup: embeddings table is empty — nothing to "
            "deduplicate (clean-empty convention)"
        )
    cents = [(i + 1, list(r["q"])) for i, r in enumerate(seeds)]
    d = len(cents[0][1])

    def assign_kernel(cents, final: bool):
        cids = np.array([c[0] for c in cents], dtype=np.int64)
        cb = np.array([c[1] for c in cents], dtype=np.int64)  # K x d
        cc = (cb * cb).sum(axis=1)  # K exact int64 norms

        def kern(batches):
            import pyarrow as pa

            for batch in batches:
                if not batch.num_rows:
                    continue
                qcol = batch.column(batch.num_columns - 1)
                Q = _arrow_matrix(qcol).astype(np.int64)
                qq = (Q * Q).sum(axis=1)
                dots = Q @ cb.T  # int64-exact (numpy integer matmul)
                d2 = qq[:, None] + cc[None, :] - 2 * dots
                key = d2 * _SEM_MULT + cids[None, :]
                jmin = key.argmin(axis=1)  # first min == SQL MIN key
                cluster = pa.array(cids[jmin])
                if not final:
                    yield pa.RecordBatch.from_arrays(
                        [cluster, qcol], names=["cluster", "q"]
                    )
                    continue
                csim = dots[np.arange(len(jmin)), jmin].astype(np.float64) / (
                    np.sqrt(qq.astype(np.float64))
                    * np.sqrt(cc[jmin].astype(np.float64))
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0),
                        cluster,
                        batch.column(1),
                        batch.column(2),
                        # a zero-norm vector's 0/0 cosine is NULL
                        pa.array(csim, mask=np.isnan(csim)),
                    ],
                    names=["vec_id", "cluster", "label", "embedding", "csim"],
                )

        return kern

    # -- training: SEMDEDUP_ROUNDS Lloyd updates, integer-exact.
    sums = [F.sum(F.element_at("q", i + 1)).alias(f"s{i}") for i in range(d)]
    for _ in range(SEMDEDUP_ROUNDS):
        rows = (
            q.select("q").mapInArrow(
                assign_kernel(cents, final=False),
                "cluster long, q array<bigint>",
            )
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        cents = sorted(
            (
                int(r["cluster"]),
                [int(r[f"s{i}"]) // int(r["n"]) for i in range(d)],
            )
            for r in rows
        )

    # pin: mapInArrow is a narrow transformation, so without it
    # the corpus scan + quantize + numpy assignment kernel execute
    # THREE times (both self-join sides and the final left join) —
    # the dominant cost of the operator tripled.
    assigned = pin(
        q.select("vec_id", "label", "embedding", "q").mapInArrow(
            assign_kernel(cents, final=True),
            "vec_id long, cluster long, label int, "
            "embedding array<float>, csim double",
        )
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    removed = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & (
                cosine_sim(F.col("a.embedding"), F.col("b.embedding"))
                >= SEMDEDUP_TAU
            )
            & (
                (F.col("b.csim") < F.col("a.csim"))
                | (
                    (F.col("b.csim") == F.col("a.csim"))
                    & (F.col("b.vec_id") < F.col("a.vec_id"))
                )
            ),
            "left_semi",
        )
        .select(F.col("vec_id"), F.lit(True).alias("rm"))
    )
    return (
        assigned.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cluster",
            F.round("csim", 6).alias("centroid_sim"),
            F.coalesce(~F.col("rm"), F.lit(True)).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# K3 — IVFPQ: the composed production ANN index (coarse probe → ADC → refine)
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 6  # wider probe than k3_knn_ivf: PQ makes candidates cheap
ADC_SHORTLIST = 8 * TOP_K  # refine-factor floor (FAISS k_factor ≈ 8)
ADC_SHORTLIST_CAP = 1024  # refine stays bounded regardless of corpus size


def _adc_shortlist(n_corpus: int) -> int:
    """ADC shortlist size: max(8·k, n/16) capped at {ADC_SHORTLIST_CAP}.
    The n/16 term keeps the shortlist a fixed fraction of the probed
    set while the corpus is small relative to quantization resolution
    (synthetic near-random embeddings leave top-k margins below PQ's
    4-bit resolution, so ADC rank needs head-room); the cap is what
    makes refine cost bounded at production scale — beyond it, recall
    is governed by index quality (bits, nprobe), not the shortlist."""
    return max(ADC_SHORTLIST, min(ADC_SHORTLIST_CAP, n_corpus // 16))
PQ_TRAIN_SAMPLE = 2048  # bounded driver-side sample for codebook training
PQ_TRAIN_ITERS = 10


def _train_pq_codebooks(sample):
    """Per-subspace Lloyd's k-means on a bounded sample (the FAISS
    ProductQuantizer::train shape): PQ_M independent 8-dim k-means
    problems, PQ_K centroids each, deterministic init (hash-order
    sample, first PQ_K subvectors) and first-min argmin ties. Driver-
    side numpy on ≤{PQ_TRAIN_SAMPLE} vectors — model training is
    O(sample), never O(corpus), like `ivf_train`'s hash-sample."""
    import numpy as np

    cbs = np.empty((PQ_M, PQ_K, PQ_SUB))
    for m in range(PQ_M):
        X = sample[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        C = X[:PQ_K].copy()
        for _ in range(PQ_TRAIN_ITERS):
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for j in range(PQ_K):
                hit = X[a == j]
                if len(hit):
                    C[j] = hit.mean(axis=0)
        cbs[m] = C
    return cbs


@query(
    "k3_ivfpq_search",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           TRUE AS min_recall_ok,
           TRUE AS mean_recall_ok
    """,
)
def k3_ivfpq_search(
    spark: SparkSession, sf_dir: str, _raw_recalls: bool = False
) -> DataFrame:
    """IVFPQ search (SURVEY K3 ext.) — the composed FAISS-style
    production index (Jégou et al., TPAMI'11), assembled from the
    repo's own building blocks: IVF coarse probe (`ivf_train` /
    `_nearest_clusters`) routes each query to nprobe={IVFPQ_NPROBE} of
    nlist={N_LIST} clusters; candidates are scored by ASYMMETRIC
    DISTANCE (ADC) against their 8×4-bit PQ codes via a per-query
    lookup table — never touching the original vectors; the ADC
    shortlist (size `_adc_shortlist(n)`) is then REFINED with exact cosine
    on fetched full vectors, and the final top-{TOP_K} is certified
    against in-Spark brute force with the same recall-bound contract
    as `k3_ivf_recall` (booleans the oracle pins TRUE).

    Plan shape at 100 TB:
    - index build: cluster assignment is the map-only JVM expression;
      PQ coding is the Arrow/numpy kernel (no corpus shuffle; codes
      are 8 bytes/vector — the table that actually gets searched is
      ~64× smaller than the embeddings).
    - search: queries + their 128-double LUTs are LITERALS in one
      expression (bounded: q×m×k doubles — the broadcast-model
      pattern); the candidate join is an integer equi-join on
      cluster_id; ADC is pure JVM arithmetic over the code columns;
      WindowGroupLimit keeps the bounded shortlist rows/query.
    - refine: the shortlist (q×shortlist rows, cap {ADC_SHORTLIST_CAP}) broadcast-joins
      back to the vector store to fetch embeddings — exact cosine on
      a bounded set, the "refine from store" stage real IVFPQ-R
      deployments run. Corpus is scanned twice (code + fetch),
      shuffled never.
    """
    import numpy as np

    from ..sources.registry import table_row_count

    e = T(spark, sf_dir, "embeddings")
    n_corpus = table_row_count(sf_dir, "embeddings")
    shortlist_k = _adc_shortlist(n_corpus)
    centroids = ivf_train(spark, e, n=n_corpus)
    sample = np.array(
        [
            r.embedding
            for r in e.select("vec_id", "embedding")
            .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(PQ_TRAIN_SAMPLE)
            .collect()
        ],
        dtype=np.float64,
    )
    sample /= _safe_norms(sample)
    cbs = _train_pq_codebooks(sample)  # PQ_M × PQ_K × PQ_SUB

    # -- index: cluster id (JVM expression) + PQ codes (numpy kernel)
    def encode(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            E = _arrow_matrix(batch.column(1)).astype(np.float64)
            # L2-normalize BEFORE coding: the refine metric is cosine,
            # and on the unit sphere L2² = 2−2·cos — ADC ordering then
            # agrees with the final metric (the FAISS METRIC_INNER_
            # PRODUCT-on-normalized-vectors convention). Skipping this
            # measurably halves shortlist recall on the fixture.
            E /= _safe_norms(E)
            codes = []
            for m in range(PQ_M):
                lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
                diff = E[:, None, lo:hi] - cbs[m][None, :, :]
                codes.append(
                    pa.array((diff * diff).sum(axis=2).argmin(axis=1).astype(np.int64))
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(2), *codes],
                names=["neighbor_id", "cluster_id"]
                + [f"code_{m}" for m in range(PQ_M)],
            )

    codes = (
        e.select(
            "vec_id",
            "embedding",
            F.element_at(_nearest_clusters("embedding", centroids, 1), 1).alias(
                "cluster_id"
            ),
        )
        .mapInArrow(
            encode,
            "neighbor_id long, cluster_id int, "
            + ", ".join(f"code_{m} long" for m in range(PQ_M)),
        )
    )

    # -- per-query ADC lookup tables (q × PQ_M·PQ_K doubles, literal)
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        return spark.createDataFrame(
            [(0, True, True)], "n_queries long, min_recall_ok boolean, mean_recall_ok boolean"
        ).filter(F.lit(False))
    luts = {}
    for r in qrows:
        qv = np.array(r.embedding, dtype=np.float64)
        qn = np.sqrt((qv * qv).sum())
        qv /= qn if qn != 0.0 else 1.0  # match the index normalization
        lut = np.empty(PQ_M * PQ_K)
        for m in range(PQ_M):
            lo, hi = m * PQ_SUB, (m + 1) * PQ_SUB
            diff = qv[None, lo:hi] - cbs[m]
            lut[m * PQ_K : (m + 1) * PQ_K] = (diff * diff).sum(axis=1)
        luts[r.vec_id] = lut
    max_qid = max(luts)
    lut_sql = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                f"cast({v!r} as double)"
                for v in luts.get(qid, np.zeros(PQ_M * PQ_K))
            )
            + ")"
            for qid in range(max_qid + 1)
        )
        + ")"
    )
    # Bind the query's 128-double LUT row ONCE (the big array-of-
    # arrays literal appears a single time in the plan), then index
    # the 8 code columns into it — inlining the literal per subspace
    # made the expression tree 8x larger for identical semantics.
    lut_row = F.expr(f"element_at({lut_sql}, cast(query_id + 1 as int))")
    adc = F.expr(
        "aggregate(array("
        + ",".join(
            f"element_at(__lut, cast({m * PQ_K} + code_{m} + 1 as int))"
            for m in range(PQ_M)
        )
        + "), cast(0.0 as double), (acc, x) -> acc + x)"
    )

    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            _nearest_clusters("embedding", centroids, IVFPQ_NPROBE)
        ).alias("cluster_id"),
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    shortlist = (
        F.broadcast(q)
        .join(codes, "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__lut", lut_row)
        .withColumn("adc", adc)
        .withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= shortlist_k)
        .select("query_id", "neighbor_id")
    )

    # -- refine: fetch full vectors for the bounded shortlist, exact cosine
    qemb = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    nemb = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    refined = (
        F.broadcast(shortlist)
        .join(nemb, "neighbor_id")
        .join(F.broadcast(qemb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w_cos))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", F.col("neighbor_id").alias("pq_n"))
    )

    exact = k3_knn_bruteforce(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("bf_n")
    )
    hits = (
        exact.join(
            refined,
            (exact["query_id"] == refined["query_id"])
            & (F.col("bf_n") == F.col("pq_n")),
            "left",
        )
        .groupBy(exact["query_id"])
        .agg((F.count("pq_n") / F.lit(float(TOP_K))).alias("recall"))
    )
    if _raw_recalls:
        return hits
    # Measured (trained codebooks, nprobe=6, adaptive shortlist):
    # mean 0.64 / 0.58 / 0.54 and min 0.2 / 0.4 / 0.4 at sf0.001 /
    # 0.01 / 0.1 — within 0.04 of the coarse-probe ceiling at every
    # SF (the plain-IVF recall with the same probes), i.e. the 64×
    # compression costs almost nothing once the shortlist is exact-
    # refined. All inputs are deterministic (md5/xxhash seeds), so
    # these numbers are exact, not distributions; bounds sit under
    # them at all three fixture scales.
    return hits.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.min("recall") >= 0.2).alias("min_recall_ok"),
        (F.avg("recall") >= 0.5).alias("mean_recall_ok"),
    )


def _kmeans_oracle() -> str:
    """DuckDB mirror of `k3_kmeans` — 3 Lloyd rounds in exact
    fixed-point integer arithmetic, unrolled as CTEs. See the query
    docstring for why every step is integer-exact in both engines."""
    dist = (
        "CAST(list_sum(list_transform(range(1, 65), "
        "i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))) AS BIGINT)"
    )

    def assign(points: str, cents: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT p.vec_id, p.q,
             CAST(MIN({dist} * 1024 + c.cid) % 1024 AS INT) AS cid
      FROM {points} p, {cents} c
      GROUP BY p.vec_id, p.q
    )"""

    def update(assigned: str, out: str) -> str:
        return f"""
    {out}_pos AS (
      SELECT cid, i.i AS i, SUM(q[i.i]) AS s, COUNT(*) AS n
      FROM {assigned}, (SELECT UNNEST(range(1, 65)) AS i) i
      GROUP BY cid, i.i
    ),
    {out} AS (
      SELECT cid, list(s // n ORDER BY i) AS c
      FROM {out}_pos GROUP BY cid
    )"""

    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(ROUND((CAST(x AS DOUBLE) + 2) * 1000)
                                      AS BIGINT)) AS q
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cid, q AS c FROM q ORDER BY vec_id LIMIT 8
    ),{assign('q', 'c0', 'a1')},{update('a1', 'c1')},
    {assign('q', 'c1', 'a2')},{update('a2', 'c2')},
    {assign('q', 'c2', 'a3')},{update('a3', 'c3')}
    SELECT a.cid,
           COUNT(*) AS n_points,
           CAST((SELECT list_sum(c.c) FROM c3 c WHERE c.cid = a.cid)
                AS BIGINT) AS centroid_sum
    FROM a3 a
    GROUP BY a.cid
    ORDER BY a.cid
    """


@query("k3_kmeans", oracle=_kmeans_oracle())
def k3_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd) over the embedding corpus — the
    clustering pass that trains IVF coarse quantizers (k3_knn_ivf /
    k3_ivfpq_search centroids), builds SemDeDup buckets, and drives
    corpus domain-discovery; Spark MLlib ships it as KMeans, here it
    is the bare DataFrame algorithm so the oracle can certify every
    round.

    Bit-exact by construction: coordinates are quantized ONCE to
    non-negative fixed-point (`round((x+2)*1e3)` — the +2 shift makes
    every value positive so Spark's `div` and DuckDB's `//`, both
    truncating, agree) and ALL downstream arithmetic is
    integer-exact — squared-L2 distances (bigint), argmin with the
    deterministic tie-break `min(dist*1024 + cid) % 1024`, and
    centroid updates as per-position `sum div count`. Three unrolled
    Lloyd rounds later, both engines hold the identical clustering —
    no FP summation-order drift anywhere, which is what makes a
    distributed iterative algorithm hash-certifiable at all.

    Scale shape (the FAISS/MLlib layout): points never leave the
    cluster — each round is one map-side assignment (k×d literal
    broadcast into the argmin expression, no join, no shuffle of the
    corpus) plus one 64-column partial-aggregated groupBy whose
    output is k rows; the driver collects only k×d centroid ints per
    round (the bounded-codebook pattern, same as the IVF/PQ
    operators). Rounds are O(k·d·n) compute with an O(k·d) shuffle —
    at 100 TB the corpus scan dominates and nothing accumulates on
    the driver."""
    emb = T(spark, sf_dir, "embeddings")
    k, iters = 8, 3
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round((x + F.lit(2.0)) * 1000).cast("bigint"),
        ).alias("q"),
    )
    # One bounded collect doubles as the empty-corpus probe (the
    # former head() was a second full action just to learn d —
    # fewer driver actions per build).
    seeds = q.orderBy("vec_id").limit(k).collect()  # k x d ints, bounded
    if not seeds:
        raise ValueError(
            "k3_kmeans: embeddings table is empty — nothing to "
            "cluster (clean-empty convention)"
        )
    d = len(seeds[0]["q"])
    cents = [(int(r["vec_id"]), list(r["q"])) for r in seeds]

    def assigned_df():
        # The whole argmin is ONE SQL string → one py4j round-trip per
        # round (the `_nearest_clusters` idiom), replacing ~k×d F.lit
        # calls of driver↔JVM chatter per rebuild (the expression tree and its integer
        # arithmetic are unchanged: k inlined zip_with/aggregate
        # folds, least() with the *1024+cid tie-break).
        keys = ",".join(
            "aggregate(zip_with(q, array("
            + ",".join(f"{int(v)}L" for v in c)
            + "), (a, b) -> (a - b) * (a - b)), "
            "cast(0 as bigint), (acc, x) -> acc + x) "
            f"* 1024 + {cid}"
            for cid, c in cents
        )
        return q.withColumn(
            "cid", F.expr(f"cast(least({keys}) % 1024 as int)")
        )

    sums = [
        F.expr(f"sum(element_at(q, {i + 1}))").alias(f"s{i}")
        for i in range(d)
    ]
    for _ in range(iters - 1):
        rows = (
            assigned_df()
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        cents = sorted(
            (int(r["cid"]), [int(r[f"s{i}"]) // int(r["n"]) for i in range(d)])
            for r in rows
        )
    final = assigned_df().groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_points"), *sums
    )
    centroid_sum = sum(
        (F.expr(f"s{i} div n_points") for i in range(d)),
        start=F.lit(0).cast("bigint"),
    )
    return (
        final.withColumn("n", F.col("n_points"))
        .select(
            "cid",
            "n_points",
            centroid_sum.cast("bigint").alias("centroid_sum"),
        )
        .orderBy("cid")
    )
