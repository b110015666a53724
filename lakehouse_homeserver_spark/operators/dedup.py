"""Deduplication operators over `documents` — SURVEY.md §2.K1/K2.

Training-data-pipeline dedup at 100 TB, three rungs of the ladder:

1. **Exact** (`k1_*`): normalize → hash → one hash-partitioned
   groupBy. Shuffle is on a 128-bit digest → uniformly distributed,
   no skew, no comparisons beyond equality.
2. **Near-dup, exact verification** (`k2_ngram_jaccard`): token-set
   Jaccard, but only *within a blocking key* — never the O(n²) global
   cross join. Here the block is `source`; in production it's an LSH
   band (below).
3. **Near-dup at scale** (`k2_minhash_lsh`): shingle → MinHash
   signature → banded LSH bucketing → candidate pairs by bucket
   equi-join → exact-Jaccard verification of candidates only. All
   shuffles are equi-joins on band hashes; the cross-product never
   materializes (SURVEY.md §7 Phase 5's 100 TB constraint).
4. **SimHash** (`k2_simhash`): 60-bit fingerprint from md5 token
   hashes — near-dup via Hamming distance on a single BIGINT; the
   fingerprint itself is engine-agnostic (md5-derived) and therefore
   oracle-checkable bit-for-bit.

Hashes are md5-derived (not Spark-private xxhash) wherever an oracle
must reproduce them; LSH internals use xxhash64 (cheaper, JVM-side)
since they are verified by property, not by SQL parity.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table as T

from .common import make_registry, pin, session_conf, unpin

QUERIES, ORACLES, query = make_registry()

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed BIGINT

def norm_text(col):
    """Normalization contract shared by every dedup rung: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# K1 — exact dedup
# ---------------------------------------------------------------------------

@query(
    "k1_dedup_exact_groups",
    oracle=f"""
    SELECT md5({SQL_NORM}) AS text_hash,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def k1_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups: hash of normalized text → keeper + copy count.

    One shuffle on the digest; at 100 TB the md5 column is 16 bytes/row
    into the exchange instead of the full document text.
    """
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(norm_text(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "k1_dedup_exact_keep",
    oracle=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY md5({SQL_NORM})
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def k1_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving rows after exact dedup (first-by-doc_id wins) —
    the window-rank formulation that keeps full rows without a
    self-join back (SURVEY K1)."""
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(norm_text(F.col("text")))).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# K2 — near-dup: exact Jaccard within a blocking key
# ---------------------------------------------------------------------------

def _vocab_bitmask(toks: DataFrame):
    """Shared dictionary-bitmask kernel (k2_ngram_jaccard /
    k2_containment_pairs): probe whether the corpus vocabulary fits
    63 bits (ONE limit(64) driver probe instead of one per caller),
    and if so attach a `mask` long per doc so set intersection is
    `bit_count(maskA & maskB)` — 3 codegen instructions per pair
    instead of a string-array intersect. Returns (fits, masked_toks);
    when the vocab exceeds 63 tokens, masked_toks is the input
    unchanged and callers take their documented large-vocab path.

    <= 63 (not 64): bit index 63 would emit 1 << 63 as a Python int
    literal, which overflows Spark's signed long at expression-build
    time; the sign bit is simply left unused."""
    vocab = [
        r.t
        for r in toks.select(F.explode("tokens").alias("t"))
        .distinct()
        .limit(64)
        .collect()
    ]
    if len(vocab) > 63:
        return False, toks
    bit = dict(zip(sorted(vocab), range(len(vocab))))
    mask_map = F.create_map(
        *[x for t, i in bit.items() for x in (F.lit(t), F.lit(1 << i))]
    )
    return True, toks.withColumn(
        "mask",
        F.aggregate(
            F.transform("tokens", lambda t: F.element_at(mask_map, t)),
            F.lit(0).cast("long"),
            lambda acc, m: acc.bitwiseOR(m),
        ),
    )



@query(
    "k2_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(string_split({SQL_NORM}, ' ')) AS tokens
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
             / (len(a.tokens) + len(b.tokens)
                - len(list_intersect(a.tokens, b.tokens))) AS jaccard
    FROM toks a JOIN toks b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
             / (len(a.tokens) + len(b.tokens)
                - len(list_intersect(a.tokens, b.tokens))) >= 0.8
    """,
)
def k2_ngram_jaccard(
    spark: SparkSession, sf_dir: str, require_exact: bool = False
) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.8 within a `source` block (SURVEY K2).

    The block join is an equi-join on the blocking key — the pair
    explosion is bounded per block, never global. |A∩B| is computed
    once; jaccard = i / (|A|+|B|−i) is integer-derived, so the double
    division is bit-identical across engines.

    Two lossless accelerations on top of the blocked join:
    - size-ratio prefilter: J ≥ 0.8 forces |A|/|B| ∈ [0.8, 1.25], so
      most pairs skip the set intersection entirely;
    - dictionary-encoded bitmask fast path: one pass collects the
      global vocabulary; if it fits 64 bits (true for this fixture's
      31-word vocabulary — common for templated/log-like corpora after
      normalization), each token set becomes ONE bigint and the
      intersection is `bit_count(a & b)` — a 3-instruction codegen
      kernel instead of a per-pair string-array intersect (measured
      ~5× on the 62M-pair sf0.1 workload).

    Vocabularies beyond 63 tokens take `_banded_jaccard_pairs`: the
    blocking key becomes (MinHash band × source) so block sizes are
    hash-bounded rather than source-distribution-bounded — a single
    dominant source can't produce O(block²) pairs. That path keeps
    the exact-Jaccard verification but is LSH-recall (s-curve ≥98.6 %
    per pair at J=0.9), documented and property-tested; the ≤63-token
    dictionary path remains exhaustive.
    """
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split(norm_text(F.col("text")), " ")).alias("tokens"),
    ).withColumn("n_tok", F.size("tokens"))

    size_ok = (F.col("a.n_tok") * 5 >= F.col("b.n_tok") * 4) & (
        F.col("b.n_tok") * 5 >= F.col("a.n_tok") * 4
    )
    blocked = (F.col("a.source") == F.col("b.source")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )

    fits, toks = _vocab_bitmask(toks)
    if not fits:
        # Unbounded vocabulary: the source block is no longer a safe
        # unit of work (one dominant source → O(block²) pairs at
        # 100 TB). Switch to MinHash-band blocking with the same
        # exact-Jaccard verification — LSH-recall,
        # NOT exhaustive, so consumers whose contract is the exact
        # pair set (verified_pairs and the graph family whose oracles
        # recompute it exhaustively) must pass require_exact=True and
        # fail loudly here instead of silently diverging from their
        # oracles.
        if require_exact:
            raise ValueError(
                "corpus vocabulary exceeds the 63-token exact-kernel "
                "bound; the exhaustive pair contract cannot be met — "
                "use the LSH path (require_exact=False) and an "
                "s-curve-aware consumer"
            )
        return _banded_jaccard_pairs(toks, threshold=0.8)

    a, b = toks.alias("a"), toks.alias("b")
    inter = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
    union = F.col("a.n_tok") + F.col("b.n_tok") - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, blocked & size_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


def _banded_jaccard_pairs(
    toks: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Scale path for exact-verified token-set Jaccard pairs: MinHash
    band keys (× source) as the blocking key instead of raw source.

    Input: (doc_id, source, tokens, n_tok). Candidate generation is a
    bucket equi-join on (band, band-hash, source) — block sizes are
    bounded by hash dispersion, never by the source distribution, so
    a single dominant source no longer yields O(block²) pairs. Every
    candidate is then verified with the EXACT token-set Jaccard (the
    same integer-derived division as the dictionary fast path, so
    emitted values are bit-identical across paths).

    Recall is the 4×4 s-curve (crossover (1/4)^(1/4) ≈ 0.707 < τ=0.8;
    ≥ 98.6 % per pair at J = 0.9) — the standard near-dup trade, made
    explicit here where the fast path is exhaustive. Property-tested
    in tests/test_extensions.py with a >63-token vocabulary: subset
    of the exact result, high recall, no cartesian in the plan.
    """
    rows_per = num_hashes // bands

    from ..functions.minhash import minhash_sigs_udf

    # Arrow-batched numpy permutation/min kernel, bit-identical to the
    # interpreted fold it replaced (see minhash_signatures for the
    # measured history).
    sig = minhash_sigs_udf(num_hashes)(F.col("hs"))
    # Small projection pinned: both sides of the banded self-join
    # consume it (ReusedExchange won't fire across the explode).
    sigs = pin(
        toks.withColumn("hs", F.transform("tokens", lambda t: F.xxhash64(t)))
        .select("doc_id", "source", "n_tok", sig.alias("sig"))
    )
    banded = sigs.select(
        "doc_id",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per + r + 1)
                                    for r in range(rows_per)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "source", "bb.band", "bb.bhash")

    ba, bb = banded.alias("ba"), banded.alias("bb")
    # tiny; feeds both the broadcast id list and the final join
    candidates = pin(
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bhash") == F.col("bb.bhash"))
            & (F.col("ba.source") == F.col("bb.source"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
    )
    unpin(sigs)  # the result reads the candidates, not the signatures

    # Verify with exact Jaccard on the CANDIDATE docs' token sets only
    # (broadcast semi-join; work scales with |candidates|, not corpus).
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select("doc_b"))
        .distinct()
    )
    cand_toks = toks.join(F.broadcast(cand_ids), "doc_id")
    va = cand_toks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tokens").alias("tok_a"),
        F.col("n_tok").alias("na"),
    )
    vb = cand_toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tokens").alias("tok_b"),
        F.col("n_tok").alias("nb"),
    )
    # Size prefilter derived from THE CALLER'S threshold as exact
    # integer arithmetic (J(A,B) <= min/max sizes): an earlier version
    # hardcoded tau=0.8's 5/4 ratio, so any other threshold silently
    # dropped true pairs beyond the documented LSH recall loss.
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10_000)
    num, den = frac.numerator, frac.denominator
    size_ok = (F.col("na") * den >= F.col("nb") * num) & (
        F.col("nb") * den >= F.col("na") * num
    )
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    union = F.col("na") + F.col("nb") - inter
    jac = inter.cast("double") / union
    return (
        candidates.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter(size_ok)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# K2 — MinHash + LSH (the 100 TB path; property-verified, no SQL oracle)
# ---------------------------------------------------------------------------

def _shingles_from_tokens(toks, n: int = 3):
    """Word n-gram shingles from a MATERIALIZED token-array column.

    `toks` must be a bound column reference, not an inline expression:
    it is captured inside the per-gram lambda, and an expression there
    re-evaluates once PER SHINGLE (the tokenizing regex ran ~52× per
    row — measured 6.0 s → 0.9 s for the signature pass at sf0.1 when
    callers materialize the token column first). Same CSE trap as
    minhash's base hashes, one level deeper.
    """
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # Short docs (< n tokens): fall back to the whole text as one shingle.
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


def _tokenized(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles): tokenize once into a column, then shingle
    from the column reference (see _shingles_from_tokens)."""
    return docs.select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    ).select("doc_id", _shingles_from_tokens(F.col("tk"), n).alias("shingles"))


def _perm_hash(i: int):
    """Unary lambda factory for the i-th simulated permutation.

    MUST be arity-1: `F.transform` feeds a two-parameter lambda the
    ELEMENT INDEX as its second argument, so the once-tempting
    `lambda h, i=i: xxhash64(h, lit(i))` silently replaces the
    permutation index with the token's array position — every
    "permutation" collapses to the same min and the whole signature
    degenerates to one effective hash (found by the fallback
    recall test; the s-curve math only holds with independent
    permutations)."""
    return lambda h: F.xxhash64(h, F.lit(i))


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """doc_id → array<bigint> MinHash signature.

    Permutation i is simulated by re-hashing the shingle's base hash
    with the permutation index as a second operand. The base string
    hash stays JVM-side (one `xxhash64(s)` per shingle); the
    num_hashes × num_shingles permutation-and-min grid runs in the
    Arrow-batched numpy kernel of `functions/minhash.py`, which
    reimplements Spark's `xxhash64(bigint, int)` BIT-FOR-BIT — so
    signatures, band buckets, and the fixture-pinned recall-equality
    contract are unchanged, only ~5× faster.

    Cost choices (each measured at sf0.1, 50k docs, local[32]):
    - the shingle array, then its base-hash array, are materialized as
      columns FIRST; inlining them into every consumer defeats
      common-subexpression elimination and recomputes the shingling
      num_hashes+1× per row (~10× slower);
    - each shingle string is hashed ONCE (`xxhash64(s)`), and the
      num_hashes permutations hash the resulting fixed-width bigint
      (~3.5× cheaper than string-hashing per permutation);
    - measured shapes of the fold itself: interpreted
      transform+aggregate+zip_with single pass 4.1 s < 6.2 s
      (num_hashes transform+array_min passes) < 9.4 s (explode →
      groupBy MIN); the numpy kernel ≈ 0.8 s incl. Arrow transfer —
      Catalyst evaluates higher-order-function lambdas row-at-a-time
      in the interpreter, so the grid belongs in a vectorized kernel
      (same lesson as PQ/aHash).
    """
    from ..functions.minhash import minhash_sigs_udf

    sh_df = _tokenized(docs, shingle_n).withColumn(
        "hs", F.transform("shingles", lambda s: F.xxhash64(s))
    )
    sig = minhash_sigs_udf(num_hashes)(F.col("hs"))
    return sh_df.select("doc_id", sig.alias("sig"), "shingles")


@query(
    "k2_minhash_lsh",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(len(tk)-2),
                         i -> array_to_string(tk[i+1:i+3], ' ')))
                  ELSE [array_to_string(tk, ' ')] END AS sh
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
            FROM documents) t
    ),
    inv AS (SELECT doc_id, UNNEST(sh) AS s FROM d),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT da AS doc_a, db AS doc_b,
           ROUND(len(list_intersect(x.sh, y.sh)) /
                 CAST(len(x.sh) + len(y.sh)
                      - len(list_intersect(x.sh, y.sh)) AS DOUBLE), 4) AS jaccard
    FROM cand JOIN d x ON x.doc_id = da JOIN d y ON y.doc_id = db
    WHERE jaccard >= 0.7
    """,
)
def k2_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification
    (SURVEY K2).

    Oracle: the DuckDB side computes the EXACT pair set —
    inverted-index candidate generation (docs sharing >=1 shingle is
    a superset of any Jaccard>0 pair) + exact Jaccard filter. The
    engine's LSH output is always a SUBSET of that set (candidates
    are exact-verified before emission); hash-equality additionally
    certifies recall == 1 on this corpus. That equality is a
    DETERMINISTIC property of (fixed xxhash64 permutations, fixture
    text): measured missed=0/extra=0 at sf0.001/0.01/0.1. It is NOT a
    general LSH guarantee — a corpus with pairs sitting at the
    s-curve's soft edge (J just above tau) could legitimately drop
    below recall 1 (P[candidate] = 1-(1-J^4)^4 ~ 0.67 at J = 0.70);
    `test_minhash_lsh_recall_is_total_on_fixture` pins the fixture
    fact locally so a banding/hash change that breaks driver parity
    fails fast in pytest first.

    Pipeline (all equi-joins, no cross product):
      shingle → 16 minhashes → 4 bands × 4 rows → explode bands →
      groupBy (band, band_hash) → within-bucket pair join →
      distinct candidate pairs → exact Jaccard on shingle sets →
      filter ≥ threshold.

    Banding is tuned to the threshold: b=4 bands of r=4 rows puts
    the LSH s-curve crossover at (1/b)^(1/r) ≈ 0.707 ≈ τ. The
    previous 8×2 banding crossed at 0.35 — at that setting almost
    every mid-similarity pair became a candidate and the exact
    verification dominated runtime (measured 2.3× slower at sf0.1 on
    this corpus, whose 31-word vocabulary makes mid-J pairs abundant).

    At 100 TB: the band explode is ×b on a (doc_id, 16×8 bytes)
    projection — not on the text; bucket joins shuffle only digests;
    the exact verification re-joins shingles for the candidate pairs
    only (a vanishing fraction of n²).
    """
    docs = T(spark, sf_dir, "documents")
    rows_per_band = num_hashes // bands
    # Pin the SMALL (doc_id, sig) projection only: the banded
    # self-join consumes it on both sides and ReusedExchange does not
    # fire across the band explode, so an unpinned sig pass runs
    # twice (measured 14.5 s). Materializing WITH the shingle arrays
    # (an earlier shape) paid 7.3 s; sig-only costs ~4 s and
    # verification re-shingles just the candidate docs below
    # (broadcast semi-join — work scales with |candidates|).
    sigs = pin(minhash_signatures(docs, num_hashes).select("doc_id", "sig"))

    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bhash")

    a = banded.alias("a")
    b = banded.alias("b")
    # tiny; feeds both the broadcast id list and the final join
    candidates = pin(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    unpin(sigs)  # the result reads the candidates, not the signatures

    # Exact verification: shingle ONLY the candidate docs. The
    # candidate id list is tiny relative to the corpus, so it
    # broadcasts and the shingling work scales with |candidates|,
    # not |corpus|.
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select("doc_b"))
        .distinct()
    )
    cand_shingles = _tokenized(docs.join(F.broadcast(cand_ids), "doc_id"))
    sa = cand_shingles.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = cand_shingles.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# K2 — SimHash fingerprint (oracle-checkable: md5-derived bits)
# ---------------------------------------------------------------------------

def _sql_simhash_oracle() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             UNNEST(list_distinct(string_split({SQL_NORM}, ' '))) AS token
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), bits AS (
      SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {fp} AS simhash FROM bits
    """


@query("k2_simhash", oracle=_sql_simhash_oracle())
def k2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (SURVEY K2).

    Token hash = first 60 bits of md5 (engine-agnostic → the oracle
    reproduces the fingerprint exactly). Explode tokens → per-bit ±1
    sums in ONE hash aggregate (60 columns) → reassemble the
    fingerprint. Near-dup queries then compare fingerprints with
    ``bit_count(a ^ b) <= k`` — a single-BIGINT Hamming check.
    """
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(norm_text(F.col("text")), " "))
        ).alias("token"),
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("bigint") * (1 << j)).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.alias("simhash"))


def _sql_near_pairs_oracle() -> str:
    return f"""
    WITH fp AS ({_sql_simhash_oracle()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
    """


@query("k2_simhash_near_pairs", oracle=_sql_near_pairs_oracle())
def k2_simhash_near_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 5
) -> DataFrame:
    """SimHash near-dup pairs: Hamming(a,b) ≤ k via banded blocking.

    The scale path mirrors classic simhash dedup: split the 60-bit
    fingerprint into 6 bands of 10 bits; by pigeonhole, any pair
    within Hamming ≤ 5 (< number of bands) agrees exactly on ≥1 band
    → equi-join on (band_idx, band_bits) finds ALL such pairs without
    a cross join; verify with bit_count on the candidates.

    Unlike MinHash LSH this blocking is COMPLETE (a guarantee, not an
    s-curve), so the op is fully oracle-checked: DuckDB recomputes the
    md5-derived fingerprints and brute-forces every pair — feasible at
    oracle scale, and any banding bug (missed band, wrong mask) shows
    up as a missing row.
    """
    if max_hamming >= 6:
        # NOT an assert: under python -O an assert vanishes and the
        # banding pigeonhole silently stops being complete — the op
        # would return a quietly-partial pair set.
        raise ValueError(
            "banding guarantee requires max_hamming < bands (6): "
            f"got {max_hamming}"
        )
    # pin: the fingerprint agg (explode + 60-column bit sums) feeds
    # BOTH sides of the self-join; without it the whole pipeline runs
    # twice (ReusedExchange doesn't fire across the band explode). The
    # agg's output is small enough that AQE coalesces it to ONE
    # partition, and the pinned table's known size then plans a
    # broadcast join whose probe side is that single task (measured
    # 2.3-2.7 s of exec at sf0.1); spreading the pinned rows over the
    # cores first keeps the probe parallel.
    cores = spark.sparkContext.defaultParallelism
    fps = pin(k2_simhash(spark, sf_dir).repartition(cores))
    bands = 6
    width = SIMHASH_BITS // bands  # 10 bits
    mask = (1 << width) - 1
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bits")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# K8 — benchmark decontamination (training-data pipeline extension)
# ---------------------------------------------------------------------------

@query(
    "k8_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 5
                    THEN list_distinct(list_transform(
                           range(1, len(tk) - 3),
                           i -> array_to_string(tk[i:i+4], ' ')))
                    ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM toks
    ),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 29 = 0)
    SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_contaminated_grams
    FROM grams g JOIN ev USING (gram)
    WHERE g.doc_id % 29 <> 0
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def k8_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share a
    word 5-gram with a held-out eval set (here: every 29th doc plays
    the benchmark role). Standard practice for LLM corpora (the
    reference stack has no equivalent; this is a §2.K extension).

    100 TB design: eval sets are benchmark-sized (thousands of docs),
    so their distinct-gram set is broadcast; the corpus side is a
    map-only explode + broadcast hash semi-join, and the final groupBy
    only aggregates rows that survived the semi-join (contaminated
    grams — tiny). The corpus is never shuffled.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    grams = d.select(
        "doc_id",
        F.explode(_shingles_from_tokens(F.col("tk"), 5)).alias("gram"),
    )
    ev = (
        grams.filter(F.col("doc_id") % 29 == 0)
        .select("gram")
        .distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 29 != 0)
        .join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
        .orderBy("doc_id")
    )


_BLOOM_K = 3             # hash functions
_BLOOM_BITS_PER_GRAM = 64  # m = 64 x eval grams -> ~4.7% fill, ~1e-4/gram FP


def _sql_bloom_pos(gram: str, h: str, m: str) -> str:
    """DuckDB twin of the Spark bloom position: md5-derived 60-bit
    int mod m — md5 is md5 in every engine, so both sides set (and
    probe) EXACTLY the same bits."""
    return (
        f"CAST('0x' || SUBSTRING(md5({gram} || '|' || CAST({h} AS VARCHAR)),"
        f" 1, 15) AS BIGINT) % ({m})"
    )


_SQL_BLOOM_M = f"SELECT {_BLOOM_BITS_PER_GRAM} * GREATEST(COUNT(*), 16) FROM ev"


@query(
    "k8_bloom_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({{SQL_NORM}}, ' ') AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 5
                    THEN list_distinct(list_transform(
                           range(1, len(tk) - 3),
                           i -> array_to_string(tk[i:i+4], ' ')))
                    ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM toks
    ),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 29 = 0),
    hs AS (SELECT UNNEST(range(0, {_BLOOM_K})) AS h),
    bloom AS (
      SELECT {_sql_bloom_pos('gram', 'h', _SQL_BLOOM_M)} // 63 AS word,
             BIT_OR(1::BIGINT <<
                    ({_sql_bloom_pos('gram', 'h', _SQL_BLOOM_M)} % 63)) AS bits
      FROM ev, hs GROUP BY 1
    ),
    train AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 29 <> 0),
    probes AS (
      SELECT t.doc_id, t.gram, h.h,
             {_sql_bloom_pos('t.gram', 'h.h', _SQL_BLOOM_M)} // 63 AS word,
             1::BIGINT <<
               ({_sql_bloom_pos('t.gram', 'h.h', _SQL_BLOOM_M)} % 63) AS mask
      FROM train t, hs h
    ),
    gram_flag AS (
      SELECT p.doc_id, p.gram,
             BOOL_AND(b.bits IS NOT NULL AND (b.bits & p.mask) = p.mask)
               AS maybe
      FROM probes p LEFT JOIN bloom b ON p.word = b.word
      GROUP BY p.doc_id, p.gram
    ),
    doc_bloom AS (
      SELECT doc_id, BOOL_OR(maybe) AS bloom_flagged
      FROM gram_flag GROUP BY doc_id
    ),
    doc_exact AS (
      SELECT doc_id, TRUE AS exact_contaminated
      FROM train t WHERE EXISTS (SELECT 1 FROM ev e WHERE e.gram = t.gram)
      GROUP BY doc_id
    )
    SELECT COUNT(*) AS n_train_docs,
           CAST(SUM(CASE WHEN COALESCE(e.exact_contaminated, FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN b.bloom_flagged THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bloom_flagged,
           BOOL_AND(NOT COALESCE(e.exact_contaminated, FALSE)
                    OR b.bloom_flagged) AS no_false_negatives,
           CAST(SUM(CASE WHEN b.bloom_flagged
                          AND NOT COALESCE(e.exact_contaminated, FALSE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives
    FROM doc_bloom b LEFT JOIN doc_exact e USING (doc_id)
    """.replace("{SQL_NORM}", SQL_NORM),
)
def k8_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — k8_decontaminate's 100 TB scale
    path, hash-certified END TO END. `k8` broadcasts the eval set's
    DISTINCT GRAMS (fine for benchmark-sized evals); when the held-out
    set is itself corpus-scale, that broadcast becomes the bottleneck.
    The classic fix is a Bloom filter over the eval grams, built
    DISTRIBUTEDLY: explode eval grams x k=3 md5-derived positions,
    `bit_or` the masks per 63-bit word (bits 0..62 — bit 63 would
    overflow DuckDB's checked shift; order-independent,
    combiner-friendly: the build is one map-side-partial aggregate
    emitting m/63 word rows no matter how big the eval set is). The
    filter is sized FROM the data — m = 64 bits per eval gram
    (~4.7 % fill, ~1e-4 per-gram false-positive rate; the first cut
    hardcoded m=2^16, which at sf0.1 hit 42 % fill and flagged 3767
    of 4827 docs falsely — filter sizing IS the operating point).

    Probing uses the bloom as a BROADCAST VARIABLE: the word table is
    bounded and deterministic, so it collects once (codebook pattern)
    and re-enters the plan as a LOCAL-relation broadcast hash join
    per hash function — the corpus gram stream never replicates and
    never shuffles; only flagged grams (tiny) reach the per-doc
    distinct. Rejected probe forms, all measured at sf0.1: k renamed
    broadcasts of the bloom-build SUBTREE re-executed the build per
    hash (8.6 s — the BM25 subtree-duplication lesson); a
    1000-element literal array was not constant-folded (11.8 s — the
    PQ expression-tree lesson); a packed hex-string literal column
    was copied into every probe row by UnsafeProjection (19.7 s).

    Because positions derive from md5 (not JVM-internal hashing),
    DuckDB rebuilds the IDENTICAL bit array and flags — the oracle
    hash pins exact counts, the structural zero-false-negative
    guarantee, and the EXACT false-positive count at this m/k/n
    operating point — not a probabilistic bound but the deterministic
    value both engines must agree on. (Spark's built-in
    bloom_filter_agg / might_contain is the same shape JVM-side but
    is not SQL-exposed in this build and could not be cross-checked
    bit for bit.)
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    grams = d.select(
        "doc_id",
        F.explode(_shingles_from_tokens(F.col("tk"), 5)).alias("gram"),
    )
    hs = F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    # The eval gram set is consumed THREE times (sizing count, bloom
    # build, exact-contamination semi-join) and each lazy use re-ran
    # the corpus-wide tokenize+shingle+explode behind it; it is eval-set-sized, so materialize it once.
    ev = pin(grams.filter(F.col("doc_id") % 29 == 0).select("gram").distinct())
    n_ev = ev.count()  # eval-set-sized driver scalar — sizes the filter
    m = _BLOOM_BITS_PER_GRAM * max(n_ev, 16)

    def pos(gram, h):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", gram, h.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
            % m
        )

    ev_pos = ev.select("gram", F.explode(hs).alias("h")).select(
        pos(F.col("gram"), F.col("h")).alias("p")
    )
    bloom = ev_pos.groupBy(
        (F.col("p") / 63).cast("bigint").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT)))")
        .alias("bits")
    )
    arr = {int(r["word"]): int(r["bits"]) for r in bloom.collect()}
    bdf = spark.createDataFrame(
        sorted(arr.items()), "word bigint, bits bigint"
    )
    train = grams.filter(F.col("doc_id") % 29 != 0)
    probes = train
    hits = []
    for h in range(_BLOOM_K):
        probes = probes.withColumn(f"p{h}", pos(F.col("gram"), F.lit(h)))
        b = F.broadcast(
            bdf.withColumnRenamed("word", f"bw{h}").withColumnRenamed(
                "bits", f"bb{h}"
            )
        )
        probes = probes.join(
            b,
            F.expr(f"CAST(p{h} DIV 63 AS BIGINT)") == F.col(f"bw{h}"),
            "left",
        )
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p{h} % 63 AS INT))"
        )
        hits.append(
            F.col(f"bb{h}").isNotNull()
            & (F.col(f"bb{h}").bitwiseAND(mask) == mask)
        )
    maybe = hits[0]
    for hh in hits[1:]:
        maybe = maybe & hh
    flagged = probes.filter(maybe).select("doc_id").distinct()
    exact = (
        train.join(F.broadcast(ev), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    n_train = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 29 != 0)
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    both = (
        flagged.withColumn("bloom_flagged", F.lit(True))
        .join(
            exact.withColumn("exact", F.lit(True)), "doc_id", "full_outer"
        )
        .select(
            F.coalesce("bloom_flagged", F.lit(False)).alias("bloom_flagged"),
            F.coalesce("exact", F.lit(False)).alias("exact"),
        )
    )
    agg = both.agg(
        F.sum(F.when(F.col("exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(F.col("bloom_flagged"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_flagged"),
        F.coalesce(
            F.expr("bool_and(NOT exact OR bloom_flagged)"), F.lit(True)
        ).alias("no_false_negatives"),
        F.sum(F.when(F.col("bloom_flagged") & ~F.col("exact"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_positives"),
    )
    return n_train.crossJoin(F.broadcast(agg)).select(
        "n_train_docs",
        "n_exact",
        "n_bloom_flagged",
        "no_false_negatives",
        "n_false_positives",
    )


# ---------------------------------------------------------------------------
# K2 — duplicate-cluster resolution (connected components over pairs)
# ---------------------------------------------------------------------------


def verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair list (k2_ngram_jaccard's output),
    WRITTEN ONCE per dataset as a snapshot table and read
    back by every graph consumer (dup clusters, PageRank, triangles,
    contrastive triplets). Without this each consumer re-derives the
    pairs from the corpus — at sf0.1 that is ~9 s of identical work
    apiece.

    This is a real table write (the repo's own ACID commit path), not
    a `localCheckpoint` memo (an earlier shape): checkpoint blocks live
    only in executor storage, so an executor loss silently forces
    full lineage recomputation — and on a 1000-executor run some
    executor always dies. A committed pair table is exactly what a
    production 100 TB pipeline fans out from, survives any worker,
    and is time-travelable alongside the corpus snapshot it was
    derived from.
    """
    import os

    from ..sources.snapshot import SnapshotTable
    from ..workspace import fixture

    # A build-once fixture keyed by the `documents` source: the ~9 s
    # derivation is shared across processes and calls (a warm fixture
    # costs one stat of its sentinel), a regenerated dataset rebuilds,
    # and the build lock serializes concurrent first callers.
    def build(root: str) -> None:
        t = SnapshotTable(spark, os.path.join(root, "verified_pairs"))
        # require_exact: the graph consumers' oracles recompute the
        # EXHAUSTIVE pair set — an LSH-recall subset must fail loudly,
        # not certify quietly wrong.
        t.create(
            k2_ngram_jaccard(spark, sf_dir, require_exact=True).select(
                "doc_a", "doc_b"
            )
        )

    root = fixture("duppairs", build, source=(sf_dir, "documents"))
    return SnapshotTable(spark, os.path.join(root, "verified_pairs")).read()

@query(
    "k2_dup_clusters",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             list_distinct(string_split({SQL_NORM}, ' ')) AS tokens
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
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_keeper
    FROM cc
    """,
)
def k2_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: near-dup pairs only say "a looks
    like b"; a dedup pipeline must pick one survivor per transitive
    group (a~b, b~c => {a,b,c} keep min). This is connected components
    over the verified pair graph — the step between `k2_*` pair
    generation and the corpus rewrite, and the part most engines
    (including the reference stack) leave to the user.

    Spark formulation: Pregel-style min-label propagation as pure
    DataFrame ops, over ONLY the nodes that occur in some edge —
    singletons (the overwhelming majority of any real corpus) can
    never change label, so they are excluded from every round and
    re-attached at the end with one left join + coalesce. Each round
    is then ONE equi-join (edges x labels on the 64-bit node id) +
    ONE groupBy(min) — both shuffle-bounded by the EDGE list, never
    by the corpus. Labels are monotonically non-increasing, so
    convergence detection is a single-scalar sum(label) comparison
    per round (no join-against-previous). Rounds needed = graph
    diameter; near-dup clusters are shallow (dozens of members,
    diameter ~2-4), so this converges in a handful of rounds even at
    100 TB. For adversarially long chains the O(log n)-round
    alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") drops in behind
    the same interface. Each round is pinned, which truncates lineage
    so the plan does not grow with iterations, and the round it
    supersedes is released.

    The DuckDB oracle computes the same fixpoint with a recursive CTE
    (UNION-dedup guarantees termination), making an ITERATIVE
    distributed algorithm hash-checkable against declarative SQL.
    Output: every doc with its cluster id (= min doc_id reachable),
    cluster size, and the keeper flag.
    """
    docs = T(spark, sf_dir, "documents").select("doc_id")
    pairs = verified_pairs(spark, sf_dir)
    # pair generation must not re-run per round
    edges = pin(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    # Propagate only over edge-touched nodes; singletons can't move.
    labels = pin(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    # Size the per-round shuffles to the EDGE list, not the corpus:
    # the frontier is orders of magnitude smaller than the table it
    # came from, and every wasted reducer is paid diameter-many times.
    # ~250k edge-endpoints per partition; the conf is restored before
    # the (corpus-sized) final join/window below executes.
    edges_n = edges.count()  # pinned — a metadata-cheap job
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    loop_parts = max(2, min(sess_parts, edges_n // 250_000 + 1))
    with session_conf(spark, {"spark.sql.shuffle.partitions": str(loop_parts)}):
        prev_sum = None
        for _ in range(25):
            nbr = edges.join(
                labels, edges["src"] == labels["doc_id"], "inner"
            ).select(F.col("dst").alias("doc_id"), "label")
            nxt = pin(
                labels.union(nbr).groupBy("doc_id").agg(F.min("label").alias("label"))
            )
            unpin(labels)
            labels = nxt
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:  # pragma: no cover - 25 rounds covers diameter 25; fixture is ~2
            raise RuntimeError("connected components did not converge in 25 rounds")
    unpin(edges)

    cc = docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return cc.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# K1 — span-level exact dedup (repeated-substring removal)
# ---------------------------------------------------------------------------

SPAN_TOKENS = 20


@query(
    "k1_span_dedup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(tk[i * {SPAN_TOKENS} + 1 : i * {SPAN_TOKENS} + {SPAN_TOKENS}], ' ') AS chunk
      FROM d, UNNEST(range(CAST(ceil(len(tk) / {SPAN_TOKENS}.0) AS BIGINT))) AS t(i)
    ),
    ranked AS (
      SELECT doc_id, chunk_idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx)
                      FILTER (WHERE rn = 1), '') AS kept_text
    FROM ranked
    GROUP BY doc_id
    """,
)
def k1_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup: remove REPEATED SPANS across the whole
    corpus, not just whole-document copies — the chunked variant of
    exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"; their suffix-array match becomes a
    fixed-width token-window match, the standard scale relaxation).
    Documents are split into non-overlapping SPAN_TOKENS-token (20)
    chunks; the
    FIRST occurrence of each distinct chunk (by (doc_id, chunk_idx))
    survives, later occurrences are dropped, and each document is
    reconstructed from its surviving chunks in order.

    Plan shape: explode to chunks (map-only), ONE window over
    md5(chunk) — a 16-byte uniformly distributed partition key, no
    skew — then ONE groupBy(doc_id) to reassemble. The chunk text
    rides the hash shuffle; a narrow (hash, doc_id, idx)-only window
    plus a join-back would shuffle the text anyway, so one pass is
    strictly better. In-order reassembly uses
    sort_array(collect_list(struct(idx, chunk))) so it is
    deterministic regardless of task arrival order.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    n_chunks = F.greatest(
        F.ceil(F.size("tk") / F.lit(float(SPAN_TOKENS))).cast("int"), F.lit(1)
    )
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        F.col("tk"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(
            " ", F.slice("tk", F.col("chunk_idx") * SPAN_TOKENS + 1, SPAN_TOKENS)
        ).alias("chunk"),
    )
    w = Window.partitionBy(F.md5(F.col("chunk"))).orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("rn") == 1,
                        F.struct(F.col("chunk_idx"), F.col("chunk")),
                    )
                )
            ),
            lambda s: s["chunk"],
        ),
        " ",
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        kept.alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# K1 — rolling-window exact-substring dedup (overlapping L-grams)
# ---------------------------------------------------------------------------

SUBSTR_L = 8          # tokens per rolling window


@query(
    "k1_substr_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
    ), sized AS (
      SELECT doc_id, len(tk) AS n_tokens, tk FROM base
    ), grams AS (
      SELECT doc_id, n_tokens, i AS pos,
             md5(array_to_string(tk[i + 1:i + {SUBSTR_L}], ' ')) AS h
      FROM sized, UNNEST(range(n_tokens - {SUBSTR_L} + 1)) AS t(i)
      WHERE n_tokens >= {SUBSTR_L}
    ), canon AS (
      SELECT h, MIN(ROW(doc_id, pos)) AS ck, COUNT(*) AS occ
      FROM grams GROUP BY h
    ), dup AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN canon c USING (h)
      WHERE c.occ > 1 AND ROW(g.doc_id, g.pos) <> c.ck
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + {SUBSTR_L}) OVER w IS NULL
                    OR pos > MAX(pos + {SUBSTR_L}) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM dup
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), isl AS (
      SELECT doc_id, pos, new_island,
             CAST(SUM(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM flagged
    ), per_isl AS (
      SELECT doc_id, island,
             MAX(pos + {SUBSTR_L}) - MIN(pos) AS len
      FROM isl GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, CAST(SUM(len) AS BIGINT) AS dup_tokens
      FROM per_isl GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / s.n_tokens,
                 6) AS dup_frac,
           COALESCE(p.dup_tokens, 0) * 2 < s.n_tokens AS keep
    FROM sized s LEFT JOIN per_doc p USING (doc_id)
    """,
)
def k1_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with OVERLAPPING rolling windows — the
    alignment-free upgrade of `k1_span_dedup` (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"). The
    fixed non-overlapping chunking misses any duplicated passage that
    straddles a chunk boundary or starts at a different offset in
    each copy; rolling every {SUBSTR_L}-token window over every doc
    detects repeats at ARBITRARY alignment, the property the paper
    gets from a suffix array. Per doc: tokens covered by
    non-canonical window occurrences (corpus-wide first occurrence by
    (doc_id, pos) stays canonical), overlapping hits coalesced by the
    same islands kernel as `ts_interval_merge`, reported as an exact
    duplicated-token count + fraction and a keep flag (< 50 % dup).

    100 TB design: one explode to (doc, pos, 16-byte window hash) —
    positions ride a uniform digest key; the canonical-occurrence
    reduce is a combiner-friendly groupBy(min, count) whose repeated-
    only filter (occ > 1) shrinks the join-back to actual repeats; the
    islands merge is one per-doc window pass (sort-linear, keyed by
    doc — AQE-splittable, no pairwise span join). A stopword window
    repeated millions of times is ONE group row here, not a hot join
    key, because only its occurrence LIST (bounded by true repeats)
    returns through the join.

    The (doc_id, pos) canonical order is encoded as doc_id*2^20+pos in
    BOTH engines so min() needs no struct-ordering semantics.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    sized = d.select("doc_id", F.size("tk").alias("n_tokens"), "tk")
    grams = (
        sized.filter(F.col("n_tokens") >= SUBSTR_L)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_tokens") - SUBSTR_L)
            ).alias("pos"),
            "tk",
        )
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.concat_ws(" ", F.slice("tk", F.col("pos") + 1, SUBSTR_L))
            ).alias("h"),
        )
    )
    # Canonical occurrence = lexicographic MIN of (doc_id, pos) as a
    # STRUCT — an earlier integer encoding doc_id*2^20+pos silently
    # wrapped signed-64 for doc_id >= 2^43 (snowflake/hash-derived
    # ids), corrupting the canonical choice exactly where DuckDB's
    # checked BIGINT would error instead. Struct
    # ordering is overflow-free at any id range; both engines use it.
    enc = F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
    canon = (
        grams.groupBy("h")
        .agg(F.min(enc).alias("ck"), F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") > 1)
    )
    dup = (
        grams.join(canon, "h")
        .filter(
            (F.col("doc_id") != F.col("ck.d"))
            | (F.col("pos") != F.col("ck.p"))
        )
        .select("doc_id", "pos")
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + SUBSTR_L).over(wprev)
    flagged = dup.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    )
    isl = flagged.withColumn(
        "island", F.sum("new_island").over(run).cast("bigint")
    )
    per_doc = (
        isl.groupBy("doc_id", "island")
        .agg((F.max(F.col("pos") + SUBSTR_L) - F.min("pos")).alias("len"))
        .groupBy("doc_id")
        .agg(F.sum("len").cast("bigint").alias("dup_tokens"))
    )
    dupt = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint")
    return (
        sized.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            dupt.alias("dup_tokens"),
            F.round(
                dupt.cast("double") / F.col("n_tokens"), 6
            ).alias("dup_frac"),
            (dupt * 2 < F.col("n_tokens")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# K9 — graph centrality over the duplicate graph (PageRank)
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMP = 0.85


def _pr_stage(k: int) -> str:
    """One unrolled PageRank iteration as a DuckDB CTE: r_{k+1}(v) =
    (1-d)/N + d * Σ_{u→v} floor(r_k(u)/deg(u) * 1e12 + 0.5)/1e12, the
    inner sum made order-independent by summing INTEGER micro-units
    (BIGINT, exact). An earlier contract rounded doubles
    (ROUND(x,12)) and cast through DECIMAL — both are engine-specific
    decimal-rounding steps (Spark HALF_UP on the binary expansion vs
    DuckDB scaled-double rounding), and at sf0.1 thirteen rows came
    out one digit apart at the 10-dp display round. The floor form is
    pure IEEE ops on bit-identical operands in both engines: same
    divide, same multiply, same add, same floor — bit-identical
    always, no decimal types anywhere on the path."""
    return f"""
    r{k + 1} AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE)
                 * (CAST(SUM(CAST(FLOOR(r{k}.r / d.deg
                                        * 1000000000000.0 + 0.5)
                                  AS BIGINT)) AS DOUBLE)
                    / 1000000000000.0) AS r
      FROM edges e
      JOIN r{k} ON e.src = r{k}.node
      JOIN deg d ON e.src = d.node
      CROSS JOIN nn
      GROUP BY e.dst, nn.n
    )"""


@query(
    "k9_pagerank_dupgraph",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(string_split({SQL_NORM}, ' ')) AS tokens
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
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (
      SELECT node, CAST(1 AS DOUBLE) / nn.n AS r FROM deg CROSS JOIN nn
    ),
    {", ".join(_pr_stage(k).strip() for k in range(PR_ITERS))}
    SELECT node AS doc_id,
           FLOOR(r * 10000000000.0 + 0.5) / 10000000000.0 AS pagerank,
           ROW_NUMBER() OVER (
             ORDER BY FLOOR(r * 10000000000.0 + 0.5) DESC, node
           ) AS rank
    FROM r{PR_ITERS}
    """,
)
def k9_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified duplicate-pair graph
    (SURVEY graph ext.) — ranks documents by how centrally they sit
    in a near-duplicate neighborhood, the signal used to pick
    canonical documents (keep the hub, drop satellites) and to spot
    template farms (whole clusters of mutually-similar boilerplate).
    Completes the graph rung started by `k2_dup_clusters`: components
    answer "which docs belong together", PageRank answers "which doc
    represents the group".

    Iterative-on-Spark, declarative-in-oracle: 5 fixed power
    iterations as DataFrame joins (each round = one edge⋈rank join +
    one groupBy, both bounded by the EDGE list like the
    connected-components loop), hash-checked against the SAME
    recurrence unrolled as 5 chained (non-recursive) CTEs in DuckDB.
    Symmetrized dup edges mean no dangling nodes, so the classic
    teleport term (1-d)/N is exact.

    Float contract: the per-node in-sum is the only
    order-dependent reduction — contributions are quantized to
    INTEGER micro-units (floor(x * 1e12 + 0.5), a bigint) and summed
    exactly, so the sum is order-free with no decimal types on the
    path; every other op (divisions, damping multiply, teleport add,
    the floor quantizations themselves) is a single IEEE op on
    bit-identical operands in both engines — bit-identical end to
    end, at any SF (for the finite, in-(0,1] ranks this recurrence
    produces by construction; Spark's floor returns LONG, so the
    form is not NaN/Inf-transparent in general). The previous contract rounded doubles to 12 dp
    and summed DECIMAL(28,12): both steps are engine-specific decimal
    roundings (Spark HALF_UP on the exact binary expansion, DuckDB
    scaled-double), and the sf0.1 parity sweep caught 13 rows one
    digit apart at the display round.
    """
    pairs = verified_pairs(spark, sf_dir)
    n_pairs = pairs.count()
    # Loop parallelism is EDGE-sized (2 directed edges per pair), same
    # rationale as the components loop at :1116: the per-round
    # exchanges and map-side scans carry the edge list, and every
    # surplus reducer is paid PR_ITERS times. An earlier version keyed
    # this on n_nodes and inherited the pair table's few read
    # partitions through the checkpoint — on a dense dup graph (the
    # 10x smoke's salted clones: 10M pairs over 50k nodes) that
    # pinned 5 rounds of 20M-row joins onto 2 cores, measured 206 s;
    # node count says nothing about exchange volume when the graph is
    # dense. Edge-sized reducers + an edge repartition BEFORE the
    # checkpoint (so every round's map side runs loop-wide) measured
    # 3.4x faster at 10x.
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    loop_parts = max(2, min(sess_parts, (2 * n_pairs) // 250_000 + 1))
    edges = pin(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .repartition(loop_parts)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        return (
            edges.select(
                F.col("src").alias("doc_id"),
                F.lit(0.0).alias("pagerank"),
                F.lit(0).cast("bigint").alias("rank"),
            )
        )
    teleport = 0.15 / float(n_nodes)
    r = deg.select("src", F.lit(1.0 / float(n_nodes)).alias("r")).select(
        F.col("src").alias("node"), "r"
    )
    with session_conf(spark, {"spark.sql.shuffle.partitions": str(loop_parts)}):
        for i in range(PR_ITERS):
            # BROADCAST the node-sized tables (rank, degree) into the
            # edge scan — measured essential, not a nicety: the
            # checkpointed `r` carries no size stats, so without the
            # hint Catalyst defaults it to "huge", plans a sort-merge
            # join, and per-iteration wall time GREW 1.9 → 54 s
            # across 5 rounds on the 10× smoke's 20M-edge graph
            # (103 s total); hinted, every round is a flat 2-4 s
            # map-side pass (14 s total). Node tables are rank+degree
            # (16 B/node) — broadcastable to ~10⁸ nodes; past that
            # the cluster path is the classic co-partitioned loop
            # (edges hash-partitioned by src once, only the
            # node-sized rank table moves per round).
            contrib = (
                edges.join(F.broadcast(r), edges["src"] == r["node"])
                .join(F.broadcast(deg), "src")
                .select(
                    F.col("dst"),
                    # floor(r/deg * 1e12 + 0.5): Spark floor() on a
                    # double returns LONG — already the exact integer
                    # micro-unit the oracle casts to BIGINT
                    F.floor(
                        F.col("r") / F.col("deg") * F.lit(1e12)
                        + F.lit(0.5)
                    ).alias("c"),
                )
            )
            # Per-round eager checkpoint, like the components loop: a
            # no-checkpoint variant (one 5-round DAG, single job) was
            # measured 12.6 s vs 7.7 s — AQE re-plans every stage of
            # the deep lineage and the plan-time cost dominates at
            # this graph size, so truncating per round wins even with
            # fixed rounds.
            nxt = pin(
                contrib.groupBy("dst")
                .agg(
                    (
                        F.lit(teleport)
                        + F.lit(PR_DAMP)
                        * (F.sum("c").cast("double") / F.lit(1e12))
                    ).alias("r")
                )
                .select(F.col("dst").alias("node"), "r")
            )
            if i:  # round 0 read the unpinned uniform start vector
                unpin(r)
            r = nxt
    unpin(edges)
    pr_q = F.floor(F.col("r") * F.lit(1e10) + F.lit(0.5))
    w = Window.orderBy(F.desc(pr_q), "node")
    return r.select(
        F.col("node").alias("doc_id"),
        (pr_q / F.lit(1e10)).alias("pagerank"),
        F.row_number().over(w).alias("rank"),
    )


# ---------------------------------------------------------------------------
# C9 — fuzzy (edit-distance) join via deletion-neighborhood blocking
# (SymSpell / FastSS): the data-cleaning join that never cross-joins.
# ---------------------------------------------------------------------------

_SQL_MD5_POS = (
    "CAST(CAST('0x' || SUBSTRING(md5(w), 1, 8) AS BIGINT)"
    " % LENGTH(w) + 1 AS INTEGER)"
)
# every deletion-1 variant of s, PLUS s itself (DuckDB 1-based)
_SQL_VARIANTS = (
    "list_append(list_transform(generate_series(1, LENGTH({s})),"
    " i -> substr({s}, 1, i - 1) || substr({s}, i + 1)), {s})"
)


@query(
    "c9_fuzzy_join",
    oracle=f"""
    WITH vocab AS MATERIALIZED (
      SELECT w FROM (
        SELECT DISTINCT UNNEST(string_split({SQL_NORM}, ' ')) AS w
        FROM documents
      ) WHERE LENGTH(w) >= 4
    ),
    probes AS MATERIALIZED (
      SELECT w AS src,
             substr(w, 1, {_SQL_MD5_POS} - 1)
               || substr(w, {_SQL_MD5_POS} + 1) AS probe
      FROM vocab
    ),
    pv AS (
      SELECT src, probe, UNNEST({_SQL_VARIANTS.format(s="probe")}) AS v
      FROM probes
    ),
    wv AS (
      SELECT w, UNNEST({_SQL_VARIANTS.format(s="w")}) AS v FROM vocab
    )
    SELECT DISTINCT p.src, p.probe, wv.w AS matched,
           levenshtein(p.probe, wv.w) AS dist
    FROM pv p JOIN wv USING (v)
    WHERE levenshtein(p.probe, wv.w) <= 1
    """,
)
def c9_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy join at edit distance ≤ 1 (SURVEY C-ext): match noisy
    strings (misspellings, OCR errors, id typos) against a vocabulary
    WITHOUT the O(n·m) similarity cross join. Blocking is the
    SymSpell / FastSS deletion neighborhood: a string's key set is
    itself plus every single-character deletion; two strings within
    edit distance 1 ALWAYS share a key (substitution → same deletion;
    insert/delete → one side's deletion equals the other), so an
    integer-free string EQUI-join on the variant column finds every
    true pair, and an exact levenshtein check on the candidates kills
    the distance-2 collisions the blocking admits. Probes are
    deterministic md5-positioned single-char deletions of the vocab
    itself, so both engines derive identical inputs.

    Scale shape: each side explodes ×(len+1) — bounded by string
    length, independent of corpus size — then one hash equi-join on
    the variant key; candidates ≈ matches, so the verify filter is
    output-sized. The same plan serves spell-correction against a
    broadcast dictionary (dictionary side exploded once, corpus side
    map-only) at 100 TB. Distance ≤ k generalizes with k-deletion
    neighborhoods (keys grow ~len^k — the documented trade).
    """
    d = T(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(norm_text(F.col("text")), " ")).alias("w"))
        .filter(F.length("w") >= 4)
        .distinct()
    )
    pos = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint")
        % F.length("w")
        + 1
    ).cast("int")
    probes = (
        vocab.withColumn("pos", pos)
        .select(
            F.col("w").alias("src"),
            F.concat(
                F.expr("substr(w, 1, pos - 1)"), F.expr("substr(w, pos + 1)")
            ).alias("probe"),
        )
    )
    pv = probes.select(
        "src",
        "probe",
        F.explode(
            F.concat(
                F.expr(
                    "transform(sequence(1, length(probe)),"
                    " i -> substr(probe, 1, i - 1) || substr(probe, i + 1))"
                ),
                F.array(F.col("probe")),
            )
        ).alias("v"),
    )
    wv = vocab.select(
        "w",
        F.explode(
            F.concat(
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> substr(w, 1, i - 1) || substr(w, i + 1))"
                ),
                F.array(F.col("w")),
            )
        ).alias("v"),
    )
    return (
        pv.join(wv, "v")
        .filter(F.levenshtein("probe", "w") <= 1)
        .select(
            "src",
            "probe",
            F.col("w").alias("matched"),
            F.levenshtein("probe", "w").alias("dist"),
        )
        .distinct()
    )


@query(
    "k9_triangle_count",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(string_split({SQL_NORM}, ' ')) AS tokens
      FROM documents
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM toks a JOIN toks b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
              / (len(a.tokens) + len(b.tokens)
                 - len(list_intersect(a.tokens, b.tokens))) >= 0.8
    ),
    tris AS (
      SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
      FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    members AS (
      SELECT UNNEST([a, b, c]) AS doc_id FROM tris
    ),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n_triangles FROM members GROUP BY doc_id
    ) t USING (doc_id)
    """,
)
def k9_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the verified dup-pair graph
    (SURVEY graph ext., completing CC + PageRank): triangles measure
    how CLIQUE-LIKE a duplicate neighborhood is — template farms form
    dense near-cliques (every page similar to every other), while
    chains of incidental similarity have few triangles. degree +
    n_triangles per node is the raw form of the local clustering
    coefficient (2T/d(d−1)), emitted as exact integers so the oracle
    hash-checks without float contracts.

    The classic distributed-triangle plan (node-ordered edge list,
    Suri & Vassilvitskii's MR design): edges stored once with
    doc_a < doc_b, so each triangle {a<b<c} is generated EXACTLY once
    by joining (a,b)⋈(b,c) then closing with (a,c) — two edge-bounded
    hash equi-joins, no direction explosion, no double counting. All
    shuffles are edge-list-sized (the PageRank/CC precedent); at
    100 TB the only skew risk is a super-node's wedge set, handled by
    the same AQE skew-split as every other hot key.
    """
    pairs = verified_pairs(spark, sf_dir)
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    members = tris.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    tri_counts = members.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.join(tri_counts, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )

_SQL_MD5_8 = "CAST(CAST('0x' || SUBSTRING(md5({x}), 1, 8) AS BIGINT) AS BIGINT)"


@query(
    "k3_contrastive_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(string_split({SQL_NORM}, ' ')) AS tokens
      FROM documents
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS anchor, b.doc_id AS positive, a.source AS src
      FROM toks a JOIN toks b
        ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
              / (len(a.tokens) + len(b.tokens)
                 - len(list_intersect(a.tokens, b.tokens))) >= 0.8
    ),
    srcs AS MATERIALIZED (
      SELECT source, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (ORDER BY source) AS sid
      FROM documents GROUP BY source
    ),
    ranked AS MATERIALIZED (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM documents
    ),
    pick AS (
      SELECT p.anchor, p.positive, s2.source AS neg_source,
             {_SQL_MD5_8.format(x="CAST(p.anchor AS VARCHAR) || ':' || CAST(p.positive AS VARCHAR)")}
               % s2.cnt + 1 AS rk
      FROM pairs p
      JOIN srcs s1 ON s1.source = p.src
      JOIN srcs s2
        ON s2.sid = (s1.sid % (SELECT COUNT(*) FROM srcs)) + 1
    )
    SELECT k.anchor, k.positive, r.doc_id AS negative
    FROM pick k JOIN ranked r
      ON r.source = k.neg_source AND r.rk = k.rk
    """,
)
def k3_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (SURVEY K3 ext.): (anchor, positive,
    negative) training triplets for embedding models — positives are
    the VERIFIED near-duplicate pairs from the dedup rung; negatives
    are deterministic md5-permutation picks from the CYCLIC-NEXT
    source, so re-running the pipeline yields the identical training
    set (reproducible ablations), and every negative is guaranteed
    cross-source (a cheap hard-negative heuristic).

    Scale shape — all equi-joins, deliberately: one corpus-sized
    window ranks docs per source by md5 (a uniform permutation both
    engines reproduce); the source table (id, count) is tiny and
    broadcasts; each pair then picks its negative by (neg_source,
    md5(anchor:positive) mod count + 1) and resolves it with an
    integer equi-join against the ranked permutation. The first
    version of this op broadcast the pair list over a source≠source
    nested loop — correct at toy scale, but 148k pairs × corpus at
    sf0.1 is a 7×10⁸-row nested loop (measured: dominated the whole
    bench); the permutation-join form is pairs+corpus-linear. With a
    single source the cycle degenerates to the same source
    (documented; the fixture always has several).
    """
    pairs = verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("positive")
    )
    d = T(spark, sf_dir, "documents")
    srcs = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "sid", F.row_number().over(Window.orderBy("source"))
        )
    )
    n_src = srcs.count()
    ranked = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rk"),
    )
    anchor_src = d.select(
        F.col("doc_id").alias("anchor"), F.col("source").alias("src")
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("anchor").cast("string"),
                        F.lit(":"),
                        F.col("positive").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
    )
    pick = (
        pairs.join(anchor_src, "anchor")
        .join(
            F.broadcast(srcs.select(F.col("source").alias("src"), "sid")),
            "src",
        )
        .join(
            F.broadcast(
                srcs.select(
                    F.col("sid").alias("next_sid"),
                    F.col("source").alias("neg_source"),
                    "cnt",
                )
            ),
            F.col("next_sid") == (F.col("sid") % F.lit(n_src)) + 1,
        )
        .select(
            "anchor",
            "positive",
            "neg_source",
            (h % F.col("cnt") + 1).alias("rk"),
        )
    )
    return pick.join(
        ranked.select(
            F.col("source").alias("neg_source"),
            "rk",
            F.col("doc_id").alias("negative"),
        ),
        ["neg_source", "rk"],
    ).select("anchor", "positive", "negative")


CONTAIN_TAU = 0.9  # |A ∩ B| / |A| — A is (nearly) contained in B


@query(
    "k2_containment_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_distinct(string_split({SQL_NORM}, ' ')) AS tokens
      FROM documents
    )
    SELECT a.doc_id AS sub_doc, b.doc_id AS super_doc,
           ROUND(CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
                 / len(a.tokens), 6) AS containment
    FROM toks a JOIN toks b
      ON a.source = b.source AND a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
            / len(a.tokens) >= {CONTAIN_TAU}
      AND len(a.tokens) <= len(b.tokens)
    """,
)
def k2_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection by Jaccard CONTAINMENT (SURVEY
    K2 ext.): |A∩B|/|A| ≥ {CONTAIN_TAU} flags documents that are
    (nearly) subsets of another — quotations, excerpts, boilerplate-
    plus-payload pages — which symmetric Jaccard misses entirely when
    the superset is much larger (|A∩B|/|A∪B| shrinks with |B|).
    Directional output: (sub_doc, super_doc, containment), with the
    shorter side as the candidate subset (ties broken by letting
    either direction through only when |A| ≤ |B|).

    Scale shape: one source-blocked equi-join with an integer length
    prune (containment ≥ τ forces |B| ≥ τ|A|) and the ≤63-token
    dictionary-bitmask kernel shared with k2_ngram_jaccard —
    bit_count(maskA & maskB) per pair instead of a string-array
    intersect (measured 15.2 s → 8.0 s on the 370k-pair sf0.1
    output, which is output-bound on this fixture's dense 31-token
    vocabulary). Beyond 63 tokens the array-intersect path applies;
    TRUE containment blocking at scale is df-ordered prefix
    filtering (PPJoin) — MinHash bands do NOT cover it (a small A in
    a huge B has low symmetric Jaccard), documented as the seam.
    """
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split(norm_text(F.col("text")), " ")).alias(
            "tokens"
        ),
    ).withColumn("n_tok", F.size("tokens"))
    # Length prune: containment ≥ τ forces |B| ≥ τ|A| — an integer
    # compare that kills pairs before any set work.
    blocked = (
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & (F.col("a.n_tok") <= F.col("b.n_tok"))
        & (F.col("b.n_tok") * 10 >= F.col("a.n_tok") * 9)
    )
    fits, toks = _vocab_bitmask(toks)
    a, b = toks.alias("a"), toks.alias("b")
    if fits:
        # Shared kernel: intersection = bit_count(maskA & maskB),
        # 3 codegen instructions per pair (measured 15.2 s → 8.0 s on
        # the 370k-pair sf0.1 output).
        inter = F.bit_count(
            F.col("a.mask").bitwiseAND(F.col("b.mask"))
        ).cast("double")
    else:  # pragma: no cover - fixture vocab is 31 tokens
        inter = F.size(
            F.array_intersect(F.col("a.tokens"), F.col("b.tokens"))
        ).cast("double")
    containment = inter / F.col("a.n_tok")
    return (
        a.join(b, blocked)
        .filter(containment >= CONTAIN_TAU)
        .select(
            F.col("a.doc_id").alias("sub_doc"),
            F.col("b.doc_id").alias("super_doc"),
            F.round(containment, 6).alias("containment"),
        )
    )


@query(
    "k1_url_dedup",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'HTTPS://' || upper(source) || '.Example.com/docs/' || lang
               || '/' || CAST(doc_id % 500 AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0
                       THEN '/?utm_source=feed&utm_campaign=x'
                       ELSE '' END
               || CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END
               AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
               || regexp_replace(
                    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                    '/$', '') AS canonical
      FROM urls
    )
    SELECT canonical,
           MIN(doc_id) AS keeper_doc,
           COUNT(*) AS n_aliases
    FROM canon
    GROUP BY canonical
    """,
)
def k1_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (SURVEY K1 ext.) — the crawl-ingest
    stage that runs BEFORE any content dedup: the same page arrives
    as http/https, mixed-case scheme+host, with tracking params
    (utm_*), fragments, and trailing slashes. Canonicalize
    (lowercase scheme+host, strip query+fragment, strip the trailing
    slash) and keep one doc per canonical URL (lowest doc_id). The
    fixture synthesizes the alias classes deterministically (case
    noise + utm params on even ids + fragments on ids ≡0 mod 3, with
    doc_id%500 forcing true collisions), and the oracle performs the
    identical canonicalization — alias-group sizes are hash-checked.

    Scale: canonicalization is map-only regex/string ops in codegen;
    the dedup is one groupBy on the canonical string — the 16-byte-
    digest shape of k1_dedup_exact with a URL key. At 100 TB this is
    the cheapest dedup rung and always runs first.
    """
    d = T(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper("source"),
        F.lit(".Example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        (F.col("doc_id") % 500).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit("/?utm_source=feed&utm_campaign=x"),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#section-2")).otherwise(
            F.lit("")
        ),
    )
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        r"/$",
        "",
    )
    return (
        d.select("doc_id", F.concat(host, path).alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.min("doc_id").alias("keeper_doc"),
            F.count(F.lit(1)).alias("n_aliases"),
        )
    )


PPJOIN_TAU_NUM, PPJOIN_TAU_DEN = 4, 5  # tau = 0.8, kept integer-exact

# DuckDB-side 3-gram shingle-set derivation (1-based list indexing);
# the Spark twin is `_shingle_sets` below. Word-level shingles give
# PPJoin a sparse feature space even on this fixture's ~40-word
# vocabulary — unigram token SETS degenerate here (most documents
# contain most of the vocabulary, so nearly all pairs exceed any
# Jaccard threshold; measured 965k "pairs" at sf0.1).
SQL_SHINGLES = f"""
  SELECT doc_id,
         list_distinct(list_transform(range(1, GREATEST(LEN(tk) - 1, 1)),
             i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS tk
  FROM (SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents)
  WHERE LEN(tk) >= 3
"""


@query(
    "k2_ppjoin",
    oracle=f"""
    WITH sh AS ({SQL_SHINGLES}),
    flat AS (
      SELECT doc_id, t.tok FROM sh, UNNEST(tk) AS t(tok)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM flat a JOIN flat b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT doc_a, doc_b,
             LEN(list_intersect(ta.tk, tb.tk)) AS n_inter,
             LEN(ta.tk) + LEN(tb.tk)
               - LEN(list_intersect(ta.tk, tb.tk)) AS n_union
      FROM cand
      JOIN sh ta ON ta.doc_id = cand.doc_a
      JOIN sh tb ON tb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(n_inter AS DOUBLE) / n_union AS jaccard
    FROM v
    WHERE n_inter * {PPJOIN_TAU_DEN} >= {PPJOIN_TAU_NUM} * n_union
    """,
)
def k2_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-global all-pairs similarity join via prefix
    filtering (PPJoin, Xiao et al. WWW'08 — the standard exact
    alternative to LSH): every document pair whose 3-gram SHINGLE-set
    Jaccard is ≥ 0.8, with ZERO false negatives and no blocking
    assumptions.

    Prefix-filter theorem: order every set by one global order
    (rarest-first — document frequency, ties by shingle); two sets
    with J ≥ τ MUST share an element inside their
    length-(|x| − ⌈τ|x|⌉ + 1) prefixes. Candidate generation is an
    equi-join on PREFIX shingles only — the rare ones, whose postings
    are short. PPJoin's length filter (sizes within a τ ratio) prunes
    the remainder before any set intersection; the threshold compare
    is the integer cross-multiply i*5 ≥ 4*u — no float boundary. The
    oracle verifies losslessness the hard way: it generates
    candidates from ALL shared shingles (the exhaustive inverted
    index) and must hash-match this query's prefix-filtered result
    exactly.

    Shingles, not unigram tokens: 3-gram shingling keeps the feature
    space sparse (16k+ distinct shingles on this corpus vs its
    ~40-word vocabulary), so similarity means near-duplication —
    the AllPairs/PPJoin deployment shape for near-dup mining.

    100 TB design: one corpus-derived frequency table (the model
    side — broadcast below threshold, hash-join keyed on the shingle
    above it), one groupBy to rarity-sort each set, prefix explode
    bounded by ~(1−τ)·|set| elements, candidate join keyed on rare
    shingles, exact verification only on the candidate set. τ
    directly throttles the join fan-out — the knob the paper's cost
    model tunes.
    """
    d = T(spark, sf_dir, "documents")
    tk = F.split(norm_text(F.col("text")), " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("tk") - 2, F.lit(1))),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("tk"), i, 3)
            ),
        )
    )
    # One materialized doc -> shingle-set table (rows = corpus docs,
    # each a pointer-sized array): every downstream branch (frequency
    # table, rarity sort, prefix explode, verify join-backs) reads
    # it instead of re-deriving the shingling — and, critically, the
    # candidate join below stays NARROW (ints only). Carrying the
    # 60-string arrays through the prefix join, or grouping with the
    # array as a grouping KEY, measured 13-19 s at sf0.1; this form
    # runs ~3 s. Write-once-fan-out, same precedent as the near-dup
    # pair table.
    sets = pin(
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("doc_id", shingles.alias("tokens"))
        .withColumn("n_tok", F.size("tokens"))
    )
    freq = (
        sets.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # No broadcast HINT on the shingle-frequency table: at corpus
    # scale the distinct-shingle table is itself corpus-sized and a
    # forced broadcast would collect it to the driver. AQE broadcasts it at runtime whenever its MEASURED
    # size is small (it is, on every fixture), and falls back to a
    # shingle-keyed hash join when it is not — the documented design.
    ordered = (
        sets.select("doc_id", "n_tok", F.explode("tokens").alias("t"))
        .join(freq, "t")
        .groupBy("doc_id", "n_tok")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "t"))),
                lambda x: x["t"],
            ).alias("by_rarity")
        )
    )
    p_len = F.expr(
        f"n_tok - (({PPJOIN_TAU_NUM} * n_tok + {PPJOIN_TAU_DEN - 1}) "
        f"div {PPJOIN_TAU_DEN}) + 1"
    )
    pref = ordered.select(
        "doc_id",
        "n_tok",
        F.explode(F.slice("by_rarity", 1, p_len)).alias("t"),
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("n_a"), "t"
    )
    c = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("n_b"), "t"
    )
    size_ok = (
        F.col("n_a") * PPJOIN_TAU_DEN >= PPJOIN_TAU_NUM * F.col("n_b")
    ) & (F.col("n_b") * PPJOIN_TAU_DEN >= PPJOIN_TAU_NUM * F.col("n_a"))
    cand = (
        a.join(c, "t")
        .filter((F.col("doc_a") < F.col("doc_b")) & size_ok)
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tokens").alias("tk_a"),
        F.col("n_tok").alias("n_a"),
    )
    tb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tokens").alias("tk_b"),
        F.col("n_tok").alias("n_b"),
    )
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_inter"),
            union.cast("bigint").alias("n_union"),
        )
        .filter(
            F.col("n_inter") * PPJOIN_TAU_DEN
            >= PPJOIN_TAU_NUM * F.col("n_union")
        )
        .select(
            "*",
            (F.col("n_inter").cast("double") / F.col("n_union")).alias(
                "jaccard"
            ),
        )
    )


CDC_AVG_CHUNK = 8  # expected chunk length: boundary when h(tok) % 8 == 0


@query(
    "k1_cdc_chunk_dedup",
    oracle=f"""
    WITH cdc_tok AS (
      SELECT doc_id, r.i AS pos, tk[r.i] AS tok
      FROM (SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk
            FROM documents),
           UNNEST(range(1, LEN(tk) + 1)) AS r(i)
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN CAST('0x' || SUBSTRING(md5(tok), 1, 8) AS BIGINT)
                       % {CDC_AVG_CHUNK} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM cdc_tok
    ),
    chunked AS (
      SELECT doc_id, pos, tok,
             SUM(boundary) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS digest,
             COUNT(*) AS chunk_len
      FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT digest,
           ANY_VALUE(chunk_len) AS chunk_len,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS keeper_doc
    FROM chunks
    GROUP BY digest
    HAVING COUNT(*) > 1
    """,
)
def k1_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the rsync/LBFS/FastCDC
    boundary rule applied to text): chunk boundaries fall where a
    per-TOKEN hash hits `h % {CDC_AVG_CHUNK} == 0`, so boundaries are
    a pure function of local content — inserting or deleting a prefix
    SHIFTS a fixed-window chunking's every chunk (k1_span_dedup's
    failure mode on edited near-dups) but leaves content-defined
    boundaries downstream of the edit untouched. Duplicate chunks
    across the corpus are then exact digest groups: the edit-tolerant
    repeated-passage detector between exact span dedup and MinHash.

    100 TB design: boundary flags are map-only; chunk assembly is one
    per-doc window (running boundary sum — keys embed doc_id, skew-
    free) + one (doc, chunk) groupBy; cross-corpus grouping shuffles
    16-byte digests. Identical md5 arithmetic in both engines makes
    every digest, boundary, and group hash-checkable.
    """
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(norm_text(F.col("text")), " ")).alias(
            "pos0", "tok"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    flagged = tok.withColumn(
        "boundary", (h % CDC_AVG_CHUNK == 0).cast("int")
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    chunked = flagged.withColumn("chunk_id", F.sum("boundary").over(w))
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            )
        ).alias("digest"),
        F.count(F.lit(1)).alias("chunk_len"),
    )
    return (
        chunks.groupBy("digest")
        .agg(
            F.any_value("chunk_len").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


def cc_alternating(edges: DataFrame, max_rounds: int = 30):
    """The alternating large-star/small-star loop, factored so the
    O(log n)-round bound is testable on synthetic graphs (a 200-node
    path). Takes an (u, v) edge DataFrame, returns (labels, rounds)
    where labels maps every edge-touched doc_id to its component
    minimum."""
    edges = pin(edges.filter(F.col("u") != F.col("v")).distinct())

    def sym(e):  # both directions, so groupBy(u) sees the full N(u)
        return e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def star(e, large: bool):
        s = sym(e)
        m = s.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        j = s.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = (
                j.filter(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m.select(F.col("u"), F.col("m").alias("v")))
            )
        nxt = pin(out.filter(F.col("u") != F.col("v")).distinct())
        unpin(e)  # the star's input is superseded once its output is pinned
        return nxt

    def fingerprint(e):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = None
    rounds = 0
    for _ in range(max_rounds):
        edges = star(star(edges, large=True), large=False)
        rounds += 1
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:  # pragma: no cover - O(log n) bound; fixture needs ~3
        raise RuntimeError(
            f"large/small-star did not converge in {max_rounds} rounds"
        )
    labels = (
        sym(edges)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("mn"), F.col("u")).alias("label"),
        )
    )
    return labels, rounds


@query("k9_cc_bigstar", oracle=None)
def k9_cc_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by ALTERNATING large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    — the O(log n)-round scale path k2_dup_clusters' docstring
    promises for adversarially long chains, implemented behind the
    SAME interface and certified against the SAME recursive-CTE
    oracle (attached below — both queries must produce the identical
    clustering).

    Min-label propagation needs diameter-many rounds: a 10^6-node
    path graph (a pathological crawl chain) would need 10^6
    iterations. The alternating algorithm rewrites the EDGE LIST
    itself: large-star points every larger neighbor of u at
    min(N(u) ∪ {u}); small-star points the smaller-or-equal
    neighbors at it. Each operation is one symmetrize (map-only
    union) + one groupBy(min) + one equi-join back — all bounded by
    the edge list — and the pair provably halves component height,
    so rounds are O(log n) REGARDLESS of diameter (the pytest pins a
    200-node path converging in <=15 alternations where propagation
    needs 200). Convergence detection compares (edge count,
    sum(xxhash64(u, v))) across rounds: order-independent, one
    2-value scalar agg, no join-against-previous.

    At convergence the edge list IS the component assignment (every
    edge points a node at its component minimum), so the final labels
    are one groupBy(min) away. Same memoized `verified_pairs` table,
    same singleton re-attachment, same output schema as
    k2_dup_clusters."""
    docs = T(spark, sf_dir, "documents").select("doc_id")
    pairs = verified_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels, _rounds = cc_alternating(edges)
    cc = docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return cc.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


# the alternating algorithm must agree with the recursive-CTE fixpoint
ORACLES["k9_cc_bigstar"] = ORACLES["k2_dup_clusters"]
