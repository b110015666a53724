"""Text-analysis operators over `documents` — SURVEY.md §2.K4.

Language-ID, quality scoring, token counting, and document
fingerprinting for a training-data pipeline. Everything is built-in
`pyspark.sql.functions` expressions (JVM-side, whole-stage codegen) —
no Python in the row path, so a 100 TB corpus scans at parquet speed.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table as T
from .dedup import SQL_NORM, norm_text

from .common import make_registry, map_rows, pin, unpin

QUERIES, ORACLES, query = make_registry()


# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deterministic and engine-agnostic.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "et", "les", "de"],
    "es": ["el", "los", "que", "y", "en"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


@query(
    "k4_text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {SQL_NORM} AS nt,
             string_split({SQL_NORM}, ' ') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           LENGTH(nt) AS n_chars_norm,
           LEN(toks) AS n_words,
           LEN(list_distinct(toks)) AS n_distinct_words,
           CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) AS ttr,
           CAST(LENGTH(nt) - LEN(toks) + 1 AS DOUBLE) / LEN(toks)
               AS avg_word_len,
           LEN(list_filter(toks, x -> LENGTH(x) >= 6)) AS n_long_words
    FROM t
    """,
)
def k4_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (SURVEY K4): char/word counts,
    type-token ratio, average word length, long-word count. Integer-
    derived ratios → bit-stable across engines."""
    d = T(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    toks = F.split(nt, " ")
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        "lang",
        F.length(nt).cast("bigint").alias("n_chars_norm"),
        n_words.cast("bigint").alias("n_words"),
        n_distinct.cast("bigint").alias("n_distinct_words"),
        (n_distinct.cast("double") / n_words).alias("ttr"),
        ((F.length(nt) - n_words + 1).cast("double") / n_words).alias(
            "avg_word_len"
        ),
        F.size(F.filter(toks, lambda x: F.length(x) >= 6))
        .cast("bigint")
        .alias("n_long_words"),
    )


QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]
# one constant, interpolated into BOTH engine texts (the LANG_MARKERS
# pattern) so the two stopword lists cannot drift apart.
_QUALITY_STOPWORDS_SQL = (
    "[" + ",".join(f"'{w}'" for w in QUALITY_STOPWORDS) + "]"
)


@query(
    "k4_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_NORM} AS nt, string_split({SQL_NORM}, ' ') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             LEN(toks) AS n_words,
             CAST(LEN(list_filter(toks,
                 x -> list_contains({_QUALITY_STOPWORDS_SQL}, x)))
                 AS DOUBLE) / LEN(toks) AS stopword_ratio,
             CAST(LEN(list_distinct(toks)) AS DOUBLE) / LEN(toks) AS ttr,
             CAST(CASE WHEN LENGTH(nt) BETWEEN 100 AND 5000 THEN 1.0
                  WHEN LENGTH(nt) BETWEEN 30 AND 20000 THEN 0.5
                  ELSE 0.0 END AS DOUBLE) AS len_score
      FROM t
    )
    SELECT doc_id, n_words, stopword_ratio, ttr, len_score,
           (len_score + ttr + LEAST(stopword_ratio * 4, 1.0)) / 3
               AS quality
    FROM m
    """,
)
def k4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (SURVEY K4): length band +
    lexical diversity + stopword plausibility, averaged. The formula
    is arithmetic over integer-derived doubles → oracle-exact."""
    d = T(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    toks = F.split(nt, " ")
    n_words = F.size(toks)
    stop = F.array([F.lit(w) for w in QUALITY_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    stopword_ratio = stop_hits.cast("double") / n_words
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_words
    ln = F.length(nt)
    len_score = (
        F.when(ln.between(100, 5000), 1.0)
        .when(ln.between(30, 20000), 0.5)
        .otherwise(0.0)
    )
    quality = (len_score + ttr + F.least(stopword_ratio * 4, F.lit(1.0))) / 3
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        stopword_ratio.alias("stopword_ratio"),
        ttr.alias("ttr"),
        len_score.alias("len_score"),
        quality.alias("quality"),
    )


def _lang_scores_sql() -> str:
    parts = []
    for lang, words in LANG_MARKERS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"LEN(list_filter(list_distinct(toks), x -> list_contains([{arr}], x)))"
            f" AS s_{lang}"
        )
    return ", ".join(parts)


@query(
    "k4_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split({SQL_NORM}, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang, {_lang_scores_sql()} FROM t
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN s_en >= GREATEST(s_fr, s_es, s_de, s_zh) THEN 'en'
                WHEN s_fr >= GREATEST(s_es, s_de, s_zh) THEN 'fr'
                WHEN s_es >= GREATEST(s_de, s_zh) THEN 'es'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS pred_lang,
           s_en + s_fr + s_es + s_de + s_zh AS marker_hits
    FROM s
    """,
)
def k4_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (SURVEY K4). Scores = distinct
    marker hits per language; argmax with a fixed tie-break order
    (en > fr > es > de > zh) so prediction is deterministic."""
    d = T(spark, sf_dir, "documents")
    # Materialize the normalized token array ONCE (the k4_fingerprint
    # CSE lesson): inlining norm_text+split into every marker score
    # re-ran the normalization regex 19x per row in the optimized
    # plan — measured 0.78 -> 0.31 s at sf0.1.
    d = d.select(
        "doc_id",
        "lang",
        F.array_distinct(F.split(norm_text(F.col("text")), " ")).alias(
            "toks"
        ),
    )
    toks = F.col("toks")

    def marker_score(words):
        arr = F.array([F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    scores = {lang: marker_score(words) for lang, words in LANG_MARKERS.items()}
    pred = (
        F.when(
            scores["en"]
            >= F.greatest(scores["fr"], scores["es"], scores["de"], scores["zh"]),
            "en",
        )
        .when(scores["fr"] >= F.greatest(scores["es"], scores["de"], scores["zh"]), "fr")
        .when(scores["es"] >= F.greatest(scores["de"], scores["zh"]), "es")
        .when(scores["de"] >= scores["zh"], "de")
        .otherwise("zh")
    )
    total = scores["en"] + scores["fr"] + scores["es"] + scores["de"] + scores["zh"]
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("pred_lang"),
        total.cast("bigint").alias("marker_hits"),
    )


@query(
    "k4_token_count",
    oracle=f"""
    SELECT doc_id,
           LEN(string_split({SQL_NORM}, ' ')) AS ws_tokens,
           LEN(regexp_extract_all({SQL_NORM}, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS bpe_ish_tokens,
           CAST(CEIL(LENGTH({SQL_NORM}) / 4.0) AS BIGINT) AS est_tokens_len4
    FROM documents
    """,
)
def k4_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways (SURVEY K4): whitespace tokens, a
    BPE-ish regex segmentation (letter runs / digit runs / other),
    and the chars/4 estimator used for quick corpus sizing."""
    d = T(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.split(nt, " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(nt, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        F.ceil(F.length(nt) / 4.0).cast("bigint").alias("est_tokens_len4"),
    )


@query(
    "k4_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {SQL_NORM} AS nt, string_split({SQL_NORM}, ' ') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, nt,
             CASE WHEN LEN(toks) >= 3 THEN
               (SELECT MIN(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                FROM UNNEST(generate_series(1, LEN(toks) - 2)) AS g(i))
             ELSE md5(nt) END AS min_gram_md5
      FROM t
    )
    SELECT doc_id, md5(nt) AS full_md5, min_gram_md5 FROM grams
    """,
)
def k4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (SURVEY K4): whole-text md5 plus a
    winnowing-style rolling fingerprint (min md5 over word 3-grams).
    The min-gram digest survives small edits far from the minimal
    gram — cheap near-dup pre-screen, one expression, no UDF."""
    d = T(spark, sf_dir, "documents")
    # Materialize the normalized text and token array ONCE — inlining
    # them into every consumer defeats common-subexpression elimination
    # and re-runs the normalization regex per consumer (same lesson as
    # dedup.minhash_signatures; ~3× on this query at sf0.1).
    base = d.select(
        "doc_id", norm_text(F.col("text")).alias("nt")
    ).withColumn("toks", F.split(F.col("nt"), " "))
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, 3))),
    )
    min_gram = F.when(F.size(toks) >= 3, F.array_min(grams)).otherwise(
        F.md5(F.col("nt"))
    )
    return base.select(
        "doc_id",
        F.md5(F.col("nt")).alias("full_md5"),
        min_gram.alias("min_gram_md5"),
    )


@query(
    "k4_corpus_stats",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS docs,
           CAST(SUM(LEN(string_split({SQL_NORM}, ' '))) AS BIGINT) AS total_words,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(LENGTH(text)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def k4_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup by (lang, source) (SURVEY K4): the
    monitoring query a data pipeline runs per ingestion batch."""
    d = T(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(F.split(nt, " "))).cast("bigint").alias("total_words"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        (F.sum(F.length("text")).cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
    )


# Simple, engine-portable redaction patterns (Java regex and RE2
# agree on this subset: character classes, +, literal @ and dots).
REDACT_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
REDACT_NUMBER = "[0-9]+"


@query(
    "k4_redact",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             {SQL_NORM} AS nt,
             regexp_replace(
               regexp_replace({SQL_NORM}, '{REDACT_EMAIL}', '<EMAIL>', 'g'),
               '{REDACT_NUMBER}', '<NUM>', 'g') AS red
      FROM documents
    )
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(nt, '{REDACT_EMAIL}')) AS INTEGER)
             AS n_emails,
           CAST(LEN(regexp_extract_all(
               regexp_replace(nt, '{REDACT_EMAIL}', '<EMAIL>', 'g'),
               '{REDACT_NUMBER}')) AS INTEGER) AS n_numbers,
           LENGTH(red) AS redacted_len,
           md5(red) AS redacted_digest
    FROM r
    """,
)
def k4_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction scrub (SURVEY K4 ext.): mask emails then
    digit runs with placeholder tokens — the pre-training hygiene pass
    every corpus gets. Map-only (two regexp_replace per row, zero
    shuffle; at 100 TB this is scan-bound, exactly as it should be).

    The redacted text itself is audited by digest: the oracle replays
    the same two-stage rewrite (email first, so digits inside masked
    emails aren't double-counted) and md5-compares the result, making
    the transform — not just the counts — hash-verified.
    """
    d = T(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    base = d.select("doc_id", nt.alias("nt"))
    emails_masked = F.regexp_replace(F.col("nt"), REDACT_EMAIL, "<EMAIL>")
    stage = base.select(
        "doc_id",
        "nt",
        emails_masked.alias("em"),
    )
    return stage.select(
        "doc_id",
        F.regexp_count("nt", F.lit(REDACT_EMAIL)).alias("n_emails"),
        F.regexp_count("em", F.lit(REDACT_NUMBER)).alias("n_numbers"),
        F.length(
            F.regexp_replace(F.col("em"), REDACT_NUMBER, "<NUM>")
        ).alias("redacted_len"),
        F.md5(
            F.regexp_replace(F.col("em"), REDACT_NUMBER, "<NUM>")
        ).alias("redacted_digest"),
    )


@query(
    "k4_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
    ),
    big AS (
      SELECT doc_id, tk,
             greatest(len(tk) - 1, 0) AS n_bigrams,
             CASE WHEN len(tk) >= 2
                  THEN len(list_distinct(list_transform(
                         range(1, len(tk)),
                         i -> array_to_string(tk[i:i+1], ' '))))
                  ELSE 0 END AS n_distinct_bigrams
      FROM toks
    ),
    wc AS (
      SELECT doc_id, n_bigrams, n_distinct_bigrams, unnest(tk) AS w
      FROM big
    ),
    counts AS (
      SELECT doc_id, n_bigrams, n_distinct_bigrams, w, COUNT(*) AS c
      FROM wc GROUP BY doc_id, n_bigrams, n_distinct_bigrams, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           COUNT(*) AS n_distinct_words,
           ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_word_frac,
           ROUND(CASE WHEN n_bigrams > 0
                 THEN (n_bigrams - n_distinct_bigrams) * 1.0 / n_bigrams
                 ELSE 0.0 END, 6) AS dup_bigram_frac,
           (COUNT(*) * 1.0 / SUM(c) >= 0.4
            AND MAX(c) * 1.0 / SUM(c) <= 0.25) AS keep
    FROM counts
    GROUP BY doc_id, n_bigrams, n_distinct_bigrams
    ORDER BY doc_id
    """,
)
def k4_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: per-document top-word
    fraction, duplicate-bigram fraction, and type-token ratio gate
    (Rae et al. 2021's "repetitious text" rules, a standard LLM-corpus
    pre-filter; §2.K4 extension beyond the reference surface).

    100 TB design: bigram stats are per-row array expressions
    (map-only); word-frequency mode needs the exact per-(doc, word)
    count, which explode + partial-aggregated groupBy handles with a
    shuffle bounded by distinct (doc, word) pairs — the classic
    word-count shape, skew-free because keys embed doc_id.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    tk = F.col("tk")
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Materialize the bigram stats BEFORE the explode: an expression
    # that lands in the Project ABOVE a Generate re-evaluates once per
    # GENERATED row — O(tokens²) per doc for the transform+distinct
    # HOF (measured 19.5 s → ~1 s at sf0.1). Same CSE-through-
    # generator trap as minhash (see operators/dedup.py).
    d = d.select(
        "doc_id",
        F.greatest(F.size(tk) - 1, F.lit(0)).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
        "tk",
    )
    d = d.select(
        "doc_id", "n_bigrams", "n_distinct_bigrams", F.explode("tk").alias("w")
    )
    counts = d.groupBy("doc_id", "n_bigrams", "n_distinct_bigrams", "w").agg(
        F.count("*").alias("c")
    )
    n_words = F.sum("c")
    n_distinct = F.count("*")
    top_c = F.max("c")
    return (
        counts.groupBy("doc_id", "n_bigrams", "n_distinct_bigrams")
        .agg(
            n_words.cast("bigint").alias("n_words"),
            n_distinct.alias("n_distinct_words"),
            F.round(top_c * 1.0 / n_words, 6).alias("top_word_frac"),
            F.round(
                F.when(
                    F.col("n_bigrams") > 0,
                    (F.col("n_bigrams") - F.col("n_distinct_bigrams"))
                    * 1.0
                    / F.col("n_bigrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_bigram_frac"),
            (
                (n_distinct * 1.0 / n_words >= 0.4)
                & (top_c * 1.0 / n_words <= 0.25)
            ).alias("keep"),
        )
        .drop("n_bigrams", "n_distinct_bigrams")
        .orderBy("doc_id")
    )


@query(
    "k4_tfidf_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS tk FROM documents
    ),
    tf AS (
      SELECT doc_id, t.term, COUNT(*) AS tf_count
      FROM toks, UNNEST(tk) AS t(term)
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf_count, tfidf FROM (
      SELECT tf.doc_id, tf.term, tf.tf_count,
             ROUND(tf.tf_count * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6)
               AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY ROUND(tf.tf_count
                              * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6)
                        DESC, tf.term
             ) AS rn
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rn <= 5
    """,
)
def k4_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — the classic keyword/topic
    signal a corpus pipeline derives before indexing or clustering.

    Plan shape at 100 TB: one (doc_id, term) aggregate (the only
    corpus-sized shuffle), one vocabulary-sized term aggregate, then
    the document-frequency table joins BACK via broadcast (vocab ≪
    corpus) and a WindowGroupLimit top-5 per doc. The IDF log is
    rounded to 6 dp and the ROW_NUMBER orders by the ROUNDED score —
    StrictMath.log (Spark) and libm log (DuckDB) may differ in the
    last ulp, so both the emitted value and the top-k SELECTION are
    pinned to the rounded, tie-broken ordering (bit-stable across
    engines; the raw-double ordering would not be).
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    tf = (
        d.select("doc_id", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf_count"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf_count")
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf_count", "tfidf")
    )


@query(
    "k4_unigram_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({SQL_NORM}, ' ')) AS tok
      FROM documents
    ),
    lm AS (SELECT tok, COUNT(*) AS n_t FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(n_t) AS DOUBLE) AS n FROM lm),
    scored AS (
      SELECT t.doc_id,
             CAST(ROUND(-ln(CAST(lm.n_t AS DOUBLE) / tot.n), 6)
                  AS DECIMAL(18,6)) AS nll
      FROM toks t JOIN lm ON t.tok = lm.tok CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS mean_nll,
           ROUND(exp(ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6)), 4)
               AS ppl
    FROM scored GROUP BY doc_id
    """,
)
def k4_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model score per document
    (SURVEY K4 ext.) — the CCNet/Wikipedia-LM quality-filter shape:
    train token→probability on the corpus itself, then score each
    document by mean negative log-likelihood (and perplexity). Low
    ppl ≈ ordinary prose; high ppl ≈ gibberish or boilerplate-free
    outliers — the standard signal for keeping/dropping web text in a
    training-data pipeline.

    Plan shape at 100 TB: one explode→groupBy(token) aggregate for
    the LM (combiner-heavy: vocabulary ≪ token stream) and one
    broadcast join of the vocabulary back onto the exploded token
    stream (vocab fits executors for natural-language corpora; if it
    didn't, the join key is already the shuffle key). Float parity:
    per-token -ln(p) is rounded to 6 dp and summed as DECIMAL(18,6)
    (order-independent exact sum, same contract as common.dsum); the
    final mean and exp() are single IEEE ops on identical operands in
    both engines.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("tk")
    )
    toks = d.select("doc_id", F.explode("tk").alias("tok"))
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_t"))
    tot = lm.agg(F.sum("n_t").cast("double").alias("n"))
    nll = F.round(
        -F.log(F.col("n_t").cast("double") / F.col("n")), 6
    ).cast("decimal(18,6)")
    mean_nll = F.round(
        F.sum(F.col("nll")).cast("double") / F.count(F.lit(1)), 6
    )
    return (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(tot))
        .withColumn("nll", nll)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            mean_nll.alias("mean_nll"),
            F.round(F.exp(mean_nll), 4).alias("ppl"),
        )
    )


MD5_WEIGHT_SQL = (
    "CAST(CAST('0x' || SUBSTRING(md5({t}), 1, 8) AS BIGINT) % 2001 - 1000"
    " AS DOUBLE) / 1000.0"
)


@query(
    "k4_hashed_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(COALESCE({SQL_NORM}, ''), ' ') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id, lang,
             toks || list_transform(
               list_zip(toks[1:LEN(toks) - 1], toks[2:LEN(toks)]),
               p -> p[1] || '_' || p[2]) AS feats
      FROM t
    )
    SELECT doc_id, lang,
           LEN(feats) AS n_feats,
           ROUND(list_sum(list_transform(feats,
                 t -> {MD5_WEIGHT_SQL.format(t="t")})) / LEN(feats), 6)
               AS score,
           list_sum(list_transform(feats,
                 t -> {MD5_WEIGHT_SQL.format(t="t")})) / LEN(feats) >= 0.0
               AS keep
    FROM f
    """,
)
def k4_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear text classifier (SURVEY K4 ext.) — the
    fastText / Vowpal-Wabbit scoring shape used for model-based
    quality filtering (e.g. FineWeb-Edu, CCNet's LM filter): features
    are unigrams + word bigrams, each feature is HASHED to a weight
    (no vocabulary table), and the document score is the mean feature
    weight with a sign threshold. Here the weight function is
    md5-derived ((md5(f) mod 2001 − 1000)/1000 ∈ [−1, 1]) — the
    hashing-trick model with deterministic init, so both engines
    reproduce the scores bit-for-bit; a TRAINED weight table drops in
    as a broadcast join on the same bucket key without changing the
    plan.

    Plan: pure JVM lambda expressions over the token array — feature
    construction (zip_with bigrams), hashing, and the score fold all
    run inside whole-stage codegen, map-only, zero shuffles, no
    explode (the (doc, feature) pairs never materialize as rows). At
    100 TB this scores at parquet-scan speed. Float contract: the
    score fold runs left-to-right over the same feature order in both
    engines (the cosine-fold precedent); weights are 3-dp rationals.
    """
    d = T(spark, sf_dir, "documents")
    # COALESCE on both engine texts: NULL text diverged (DuckDB's
    # NULL || [] is [] -> n_feats 0; Spark's size(concat(NULL,..))
    # is NULL). '' tokenizes to [''] identically in both.
    toks = F.split(F.coalesce(norm_text(F.col("text")), F.lit("")), " ")

    def weight(t):
        return (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint") % 2001
            - 1000
        ).cast("double") / F.lit(1000.0)

    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    feats = F.concat(toks, bigrams)
    score = F.aggregate(
        F.transform(feats, weight), F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(feats)
    return d.select(
        "doc_id",
        "lang",
        F.size(feats).cast("bigint").alias("n_feats"),
        F.round(score, 6).alias("score"),
        (score >= 0.0).alias("keep"),
    )


# ---------------------------------------------------------------------------
# K4 — BPE vocabulary training (Sennrich et al., ACL'16; the HF-
# tokenizers training shape: merges learned from WORD COUNTS, the
# corpus itself is touched exactly once).
# ---------------------------------------------------------------------------

BPE_ROUNDS = 8
_SEP = "·"  # token boundary marker; not in the corpus alphabet


def _bpe_oracle() -> str:
    """The 8-round merge recurrence unrolled as chained CTEs (the
    PageRank-oracle pattern): w0 = distinct words with counts and
    per-char symbol strings; each round counts adjacent symbol pairs
    weighted by word frequency, picks argmax (count DESC, pair ASC),
    and applies the merge with the double-separator REPLACE trick.
    A round whose pair supply DRIED UP (b{{i}} empty — degenerate or
    tiny corpora) carries sym through unchanged: the scalar subquery
    is NULL there and an unguarded REPLACE(sym, NULL, ...) would
    NULL-poison every later round's vocabulary, returning NULL token
    counts where Spark (which simply stops merging) returns real
    ones."""
    parts = [
        f"""
    WITH w0 AS MATERIALIZED (
      SELECT w AS word, COUNT(*) AS freq,
             regexp_replace(w, '(.)', '{_SEP}\\1{_SEP}', 'g') AS sym
      FROM (
        SELECT UNNEST(string_split({SQL_NORM}, ' ')) AS w FROM documents
      ) WHERE w <> '' GROUP BY w
    )"""
    ]
    for i in range(1, BPE_ROUNDS + 1):
        parts.append(f"""
    , p{i} AS MATERIALIZED (
      SELECT pair, SUM(freq) AS c FROM (
        SELECT freq,
               UNNEST(list_transform(
                 list_zip(t[1:LEN(t) - 1], t[2:LEN(t)]),
                 x -> x[1] || ' ' || x[2])) AS pair
        FROM (SELECT freq,
                     string_split(trim(sym, '{_SEP}'), '{_SEP}{_SEP}') AS t
              FROM w{i - 1})
      ) GROUP BY pair
    ), b{i} AS MATERIALIZED (
      SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1)
    , w{i} AS MATERIALIZED (
      SELECT word, freq,
             CASE WHEN (SELECT pair FROM b{i}) IS NULL THEN sym
                  ELSE REPLACE(sym,
               '{_SEP}' || REPLACE((SELECT pair FROM b{i}), ' ',
                                   '{_SEP}{_SEP}') || '{_SEP}',
               '{_SEP}' || REPLACE((SELECT pair FROM b{i}), ' ', '')
                        || '{_SEP}') END AS sym
      FROM w{i - 1}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, "
        f"string_split(pair, ' ')[1] AS left_sym, "
        f"string_split(pair, ' ')[2] AS right_sym, "
        f"REPLACE(pair, ' ', '') AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, BPE_ROUNDS + 1)
    )
    return "".join(parts) + selects



# Vocabularies at or below this many distinct words train DRIVER-SIDE
# (one Spark job: the corpus-to-word-count reduction; then pure-Python
# recurrence) — the bounded-model-collect pattern (IVF centroids,
# SemDeDup codebooks). The distributed recurrence below stays the
# large-vocab path: 8 rounds x (explode + combiner agg + 1-row argmax)
# is the right shape when the word table doesn't fit a driver, but it
# pays ~16 tiny-job schedulings when it trivially does — a measured
# bench regression on k4_bpe_token_count was exactly that overhead.
BPE_DRIVER_VOCAB_MAX = 50_000

# Separate, MUCH smaller bound for the literal-map TOKENIZER arm:
# `GetMapValue` on a literal
# ArrayBasedMapData is a linear scan per lookup and the 2N lit()
# expressions inflate the analyzed plan — the same >~10^2-literal-
# terms cliff the PQ codebook rework documented. Measured on a synthetic
# corpus (scripts/bpe_map_boundary.py, 2k docs x 200 words, local[16],
# best-of-2): broadcast-join is flat ~0.45 s at every vocab size,
# while the map literal reads 0.45 s @100 words, 0.59 @400, 0.96
# @800, 1.05 @1k, 4.73 @5k — the knee is ~200-400, superlinear past
# it (a 50k literal would be minutes). Driver-side TRAINING keeps the
# 50k bound (pure-Python recurrence, no expression trees); only the
# tokenize arm routes through the broadcast join past this cap.
BPE_TOKENIZE_MAP_MAX = 256


def _bpe_train_local(rows) -> tuple[list, list]:
    """The identical merge recurrence on a collected (freq, word)
    list: count adjacent symbol pairs weighted by word frequency,
    argmax (count DESC, pair ASC), leftmost-greedy non-overlapping
    apply — the same scan REPLACE-with-double-separators performs, so
    merges, counts and final symbolizations match the distributed
    path and the SQL oracle bit for bit."""
    words = [(freq, w, [c for c in w]) for freq, w in rows]
    merges = []
    for rank in range(1, BPE_ROUNDS + 1):
        counts: dict[tuple, int] = {}
        for freq, _, syms in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        merges.append((rank, left, right, left + right, c))
        for i, (freq, w, syms) in enumerate(words):
            out, j = [], 0
            while j < len(syms):
                if (
                    j + 1 < len(syms)
                    and syms[j] == left
                    and syms[j + 1] == right
                ):
                    out.append(left + right)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = (freq, w, out)
    return merges, words


def bpe_train(spark: SparkSession, sf_dir: str):
    """Run the merge recurrence; returns (merges, final_words,
    local_words) where merges = [(rank, left, right, merged, count)],
    final_words = the (freq, word, sym) vocabulary with all merges
    applied, and local_words = the collected [(freq, word, syms)] when
    the DRIVER path trained (None when the distributed path ran), which
    lets k4_bpe_token_count pick the map-expression tokenizer for
    bounded vocabularies. Shared by k4_bpe_train (reports the merges)
    and k4_bpe_token_count (tokenizes with them); each call trains.

    Two physical paths, identical semantics: the corpus is always
    reduced ONCE to distinct (word, freq) — vocabulary-sized. A small
    vocabulary (<= BPE_DRIVER_VOCAB_MAX words) trains driver-side; a
    large one runs the distributed recurrence, each round pinning the
    next vocabulary and releasing the superseded one, so at most two
    round-tables are ever held."""
    d = T(spark, sf_dir, "documents")
    word_counts = pin(
        d.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # full-parallel count, not head(N+1): a collect-limit probe runs
    # the scale-up partition waves (1, 4, 16... attempts) on the agg
    # and costs more than the answer
    if word_counts.count() <= BPE_DRIVER_VOCAB_MAX:
        merges, words = _bpe_train_local(
            [(r["freq"], r["w"]) for r in word_counts.collect()]
        )
        unpin(word_counts)
        cur = spark.createDataFrame(
            [
                (freq, w, "".join(f"{_SEP}{s}{_SEP}" for s in syms))
                for freq, w, syms in words
            ],
            "freq long, word string, sym string",
        )
        return merges, cur, words
    cur = pin(
        word_counts.select(
            "freq",
            F.col("w").alias("word"),
            F.regexp_replace("w", "(.)", f"{_SEP}$1{_SEP}").alias("sym"),
        )
    )
    unpin(word_counts)
    merges = []
    for rank in range(1, BPE_ROUNDS + 1):
        toks = F.split(
            F.expr(f"trim(BOTH '{_SEP}' FROM sym)"), f"{_SEP}{_SEP}"
        )
        n = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        best = (
            cur.select("freq", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), "pair")
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, c = best[0]["pair"], best[0]["c"]
        left, right = pair.split(" ", 1)
        merges.append((rank, left, right, left + right, c))
        nxt = pin(
            cur.select(
                "freq",
                "word",
                F.replace(
                    F.col("sym"),
                    F.lit(f"{_SEP}{left}{_SEP}{_SEP}{right}{_SEP}"),
                    F.lit(f"{_SEP}{left}{right}{_SEP}"),
                ).alias("sym"),
            )
        )
        unpin(cur)
        cur = nxt
    return merges, cur, None


@query("k4_bpe_train", oracle=_bpe_oracle())
def k4_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, distributed (SURVEY K4 ext.): learn the
    first 8 (BPE_ROUNDS) byte-pair merges from the corpus — the
    vocabulary-construction stage every LLM data pipeline runs before
    token counting/packing. The algorithm is the textbook recurrence:
    count adjacent symbol pairs over the WORD-FREQUENCY table, merge
    the argmax pair everywhere, repeat.

    Scale shape (the HF-tokenizers/SentencePiece trainer shape): the
    100 TB corpus is read ONCE, reduced to distinct (word, count) —
    vocabulary-sized, orders of magnitude smaller than the corpus.
    Every merge round then runs on that bounded table: one explode +
    one combiner-friendly agg per round, plus a 1-row argmax collect
    (the same bounded-model-collect pattern as IVF centroids). Merges
    apply via a single REPLACE expression per round — symbols carry a
    double boundary marker ({_SEP}{_SEP}) so adjacent occurrences
    sharing a delimiter both merge (leftmost-greedy within overlaps,
    exactly BPE's scan), keeping the apply step pure string ops in
    both engines — the oracle unrolls the identical recurrence as
    chained CTEs, so every learned merge and its count is
    hash-checked, ties and all (tie-break: count DESC, pair ASC).
    """
    merges, _, _ = bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank bigint, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def _bpe_tokenize_oracle() -> str:
    """Tokenization with the learned merges: reuse the training CTE
    chain (w0..w8 — w8's sym IS each word tokenized under all 8
    merges), count symbols per word, then join word-level token
    counts back onto the corpus word stream."""
    train = _bpe_oracle().split("SELECT CAST(1 AS BIGINT)")[0]
    return f"""{train}
    , vocab AS MATERIALIZED (
      SELECT word,
             LEN(string_split(trim(sym, '{_SEP}'), '{_SEP}{_SEP}'))
                 AS n_toks
      FROM w{BPE_ROUNDS}
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(v.n_toks) AS BIGINT) AS n_bpe_tokens,
           COUNT(*) AS n_words
    FROM (
      SELECT doc_id, lang,
             UNNEST(string_split({SQL_NORM}, ' ')) AS word
      FROM documents
    ) d JOIN vocab v USING (word)
    WHERE d.word <> ''
    GROUP BY d.doc_id, d.lang
    """


@query("k4_bpe_token_count", oracle=_bpe_tokenize_oracle())
def k4_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the trained BPE merges (SURVEY K4
    ext., closing the k4_bpe_train loop): exact LLM token counts per
    document — the statistic that drives sequence packing
    (k7_sequence_packing), mixture weighting (k6_domain_mix) and
    training-cost accounting.

    Scale shape: merges apply on the VOCABULARY table (apply all 8
    learned REPLACEs to each distinct word — bounded work), giving a
    word → token-count map. A SMALL vocabulary (driver-trained AND
    <= BPE_TOKENIZE_MAP_MAX words — GetMapValue on a literal map is a
    per-lookup linear scan, measured knee ~200-400 words, see the cap
    comment) becomes a literal map EXPRESSION: each document's counts
    fold in one `aggregate` over its own word array — zero joins,
    zero explode, zero shuffles, one corpus pass (whole-stage
    codegen'd map-side work). A large vocabulary BROADCAST-joins onto
    the exploded corpus word stream with one per-doc agg — the
    corpus text never carries through a second shuffle either way.
    The oracle re-derives the same merges and map in SQL and joins
    identically — doc-level token counts are hash-checked end to end.
    """
    d = T(spark, sf_dir, "documents")
    _, cur, local = bpe_train(spark, sf_dir)
    if local is not None and len(local) <= BPE_TOKENIZE_MAP_MAX:
        tok_map = F.create_map(
            *[
                x
                for _, w, syms in local
                for x in (F.lit(w), F.lit(len(syms)))
            ]
        )
        words = F.filter(
            F.split(norm_text(F.col("text")), " "), lambda w: w != ""
        )
        return (
            d.select(
                "doc_id",
                "lang",
                F.aggregate(
                    words,
                    F.lit(0).cast("bigint"),
                    lambda acc, w: acc + tok_map[w].cast("bigint"),
                ).alias("n_bpe_tokens"),
                F.size(words).cast("bigint").alias("n_words"),
            )
            # docs with no non-empty words never join in the oracle
            .filter(F.col("n_words") > 0)
        )
    vocab = cur.select(
        "word",
        F.size(
            F.split(F.expr(f"trim(BOTH '{_SEP}' FROM sym)"), f"{_SEP}{_SEP}")
        ).alias("n_toks"),
    )
    corpus_words = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    return (
        corpus_words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n_toks").cast("bigint").alias("n_bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )


HH_K = 64  # report every token with frequency > N / HH_K
MG_COUNTERS = 128  # Misra-Gries counters per partition (>= HH_K)


def mg_candidates_fn(batches):
    """Per-partition Misra-Gries: a bounded dict of MG_COUNTERS
    streaming counters; emits the surviving candidate tokens (n=0)
    plus one NULL-token row carrying the partition's total count, so
    N rides the same pass. A `mapInArrow` function over the `token`
    column; module-level so tests can drive it past the decrement
    path directly."""
    import pyarrow as pa

    counters: dict[str, int] = {}
    total = 0
    for batch in batches:
        for t in batch.column(0).to_pylist():
            total += 1
            if t in counters:
                counters[t] += 1
            elif len(counters) < MG_COUNTERS:
                counters[t] = 1
            else:  # decrement-all step, dropping zeros
                drop = [k for k in counters if counters[k] == 1]
                for k in counters:
                    counters[k] -= 1
                for k in drop:
                    del counters[k]
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(list(counters) + [None], pa.string()),
            pa.array([0] * len(counters) + [total], pa.int64()),
        ],
        names=["token", "n"],
    )


@query(
    "d14_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT UNNEST(string_split({SQL_NORM}, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks WHERE token <> '')
    SELECT token, COUNT(*) AS freq
    FROM toks, tot
    WHERE token <> ''
    GROUP BY token, tot.n
    HAVING COUNT(*) * {HH_K} > tot.n
    """,
)
def d14_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters by two-pass Misra-Gries (SURVEY D-ext):
    every token whose frequency exceeds N/HH_K (N/64), with its EXACT
    count. The scale problem this solves: a full token groupBy over a
    skewed 100 TB stream shuffles the whole stream; heavy hitters
    need only (a) a candidate pass — per-partition Misra-Gries with
    MG_COUNTERS (128) counters, a bounded-memory streaming kernel whose
    union provably contains every global >N/HH_K item (the classic
    MG guarantee survives sharding because a global heavy hitter is
    heavy in at least one shard's residual) — then (b) an exact
    recount of ONLY the candidate set via a broadcast semi-join.
    Shuffled bytes: candidates × partitions, not tokens.

    The output is EXACT (candidates are a superset; the recount +
    threshold filter removes false candidates), so the oracle is the
    plain GROUP BY ... HAVING — sketch-assisted ≠ approximate.
    """
    d = T(spark, sf_dir, "documents")
    toks = (
        d.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
        )
        .filter(F.col("token") != "")
    )
    mg = pin(toks.mapInArrow(mg_candidates_fn, "token string, n long"))
    n_total = mg.agg(F.sum("n")).collect()[0][0] or 0
    cands = mg.filter(F.col("token").isNotNull()).select("token").distinct()
    # two corpus passes total: the MG/candidate+count pass above, and
    # the exact recount below — the pinned mg table is candidate-sized
    return (
        toks.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") * HH_K > F.lit(n_total))
    )


CMS_D = 3    # hash rows
CMS_W = 256  # buckets per row

_CMS_BUCKET_SQL = (
    "CAST(CAST('0x' || SUBSTRING(md5(CAST({r} AS VARCHAR) || ':' || {t}),"
    " 1, 8) AS BIGINT) % {w} AS INTEGER)"
)


@query(
    "d15_count_min",
    oracle=f"""
    WITH toks AS (
      SELECT t AS token FROM (
        SELECT UNNEST(string_split({SQL_NORM}, ' ')) AS t FROM documents
      ) WHERE t <> ''
    ),
    rs AS (SELECT UNNEST(range({CMS_D})) AS r),
    sk AS MATERIALIZED (
      SELECT r, {_CMS_BUCKET_SQL.format(r="r", t="token", w=CMS_W)} AS bucket,
             COUNT(*) AS c
      FROM toks CROSS JOIN rs
      GROUP BY 1, 2
    ),
    vocab AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
    probes AS (
      SELECT v.token, v.freq, r,
             {_CMS_BUCKET_SQL.format(r="r", t="v.token", w=CMS_W)} AS bucket
      FROM vocab v CROSS JOIN rs
    )
    SELECT p.token, ANY_VALUE(p.freq) AS freq,
           MIN(sk.c) AS cms_estimate,
           MIN(sk.c) >= ANY_VALUE(p.freq) AS never_underestimates
    FROM probes p JOIN sk USING (r, bucket)
    GROUP BY p.token
    """,
)
def d15_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (SURVEY D-ext, completing the mergeable-
    sketch family: HLL → bitmap → CMS): CMS_D×CMS_W (3×256) bucket sums
    built in ONE pass over the token stream — each row's buckets are
    partial-aggregated map-side, so the exchange carries ≤ D×W
    counter rows per partition regardless of stream size, and two
    sketches merge by entrywise ADDITION (the incremental-rollup
    contract: sketch new data, add to the stored sketch, never
    re-scan history). Point estimates are min-over-rows; CMS never
    underestimates, pinned per token by the certificate column.

    Everything is md5-derived and deterministic, so the oracle
    rebuilds the IDENTICAL sketch in SQL and the estimates hash-match
    exactly — the sketch's content, not just its bounds, is verified.
    The exact `freq` column is the verification side (vocab-sized
    groupBy), not part of the sketch path.
    """
    d = T(spark, sf_dir, "documents")
    toks = (
        d.select(
            F.explode(F.split(norm_text(F.col("text")), " ")).alias("token")
        )
        .filter(F.col("token") != "")
    )

    def bucket(r_col, t_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            r_col.cast("string"), F.lit(":"), t_col
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % CMS_W
        ).cast("int")

    fanned = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        bucket(F.lit(r), F.col("token")).alias("bucket"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rb")
    ).select("rb.r", "rb.bucket")
    sketch = fanned.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c"))

    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    probes = vocab.select(
        "token",
        "freq",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        bucket(F.lit(r), F.col("token")).alias("bucket"),
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("token", "freq", "rb.r", "rb.bucket")
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token")
        .agg(
            F.any_value("freq").alias("freq"),
            F.min("c").alias("cms_estimate"),
            (F.min("c") >= F.any_value("freq")).alias("never_underestimates"),
        )
    )


DSIR_BUCKETS = 1024

_DSIR_BUCKET_SQL = (
    "CAST(CAST('0x' || SUBSTRING(md5(tok), 1, 8) AS BIGINT)"
    f" % {DSIR_BUCKETS} AS INTEGER)"
)


@query(
    "k4_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(string_split({SQL_NORM}, ' ')) AS tok
      FROM documents
    ),
    bt AS MATERIALIZED (
      SELECT {_DSIR_BUCKET_SQL} AS bucket,
             COUNT(*) AS raw_n,
             COUNT(*) FILTER (WHERE lang = 'en') AS tgt_n
      FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(raw_n) AS DOUBLE) AS t_raw,
             CAST(SUM(tgt_n) AS DOUBLE) AS t_tgt
      FROM bt
    ),
    w AS MATERIALIZED (
      SELECT bucket,
             CAST(ROUND(
               ln((tgt_n + 1) / (t_tgt + {DSIR_BUCKETS}))
               - ln((raw_n + 1) / (t_raw + {DSIR_BUCKETS})), 6)
             AS DECIMAL(18,6)) AS lr
      FROM bt CROSS JOIN tot
    )
    SELECT t.doc_id, ANY_VALUE(t.lang) AS lang,
           COUNT(*) AS n_tokens,
           CAST(FLOOR(CAST(SUM(w.lr) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
                AS BIGINT) AS score_e6,
           CAST(FLOOR(CAST(SUM(w.lr) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
                AS BIGINT) / 1e6 AS dsir_score,
           CAST(SUM(w.lr) AS DOUBLE) / COUNT(*) > 0.0 AS keep
    FROM toks t JOIN w ON w.bucket = {_DSIR_BUCKET_SQL}
    GROUP BY t.doc_id
    """,
)
def k4_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al., NeurIPS'23 — "Data
    Selection for Language Models via Importance Resampling"): score
    each raw document by how much more likely its hashed-n-gram
    features are under a TARGET distribution than under the raw
    corpus — the principled replacement for hand-tuned quality
    heuristics when you have exemplar target data. Here the target
    is the corpus's own lang='en' slice (any exemplar set drops in);
    features are unigrams hashed to DSIR_BUCKETS (1024) buckets
    (the paper's hashed generative model), and the per-doc score is
    the mean add-one-smoothed log-likelihood ratio — keep docs with
    score > 0 (more target-like than raw-like), or importance-sample
    on exp(score) downstream.

    Plan shape (the k4_unigram_lm_score shape): ONE corpus explode →
    one combiner-heavy bucket aggregate computing raw and target
    counts together (count_if rides the same pass) → the
    DSIR_BUCKETS-row weight table broadcasts back onto the token
    stream → one per-doc aggregate. Float contract: per-bucket log
    ratios are rounded to 6 dp and summed as DECIMAL(18,6)
    (order-free); the final mean is a single IEEE division.
    """
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    ).cast("int")
    toks = d.withColumn("bucket", bucket)
    bt = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.count_if(F.col("lang") == "en").alias("tgt_n"),
    )
    tot = bt.agg(
        F.sum("raw_n").cast("double").alias("t_raw"),
        F.sum("tgt_n").cast("double").alias("t_tgt"),
    )
    lr = F.round(
        F.log((F.col("tgt_n") + 1) / (F.col("t_tgt") + DSIR_BUCKETS))
        - F.log((F.col("raw_n") + 1) / (F.col("t_raw") + DSIR_BUCKETS)),
        6,
    ).cast("decimal(18,6)")
    w = bt.crossJoin(F.broadcast(tot)).select("bucket", lr.alias("lr"))
    score = F.sum("lr").cast("double") / F.count(F.lit(1))
    score_e6 = F.floor(score * 1e6 + 0.5).cast("bigint")
    return (
        toks.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            score_e6.alias("score_e6"),
            (score_e6 / F.lit(1e6)).alias("dsir_score"),
            (score > 0.0).alias("keep"),
        )
    )


# Gopher document-quality rule thresholds (Rae et al. 2021, table A1
# — public rule set). Word-count band tightened to the fixture's
# 9–110-word documents so the gate actually discriminates; the
# canonical 50..100k band is a config swap.
GOPHER_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that"]
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 15, 80


def _gopher_oracle_tail(src: str) -> str:
    """The Gopher-gate oracle from CTE `t` onward, over any source
    relation exposing (doc_id, text) — shared by the raw-documents
    gate and the extract->gate composition so the two oracles
    cannot drift. Append after 'WITH ' or after earlier CTEs + ','."""
    return f"""t AS (
      SELECT doc_id, {SQL_NORM} AS nt,
             string_split({SQL_NORM}, ' ') AS toks
      FROM {src}
    ), m AS (
      SELECT doc_id,
             LEN(toks) AS n_words,
             CAST(LENGTH(nt) - LEN(toks) + 1 AS DOUBLE) / LEN(toks)
               AS mean_word_len,
             LEN(list_filter(list_distinct(toks),
                 x -> list_contains([{", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)}], x)))
               AS stopword_kinds,
             CAST(LEN(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                  AS DOUBLE) / LEN(toks) AS alpha_word_frac
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, stopword_kinds, alpha_word_frac,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AS r_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_word_len,
           (stopword_kinds >= 2) AS r_stopwords,
           (alpha_word_frac >= 0.8) AS r_alpha_words,
           ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND stopword_kinds >= 2 AND alpha_word_frac >= 0.8) AS keep
    FROM m
    """


def gopher_gate(d: DataFrame) -> DataFrame:
    """The Gopher rule computation over any (doc_id, text) DataFrame
    — factored out so the extract->gate composition runs the
    IDENTICAL gate, not a copy."""
    nt = norm_text(F.col("text"))
    toks = F.split(nt, " ")
    stop = F.array([F.lit(w) for w in GOPHER_STOPWORDS])
    d = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        ((F.length(nt) - F.size(toks) + 1).cast("double") / F.size(toks)).alias(
            "mean_word_len"
        ),
        F.size(
            F.filter(F.array_distinct(toks), lambda x: F.array_contains(stop, x))
        )
        .cast("bigint")
        .alias("stopword_kinds"),
        (
            F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double")
            / F.size(toks)
        ).alias("alpha_word_frac"),
    )
    r_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_wl = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    r_sw = F.col("stopword_kinds") >= 2
    r_al = F.col("alpha_word_frac") >= 0.8
    return d.select(
        "*",
        r_wc.alias("r_word_count"),
        r_wl.alias("r_word_len"),
        r_sw.alias("r_stopwords"),
        r_al.alias("r_alpha_words"),
        (r_wc & r_wl & r_sw & r_al).alias("keep"),
    )


@query(
    "k4_gopher_rules",
    oracle=f"WITH {_gopher_oracle_tail('documents')}",
)
def k4_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composed quality gate (Rae et al. 2021 §A1.1, the
    standard LLM-corpus document filter; §2.K4 extension): word-count
    band, mean-word-length band, minimum distinct-stopword presence,
    and alphabetic-word fraction — each emitted as its own boolean
    next to the composed `keep`, so downstream audits can see WHICH
    rule dropped a document (the per-rule telemetry DataTrove/Dolma
    pipelines keep).

    Complements `k4_repetition_filter` (the repetition rule group) —
    together they are the full Gopher gate.

    100 TB design: one scan, zero shuffles — every rule is an array
    expression over the token list (JVM codegen, map-only). All
    metrics are integer-derived, so the booleans are bit-stable
    across engines.
    """
    return gopher_gate(T(spark, sf_dir, "documents"))


BACKOFF_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007)


@query(
    "k4_bigram_lm_score",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split({SQL_NORM}, ' ') AS toks FROM documents
    ),
    uni AS (
      SELECT t.w, COUNT(*) AS c
      FROM docs, UNNEST(toks) AS t(w) GROUP BY 1
    ),
    totals AS (SELECT SUM(c) AS n_tokens FROM uni),
    bi AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM docs, UNNEST(range(1, LEN(toks))) AS r(i)
      WHERE LEN(toks) >= 2
    ),
    model AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2
    ),
    scored AS (
      SELECT b.doc_id,
             CAST(ROUND(CASE
               WHEN m.c12 IS NOT NULL
                 THEN ln(CAST(m.c12 AS DOUBLE) / u1.c)
               ELSE ln({BACKOFF_ALPHA} * u2.c / n_tokens)
             END, 6) AS DECIMAL(18,6)) AS s
      FROM bi b
      LEFT JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2
      CROSS JOIN totals
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(FLOOR(CAST(SUM(s) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
                AS BIGINT) / 1e6 AS mean_log_score
    FROM scored GROUP BY doc_id
    """,
)
def k4_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM with stupid backoff (Brants et al.
    2007, "Large Language Models in Machine Translation" — the
    web-scale n-gram smoothing that needs NO discount tuning):
    score each doc by its mean log bigram score, backing off to
    alpha * unigram MLE when a bigram is unseen. The CCNet-style
    fluency filter one rung above `k4_unigram_lm_score`.

    Honesty note: with the model trained on the SAME
    bigram stream it scores, every scored bigram exists in the model
    by construction, so the backoff branch is exercised only when
    the model is trained on a held-out corpus — the production
    shape. Both engines carry the identical (currently-dormant)
    branch, so swapping in a held-out `model` exercises it without
    touching the scoring code.

    100 TB design: the bigram stream is generated positionally from
    the token array (explode of an index sequence — map-only, no
    self-join); the bigram/unigram model tables aggregate to
    vocabulary size and broadcast back onto the stream (beyond the
    broadcast threshold they fall back to hash joins keyed on the
    n-gram — still bounded by model size, never corpus²). Per-bigram
    log scores are rounded to 6 dp and summed as DECIMAL(18,6), so
    the mean is bit-stable under any partitioning.
    """
    docs = T(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("toks")
    )
    uni = (
        docs.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(F.sum("c").alias("n_tokens"))
    bi = (
        docs.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    model = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    s = F.round(
        F.when(
            F.col("c12").isNotNull(),
            F.log(F.col("c12").cast("double") / F.col("c1")),
        ).otherwise(
            F.log(BACKOFF_ALPHA * F.col("c2") / F.col("n_tokens"))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        # no broadcast HINT: the distinct-bigram model grows with the
        # corpus (Heaps-law sublinear but unbounded), and a hint
        # overrides the threshold — AQE broadcasts it at runtime only
        # while its MEASURED size is small, else a shuffled hash join
        # (matches the docstring's claimed
        # fallback).
        bi.join(model, ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", s.alias("s"))
    )
    mean = F.sum("s").cast("double") / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.floor(mean * 1e6 + 0.5).cast("bigint") / F.lit(1e6)).alias(
            "mean_log_score"
        ),
    )


@query(
    "k4_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source, {SQL_NORM} AS nt,
             string_split({SQL_NORM}, ' ') AS toks
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, lang, source,
             LEN(toks) AS n_words,
             md5(nt) AS digest,
             (LEN(toks) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
               AS len_ok
      FROM t
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT digest) AS n_unique_texts,
           COUNT(*) - COUNT(DISTINCT digest) AS n_exact_dups,
           CAST(COUNT(*) FILTER (len_ok) AS BIGINT) AS n_len_ok,
           CAST(MIN(n_words) AS BIGINT) AS min_words,
           CAST(MAX(n_words) AS BIGINT) AS max_words
    FROM per_doc GROUP BY lang
    """,
)
def k4_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics (the datasheet/data-statement summary
    a corpus release ships with — HuggingFace dataset cards, Datasheets
    for Datasets): per language, document and token volumes, source
    diversity, exact-duplicate rate, and the quality-gate pass count
    — all derived in ONE pass over per-doc metrics (map-only
    derivations + a single language-keyed aggregate; distincts ride
    the same shuffle). At 100 TB this is the cheap audit artifact
    produced after every pipeline stage: all counts integer-exact,
    so regressions diff cleanly between runs.
    """
    d = T(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    toks = F.split(nt, " ")
    per_doc = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).alias("n_words"),
        F.md5(nt).alias("digest"),
        F.size(toks).between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias(
            "len_ok"
        ),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("digest").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.count_distinct("digest")).alias(
            "n_exact_dups"
        ),
        F.count_if("len_ok").cast("bigint").alias("n_len_ok"),
        F.min("n_words").cast("bigint").alias("min_words"),
        F.max("n_words").cast("bigint").alias("max_words"),
    )


# ---------------------------------------------------------------------------
# K4 — HTML -> text extraction: the first
# text-analysis stage of a CommonCrawl-style training-data pipeline.
# ---------------------------------------------------------------------------

HTML_MIN_LINE_CHARS = 20  # line-density boilerplate floor (visible chars)


def _html_extract_exprs(duck: bool) -> dict[str, str]:
    """One template, two dialects: the ENTIRE extraction pipeline —
    script/style block removal, tag strip, entity decode, whitespace
    collapse, per-line link-density boilerplate filter — is generated
    from the same Python template for Spark SQL and DuckDB SQL, so the
    engine and the oracle cannot drift on a regex or an operation
    order. Dialect seams: regexp_replace global flag ('g' arg in
    DuckDB, default in Spark), split/transform/filter/size/array_join
    spellings, and list-sum-vs-aggregate for the link-char count."""

    def rr(s: str, p: str, r: str) -> str:
        if duck:
            return f"regexp_replace({s}, '{p}', '{r}', 'g')"
        return f"regexp_replace({s}, '{p}', '{r}')"

    tfm = "list_transform" if duck else "transform"
    flt = "list_filter" if duck else "filter"
    size_ = "LEN" if duck else "size"
    join_ = "array_to_string" if duck else "array_join"
    split_ = "string_split" if duck else "split"

    # Raw-HTML synthesis from the fixture text (the ingestion
    # stand-in): head with a MULTI-LINE script + style block (forces
    # the (?s) block strip to really span lines), a nav line that is
    # 100% link text, an entity-bearing headline (entities survive the
    # tag strip precisely because they are encoded — certifying the
    # strip-THEN-decode order), the document text as <p> lines broken
    # at the frequent token ' line ', and a footer whose link density
    # sits above the drop threshold despite visible non-link text.
    nl = "chr(10)"
    synth = (
        "'<html><head><title>' || source || '</title>' || " + nl + " || "
        "'<script type=\"text/javascript\">' || " + nl + " || "
        "'var t = ' || CAST(doc_id AS STRING) || '; track(t);' || "
        + nl + " || '</script>' || " + nl + " || "
        "'<style>' || " + nl + " || '.m { color: #333; }' || " + nl + " || "
        "'</style></head><body>' || " + nl + " || "
        "'<div class=\"nav\"><a href=\"/\">Home</a> "
        "<a href=\"/about\">About</a> <a href=\"/c\">Contact</a></div>' || "
        + nl + " || "
        "'<h1>Notes &amp; queries &lt;' || source || '&gt; "
        "&quot;engine&#39;s digest&quot;&nbsp;report</h1>' || " + nl + " || "
        "'<p>' || replace(text, ' line ', ' line</p>' || " + nl
        + " || '<p>') || '</p>' || " + nl + " || "
        "'<div class=\"footer\"><a href=\"/tos\">Terms of service</a> "
        "legal</div>' || " + nl + " || '</body></html>'"
    )

    nos = rr(
        rr("html", "(?s)<script[^>]*>.*?</script>", " "),
        "(?s)<style[^>]*>.*?</style>",
        " ",
    )
    lines = f"{split_}({nos}, chr(10))"

    def vis(x: str) -> str:
        dec = rr(x, "<[^>]*>", " ")
        for ent, rep in (
            ("&lt;", "<"),
            ("&gt;", ">"),
            ("&quot;", '"'),
            ("&nbsp;", " "),
        ):
            dec = f"replace({dec}, '{ent}', '{rep}')"
        dec = f"replace({dec}, '&#39;', chr(39))"
        dec = f"replace({dec}, '&amp;', '&')"  # ampersand LAST
        return f"trim({rr(dec, '[ ]+', ' ')})"

    def link_chars(x: str) -> str:
        ex = f"regexp_extract_all({x}, '<a [^>]*>([^<]*)</a>', 1)"
        if duck:
            return (
                "COALESCE(list_sum(list_transform("
                f"{ex}, y -> CAST(LENGTH(y) AS BIGINT))), 0)"
            )
        return f"aggregate({ex}, CAST(0 AS BIGINT), (a, y) -> a + length(y))"

    cond = (
        f"LENGTH({vis('x')}) >= {HTML_MIN_LINE_CHARS} "
        f"AND 2 * {link_chars('x')} < LENGTH({vis('x')})"
    )
    kept = f"{tfm}({flt}(lines, x -> {cond}), x -> {vis('x')})"
    return {
        "synth": synth,
        "lines": lines,
        "kept": kept,
        "size": size_,
        "join": join_,
    }


def html_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + the boilerplate-stripped extracted text (the column a
    downstream quality gate consumes) + line telemetry. Map-only:
    every step is a JVM higher-order/regex expression — zero shuffle,
    zero Python in the row path."""
    e = _html_extract_exprs(duck=False)
    d = T(spark, sf_dir, "documents")
    return (
        d.selectExpr("doc_id", f"{e['synth']} AS html")
        .selectExpr("doc_id", f"{e['lines']} AS lines")
        .selectExpr(
            "doc_id",
            f"CAST({e['size']}(lines) AS BIGINT) AS n_lines",
            f"{e['kept']} AS kept",
        )
        .selectExpr(
            "doc_id",
            "n_lines",
            f"CAST({e['size']}(kept) AS BIGINT) AS n_kept",
            f"{e['join']}(kept, ' ') AS extracted",
        )
    )


def _html_extract_oracle() -> str:
    e = _html_extract_exprs(duck=True)
    return f"""
    WITH h AS (
      SELECT doc_id, {e["synth"]} AS html FROM documents
    ), l AS (
      SELECT doc_id, {e["lines"]} AS lines FROM h
    ), k AS (
      SELECT doc_id, CAST({e["size"]}(lines) AS BIGINT) AS n_lines,
             {e["kept"]} AS kept
      FROM l
    )
    SELECT doc_id, n_lines,
           CAST({e["size"]}(kept) AS BIGINT) AS n_kept,
           CAST(LENGTH({e["join"]}(kept, ' ')) AS BIGINT)
             AS extracted_chars,
           md5({e["join"]}(kept, ' ')) AS extracted_digest
    FROM k
    """


@query("k4_html_extract", oracle=_html_extract_oracle())
def k4_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (the first stage of a
    CommonCrawl-style corpus build): each document's raw
    HTML (synthesized deterministically from the fixture text — a
    multi-line script block, a style block, a pure-link nav, an
    entity-bearing headline, <p>-broken body text, a link-heavy
    footer) goes through the standard extraction pipeline:

      1. remove <script>/<style> BLOCKS (dotall non-greedy — content
         inside them is code, not text);
      2. split into lines, strip tags to spaces;
      3. decode the five core character entities (ampersand last, so
         double-encoded text cannot cascade), collapse runs of
         spaces;
      4. line-density boilerplate filter: keep a line only if its
         visible text has >= {HTML_MIN_LINE_CHARS} chars AND less
         than half of those chars came from inside <a> anchors
         (integer cross-multiply `2*link_chars < chars` — no float) —
         the jusText/trafilatura-family density heuristic that drops
         navs and footers while keeping prose;
      5. join surviving lines into the extracted text.

    The oracle replays the IDENTICAL pipeline generated from the SAME
    Python template in DuckDB dialect and md5-compares the extracted
    text, so the transform itself — regexes, entity order, filter
    arithmetic — is hash-certified, not just the counts. The headline
    keeps its encoded angle brackets through extraction (they decode
    AFTER the tag strip), pinning the strip-then-decode order.

    100 TB design: map-only (regex + higher-order array expressions,
    whole-stage codegen, zero shuffle, zero Python) — extraction runs
    at scan speed, exactly how a real CommonCrawl WET-style pass must
    behave. Composes with the K4 quality tier: the extracted column
    feeds k4_gopher_rules unchanged (pinned by the composition
    pytest).
    """
    x = html_extracted(spark, sf_dir)
    return x.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.length("extracted").cast("bigint").alias("extracted_chars"),
        F.md5("extracted").alias("extracted_digest"),
    )


def _html_quality_oracle() -> str:
    """Extraction CTEs + the SHARED Gopher tail over the extracted
    text — the composed oracle is assembled from the same two
    templates as the standalone queries, so neither stage can drift
    from its certified form."""
    e = _html_extract_exprs(duck=True)
    return f"""
    WITH h AS (
      SELECT doc_id, {e["synth"]} AS html FROM documents
    ), l AS (
      SELECT doc_id, {e["lines"]} AS lines FROM h
    ), extracted AS (
      SELECT doc_id, {e["join"]}({e["kept"]}, ' ') AS text FROM l
    ), {_gopher_oracle_tail("extracted")}
    """


@query("k4_html_quality_pipeline", oracle=_html_quality_oracle())
def k4_html_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus front-end, driver-certified end-to-end:
    raw HTML -> boilerplate-stripped extraction
    (`html_extracted`, the k4_html_extract stage) -> the Gopher
    quality gate (`gopher_gate`, the k4_gopher_rules stage) applied
    to the EXTRACTED text. This is the first two stages of every
    CommonCrawl-style corpus build chained as one query — exactly the
    composition a user runs, not just its parts: gate metrics are
    computed on what extraction produced, so an extraction regression
    (leaked tags, swallowed prose) changes keep decisions and fails
    the hash.

    Both stages are the SAME code paths as the standalone certs
    (shared Spark helpers, oracle assembled from the same two SQL
    templates). 100 TB design: still one scan, map-only — the
    extraction's regex/HOF expressions and the gate's array
    expressions fuse into one whole-stage-codegen pass, zero
    shuffles, zero Python.
    """
    extracted = html_extracted(spark, sf_dir).select(
        "doc_id", F.col("extracted").alias("text")
    )
    return gopher_gate(extracted)


# ---------------------------------------------------------------------------
# K4 — WARC container stage (the CommonCrawl on-disk format in front
# of the HTML tier): per-record gzip members, WARC/HTTP header parse
# ---------------------------------------------------------------------------

# Records per archive file is doc_id-modular so the synthesized
# corpus layout — like everything oracle-visible — is a pure function
# of the fixture, invariant to Spark parallelism.
WARC_N_FILES = 16
WARC_DATE = "2026-01-01T00:00:00Z"  # fixed: archives carry crawl time
_CRLF = "\r\n"
# DuckDB/Spark shared spelling of CRLF inside oracle SQL strings
_SQL_CRLF = "chr(13) || chr(10)"


def _warc_target_uri(doc_id: int, source: str) -> str:
    return f"https://{source}.example.com/doc/{doc_id}"


def _gzip_member(data: bytes) -> bytes:
    """One deterministic gzip member (wbits=31 writes MTIME=0). Real
    .warc.gz files are exactly this: independently-gzipped records
    concatenated, so any record can be fetched and inflated alone."""
    import zlib

    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


# Zip-bomb guard for the member walk: a WARC record's true size is
# only known AFTER inflation (Content-Length lives inside), so the
# cap is a fixed sanity bound far above any real record — the same
# bounded-inflate posture as png_decode, where
# the IHDR made an exact cap possible.
WARC_MEMBER_CAP = 1 << 26  # 64 MiB inflated per record


def _split_gzip_members(blob: bytes):
    """Walk the concatenated gzip members of a .warc.gz blob, LOUDLY:
    a bad member magic, a truncated stream, any CRC32/ISIZE trailer
    mismatch, and a member inflating past WARC_MEMBER_CAP (zip bomb)
    all raise ValueError. The 10-byte gzip member header's
    MTIME/XFL/OS bytes are metadata outside the CRC — a flip there
    yields byte-identical record content (pinned by the flip property
    test), the same carve-out as JPEG pad bytes."""
    import zlib

    blob = bytes(blob)
    pos = 0
    while pos < len(blob):
        if blob[pos : pos + 3] != b"\x1f\x8b\x08":
            raise ValueError(f"bad gzip member magic at offset {pos}")
        do = zlib.decompressobj(31)
        try:
            out = do.decompress(blob[pos:], WARC_MEMBER_CAP)
        except zlib.error as exc:
            raise ValueError(f"gzip member inflate failed: {exc}") from exc
        if do.unconsumed_tail:
            raise ValueError(
                f"gzip member inflates past {WARC_MEMBER_CAP} bytes"
            )
        if not do.eof:
            raise ValueError("truncated gzip member (no trailer)")
        yield out
        pos = len(blob) - len(do.unused_data)


def _build_warc_record(doc_id: int, source: str, html: str) -> bytes:
    """One WARC/1.0 'response' record (ISO 28500 layout): version
    line, named headers, blank line, Content-Length bytes of block
    (an HTTP/1.1 response wrapping the UTF-8 page), CRLF CRLF."""
    body = html.encode("utf-8")
    http = (
        "HTTP/1.1 200 OK" + _CRLF
        + "Content-Type: text/html; charset=utf-8" + _CRLF
        + f"Content-Length: {len(body)}" + _CRLF + _CRLF
    ).encode("ascii") + body
    head = (
        "WARC/1.0" + _CRLF
        + "WARC-Type: response" + _CRLF
        + f"WARC-Record-ID: <urn:lakehouse:doc:{doc_id}>" + _CRLF
        + f"WARC-Target-URI: {_warc_target_uri(doc_id, source)}" + _CRLF
        + f"WARC-Date: {WARC_DATE}" + _CRLF
        + "Content-Type: application/http;msgtype=response" + _CRLF
        + f"Content-Length: {len(http)}" + _CRLF + _CRLF
    ).encode("ascii")
    return head + http + (_CRLF + _CRLF).encode("ascii")


def _parse_warc_record(rec: bytes):
    """(warc_type, doc_id, target_uri, http_status, content_length,
    payload_text) from one inflated record; every malformation —
    wrong version, header without ': ', missing required header,
    block shorter than Content-Length, missing record terminator,
    HTTP/WARC length disagreement, non-UTF-8 payload — raises
    ValueError naming the defect."""
    eol = rec.find(b"\r\n")
    if eol < 0 or rec[:eol] != b"WARC/1.0":
        raise ValueError(f"bad WARC version line {rec[:16]!r}")
    pos = eol + 2
    hdrs = {}
    while True:
        eol = rec.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated WARC header block")
        line = rec[pos:eol]
        pos = eol + 2
        if line == b"":
            break
        key, sep, val = line.partition(b": ")
        if not sep:
            raise ValueError(f"malformed WARC header line {line!r}")
        hdrs[key.decode("ascii")] = val.decode("ascii")
    for req in (
        "WARC-Type",
        "WARC-Record-ID",
        "WARC-Target-URI",
        "Content-Length",
    ):
        if req not in hdrs:
            raise ValueError(f"missing WARC header {req}")
    clen = int(hdrs["Content-Length"])
    block = rec[pos : pos + clen]
    if len(block) != clen:
        raise ValueError(
            f"WARC block short: {len(block)} < Content-Length {clen}"
        )
    if rec[pos + clen :] != b"\r\n\r\n":
        raise ValueError("WARC record not terminated by CRLF CRLF")
    if hdrs["WARC-Type"] != "response":
        raise ValueError(f"unexpected WARC-Type {hdrs['WARC-Type']!r}")
    rid = hdrs["WARC-Record-ID"]
    if not (rid.startswith("<urn:lakehouse:doc:") and rid.endswith(">")):
        raise ValueError(f"unrecognized WARC-Record-ID {rid!r}")
    doc_id = int(rid[len("<urn:lakehouse:doc:") : -1])
    hend = block.find(b"\r\n\r\n")
    if hend < 0:
        raise ValueError("HTTP block missing header terminator")
    head_lines = block[:hend].decode("ascii").split("\r\n")
    status = head_lines[0].split(" ")
    if len(status) < 3 or status[0] != "HTTP/1.1":
        raise ValueError(f"bad HTTP status line {head_lines[0]!r}")
    http_hdrs = {}
    for line in head_lines[1:]:
        key, sep, val = line.partition(": ")
        if not sep:
            raise ValueError(f"malformed HTTP header line {line!r}")
        http_hdrs[key] = val
    body = block[hend + 4 :]
    if int(http_hdrs.get("Content-Length", -1)) != len(body):
        raise ValueError(
            "HTTP Content-Length disagrees with body length "
            f"({http_hdrs.get('Content-Length')} vs {len(body)})"
        )
    try:
        payload = body.decode("utf-8")
    except UnicodeDecodeError as exc:
        raise ValueError(f"non-UTF-8 HTTP payload: {exc}") from exc
    return (
        hdrs["WARC-Type"],
        doc_id,
        hdrs["WARC-Target-URI"],
        int(status[1]),
        clen,
        payload,
    )


def _warc_assemble(pdf):
    """Grouped synthesis kernel: the group's records in doc_id order,
    each gzip-compressed independently, concatenated into one
    .warc.gz blob — the literal CommonCrawl file layout. NULL html
    (unfetched page) has no record, exactly as a real crawl."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id")
    buf = bytearray()
    for doc_id, source, html in zip(
        pdf["doc_id"], pdf["source"], pdf["html"]
    ):
        if html is None:
            continue
        buf += _gzip_member(_build_warc_record(int(doc_id), source, html))
    return pd.DataFrame(
        {"file_id": [int(pdf["file_id"].iloc[0])], "warc": [bytes(buf)]}
    )


def warc_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(file_id, warc) — the synthesized .warc.gz corpus: pages are
    the SAME html the k4_html tier synthesizes (shared SQL template,
    so the container provably carries the certified page bytes),
    bucketed doc_id-modular into WARC_N_FILES archive files.

    The groupBy here is the fixture stand-in for a crawler writing
    archive files and is the tier's ONLY shuffle (~500 B/record
    pre-compression); a production run READS .warc.gz from storage —
    one whole-file binary per task, zero shuffle."""
    e = _html_extract_exprs(duck=False)
    d = T(spark, sf_dir, "documents")
    docs = d.selectExpr(
        "doc_id",
        "source",
        f"{e['synth']} AS html",
        f"doc_id % {WARC_N_FILES} AS file_id",
    )
    return docs.groupBy("file_id").applyInPandas(
        _warc_assemble, "file_id long, warc binary"
    )


WARC_RECORD_SCHEMA = (
    "doc_id long, file_id long, rec_index long, warc_type string, "
    "target_uri string, http_status int, content_length bigint, "
    "payload string"
)


def warc_record_rows(file_id, blob):
    """Parse kernel: one .warc.gz blob -> its records, streaming
    member-by-member (memory is bounded by one record, not the
    archive — a 1 GB real-world WARC never materializes inflated).
    rec_index is the PARSE-ORDER position inside the file, so the
    oracle's doc_id-ordered row_number certifies the container walk
    preserved record order."""
    for idx, rec in enumerate(_split_gzip_members(blob)):
        wtype, doc_id, uri, status, clen, payload = _parse_warc_record(rec)
        yield (doc_id, file_id, idx, wtype, uri, status, clen, payload)


def warc_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive corpus -> one row per WARC record (parse stage only,
    map-only over the file blobs)."""
    return map_rows(warc_files(spark, sf_dir), warc_record_rows, WARC_RECORD_SCHEMA)


def _warc_oracle_cte() -> str:
    """CTEs h (synthesized pages) and w (per-record archive facts
    recomputed from PLAINTEXT — gzip+WARC+HTTP are lossless, so a
    hash/length match certifies the whole container round-trip)."""
    e = _html_extract_exprs(duck=True)
    http_head = (
        f"'HTTP/1.1 200 OK' || {_SQL_CRLF} || "
        f"'Content-Type: text/html; charset=utf-8' || {_SQL_CRLF} || "
        f"'Content-Length: ' || octet_length(encode(html)) || "
        f"{_SQL_CRLF} || {_SQL_CRLF}"
    )
    return f"""h AS (
      SELECT doc_id, source, {e["synth"]} AS html FROM documents
    ), w AS (
      SELECT doc_id,
             doc_id % {WARC_N_FILES} AS file_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id % {WARC_N_FILES} ORDER BY doc_id
             ) - 1 AS BIGINT) AS rec_index,
             'response' AS warc_type,
             'https://' || source || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) AS target_uri,
             CAST(200 AS INTEGER) AS http_status,
             CAST(octet_length(encode({http_head} || html)) AS BIGINT)
               AS content_length,
             CAST(LENGTH(html) AS BIGINT) AS payload_chars,
             md5(html) AS payload_digest
      FROM h WHERE html IS NOT NULL
    )"""


@query(
    "k4_warc_parse",
    oracle=f"""
    WITH {_warc_oracle_cte()}
    SELECT doc_id, file_id, rec_index, warc_type, target_uri,
           http_status, content_length, payload_chars, payload_digest
    FROM w
    """,
)
def k4_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC archive parse (the stage BEFORE k4_html_extract in a real
    CommonCrawl corpus build — raw crawl bytes, not clean rows): the
    documents' synthesized pages are packed into .warc.gz archives
    (per-record gzip members — the actual CC layout) and parsed back
    by an honest container walk: gzip member split with CRC32/ISIZE
    verification, WARC/1.0 version + header parse, Content-Length
    block framing, HTTP response split, UTF-8 payload decode. Every
    malformation raises LOUDLY (flip property pinned in pytest).

    The oracle recomputes every fact from plaintext — target URI from
    (doc_id, source), the WARC Content-Length from the HTTP envelope
    arithmetic, the payload md5 from the shared html synth template —
    so a hash match certifies compress -> archive -> split -> parse ->
    decode end-to-end lossless, including record ORDER (rec_index is
    parse-order, the oracle's is doc_id-ordered row_number).

    100 TB design: parse is one map-only `map_rows` pass over archive blobs,
    streaming one gzip member at a time (peak memory = one record);
    the only shuffle is the synthesis stand-in groupBy that plays the
    crawler's role (a production run reads .warc.gz files directly —
    zero shuffle, one file per task, the embarrassingly-parallel shape
    CommonCrawl processing is known for)."""
    p = warc_parsed(spark, sf_dir)
    return p.select(
        "doc_id",
        "file_id",
        "rec_index",
        "warc_type",
        "target_uri",
        "http_status",
        "content_length",
        F.length("payload").cast("bigint").alias("payload_chars"),
        F.md5("payload").alias("payload_digest"),
    )


def _cc_pipeline_oracle() -> str:
    """Archive-present pages (html NOT NULL — an unfetched page has
    no WARC record) through the SAME extraction + gate SQL templates
    as the standalone certs."""
    e = _html_extract_exprs(duck=True)
    return f"""
    WITH h AS (
      SELECT doc_id, {e["synth"]} AS html FROM documents
    ), hf AS (
      SELECT doc_id, html FROM h WHERE html IS NOT NULL
    ), l AS (
      SELECT doc_id, {e["lines"]} AS lines FROM hf
    ), extracted AS (
      SELECT doc_id, {e["join"]}({e["kept"]}, ' ') AS text FROM l
    ), {_gopher_oracle_tail("extracted")}
    """


@query("k4_cc_pipeline", oracle=_cc_pipeline_oracle())
def k4_cc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CommonCrawl-style corpus front-end as ONE query:
    .warc.gz archives -> gzip member split -> WARC/HTTP parse ->
    HTML boilerplate-stripping extraction -> Gopher quality gate.
    k4_html_quality_pipeline certified extract->gate from clean rows;
    this adds the container stage in front, so the chain now starts
    from the bytes a crawler actually hands a 100 TB corpus build.

    Every stage is the SAME code path as its standalone cert
    (`warc_parsed`, `_html_extract_exprs`, `gopher_gate`); the oracle
    replays extraction+gate from the plaintext synth — valid because
    k4_warc_parse hash-certifies the container stage lossless — and
    keeps only archive-present pages (NULL-text docs have no record).

    100 TB design: after the synthesis stand-in shuffle, one map-only
    pass: parse kernel (`map_rows`) then extraction regexes and
    gate array expressions fused by codegen — no joins, no shuffle,
    the payload never leaves the executor that inflated it."""
    e = _html_extract_exprs(duck=False)
    extracted = (
        warc_parsed(spark, sf_dir)
        .selectExpr("doc_id", "payload AS html")
        .selectExpr("doc_id", f"{e['lines']} AS lines")
        .selectExpr("doc_id", f"{e['kept']} AS kept")
        .selectExpr("doc_id", f"{e['join']}(kept, ' ') AS text")
    )
    return gopher_gate(extracted)


# ---------------------------------------------------------------------------
# K4 — Unicode NFC normalization: the canonicalization pass that must
# precede hashing/dedup on any multilingual corpus (an NFD copy of an
# NFC page is byte-different but textually identical — exact AND
# near-dup both miss the pair unless text is normalized first)
# ---------------------------------------------------------------------------

# Decomposed sequences (base letter + combining mark) whose NFC
# compositions have been stable since Unicode 1.1 — safe to certify
# across independent Unicode implementations (CPython unicodedata vs
# DuckDB's utf8proc). One is appended per doc so every row REALLY
# exercises composition, not just the ASCII fast path.
_NFC_MARKERS = (
    "e\u0301",  # e + COMBINING ACUTE ACCENT -> \u00e9
    "a\u0300",  # a + COMBINING GRAVE ACCENT -> \u00e0
    "c\u0327",  # c + COMBINING CEDILLA      -> \u00e7
    "n\u0303",  # n + COMBINING TILDE        -> \u00f1
)


def _nfc_synth_sql() -> str:
    """The decomposed-text synthesis, one template for BOTH dialects
    (repeat/CASE/|| are spelled identically in Spark SQL and DuckDB;
    the decomposed literals ride the SQL string as raw UTF-8)."""
    cases = " ".join(
        f"WHEN {i} THEN '{m}'" for i, m in enumerate(_NFC_MARKERS)
    )
    return (
        "text || ' ' || repeat(CASE CAST(doc_id % 4 AS INTEGER) "
        f"{cases} END, CAST(doc_id % 3 + 1 AS INTEGER))"
    )


def nfc_normalize_row(doc_id, raw):
    """NFC kernel: unicodedata.normalize, char counts before/after
    (Python len == SQL LENGTH, both codepoints), md5 of the normalized
    UTF-8. NULL raw -> all-NULL row (matching nfc_normalize(NULL)/
    md5(NULL) in the oracle)."""
    import hashlib
    import unicodedata

    if raw is None:
        return [(doc_id, None, None, None, None)]
    norm = unicodedata.normalize("NFC", raw)
    return [
        (
            doc_id,
            len(raw),
            len(norm),
            len(raw) - len(norm),
            hashlib.md5(norm.encode("utf-8")).hexdigest(),
        )
    ]


@query(
    "k4_unicode_nfc",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_nfc_synth_sql()} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(raw) AS BIGINT) AS n_before,
           CAST(LENGTH(nfc_normalize(raw)) AS BIGINT) AS n_after,
           CAST(LENGTH(raw) - LENGTH(nfc_normalize(raw)) AS BIGINT)
             AS n_composed,
           md5(nfc_normalize(raw)) AS norm_digest
    FROM d
    """,
)
def k4_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization certificate: each doc's
    text carries an appended DECOMPOSED suffix (base letter +
    combining mark, repeated doc_id-modularly — sequences whose
    compositions are stable across Unicode versions), and the
    per-row kernel normalizes with CPython's unicodedata while
    the oracle replays DuckDB's independent utf8proc implementation.
    Char counts before/after, the per-doc composed-codepoint count,
    and the md5 of the normalized text must all hash-match — two
    unrelated Unicode engines agreeing byte-for-byte is the
    certification (the same posture as the codec tier's
    independent-oracle rule).

    Why it's first-class: dedup (K1/K2) hashes text bytes, so an
    NFD-encoded copy of an NFC page silently escapes every dedup
    stage unless this pass runs first; real multilingual crawls mix
    both encodings (macOS filenames and some CMS exports are NFD).

    Scale shape: one map-only pass — the synthesis is a JVM string
    expression, normalization a `map_rows` kernel (unicodedata is
    C-speed per string); zero shuffle, scan-bound."""
    d = T(spark, sf_dir, "documents")
    raw = d.selectExpr("doc_id", f"{_nfc_synth_sql()} AS raw")
    return map_rows(
        raw,
        nfc_normalize_row,
        "doc_id long, n_before bigint, n_after bigint, "
        "n_composed bigint, norm_digest string",
    )
