"""Vectorized Python UDF surface — SURVEY.md §2.J.

The engine's rule is UDF-as-last-resort (everything in relational.py
is pure expression code). Where semantics genuinely need Python,
there is one path across the JVM↔Python boundary per shape, and data
always crosses as Arrow batches, never row-at-a-time:

- map kernels run on `mapInArrow`: per-row kernels through
  `map_rows` (operators/common.py), batch-vectorized numpy kernels
  on `mapInArrow` directly (`j_arrow_batch_norms` below);
- pandas is used only for grouped ops (`applyInPandas`,
  `applyInPandasWithState`).

The queries in this module exist to exercise the pandas UDF API
itself, so they are the one place a scalar `pandas_udf` remains:

- scalar `pandas_udf`: per-batch numpy over an array column
  (embedding L2-normalization — the preprocessing step every vector
  pipeline runs before cosine/IP search).
- grouped-map `applyInPandas`: one pandas frame per group (per-label
  covariance-trace / dispersion stats — the "how tight is this
  cluster" audit; oracle-checkable because trace(cov) = Σ per-dim
  population variance, which the DuckDB oracle reproduces).

Scale notes: scalar pandas_udfs stream batch-by-batch with bounded
memory. applyInPandas materializes ONE GROUP per worker — safe here
(labels are balanced, 10 groups) but the docstring warns: a skewed
group key is an OOM, prefer built-in aggs unless the math needs a
full-group matrix.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from ..sources import load_table as T

from .common import make_registry

QUERIES, ORACLES, query = make_registry()


@F.pandas_udf(ArrayType(FloatType()))
def l2_normalize(v: pd.Series) -> pd.Series:
    """Scalar pandas UDF: L2-normalize each vector, vectorized numpy
    per Arrow batch (no per-row Python).

    Numerics are deliberately pinned for cross-engine parity: the
    squared norm accumulates in float64 IN LIST ORDER (a sequential
    loop over dims, vectorized across rows) — the same fold order as
    DuckDB's ``list_sum(list_transform(...))`` — and the float64
    quotient is rounded once to float32. Both engines therefore
    produce bit-identical unit components.
    """
    import numpy as np

    mat = np.stack(v.to_numpy()).astype("float64")
    nrm2 = np.zeros(len(mat))
    for d in range(mat.shape[1]):
        nrm2 += mat[:, d] * mat[:, d]
    norms = np.sqrt(nrm2)
    norms[norms == 0.0] = 1.0
    return pd.Series(list((mat / norms[:, None]).astype("float32")))


@query(
    "j_normalize_embeddings",
    oracle="""
    SELECT vec_id, label,
           CAST(CAST(CAST(embedding[1] AS DOUBLE)
                / sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                AS FLOAT) AS DOUBLE) AS unit0,
           TRUE AS norm_ok
    FROM embeddings
    """,
)
def j_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-normalization via scalar pandas_udf (SURVEY J).

    The UDF still produces the full unit vector (that's the §J
    surface); the query projects driver-checkable scalars from it —
    array-typed outputs crash the harness canonicalizer,
    and scalars give a STRONGER check: `unit0` is
    the bit-exact first unit component the DuckDB oracle recomputes
    from scratch, `norm_ok` pins ‖unit‖₂ = 1 within float32 slack.
    """
    e = T(spark, sf_dir, "embeddings")
    unit = l2_normalize("embedding").alias("unit_embedding")
    out = e.select("vec_id", "label", unit)
    sumsq = F.aggregate(
        F.transform(
            "unit_embedding", lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return out.select(
        "vec_id",
        "label",
        F.element_at("unit_embedding", 1).cast("double").alias("unit0"),
        (F.abs(sumsq - F.lit(1.0)) < F.lit(1e-4)).alias("norm_ok"),
    )


def _label_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    var = mat.var(axis=0)  # population variance per dim
    return pd.DataFrame(
        {
            "label": [int(pdf["label"].iloc[0])],
            "n_vecs": [len(pdf)],
            "cov_trace": [round(float(var.sum()), 6)],
            "max_dim_var": [round(float(var.max()), 6)],
        }
    )


@query(
    "j_label_dispersion",
    oracle="""
    WITH unnested AS (
      SELECT label, g.i AS dim_idx, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, 64)) AS g(i)
    ), per_dim AS (
      SELECT label, dim_idx, var_pop(v) AS dim_var, COUNT(*) AS n
      FROM unnested GROUP BY label, dim_idx
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vecs,
           ROUND(SUM(dim_var), 6) AS cov_trace,
           ROUND(MAX(dim_var), 6) AS max_dim_var
    FROM per_dim GROUP BY label
    """,
)
def j_label_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster dispersion via grouped-map applyInPandas (SURVEY J):
    each label's full vector matrix lands in one pandas frame, numpy
    computes the covariance trace. Oracle parity holds because
    trace(cov) = Σ per-dim population variances and numpy's two-pass
    variance matches DuckDB's var_pop at 6 dp (both are exact
    two-pass algorithms; rounding absorbs summation-order noise).

    Scale caveat in module docstring: one group must fit one worker —
    for skewed/huge groups use built-in aggregation (see
    k3_centroid_by_label for the streaming-friendly form).
    """
    e = T(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInPandas(
        _label_stats,
        "label bigint, n_vecs bigint, cov_trace double, max_dim_var double",
    )


@F.pandas_udf(DoubleType())
def mad_udf(v: pd.Series) -> float:
    """Grouped-AGG pandas UDF (UDAF form): median absolute deviation,
    numpy per group — robust dispersion that built-in aggregates don't
    provide exactly (percentile_approx is sketched, not exact)."""
    import numpy as np

    arr = v.to_numpy(dtype="float64")
    return float(np.median(np.abs(arr - np.median(arr))))


@query(
    "j_grouped_agg_mad",
    oracle="""
    SELECT o_orderpriority,
           ROUND(mad(o_totalprice), 4) AS price_mad
    FROM orders GROUP BY o_orderpriority
    """,
)
def j_grouped_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median-absolute-deviation of order value per priority via
    a grouped-agg pandas_udf (SURVEY J's UDAF surface). The group's
    column crosses to Python as ONE Arrow array; numpy does two exact
    interpolated medians — the same definition DuckDB's mad()
    implements, so the result is oracle-checkable at 4 dp. At scale
    each group's column must fit a worker (same caveat as any exact
    median); the sketched alternative is percentile_approx.
    """
    o = T(spark, sf_dir, "orders")
    # NB: a grouped-agg pandas UDF cannot share one agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — keep it alone, join
    # counts from a plain agg if needed.
    return o.groupBy("o_orderpriority").agg(
        F.round(mad_udf("o_totalprice"), 4).alias("price_mad"),
    )


@query(
    "j_udtf_term_expand",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS tk
      FROM documents
    ),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(tk) + 1),
               i -> struct_pack(w := tk[i], p := i))) AS s
      FROM toks
    )
    SELECT doc_id, s.w AS term,
           COUNT(*) AS n,
           CAST(MIN(s.p) AS INT) AS first_pos
    FROM pos
    GROUP BY doc_id, s.w
    """,
)
def j_udtf_term_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (§2.J, the table-function rung of the UDF surface):
    one input document row expands to one output row per distinct
    term, with count and 1-based first-occurrence position — invoked
    as a LATERAL table function from SQL, the UDTF idiom Spark 4
    added to match Trino/Hive table functions.

    The oracle recomputes the expansion relationally (unnest +
    group), so the UDTF's row-generation contract is hash-checked.
    Scale: UDTFs evaluate per input row in Python — acceptable for
    expansion logic that built-ins can't express; here the same
    result IS expressible relationally (see oracle), so the query
    exists as API-surface proof, and the relational form is the
    100 TB path (this is the engine's UDF-as-last-resort rule
    applied honestly).
    """
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="term string, n bigint, first_pos int")
    class TermExpand:
        def eval(self, text: str):
            if text is None:
                # LATERAL over NULL text yields no rows — the
                # oracle's unnest does the same; without the guard
                # one NULL row killed the whole query
                return
            toks = _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            first: dict[str, int] = {}
            counts: dict[str, int] = {}
            for i, w in enumerate(toks, start=1):
                counts[w] = counts.get(w, 0) + 1
                first.setdefault(w, i)
            for w in counts:
                yield w, counts[w], first[w]

    spark.udtf.register("term_expand", TermExpand)
    T(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, f.term, f.n, f.first_pos
        FROM _docs_udtf d, LATERAL term_expand(d.text) f
        """
    )


@query(
    "j_cogroup_medians",
    oracle="""
    WITH cm AS (
      SELECT c_nationkey AS n_nationkey,
             QUANTILE_CONT(c_acctbal, 0.5) AS cust_median,
             COUNT(*) AS n_cust
      FROM customer GROUP BY 1
    ),
    sm AS (
      SELECT s_nationkey AS n_nationkey,
             QUANTILE_CONT(s_acctbal, 0.5) AS supp_median,
             COUNT(*) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT n_nationkey,
           ROUND(cust_median, 6) AS cust_median,
           ROUND(supp_median, 6) AS supp_median,
           ROUND(cust_median - supp_median, 6) AS median_gap,
           n_cust, n_supp
    FROM cm JOIN sm USING (n_nationkey)
    """,
)
def j_cogroup_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth sanctioned pandas surface (SURVEY J completion):
    COGROUPED applyInPandas — two DataFrames grouped on the same key
    arrive as a pandas-frame PAIR per key, the shape for per-key
    cross-dataset logic (merge_asof alignment, per-entity
    reconciliation). Here: per-nation customer-vs-supplier account
    medians and their gap. pandas' interpolating median matches
    QUANTILE_CONT / Spark percentile exactly, so the oracle recomputes
    it relationally (two aggs + a join).

    Scale: each side shuffles once on the cogroup key; a group must
    fit one worker's memory (keys here are nations). Nations with
    customers but no suppliers (or vice versa) are dropped by BOTH
    sides (inner-join semantics, matching the oracle's JOIN).
    """
    import pandas as pd

    c = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey"), "c_acctbal"
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey"), "s_acctbal"
    )

    def gap(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(
                columns=[
                    "n_nationkey", "cust_median", "supp_median",
                    "median_gap", "n_cust", "n_supp",
                ]
            )
        cm = float(left["c_acctbal"].median())
        sm = float(right["s_acctbal"].median())
        return pd.DataFrame(
            {
                "n_nationkey": [int(left["n_nationkey"].iloc[0])],
                "cust_median": [round(cm, 6)],
                "supp_median": [round(sm, 6)],
                "median_gap": [round(cm - sm, 6)],
                "n_cust": [len(left)],
                "n_supp": [len(right)],
            }
        )

    return c.groupBy("n_nationkey").cogroup(s.groupBy("n_nationkey")).applyInPandas(
        gap,
        "n_nationkey bigint, cust_median double, supp_median double, "
        "median_gap double, n_cust bigint, n_supp bigint",
    )


@query(
    "j_arrow_batch_norms",
    oracle="""
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)
               AS norm_sq,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS comp_sum
    FROM embeddings
    """,
)
def j_arrow_batch_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` (SURVEY J ext., Spark 4): the pandas-FREE Arrow
    batch path. Where mapInPandas converts every Arrow batch to a
    pandas DataFrame and back (object headers, block consolidation,
    NaN coercions), mapInArrow hands the RecordBatch itself to Python
    — the kernel views the list column's values buffer as one flat
    numpy array, ZERO copies, and emits a new batch. For dense
    numeric kernels (vector math, audio frames, image tensors) this
    is the lowest-overhead Python escape hatch, and the engine's map
    path whenever no grouped pandas semantics are needed.

    Float contract: the fold runs dimension-at-a-time (strided numpy
    adds = an explicit left fold, as SemDeDup first did; SemDeDup
    has since moved to integer-exact arithmetic), matching
    DuckDB's list_sum order bit-for-bit before the 6-dp round.
    Map-only: no shuffle, batch in → batch out.
    """
    import numpy as np
    import pyarrow as pa

    e = T(spark, sf_dir, "embeddings")

    def norms(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            emb = batch.column(batch.schema.get_field_index("embedding"))
            if isinstance(emb, pa.ChunkedArray):  # pragma: no cover
                emb = emb.combine_chunks()
            # dim from the batch's own offsets: the old
            # pre-scan `.first()` launched an extra Spark job per
            # invocation just to measure it, and crashed on an empty
            # table; fixed-width vectors are a fixture contract the
            # reshape below still enforces.
            dim = len(emb[0])
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            E = flat.astype(np.float64).reshape(-1, dim)
            nsq = np.zeros(len(E))
            csum = np.zeros(len(E))
            for d in range(dim):  # left fold == list_sum order
                nsq += E[:, d] * E[:, d]
                csum += E[:, d]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("vec_id")),
                    batch.column(batch.schema.get_field_index("label")),
                    pa.array(np.floor(nsq * 1e6 + 0.5) / 1e6),
                    pa.array(np.floor(csum * 1e6 + 0.5) / 1e6),
                ],
                names=["vec_id", "label", "norm_sq", "comp_sum"],
            )

    return e.select("vec_id", "label", "embedding").mapInArrow(
        norms, "vec_id long, label int, norm_sq double, comp_sum double"
    )
