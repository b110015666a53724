"""Local mirror of the driver's correctness gate (SURVEY.md §5.2).

Every query with an oracle runs in both Spark and DuckDB at sf0.001;
row count, column names, and order-insensitive values must match
exactly. This is intentionally stricter than a tolerance compare —
the driver hashes values, so only bit-stable parity passes.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import pytest

from lakehouse_homeserver_spark.registry import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


def _norm(v):
    # NB: deliberately NOT converting Decimal -> float. A Decimal in
    # oracle output means the SQL has an unCASTed decimal literal/agg
    # that the driver's value-hash will see as a different value than
    # Spark's double — fail loudly here instead (bit k4_quality_score:
    # a bare `1.0` CASE literal is DECIMAL(2,1) in DuckDB).
    if isinstance(v, Decimal):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def _normalize_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        out.append(tuple(repr(_norm(row[i])) for i in order))
    return sorted(out)


def _norm_pd(v):
    """Normalize a pandas-materialized cell the way the driver's
    value-hash sees it. Crucially does NOT coerce float -> int: a
    DuckDB HUGEINT (un-CAST integer SUM) arrives as float64 `1.0`
    while Spark sends int64 `1`, and the two must compare UNEQUAL
    here exactly as they hash unequal in the driver (VERDICT r2 §
    "What's wrong" #1/#2)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, Decimal):
        return v
    if isinstance(v, (np.floating, float)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    # Date/timestamp unification: DuckDB's .df() materializes DATE as
    # a midnight datetime64 while Spark's toPandas yields datetime.date
    # — the driver hash-matches these (h1_interval_arith outputs DATE
    # cols and was driver-green in r2), so midnight timestamps
    # canonicalize to the bare date here too.
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime):
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, np.ndarray):
        return tuple(_norm_pd(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_pd(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _pd_frame_norm(pdf):
    """(sorted-cols, sorted normalized row tuples, dtype-kind map)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    kinds = {c: pdf[c].dtype.kind for c in cols}
    rows = []
    for row in pdf.itertuples(index=False, name=None):
        rows.append(tuple(repr(_norm_pd(v)) for v in row))
    nulls = {c: bool(pdf[c].isna().any()) for c in cols}
    return cols, sorted(rows), kinds, nulls


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_parity(name, spark, duck, sf_dir):
    """Driver-faithful parity: BOTH sides materialized via pandas
    (Spark .toPandas(), DuckDB .df()) so engine-side type skews —
    DuckDB HUGEINT -> float64 being the round-2 killer — surface
    locally before the driver sees them."""
    sdf = QUERIES[name](spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = duck.execute(ORACLES[name]).df()

    s_cols, s_rows, s_kinds, s_nulls = _pd_frame_norm(spdf)
    d_cols, d_rows, d_kinds, d_nulls = _pd_frame_norm(dpdf)

    assert s_cols == d_cols, (
        f"{name}: column mismatch spark={s_cols} duck={d_cols}"
    )
    # dtype-kind sweep: a NULL-free int-vs-float skew is exactly the
    # HUGEINT defect class; nullable ints legitimately float64-ify on
    # either side, so only NULL-free columns are held to kind parity.
    for c in s_cols:
        sk, dk = s_kinds[c], d_kinds[c]
        if sk != dk and {sk, dk} == {"i", "f"}:
            assert s_nulls[c] or d_nulls[c], (
                f"{name}.{c}: NULL-free int-vs-float dtype skew "
                f"(spark={sk} duck={dk}) — un-CAST integer SUM in "
                f"oracle SQL? Wrap it in CAST(... AS BIGINT)."
            )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    if s_rows != d_rows:
        diffs = [
            (a, b) for a, b in zip(s_rows, d_rows) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_parity_harness_catches_uncast_sum(spark, duck, sf_dir):
    """Meta-test (VERDICT r2 next-round #2 'Done' criterion): a
    deliberately-injected uncast integer SUM must FAIL the hardened
    harness. DuckDB returns SUM(int) as HUGEINT -> pandas float64,
    Spark returns bigint -> int64; the dtype sweep must trip."""
    dpdf = duck.execute(
        "SELECT l_linestatus, SUM(l_linenumber) AS s "
        "FROM lineitem GROUP BY 1"
    ).df()
    assert dpdf["s"].dtype.kind == "f" and not dpdf["s"].isna().any(), (
        "expected DuckDB SUM(int) to pandas-materialize as NULL-free "
        "float64 — the defect class this harness exists to catch"
    )
    from pyspark.sql import functions as F

    sdf = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_linestatus")
        .agg(F.sum("l_linenumber").alias("s"))
    )
    spdf = sdf.toPandas()
    assert spdf["s"].dtype.kind == "i"
    # the exact comparison the parametrized test runs:
    _, s_rows, s_kinds, _ = _pd_frame_norm(spdf)
    _, d_rows, d_kinds, _ = _pd_frame_norm(dpdf)
    assert s_kinds["s"] != d_kinds["s"]
    assert s_rows != d_rows, (
        "repr(1) vs repr(1.0) must differ or the harness is blind"
    )


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "k6_hash_split", "tpch_q5_local_supplier_volume",
     "k3_centroid_by_label", "ts_rich_sessions",
     # round-2: decimal-summed ranking, prefix-join pairs, banded
     # Hamming pairs, signed-feed IVM — each must be bit-identical
     # under a co-prime partition count
     "k10_bm25", "k2_ppjoin", "k5_ahash_near_dup", "k4_bigram_lm_score",
     "a26_ivm_view", "k1_cdc_chunk_dedup", "d16_histogram_quantiles",
     "d17_theta_sketch_setops", "ts_sliding_hll"],
)
def test_results_invariant_to_partitioning(name, spark, sf_dir):
    """The order-independence contract: decimal-exact sums and
    hash-based ops must produce IDENTICAL values regardless of
    parallelism — re-run with a co-prime shuffle partition count and
    compare full result sets."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    df1 = QUERIES[name](spark, sf_dir)
    r1 = _normalize_rows([tuple(r) for r in df1.collect()], df1.columns)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        df2 = QUERIES[name](spark, sf_dir)
        r2 = _normalize_rows([tuple(r) for r in df2.collect()], df2.columns)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert r1 == r2
