"""Shared helpers for oracle-parity-safe query authoring.

Float parity strategy (SURVEY.md §7 "hard parts"): sums of doubles are
order-dependent, and Spark and DuckDB reduce in different orders. Any
SUM over a double column therefore goes through ``decimal(18,2)``
(exact arithmetic, order-independent) and is cast back to double at
the end — both engines then produce bit-identical results. Averages
are computed as (exact decimal sum → double) / count so the final
division is a single IEEE op on identical operands in both engines.

This costs nothing at scale: decimal sums are still map-side partial
aggregates inside whole-stage codegen.

Session state has one rule each. An intermediate that several actions
read is materialized with ``pin`` and released with ``unpin`` by the
query once its result no longer reads it, or by ``unpin_all`` from
whoever consumed the result (``obs.run``, the parity sweep, the test
session). A conf a query needs for part of its plan is set with
``session_conf``, which restores the session on exit.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEC = "decimal(18,2)"


def dec(c: str | Column) -> Column:
    """Column as exact decimal(18,2) (inputs are money/qty-like)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def dsum(c: str | Column) -> Column:
    """Order-independent sum of a double column, returned as double."""
    return F.sum(dec(c)).cast("double")


def davg(c: str | Column) -> Column:
    """Deterministic average: exact sum (double) / count (single IEEE div)."""
    return F.sum(dec(c)).cast("double") / F.count(F.lit(1))


# DuckDB-side equivalents (kept adjacent so the pairing is auditable).
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"


def make_registry():
    """The one (QUERIES, ORACLES, query) registration triple every
    operator module uses, so a registration-time change has one place
    to go. Duplicate query names raise at import instead of silently
    shadowing the first definition (a truncated search-and-replace
    once shipped a shadowed duplicate exactly this way)."""
    queries: dict = {}
    oracles: dict[str, str] = {}

    def query(name: str, oracle: str | None = None):
        def deco(fn):
            if name in queries:
                raise ValueError(
                    f"duplicate query registration: {name!r} — the "
                    "second definition would silently shadow the first"
                )
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn

        return deco

    return queries, oracles, query


def map_rows(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """The one map path across the Python boundary: ``df.mapInArrow``
    with a per-row kernel. ``fn(*row)`` receives the input columns'
    Python values (``to_pylist``; NULL is ``None``) and returns an
    iterable of output tuples in ``schema`` order — one for a 1:1
    kernel, zero or more for a fan-out; ``schema`` is a StructType or
    a DDL string, as for ``mapInArrow``. Each input batch yields one
    typed Arrow batch, so a NULL stays a typed NULL and a float NaN
    stays NaN: a kernel whose contract is NULL returns ``None``.
    Grouped semantics (``applyInPandas``) are the only pandas path."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            inputs = [c.to_pylist() for c in batch.columns]
            rows = [out for row in zip(*inputs) for out in fn(*row)]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(run, schema)


def chain(first, second):
    """One `map_rows` kernel that feeds each output row of `first`
    straight into `second`, so two per-row stages cross the Python
    boundary once instead of twice. Only for an intermediate whose
    Python values are what `to_pylist` would return for it (the Arrow
    round trip between two `map_rows` passes is then the identity)."""

    def both(*row):
        return [out for mid in first(*row) for out in second(*mid)]

    return both


def pin(df: DataFrame) -> DataFrame:
    """Materialize `df` now and return a DataFrame that reads the
    stored rows: the one way engine code keeps an intermediate that
    several actions or join sides read. The lineage is cut, so an
    iterative loop's plan does not grow round by round (a persisted
    plan does, and a long star-contraction chain ran a 4g driver out
    of heap rendering it). The blocks stay until `unpin(df)` or
    `unpin_all`; reading the DataFrame after either raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of recomputing."""
    return df.localCheckpoint(eager=True)


def unpin(df: DataFrame) -> None:
    """Release the blocks of `df`, a DataFrame returned by `pin`, now."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def unpin_all(spark: SparkSession) -> None:
    """Release every pinned intermediate of the session: each RDD the
    SparkContext holds as persistent, which in this package only
    `pin` creates. The SparkContext's map is the record; no registry
    of our own holds references that would keep unreleased pins from
    the ContextCleaner. Call it only when no query is running in the
    session, since it also drops the pins of a query still in flight."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


@contextmanager
def session_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set `conf` on the session for the body of the `with` block. On
    exit each key gets its prior value back, or is unset if the
    session had none, so a query never leaves its tuning behind."""
    prior = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
