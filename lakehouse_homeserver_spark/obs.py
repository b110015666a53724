"""The one measurement harness: a process warm-up and a timed run of a
registry query.

``bench.py`` and the scale scripts time queries through ``run``, so
every timing reported for a query means the same thing: the query
function builds its DataFrame (``build_sec``: plan construction plus
any actions the function runs itself), then the noop sink
materializes every row without shipping rows to the driver
(``exec_sec``). ``jobs`` counts the Spark jobs of both phases. Once
the result is consumed, ``run`` releases every pin (``unpin_all``),
so a query's figures do not depend on which queries ran before it.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators.common import unpin_all
from .workspace import scratch


def _materialize(df: DataFrame) -> None:
    """Compute every row of `df` and discard it (the noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the one-time process costs up front, so the first timed
    query is not charged for them: JVM and codegen warm-up, the
    parquet footer reads, one Python worker per core (about 5 s billed
    to the first Python-kernel query otherwise), the noop sink, and
    the parquet write committer."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    cores = spark.sparkContext.defaultParallelism
    _materialize(
        spark.range(32_000).repartition(cores).mapInArrow(lambda it: it, "id long")
    )
    spark.range(100).write.mode("overwrite").parquet(
        os.path.join(scratch("obs-warm"), "w")
    )


def _next_job_id(spark: SparkSession) -> int:
    nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return nid if isinstance(nid, int) else nid.get()


def run(
    spark: SparkSession,
    name: str,
    fn: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> dict[str, float | int]:
    """Build `fn(spark, sf_dir)` and materialize it under the job group
    `name`. Returns ``{"build_sec", "exec_sec", "sec", "jobs"}``, where
    ``jobs`` is the number of jobs the DAG scheduler started meanwhile.
    The query's pins are released before it returns."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        jobs0 = _next_job_id(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        _materialize(df)
        t2 = time.perf_counter()
        jobs = _next_job_id(spark) - jobs0
    finally:
        sc._jsc.clearJobGroup()
        unpin_all(spark)
    return {
        "build_sec": round(t1 - t0, 3),
        "exec_sec": round(t2 - t1, 3),
        "sec": round(t2 - t0, 3),
        "jobs": jobs,
    }
