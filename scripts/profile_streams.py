"""Stream-startup profiler.

Quantifies WHERE a streaming certificate's wall time goes, per stream:

  wall             .start() -> awaitTermination() returns
  trigger_sum      sum of StreamingQueryProgress.triggerExecution
  startup          wall - trigger_sum  (source resolution, the Python
                   streaming source runner process for pyds sources,
                   offset-log setup, first-trigger planning)

plus the per-phase durationMs map of every progress event, so the
addBatch / latestOffset / commitOffsets split is visible.

Three synthetic probes isolate the per-stream floor by source type
(file source, file source + foreachBatch, Python data source).

Usage:
    python scripts/profile_streams.py [probe ...]
        probes: file file_feb pyds
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_homeserver_spark import obs  # noqa: E402
from lakehouse_homeserver_spark.session import get_spark  # noqa: E402
from lakehouse_homeserver_spark.workspace import scratch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed_stream(start_fn, timeout_s: int = 300) -> dict:
    """Run one streaming query via start_fn() -> StreamingQuery and
    report wall vs trigger-phase time."""
    t0 = time.perf_counter()
    q = start_fn()
    t_started = time.perf_counter()
    ok = q.awaitTermination(timeout_s)
    t1 = time.perf_counter()
    if not ok:
        q.stop()
        raise TimeoutError("stream did not finish")
    progress = [json.loads(p.json) for p in q.recentProgress]
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    phases: dict[str, int] = {}
    for p in progress:
        for k, v in p["durationMs"].items():
            phases[k] = phases.get(k, 0) + v
    return {
        "wall_sec": round(t1 - t0, 3),
        "start_call_sec": round(t_started - t0, 3),
        "trigger_sum_sec": round(trig / 1000.0, 3),
        "startup_sec": round(t1 - t0 - trig / 1000.0, 3),
        "n_progress": len(progress),
        "phases_ms": phases,
    }


def probe_file(spark) -> dict:
    """Bare file-source stream: 1 tiny parquet file -> noop-ish sink."""
    root = scratch("sprobe-file")
    land = os.path.join(root, "land")
    os.makedirs(land)
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(land)
    schema = spark.read.parquet(land).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .parquet(land)
            .writeStream.format("parquet")
            .option("path", os.path.join(root, "out"))
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
        )

    return timed_stream(start)


def probe_file_feb(spark) -> dict:
    """File source + foreachBatch (the a30/i10 shape)."""
    root = scratch("sprobe-feb")
    land = os.path.join(root, "land")
    os.makedirs(land)
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(land)
    schema = spark.read.parquet(land).schema

    def fold(bdf, bid):
        bdf.count()

    def start():
        return (
            spark.readStream.schema(schema)
            .parquet(land)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
        )

    return timed_stream(start)


def probe_pyds(spark) -> dict:
    """Python data source stream (the a29 change-feed shape) over a
    2-commit snapshot table."""
    from lakehouse_homeserver_spark.sources.pyds import SnapshotDataSource
    from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

    root = scratch("sprobe-pyds")
    t = SnapshotTable(spark, os.path.join(root, "t"))
    t.create(spark.range(10).select(F.col("id").alias("k")))
    t.append(spark.range(10, 20).select(F.col("id").alias("k")))
    spark.dataSource.register(SnapshotDataSource)

    def start():
        return (
            spark.readStream.format("snapshot")
            .load(t.path)
            .writeStream.format("parquet")
            .option("path", os.path.join(root, "out"))
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
        )

    return timed_stream(start)


def main() -> None:
    spark = get_spark(app_name="lakehouse-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")
    obs.warm_up(spark, SF_DIR)

    which = sys.argv[1:] or ["file", "file", "file_feb", "pyds", "pyds"]
    probes = {
        "file": probe_file,
        "file_feb": probe_file_feb,
        "pyds": probe_pyds,
    }
    for name in which:
        out = probes[name](spark)
        print(json.dumps({"probe": name, **out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
