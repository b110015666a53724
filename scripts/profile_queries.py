"""Per-query profiler for the optimization rounds (guide §1).

For each named query (default: all), in ONE session:
  - build_sec: driver-side DataFrame construction time (plan build,
    fixture prep, any training collects INSIDE fn)
  - exec_sec:  noop-sink materialization of the returned frame
  - jobs/stages/tasks: delta of the status-tracker counters, i.e. how
    many Spark jobs the query ran end to end (actions inside fn count)
  - repeated REPS times (median reported) so one GC pause or co-tenant
    blip does not mislabel a query

Usage:
  python scripts/profile_queries.py [query ...]        # profile
  SPARK_GRAFT_PROFILE_REPS=3 python scripts/profile_queries.py ...
Writes JSON lines to stdout; progress to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_homeserver_spark.registry import all_queries
from lakehouse_homeserver_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    reps = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "3"))
    spark = get_spark(app_name="lakehouse-profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    queries = all_queries()
    names = sys.argv[1:] or sorted(queries)

    # Same warmup as bench.py so the first query is not billed for
    # process machinery.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    warm = spark.range(32_000).repartition(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    warm.mapInArrow(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()

    del tracker

    def next_job_id() -> int:
        nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return nid if isinstance(nid, int) else nid.get()

    for name in names:
        fn = queries[name]
        samples = []
        for _ in range(reps):
            jobs0 = next_job_id()
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            jobs1 = next_job_id()
            samples.append(
                {
                    "build_sec": round(t1 - t0, 3),
                    "exec_sec": round(t2 - t1, 3),
                    "total_sec": round(t2 - t0, 3),
                    "jobs": jobs1 - jobs0,
                }
            )
            spark.sparkContext.setJobDescription(None)
        med = sorted(samples, key=lambda s: s["total_sec"])[len(samples) // 2]
        out = {"name": name, **med, "samples": samples}
        print(json.dumps(out), flush=True)
        print(f"{name}: {med}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
