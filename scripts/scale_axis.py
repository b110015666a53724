"""Scale-evidence axis (optimization r13, VERDICT r12 next-round #5).

At sf0.1 the whole bench is overhead-bound: the r12 driver's 8-core
run was 1.01× its 32-core run, so the bench cannot evidence
"scale-safe at 100 TB" for the heavy tail. This axis runs the
slowest bench queries on a 10× scaled clone (scale_smoke's salted
clones — documents/embeddings/events/orders/lineitem all scaled) at
a LOW and a HIGH core count and records the ratio: data-bound
queries must speed up ~linearly with cores at 10× volume; serial
residues are named with their reason.

Usage (two processes — Spark cannot change master in one JVM):
    python scripts/scale_axis.py build /tmp/lakehouse-scale10
    SPARK_GRAFT_CPUS=8  python scripts/scale_axis.py run /tmp/lakehouse-scale10 out8.json  [query ...]
    SPARK_GRAFT_CPUS=32 python scripts/scale_axis.py run /tmp/lakehouse-scale10 out32.json [query ...]
    python scripts/scale_axis.py merge out8.json out32.json plans/r13/scale_axis.json

Default query list: the heavy tail of plans/r13/bench_before_local.json
that is exercisable on the clone (see DEFAULT_QUERIES).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

# Heavy tail of the r13 baseline bench, restricted to queries whose
# inputs build_scaled actually scales (a51/a52/a56 run on
# SF-invariant nation/region fixtures and would measure overhead).
DEFAULT_QUERIES = [
    "i12_stateful_session_timeout",
    "a29_stream_cdc_view",
    "k5_jpeg_decode",
    "k3_kmeans",
    "k3_ivfpq_search",
    "k2_ppjoin",
    "k5_media_near_dup",
    "k10_hybrid_rrf",
    "k8_bloom_decontaminate",
    "k9_cc_bigstar",
]


def cmd_build(out_dir: str) -> None:
    from lakehouse_homeserver_spark.session import get_spark
    from scale_smoke import build_scaled

    spark = get_spark(app_name="scale-axis-build")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, out_dir, 10)
    spark.stop()


def cmd_run(sf_dir: str, out_path: str, names: list[str]) -> None:
    from lakehouse_homeserver_spark.registry import all_queries
    from lakehouse_homeserver_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"scale-axis-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = spark.range(32_000).repartition(int(cpus))
    warm.mapInArrow(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    queries = all_queries()
    out = {"cpus": int(cpus), "sf_dir": sf_dir, "queries": {}}
    for name in names or DEFAULT_QUERIES:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"scale-axis:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out["queries"][name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        print(f"[{cpus}c] {name}: {out['queries'][name]}s", file=sys.stderr)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(out_path)
    spark.stop()


def cmd_merge(low_path: str, high_path: str, out_path: str) -> None:
    with open(low_path) as fh:
        low = json.load(fh)
    with open(high_path) as fh:
        high = json.load(fh)
    core_ratio = low["cpus"] and high["cpus"] / low["cpus"]
    rows = {}
    for name, lo_sec in low["queries"].items():
        hi_sec = high["queries"].get(name)
        if hi_sec:
            rows[name] = {
                f"sec_{low['cpus']}c": lo_sec,
                f"sec_{high['cpus']}c": hi_sec,
                "speedup_low_over_high": round(lo_sec / hi_sec, 2),
            }
    merged = {
        "what": (
            "10x-scaled clone (scale_smoke salted clones), low vs high "
            "core count. speedup ~ core ratio => data-bound; ~1 => "
            "serial/driver-bound at this volume."
        ),
        "core_ratio": core_ratio,
        "sf_dir": low["sf_dir"],
        "queries": rows,
    }
    with open(out_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    print(json.dumps(merged, indent=1, sort_keys=True))


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "build":
        cmd_build(sys.argv[2])
    elif cmd == "run":
        cmd_run(sys.argv[2], sys.argv[3], sys.argv[4:])
    elif cmd == "merge":
        cmd_merge(sys.argv[2], sys.argv[3], sys.argv[4])
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
