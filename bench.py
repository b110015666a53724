"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"layers": {name: {build_sec, exec_sec, jobs}},
"queries": {name: sec}, ..., "value": total_sec, ...}.

Each query is timed by `obs.run`: built, then fully materialized
through the noop sink (no driver-side row transfer), so the timing
covers scan → shuffle → result, the same work a cluster run would do.
`layers` splits each query's seconds into build and exec and counts
its Spark jobs. The run writes nothing into the checkout; redirect
stdout to keep the line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakehouse_homeserver_spark import obs
from lakehouse_homeserver_spark.registry import all_queries
from lakehouse_homeserver_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Fixed I/O probe target: a parquet file whose SIZE does not depend
# on $SPARK_GRAFT_SF_DIR, so the probe is fixed work across runs.
CANARY_IO_FILE = "/root/testdata/sf0.1/lineitem.parquet"

# One fixed-work probe every PROBE_EVERY queries (about 1 s each, about
# 6 per full sweep).
PROBE_EVERY = 48


def cpu_canary(spark) -> dict[str, float]:
    """Fixed-work box-speed probe. A sweep can read slower with no
    code change when the box is slower, and the sweep alone cannot
    tell the two apart. Three fixed workloads — pure-JVM
    (whole-stage-codegen range aggregation), pure-Python (tight hash
    loop, the Python-worker speed every Python-kernel query pays), and
    I/O-bound (scan+hash a FIXED parquet file: parquet decode plus
    page-cache/disk state, which a pure-CPU probe cannot see: equal
    CPU canaries have come with sweeps 1.47x apart) — each scales
    with box condition but not with any engine code path, so across
    runs

        queries_slower AND canary_slower  -> box, not code
        queries_slower AND canary flat    -> real regression

    Probes run BEFORE, AFTER, and INTERLEAVED between blocks of the
    sweep: endpoint sampling straddles co-tenant noise windows
    invisibly, and the interleaved series localizes WHICH stretch of
    the sweep a slowdown hit. `sec` stays jvm+py only, the normalizer
    BASELINE.md tracks; io_sec is reported alongside, not folded in."""
    import hashlib

    # Untimed same-shape warmup: codegen/JIT for THIS expression is
    # compiled here so the timed run measures box speed, not whether
    # this is the first or second canary call (the first smoke run
    # showed pre 0.59 vs post 0.21 purely from JIT state).
    spark.range(1_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "sum(id * 2 + 1) AS s"
    ).collect()
    jvm = time.perf_counter() - t0

    t0 = time.perf_counter()
    h = b"canary"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    py = time.perf_counter() - t0

    out = {"jvm_sec": round(jvm, 3), "py_sec": round(py, 3)}
    if os.path.exists(CANARY_IO_FILE):
        t0 = time.perf_counter()
        spark.read.parquet(CANARY_IO_FILE).selectExpr(
            "bit_xor(xxhash64(l_orderkey, l_suppkey, l_extendedprice)) AS h"
        ).collect()
        out["io_sec"] = round(time.perf_counter() - t0, 3)
    return out


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark(app_name="lakehouse-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    only = sys.argv[1:]
    if only:
        queries = {k: v for k, v in queries.items() if k in only}

    obs.warm_up(spark, sf_dir)

    # SPARK_GRAFT_BENCH_REPEATS > 1 runs N full INTERLEAVED sweeps and
    # reports the per-query MEDIAN (+ spread): on a co-tenant box with
    # ±25 % noise windows (BASELINE.md), back-to-back per-query repeats
    # share the same noise window while interleaved sweeps sample
    # different ones — the honest way to compare runs.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "1")))

    canary_pre = cpu_canary(spark)

    # Interleaved probes: a co-tenant noise window that hits only part
    # of the sweep is LOCALIZED instead of averaged away by the
    # endpoint pair.
    canary_series: list[dict] = []
    sweeps: list[dict[str, dict]] = []
    for s in range(repeats):
        samples: dict[str, dict] = {}
        block_start = time.perf_counter()
        block_n = 0
        for idx, (name, fn) in enumerate(sorted(queries.items())):
            if idx and idx % PROBE_EVERY == 0:
                span = time.perf_counter() - block_start
                canary_series.append(
                    {
                        "sweep": s,
                        "after_n": idx,
                        "block_sec": round(span, 3),
                        "block_queries": block_n,
                        **cpu_canary(spark),
                    }
                )
                block_start = time.perf_counter()
                block_n = 0
            samples[name] = obs.run(spark, name, fn, sf_dir)
            block_n += 1
        if block_n:
            canary_series.append(
                {
                    "sweep": s,
                    "after_n": len(samples),
                    "block_sec": round(time.perf_counter() - block_start, 3),
                    "block_queries": block_n,
                    **cpu_canary(spark),
                }
            )
        sweeps.append(samples)

    canary_post = cpu_canary(spark)

    # Per query, the sample whose total is the median across sweeps.
    median = {
        name: sorted((sw[name] for sw in sweeps), key=lambda r: r["sec"])[
            repeats // 2
        ]
        for name in sweeps[0]
    }
    med = {name: r["sec"] for name, r in median.items()}
    # Key order: a reader that keeps only the TAIL of this line (about
    # 2 KB) still gets the summary, so the big per-query maps go FIRST
    # and the headline total + a slowest-10 digest go LAST.
    out = {
        "layers": {
            name: {k: r[k] for k in ("build_sec", "exec_sec", "jobs")}
            for name, r in median.items()
        },
        "queries": med,
        "canary_series": canary_series,
        "metric": "headline_queries_total",
        "unit": "sec",
        "sf": sf_from_dir(sf_dir),
        "cores": spark.sparkContext.defaultParallelism,
    }
    if repeats > 1:
        out["repeats"] = repeats
        out["spread"] = {
            name: round(
                max(sw[name]["sec"] for sw in sweeps)
                - min(sw[name]["sec"] for sw in sweeps),
                3,
            )
            for name in med
        }
    out["n_queries"] = len(med)
    out["slowest10"] = dict(
        sorted(med.items(), key=lambda kv: -kv[1])[:10]
    )
    out["value"] = round(sum(med.values()), 3)
    # Box-speed canary + normalized total: canary is fixed work, so
    # value/canary is comparable across runs even on boxes of
    # different speed.
    canary_sec = round(
        (
            canary_pre["jvm_sec"]
            + canary_post["jvm_sec"]
            + canary_pre["py_sec"]
            + canary_post["py_sec"]
        )
        / 2.0,
        3,
    )
    out["canary"] = {
        "pre": canary_pre,
        "post": canary_post,
        "sec": canary_sec,
    }
    out["value_per_canary"] = round(out["value"] / canary_sec, 2)
    # Compact tail form of the interleaved series: each block's wall
    # time normalized by ITS OWN closing probe's jvm+py — a flat array
    # means the box was steady; one spiked entry localizes a noise
    # window to that stretch of the sweep. io_sec rides canary_series
    # in full.
    out["block_norm"] = [
        round(
            c["block_sec"] / max(c["jvm_sec"] + c["py_sec"], 1e-9), 1
        )
        for c in canary_series
    ]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
