"""Scale-evidence axis.

At sf0.1 the whole bench is overhead-bound: an 8-core sweep ran at
1.01× the 32-core one, so the bench cannot evidence "scale-safe at
100 TB" for the heavy tail. This axis runs the slowest bench queries
on a 10× scaled clone (scale_smoke's salted clones —
documents/embeddings/events/orders/lineitem all scaled) at a LOW and
a HIGH core count and records the ratio: data-bound queries must
speed up ~linearly with cores at 10× volume; serial residues are
named with their reason.

Usage (one bench process per core count — Spark cannot change master
in one JVM):
    python scripts/scale_axis.py build /tmp/lakehouse-scale10
    SPARK_GRAFT_CPUS=8  SPARK_GRAFT_SF_DIR=/tmp/lakehouse-scale10 \
        python bench.py $QUERIES > out8.json
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SF_DIR=/tmp/lakehouse-scale10 \
        python bench.py $QUERIES > out32.json
    python scripts/scale_axis.py merge /tmp/lakehouse-scale10 \
        out8.json out32.json plans/r13/scale_axis.json

`merge` reads the two bench lines through their `cores` and
`queries` keys. The committed artifact's $QUERIES are the heavy tail
of plans/r13/bench_before_local.json, restricted to queries whose
inputs build_scaled actually scales (a51/a52/a56 run on SF-invariant
nation/region fixtures and would measure overhead):
i12_stateful_session_timeout a29_stream_cdc_view k5_jpeg_decode
k3_kmeans k3_ivfpq_search k2_ppjoin k5_media_near_dup k10_hybrid_rrf
k8_bloom_decontaminate k9_cc_bigstar.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))


def cmd_build(out_dir: str) -> None:
    from lakehouse_homeserver_spark.session import get_spark
    from scale_smoke import build_scaled

    spark = get_spark(app_name="scale-axis-build")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, out_dir, 10)
    spark.stop()


def _bench_line(path: str) -> dict:
    """The JSON line `bench.py` printed into `path` (its last one)."""
    with open(path) as fh:
        lines = [ln for ln in fh if ln.startswith("{")]
    if not lines:
        raise SystemExit(f"{path}: no bench JSON line")
    return json.loads(lines[-1])


def cmd_merge(sf_dir: str, low_path: str, high_path: str, out_path: str) -> None:
    low = _bench_line(low_path)
    high = _bench_line(high_path)
    core_ratio = high["cores"] / low["cores"]
    rows = {}
    for name, lo_sec in low["queries"].items():
        hi_sec = high["queries"].get(name)
        if hi_sec:
            rows[name] = {
                f"sec_{low['cores']}c": lo_sec,
                f"sec_{high['cores']}c": hi_sec,
                "speedup_low_over_high": round(lo_sec / hi_sec, 2),
            }
    merged = {
        "what": (
            "10x-scaled clone (scale_smoke salted clones), low vs high "
            "core count. speedup ~ core ratio => data-bound; ~1 => "
            "serial/driver-bound at this volume."
        ),
        "core_ratio": core_ratio,
        "sf_dir": sf_dir,
        "queries": rows,
    }
    with open(out_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    print(json.dumps(merged, indent=1, sort_keys=True))


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "build":
        cmd_build(sys.argv[2])
    elif cmd == "merge":
        cmd_merge(*sys.argv[2:6])
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
