"""Traced-run report: every workload run untraced and traced, in
alternating pairs, into `perfbench/TRACED_RUN.json`.

    python3 perfbench/report.py [--seed N]

For each workload it records the first untraced run's end-to-end
metrics and the first traced run's per-layer metrics, with both
runs' session info, and the tracing overhead: the median traced
op_geomean_s over the median untraced one across PAIRS pairs of
`run_seconds` runs (pair i uses seed N + i; odd pairs run the traced
side first).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 3


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    report = {}
    for w in (x["name"] for x in bench["workloads"]):
        runs = {0: [], 1: []}
        for i in range(PAIRS):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs[trace].append(run(w, args.seed + i, bench["run_seconds"], trace))
        (info0, plain), (info1, traced) = runs[0][0], runs[1][0]
        geomeans = {t: [info["op_geomean_s"] for info, _ in runs[t]] for t in runs}
        report[w] = {
            "correct": all(res["correct"] for t in runs for _, res in runs[t]),
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "tracing_overhead": statistics.median(geomeans[1])
            / statistics.median(geomeans[0]),
            "op_geomean_s": {"untraced": geomeans[0], "traced": geomeans[1]},
            "untraced_info": info0,
            "traced_info": info1,
        }
        print(w, json.dumps(report[w]["op_geomean_s"]), flush=True)
    out = os.path.join(HERE, "TRACED_RUN.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {out}")
    return 0 if all(r["correct"] for r in report.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
