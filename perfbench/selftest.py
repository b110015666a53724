"""Self-test of the benchmark on tiny inputs (sf 0.001, one to four
seconds of timed ops per run).

    python3 perfbench/selftest.py

Checks, without touching the repository outside `perfbench/`:
- no workload uses a query whose cost depends on cross-process /tmp
  fixtures, and every query op has a registry oracle;
- inputs are deterministic in the seed, different seeds give
  different pass orders and lakehouse batches, and every pass holds
  each op type exactly once;
- every workload, traced and untraced, exits 0, passes its checks and
  emits exactly the metrics BENCHMARK.json names, with their units;
- a traced run reads nonzero on the layers its workload exercises
  and zero on the layers it bypasses;
- in the traced run, `operators.build_s + operators.exec_s` reconciles
  with the mean timed-op latency;
- a run leaves no workspace behind.
Exit code 0 when all pass.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import workloads  # noqa: E402

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def check_op_lists() -> None:
    from lakehouse_homeserver_spark.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    names = workloads.SQL_OPS + workloads.CORPUS_OPS
    bad = [n for n in names if n.startswith(workloads.CROSS_PROCESS_FIXTURE_PREFIXES)]
    expect(not bad, f"no op uses a cross-process fixture ({bad})")
    expect(all(n in queries for n in names), "every query op is registered")
    expect(all(n in oracles for n in names), "every query op has an oracle")


def check_seeding() -> None:
    a, b = gen.make_tables(0.001, 1), gen.make_tables(0.001, 1)
    expect(all(a[t].equals(b[t]) for t in a), "same seed, same tables")
    c = gen.make_tables(0.001, 2)
    expect(not a["orders"].equals(c["orders"]), "other seed, other tables")
    names = list(workloads.CORPUS_OPS)
    p1 = [p for _, p in zip(range(3), workloads.pass_orders(names, 1))]
    p1b = [p for _, p in zip(range(3), workloads.pass_orders(names, 1))]
    p2 = [p for _, p in zip(range(3), workloads.pass_orders(names, 2))]
    expect(p1 == p1b and p1 != p2, "pass order is drawn from the seed")
    expect(
        all(sorted(p) == sorted(names) for p in p1 + p2),
        "every pass holds each op type once, whatever the seed",
    )


# Per-layer metrics each workload must move (nonzero) or bypass (zero)
# in a traced run, by name prefix.
MOVES = {
    "sql_analytics": ("session.", "registry.files_read", "operators.exec_s",
                      "operators.jobs_per_op"),
    "lakehouse_rw": ("session.", "operators.exec_s", "snapshot.commit_s.",
                     "snapshot.read_s", "snapshot.time_travel_s",
                     "snapshot.point_scan_s", "snapshot.live_files_end",
                     "ingest.load_incremental_s", "streaming.batch_s",
                     "write_amp", "space_amp"),
    "corpus_pipeline": ("session.", "registry.files_read", "operators.exec_s",
                        "udfs.py_run_s", "udfs.py_mb_sent"),
}
BYPASSES = {
    "sql_analytics": ("udfs.", "snapshot.", "ingest.", "streaming."),
    "lakehouse_rw": ("registry.", "udfs."),
    "corpus_pipeline": ("snapshot.", "ingest.", "streaming."),
}


def run(workload: str, seed: int, trace: int) -> tuple[int, dict, dict]:
    # Traced runs get long enough for a full pass of every op type.
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "4" if trace else "1",
         "--trace", str(trace), "--sf", "0.001"],
        capture_output=True, text=True, timeout=300,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-3000:])
        return out.returncode, {}, {}
    return out.returncode, json.loads(lines[-2])["info"], json.loads(lines[-1])


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in (x["name"] for x in bench["workloads"]):
        digests = {}
        for seed, trace in ((1, 0), (2, 0), (1, 1)):
            code, info, res = run(w, seed, trace)
            tag = f"{w} seed={seed} trace={trace}"
            expect(code == 0 and res.get("correct") is True, f"{tag}: exit 0, correct")
            if not res:
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(
                got == declared[trace]
                and all(math.isfinite(v["value"]) for v in res["metrics"].values()),
                f"{tag}: every declared metric, with its unit and a finite value",
            )
            expect(res["attempted"] >= 1 and res["failed"] == 0, f"{tag}: no failed op")
            expect("steady" in info, f"{tag}: drift is checked")
            digests[(seed, trace)] = info
            if trace:
                m = {k: v["value"] for k, v in res["metrics"].items()}
                zero = [k for k in m if k.startswith(MOVES[w]) and not m[k]]
                expect(not zero, f"{tag}: layers it exercises read nonzero ({zero})")
                nonzero = [k for k in m if k.startswith(BYPASSES[w]) and m[k]]
                expect(not nonzero, f"{tag}: layers it bypasses read zero ({nonzero})")
                expect(0 <= m["udfs.boundary_share"] <= 1,
                       f"{tag}: udfs.boundary_share is a share")
                phases = m["operators.build_s"] + m["operators.exec_s"]
                mean = info["mean_op_s"]
                expect(
                    mean > 0 and abs(phases - mean) / mean < 0.05,
                    f"{tag}: build_s + exec_s ({phases:.4f}) reconciles with "
                    f"mean op latency ({mean:.4f})",
                )
        if (1, 0) in digests and (2, 0) in digests:
            i1, i2 = digests[(1, 0)], digests[(2, 0)]
            expect(i1["inputs"] != i2["inputs"], f"{w}: seeds change the generated inputs")
            expect(i1["op_types"] == i2["op_types"], f"{w}: seeds keep the op types")
    expect(not os.path.exists(os.path.join(HERE, ".work")), "no workspace left behind")


def main() -> int:
    check_op_lists()
    check_seeding()
    check_runs()
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
