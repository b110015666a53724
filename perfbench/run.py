"""Benchmark of the lakehouse engine: one closed-loop client per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root (any cwd works). One run starts a
`local[<cores>]` session in a fresh workspace, generates its inputs,
warms every op type up (WARMUP_PASSES untimed, result-checked
passes), then runs passes until `--seconds` have elapsed. A pass runs
every op type of the workload once, in an order drawn from `--seed`;
every op's result is checked outside its timed span. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With `--trace 0`
the metrics are the end-to-end ones, with `--trace 1` the per-layer
ones (see BENCHMARK.json); the line before it records the session
shape (cores, heap, seed, versions).

Workloads: sql_analytics, lakehouse_rw, corpus_pipeline (see
workloads.py). Exit code 0 when the run completed, whether or not its
checks passed (see "correct"); 1 when it crashed or leaked into shared
locations; 2, with nothing printed, when the engine package is not in
the parent of this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import env  # noqa: E402
from stats import drift, geomean_of_medians  # noqa: E402
from workloads import pass_orders  # noqa: E402

WORKLOADS = ("sql_analytics", "lakehouse_rw", "corpus_pipeline")
# Input scale (TPC-H scale factor): 60k lineitem rows, 15k orders, 500
# documents. At this size driver-side build and scheduling dominate
# the queries.
DEFAULT_SF = 0.01
# The fixture tables are the same for every seed; the seed draws the
# op order of every pass and the lakehouse write batches.
FIXTURE_SEED = 42
# Untimed passes of every op type before the timed ones, charged to
# setup_s. One pass leaves the timed ops still speeding up (JIT,
# codegen, memos): second-half over first-half latency read 0.7 to 0.9.
WARMUP_PASSES = 2
# A run whose `drift` falls outside this band is flagged as unsteady.
STEADY = (0.9, 1.1)


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names and units, from BENCHMARK.json."""
    with open(os.path.join(env.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple(
        {m["name"]: m["unit"] for m in bench[key]} for key in ("end_to_end", "per_layer")
    )


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", type=float, default=None,
        help=f"input scale factor (default {DEFAULT_SF})",
    )
    return p.parse_args(argv)


# -- the run --------------------------------------------------------------


class Run:
    def __init__(self, args, ws: env.Workspace):
        self.args = args
        self.ws = ws
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []
        self.end_to_end_units, self.layer_units = declared_metrics()
        self.layer: dict[str, float] = {k: 0.0 for k in self.layer_units}
        self.inputs = hashlib.sha256()  # pass orders and generated batches
        self.op_types: list[str] = []

    def attempt(self, op, idx: int | None, tracer) -> dict:
        """Run one op; time it when `idx` is given. Returns its record."""
        self.attempted += 1
        try:
            arg = op.prepare()
            if idx is None:
                t0 = time.perf_counter()
                res = op.execute(op.build(arg))
                t1 = time.perf_counter()
            else:
                t0 = time.perf_counter()
                with tracer.phase("build", op.name, idx):
                    built = op.build(arg)
                with tracer.phase("exec", op.name, idx):
                    res = op.execute(built)
                t1 = time.perf_counter()
                tracer.end_op()
            ok = op.check(res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, t0, t1 = False, 0.0, 0.0
            if idx is not None:
                tracer.end_op()
        if not ok:
            self.failed += 1
            print(f"op {op.name} failed its check", file=sys.stderr)
        return {"op": op.name, "kind": op.kind, "t0": t0, "t1": t1,
                "s": t1 - t0, "ok": ok}

    def execute(self) -> dict:
        from spans import Tracer
        from workloads import make_ops

        args, ws = self.args, self.ws
        t = time.perf_counter()
        spark = ws.start_spark()
        self.layer["session.start_s"] = time.perf_counter() - t
        sf = args.sf if args.sf is not None else DEFAULT_SF
        tracer = Tracer(spark, self.trace)
        tracer.install()
        ops, state = make_ops(
            args.workload, spark, ws.dir, sf, FIXTURE_SEED, args.seed, self.trace
        )

        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            for op in ops:
                self.attempt(op, None, tracer)
        self.layer["session.warmup_s"] = time.perf_counter() - t

        if state:
            state.start_timed()
        by_name = {op.name: op for op in ops}
        first = time.perf_counter()
        deadline = first + args.seconds
        for order in pass_orders(list(by_name), args.seed):
            if time.perf_counter() >= deadline:
                break
            self.inputs.update(" ".join(order).encode())
            for name in order:
                if time.perf_counter() >= deadline:
                    break
                self.records.append(self.attempt(by_name[name], len(self.records), tracer))
                if state:
                    state.after_op()
        if state:
            self.attempted += 1
            if not state.final_check():
                self.failed += 1
                print("final table check failed", file=sys.stderr)
            self.inputs.update(state.inputs.digest())
        self.op_types = sorted(by_name)
        timed = [r for r in self.records if r["ok"]]
        metrics = self.end_to_end(first, timed)
        if self.trace:
            if state:
                state.layer_metrics(self.layer, timed, tracer, ws.tmp)
            ws.stop_spark()
            self.layer_metrics(tracer, timed, args.workload)
            os.makedirs(os.path.join(env.HERE, ".traces"), exist_ok=True)
            tracer.write(os.path.join(
                env.HERE, ".traces", f"{args.workload}-seed{args.seed}.jsonl"))
            metrics = self.layer
        tracer.uninstall()
        units = self.layer_units if self.trace else self.end_to_end_units
        return {k: {"value": metrics[k], "unit": units[k]} for k in units}

    def end_to_end(self, first: float, timed: list[dict]) -> dict:
        if not timed:
            return {k: 0.0 for k in self.end_to_end_units}
        span = max(r["t1"] for r in timed) - first
        return {
            "setup_s": first - T_START,
            "op_geomean_s": geomean_of_medians(timed),
            "ops_per_s": len(timed) / span,
        }

    def layer_metrics(self, tracer, timed, workload) -> None:
        from spans import parse_event_log

        n = max(1, len(timed))
        stats = parse_event_log(self.ws.event_log_files(), tracer.spans)
        tot: dict[str, float] = {}
        for s in stats.values():
            for k, v in s.items():
                tot[k] = tot.get(k, 0.0) + v
        g = lambda k: tot.get(k, 0.0)  # noqa: E731
        phase = {"build": 0.0, "exec": 0.0}
        for s in tracer.calls("op"):
            phase[s["name"]] += s["end"] - s["start"]
        L = self.layer
        if workload != "lakehouse_rw":
            L["registry.files_read_per_op"] = g("files_read") / n
            L["registry.scan_mb_per_op"] = g("scan_bytes") / 1e6 / n
            L["registry.scan_time_s_per_op"] = g("scan_ms") / 1e3 / n
        L["operators.build_s"] = phase["build"] / n
        L["operators.exec_s"] = phase["exec"] / n
        L["operators.build_jobs_per_op"] = g("build_jobs") / n
        L["operators.jobs_per_op"] = g("jobs") / n
        L["operators.stages_per_op"] = g("stages") / n
        L["operators.tasks_per_op"] = g("tasks") / n
        cores = self.ws.cores
        if phase["exec"]:
            L["operators.core_busy_share"] = g("exec_run_ms") / 1e3 / (phase["exec"] * cores)
        if g("task_ms"):
            L["operators.sched_delay_share"] = g("sched_delay_ms") / g("task_ms")
        if g("run_ms"):
            L["operators.gc_share"] = g("gc_ms") / g("run_ms")
            L["udfs.boundary_share"] = g("py_run_ms") / g("run_ms")
        L["operators.shuffle_write_mb_per_op"] = g("shuffle_write_bytes") / 1e6 / n
        L["operators.shuffle_read_mb_per_op"] = g("shuffle_read_bytes") / 1e6 / n
        L["operators.spill_mb_per_op"] = g("spill_bytes") / 1e6 / n
        L["udfs.py_boot_s_per_op"] = g("py_boot_ms") / 1e3 / n
        L["udfs.py_init_s_per_op"] = g("py_init_ms") / 1e3 / n
        L["udfs.py_run_s_per_op"] = g("py_run_ms") / 1e3 / n
        L["udfs.py_mb_sent_per_op"] = g("py_bytes_sent") / 1e6 / n
        L["udfs.py_mb_returned_per_op"] = g("py_bytes_returned") / 1e6 / n
        # The bypass workloads must not touch the layers they bypass:
        # no snapshot, ingest or streaming call outside lakehouse_rw,
        # and no Python worker on sql_analytics.
        crossed = []
        if workload != "lakehouse_rw":
            crossed += sorted({s["layer"] for s in tracer.spans if s["layer"] != "op"})
        if workload == "sql_analytics":
            crossed += [k for k in L if k.startswith("udfs.") and L[k]]
        if crossed:
            self.failed += 1
            print(f"{workload} crossed a bypassed layer: {crossed}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not env.package_present():
        print(f"engine package {env.PACKAGE!r} not found in {env.ROOT}",
              file=sys.stderr)
        return 2
    # A terminated run still stops Spark and removes its workspace.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ws = env.Workspace(args.workload, bool(args.trace))
    run = Run(args, ws)
    metrics = None
    try:
        metrics = run.execute()
    finally:
        leaks = ws.close()
    if leaks:
        print(f"run leaked into shared locations: {leaks}", file=sys.stderr)
        run.failed += 1
    timed = [r for r in run.records if r["ok"]]
    # Second-half over first-half latency: state that grows during a
    # run reads above 1, a run still warming up below 1.
    run_drift = drift(timed)
    steady = STEADY[0] <= run_drift <= STEADY[1]
    if not steady:
        print(f"unsteady run: drift {run_drift:.3f} outside {STEADY}", file=sys.stderr)
    info = {
        **ws.info(), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "timed_ops": len(run.records), "op_types": run.op_types,
        "inputs": run.inputs.hexdigest()[:16],
        "op_geomean_s": geomean_of_medians(timed),
        "mean_op_s": sum(r["s"] for r in timed) / max(1, len(timed)),
        "drift": run_drift,
        "steady": steady,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 1 if leaks else 0


if __name__ == "__main__":
    sys.exit(main())
