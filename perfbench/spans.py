"""Tracing for the per-layer numbers (`--trace 1` only).

Two sources, both read from outside the engine:

- spans the benchmark records around its calls into each layer: the
  build and execute phase of every op, and (by wrapping the public
  methods in this process) every `SnapshotTable` / `Lakehouse` call
  and every stream start. Spans stay in memory and are written out
  as JSON lines when the run ends.
- Spark's event log, written into the run's workspace and parsed
  after `spark.stop()`. Jobs are matched to ops by job group
  (`<phase>:<op>:<index>`), or, for jobs that streams run on their
  own threads, by submission time. Task metrics give executor time,
  scheduler delay, GC, shuffle and spill; SQL metrics give file scans
  and the Python-worker metrics of the Python/Arrow boundary nodes.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SNAPSHOT_METHODS = (
    "create", "append", "merge", "delete_where", "compact_files",
    "expire_snapshots", "read", "scan_equals",
)
LAKEHOUSE_METHODS = ("load_incremental", "expire_snapshots", "table")
STREAM_STARTERS = ("stream_upsert_user_totals",)

PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
SCAN_METRICS = {
    "number of files read": "files_read",
    "size of files read": "scan_bytes",
    "scan time": "scan_ms",
}


class Tracer:
    """Spans of the timed ops and of the layer calls inside them. Every
    span has an id, its parent's id (the span that caused it, None at
    the top), and the index of the timed op it belongs to, which all
    spans of one op share."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: tuple[str, int] | None = None  # (name, index) being timed
        self._ids = itertools.count()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def _span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        span = {"id": next(self._ids), "parent": stack[-1] if stack else None,
                "layer": layer, "name": name, "start": time.time()}
        if self.op is not None:
            span["op"], span["idx"] = self.op
        stack.append(span["id"])
        try:
            yield
        finally:
            stack.pop()
            span["end"] = time.time()
            if "op" in span:
                self.spans.append(span)

    @contextmanager
    def phase(self, phase: str, name: str, idx: int):
        """One phase (`build` or `exec`) of timed op `idx`."""
        if not self.enabled:
            yield
            return
        self.op = (name, idx)
        self.spark.sparkContext.setJobGroup(f"{phase}:{name}:{idx}", name)
        with self._span("op", phase):
            yield

    def end_op(self) -> None:
        if self.enabled:
            self.op = None
            self.spark.sparkContext.setJobGroup("untimed", "untimed")

    def _wrap(self, owner, attr: str, layer: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self._span(layer, attr):
                return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the layers' public entry points in this process."""
        if not self.enabled:
            return
        from lakehouse_homeserver_spark.sources.ingest import Lakehouse
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable
        from lakehouse_homeserver_spark.streaming import jobs

        for m in SNAPSHOT_METHODS:
            self._wrap(SnapshotTable, m, "sources.snapshot")
        for m in LAKEHOUSE_METHODS:
            self._wrap(Lakehouse, m, "sources.ingest")
        for m in STREAM_STARTERS:
            self._wrap(jobs, m, "streaming")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def calls(self, layer: str, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name)
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for ch in node.get("children", []):
        _plan_metrics(ch, out)


def parse_event_log(paths: list[str], spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per-op totals keyed by op index, for jobs of the timed ops."""
    phases = sorted(
        (s["start"] * 1000, s["end"] * 1000, s["idx"], s["name"])
        for s in spans if s["layer"] == "op"
    )

    def locate(ts_ms: float):
        for t0, t1, idx, phase in phases:
            if t0 <= ts_ms <= t1:
                return idx, phase
        return None

    metric_name: dict[int, str] = {}
    job_of_stage: dict[int, tuple[int, str]] = {}
    op_of_exec: dict[int, int] = {}
    stats: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    pending_driver: list[tuple[int, list]] = []
    task_accums: list[tuple[int, list]] = []

    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(e["sparkPlanInfo"], metric_name)
                    if kind.endswith("SQLExecutionStart"):
                        hit = locate(e["time"])
                        if hit:
                            op_of_exec[e["executionId"]] = hit[0]
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in e["sqlPlanMetrics"]:
                        metric_name[m["accumulatorId"]] = m["name"]
                elif kind.endswith("DriverAccumUpdates"):
                    pending_driver.append((e["executionId"], e["accumUpdates"]))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id", "")
                    parts = group.split(":")
                    if len(parts) == 3 and parts[0] in ("build", "exec"):
                        hit = (int(parts[2]), parts[0])
                    else:
                        hit = locate(e["Submission Time"])
                    if hit is None:
                        continue
                    idx, phase = hit
                    stats[idx]["jobs"] += 1
                    stats[idx][f"{phase}_jobs"] += 1
                    for sid in e["Stage IDs"]:
                        job_of_stage.setdefault(sid, hit)
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        op_of_exec.setdefault(int(ex), idx)
                elif kind == "SparkListenerStageCompleted":
                    hit = job_of_stage.get(e["Stage Info"]["Stage ID"])
                    if hit:
                        stats[hit[0]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    hit = job_of_stage.get(e["Stage ID"])
                    if hit is None:
                        continue
                    idx, phase = hit
                    s = stats[idx]
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    run = _num(m.get("Executor Run Time"))
                    deser = _num(m.get("Executor Deserialize Time"))
                    ser = _num(m.get("Result Serialization Time"))
                    getting = _num(info.get("Getting Result Time"))
                    dur = _num(info.get("Finish Time")) - _num(info.get("Launch Time"))
                    s["tasks"] += 1
                    s["run_ms"] += run
                    s[f"{phase}_run_ms"] += run
                    s["task_ms"] += dur
                    s["sched_delay_ms"] += max(0, dur - run - deser - ser - getting)
                    s["gc_ms"] += _num(m.get("JVM GC Time"))
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                        sr.get("Local Bytes Read")
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                    s["spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
                    task_accums.append((idx, info.get("Accumulables") or []))

    wanted = {**PY_METRICS, **SCAN_METRICS}
    for idx, accums in task_accums:
        task: dict[str, float] = defaultdict(float)
        for a in accums:
            key = wanted.get(metric_name.get(a.get("ID")))
            if key == "py_run_ms":
                # Chained Python nodes of one task run their workers at
                # the same time: the task's Python time is the longest.
                task[key] = max(task[key], _num(a.get("Update")))
            elif key:
                task[key] += _num(a.get("Update"))
        if not task["py_boot_ms"]:
            # A reused worker reports its initialization time counted
            # from the worker's start, not work done for this task.
            task["py_init_ms"] = 0
        for key, v in task.items():
            stats[idx][key] += v
    for ex, updates in pending_driver:
        idx = op_of_exec.get(ex)
        if idx is None:
            continue
        for acc_id, value in updates:
            key = wanted.get(metric_name.get(acc_id))
            if key:
                stats[idx][key] += _num(value)
    return dict(stats)
