"""Smoke test of the bench CLI: one query at sf0.001 in a fresh
process, checking the JSON line's keys, its per-query layer record,
and that the run leaves the checkout as it found it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Keys of a single-sweep bench line besides `layers` and `cores`.
CONTRACT_KEYS = {
    "queries",
    "canary_series",
    "metric",
    "unit",
    "sf",
    "n_queries",
    "slowest10",
    "value",
    "canary",
    "value_per_canary",
    "block_norm",
}


def _checkout_state() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout


def test_bench_line_carries_layers_and_leaves_checkout_alone(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    cores = "2"
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_CPUS": cores,
        # This JVM runs beside the test session's.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": str(tmp),
    }
    before = _checkout_state()
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "q1_pricing_summary"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])

    assert set(out) == CONTRACT_KEYS | {"layers", "cores"}
    assert next(iter(out)) == "layers"
    assert out["cores"] == int(cores)
    layer = out["layers"]["q1_pricing_summary"]
    assert layer["jobs"] >= 1
    total = layer["build_sec"] + layer["exec_sec"]
    assert abs(total - out["queries"]["q1_pricing_summary"]) <= 0.002
    assert _checkout_state() == before
