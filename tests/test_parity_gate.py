"""Full-registry oracle-parity gates, run through `scripts/parity_sweep.py`.

Every `queries()` entry runs in a fresh driver-shaped session and must
hash-match its DuckDB oracle (rows-only entries must run). Each test
is one subprocess of the sweep script, the same code a manual sweep
runs, from a cwd under the test's temp dir, outside the repo (keeps
the by-value-pickled Python data source covered). The cwd holds the
session's default `spark-warehouse`, which no query may write to.

Tier-1 (always runs):
  * the whole registry at sf0.01 in the script's default session shape
    (`local[16]`, 16 shuffle partitions), the shape the driver uses;
  * five scratch, fixture and catalog-table queries from a temp dir
    and cwd planted with a killed run's leftovers.

Slow tier (`SPARK_GRAFT_SLOW_TESTS=1`), fixed inputs:
  * the whole registry at sf0.1, where divergences that only show at
    10x the data live (ROUND half-ties, sign of zero, decimal-cast
    accumulation, SF-calibrated recall bounds);
  * the whole registry at sf0.01 on `local[4]` with 7 shuffle
    partitions: a result that depends on the partition count
    (order-dependent float reductions) is a latent cluster bug;
  * `BOUNDARY_QUERIES` under `local-cluster[2,2,1024]`: separate
    Worker and executor JVMs, wire shuffle, serialized closures and
    executor-side Python workers, where driver-JVM-sharing
    assumptions break.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from lakehouse_homeserver_spark.registry import all_oracles, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP = os.path.join(REPO, "scripts", "parity_sweep.py")

# Python-boundary queries for the local-cluster axis: a per-row
# `map_rows` kernel, a batch `mapInArrow` kernel, the Python data
# source write/read path, and the applyInPandasWithState runtime.
BOUNDARY_QUERIES = [
    "k5_png_decode",
    "j_arrow_batch_norms",
    "a49_pyds_roundtrip",
    "i12_stateful_session_timeout",
]


def _run_sweep(names: list[str], env_extra: dict[str, str], cwd) -> dict:
    env = os.environ | env_extra
    proc = subprocess.run(
        [sys.executable, SWEEP, *names],
        capture_output=True,
        text=True,
        timeout=1500,
        env=env,
        cwd=cwd,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, (
        f"sweep produced no summary line (exit {proc.returncode})\n"
        f"stdout tail: {proc.stdout[-2000:]}\n"
        f"stderr tail: {proc.stderr[-2000:]}"
    )
    summary = json.loads(lines[-1])
    assert proc.returncode == 0 and not summary["fails"] and not summary["errs"], (
        f"parity sweep diverged: fails={summary['fails']} "
        f"errs={summary['errs']}\nstdout tail: {proc.stdout[-3000:]}"
    )
    return summary


def _warehouse_files(cwd) -> list[str]:
    """Every file under the default warehouse of a session run in `cwd`."""
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(cwd, "spark-warehouse"))
        for f in files
    )


def test_full_registry_parity_at_sf001(tmp_path):
    """Every registered query matches its oracle at sf0.01 in the
    driver's session shape, and none writes to the warehouse."""
    summary = _run_sweep(
        [], {"SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01"}, tmp_path
    )
    assert summary["n"] == len(all_queries())
    assert _warehouse_files(tmp_path) == []


def test_leftovers_do_not_change_outcomes(tmp_path):
    """A run whose temp dir holds a killed run's scratch root, an
    old-style scratch dir, a half-built fixture (junk parquet, no
    sentinel) and a stale-fingerprint fixture, and whose cwd holds an
    orphaned `_SUCCESS`-marked warehouse location for the c10 tables,
    still matches every oracle. It removes the four temp-dir leftovers
    and neither reads nor adds warehouse files."""
    names = [
        "a10_snapshot_lineage",
        "a41_cross_engine_read",
        "a50_timestamp_travel",
        "c10_bucketed_join_read",
        "k2_dup_clusters",
    ]
    assert set(names) <= set(all_oracles())
    dead_pid = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    fixtures = tmp_path / "lakehouse-fixtures"
    junk = fixtures / "xengine" / "nation" / "data" / "junk.parquet"
    planted = [
        tmp_path / f"lakehouse-scratch-{dead_pid}",
        tmp_path / "lakehouse-scratch-snap-demo-xxxx",
        junk,
        fixtures / "tstravel-sf0.001-0123456789",
    ]
    (planted[0] / "snap-demo-abc").mkdir(parents=True)
    planted[1].mkdir()
    junk.parent.mkdir(parents=True)
    junk.write_bytes(b"not a parquet file")
    (planted[3] / "orders_ts").mkdir(parents=True)
    (planted[3] / ".fixture-ok").write_text("ok")
    cwd = tmp_path / "cwd"
    for short in ("orders", "lineitem"):
        loc = cwd / "spark-warehouse" / "bucketed.db" / f"c10_{short}_sf0_001"
        loc.mkdir(parents=True)
        (loc / "_SUCCESS").write_text("")
        (loc / "part-00000.parquet").write_bytes(b"not a parquet file")
    orphaned = _warehouse_files(cwd)

    summary = _run_sweep(
        names,
        {
            "SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.001",
            "TMPDIR": str(tmp_path),
        },
        cwd,
    )
    assert summary["n"] == len(names)
    assert [str(p) for p in planted if p.exists()] == []
    assert [
        e for e in os.listdir(tmp_path) if e.startswith("lakehouse-scratch-")
    ] == []
    assert _warehouse_files(cwd) == orphaned


@pytest.mark.slow
def test_full_registry_parity_at_sf01(tmp_path):
    """Every registered query matches its oracle at sf0.1."""
    summary = _run_sweep(
        [], {"SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.1"}, tmp_path
    )
    assert summary["n"] == len(all_queries())
    assert _warehouse_files(tmp_path) == []


@pytest.mark.slow
def test_full_registry_parity_at_adversarial_parallelism(tmp_path):
    """Every registered query matches its oracle at sf0.01 on
    local[4] with 7 shuffle partitions."""
    summary = _run_sweep(
        [],
        {
            "SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01",
            "SPARK_GRAFT_PARITY_MASTER": "local[4]",
            "SPARK_GRAFT_PARITY_PARTITIONS": "7",
        },
        tmp_path,
    )
    assert summary["n"] == len(all_queries())
    assert _warehouse_files(tmp_path) == []


@pytest.mark.slow
def test_boundary_queries_under_local_cluster(tmp_path):
    """The Python-boundary queries match their oracles under
    local-cluster[2,2,1024]. PYTHONPATH is exported so executor-side
    Python workers can import package-level kernels (task closures
    reference them by module path)."""
    summary = _run_sweep(
        BOUNDARY_QUERIES,
        {
            "SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01",
            "SPARK_GRAFT_PARITY_MASTER": "local-cluster[2,2,1024]",
            "SPARK_GRAFT_PARITY_PARTITIONS": "7",
            "PYTHONPATH": REPO
            + os.pathsep * bool(os.environ.get("PYTHONPATH", ""))
            + os.environ.get("PYTHONPATH", ""),
        },
        tmp_path,
    )
    assert summary["n"] == len(BOUNDARY_QUERIES)
