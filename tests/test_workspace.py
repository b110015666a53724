"""Lifetimes of the engine's scratch and fixture directories
(`lakehouse_homeserver_spark.workspace`).

Scratch tests run in child interpreters with `TMPDIR` pointed at a
test directory, so the test process's own scratch root is untouched.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pytest

from lakehouse_homeserver_spark import workspace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Creates one scratch dir, prints it, then waits for a line on stdin.
_HOLDER = (
    "import sys\n"
    "from lakehouse_homeserver_spark.workspace import scratch\n"
    "print(scratch('held'), flush=True)\n"
    "sys.stdin.readline()\n"
)


def _env(tmp) -> dict:
    return os.environ | {"TMPDIR": str(tmp), "PYTHONPATH": REPO}


def _holder(tmp) -> tuple[subprocess.Popen, str]:
    proc = subprocess.Popen(
        [sys.executable, "-c", _HOLDER],
        env=_env(tmp),
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    return proc, proc.stdout.readline().strip()


def _scratch_once(tmp) -> str:
    """Root of a child that creates one scratch dir and exits."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os\n"
            "from lakehouse_homeserver_spark.workspace import scratch\n"
            "print(os.path.dirname(scratch('once')))\n",
        ],
        env=_env(tmp),
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()


def _roots(tmp) -> list[str]:
    return sorted(
        e for e in os.listdir(tmp) if e.startswith(workspace.SCRATCH_PREFIX)
    )


def test_scratch_root_is_removed_at_exit(tmp_path):
    root = _scratch_once(tmp_path)
    assert os.path.basename(root).startswith(workspace.SCRATCH_PREFIX)
    assert not os.path.exists(root)
    assert _roots(tmp_path) == []


def test_killed_process_root_is_removed_by_the_next(tmp_path):
    proc, held = _holder(tmp_path)
    root = os.path.dirname(held)
    proc.send_signal(signal.SIGKILL)
    proc.wait()
    proc.stdout.close()
    assert os.path.isdir(held)  # SIGKILL skips atexit
    (tmp_path / "lakehouse-scratch-snap-demo-abc123").mkdir()  # no pid
    _scratch_once(tmp_path)
    assert not os.path.exists(root)
    assert _roots(tmp_path) == []


def test_live_process_root_is_kept(tmp_path):
    proc, held = _holder(tmp_path)
    try:
        _scratch_once(tmp_path)
        assert os.path.isdir(held)
    finally:
        proc.communicate("\n")
    assert not os.path.exists(os.path.dirname(held))


def test_importing_creates_nothing(tmp_path):
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import __spark_entry__\n"
            "from lakehouse_homeserver_spark import workspace\n",
        ],
        env=_env(tmp_path),
        check=True,
    )
    assert os.listdir(tmp_path) == []


def test_failed_build_leaves_no_sentinel(tmp_path, monkeypatch):
    monkeypatch.setattr(workspace, "FIXTURES", str(tmp_path))
    calls = []

    def broken(d):
        calls.append(d)
        open(os.path.join(d, "half.parquet"), "w").close()
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        workspace.fixture("fx", broken)
    assert not os.path.exists(os.path.join(calls[0], ".fixture-ok"))

    def build(d):
        calls.append(d)
        open(os.path.join(d, "good.parquet"), "w").close()

    path = workspace.fixture("fx", build)
    assert len(calls) == 2 and path == calls[0]
    assert sorted(os.listdir(path)) == [".fixture-ok", "good.parquet"]
    assert workspace.fixture("fx", broken) == path  # built: not called
    assert len(calls) == 2


def test_keyed_build_replaces_stale_fingerprint(tmp_path, monkeypatch):
    fixtures = tmp_path / "fixtures"
    monkeypatch.setattr(workspace, "FIXTURES", str(fixtures))
    sf = tmp_path / "sf-a"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"v1")
    first = workspace.fixture("tt", lambda d: None, source=(str(sf), "orders"))
    other_sf = workspace.fixture(
        "tt-sf", lambda d: None, source=(str(sf), "orders")
    )
    (sf / "orders.parquet").write_bytes(b"v2, regenerated")
    second = workspace.fixture("tt", lambda d: None, source=(str(sf), "orders"))
    assert second != first
    assert os.path.basename(second).startswith("tt-sf-a-")
    assert not os.path.exists(first)
    assert os.path.isdir(other_sf)  # another family sharing the prefix
    with pytest.raises(FileNotFoundError):
        workspace.fixture("tt", lambda d: None, source=(str(sf), "lineitem"))


@pytest.fixture(scope="module")
def same_basename_sf_dirs(tmp_path_factory, sf_dir):
    """Two datasets named like `sf_dir`: a copy, and a copy without the
    odd `o_orderkey` / `l_orderkey` rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = os.path.basename(sf_dir.rstrip("/"))
    full = tmp_path_factory.mktemp("full") / base
    half = tmp_path_factory.mktemp("half") / base
    for d in (full, half):
        d.mkdir()
        for f in os.listdir(sf_dir):
            t = pq.read_table(os.path.join(sf_dir, f))
            key = {"orders.parquet": "o_orderkey", "lineitem.parquet": "l_orderkey"}
            if d is half and f in key:
                t = t.filter(pc.equal(pc.bit_wise_and(t[key[f]], 1), 0))
            pq.write_table(t, d / f)
    return str(full), str(half)


@pytest.mark.parametrize(
    "name",
    ["c10_bucketed_join_read", "c12_sortfree_bucketed_join", "a53_cbo_join_reorder"],
)
def test_catalog_tables_follow_the_dataset(
    name, spark, same_basename_sf_dirs, tmp_path, monkeypatch
):
    """The catalog-table queries read the dataset they are given: two
    datasets with the same basename, run in one session, each match
    their own oracle (a table keyed on the basename alone returns the
    first dataset's rows for the second)."""
    import duckdb

    from lakehouse_homeserver_spark.registry import all_oracles, all_queries

    monkeypatch.setattr(workspace, "FIXTURES", str(tmp_path / "fixtures"))
    for d in same_basename_sf_dirs:
        df = all_queries()[name](spark, d)
        cols = sorted(df.columns)
        got = sorted(tuple(r[c] for c in cols) for r in df.collect())
        con = duckdb.connect()
        for f in os.listdir(d):
            con.execute(
                f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                f"SELECT * FROM '{os.path.join(d, f)}'"
            )
        want = con.execute(all_oracles()[name]).df()[cols]
        con.close()
        assert got == sorted(want.itertuples(index=False, name=None)), d
