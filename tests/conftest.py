from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

# Location-independence (VERDICT r3 #4): Spark's Python workers are
# forked by the JVM with the environment's PYTHONPATH, not the pytest
# process's sys.path — without this, every mapInPandas/applyInPandas
# test fails worker-side with ModuleNotFoundError when pytest runs
# from outside the repo. Export it BEFORE the JVM starts (the env var
# for forked workers, the executorEnv conf for completeness on a real
# cluster deploy).
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else _REPO_ROOT
)

from lakehouse_homeserver_spark.operators.common import unpin_all  # noqa: E402
from lakehouse_homeserver_spark.session import get_spark  # noqa: E402
from lakehouse_homeserver_spark.sources import TABLES  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Slow tier: the parity-sweep axes in tests/test_parity_gate.py that
# do not fit in tier-1's time cap, each a fresh-JVM subprocess with fixed
# inputs — the whole registry at sf0.1, the whole registry at sf0.01
# on local[4] with 7 shuffle partitions, and the Python-boundary
# queries under local-cluster[2,2,1024]. They are marked `slow` and
# SKIPPED unless SPARK_GRAFT_SLOW_TESTS=1
# (`SPARK_GRAFT_SLOW_TESTS=1 python -m pytest tests/ -m slow`).
# Skipping is loud (shown as `s`), never silent. The whole registry at
# sf0.01 in the driver's session shape runs in tier-1.
RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: subprocess parity-sweep axes (fresh JVM per test); "
        "skipped unless SPARK_GRAFT_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    # This session shares the box with the parity-sweep subprocesses
    # (tests/test_parity_gate.py, 8g driver heap each). With get_spark's
    # local default (half of physical memory) the two JVMs can outgrow
    # a 16 GB box, and the kernel's OOM killer then takes this one
    # mid-suite; a third of physical memory keeps the pair inside it.
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    s = get_spark(
        app_name="lakehouse-tests",
        extra_conf={
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.driver.memory": f"{min(16, max(2, phys_gb // 3))}g",
        },
    )
    yield s


@pytest.fixture(autouse=True)
def _release_pins(request):
    """Release every pin a test's queries left in the shared session
    once the test (and its own fixtures) are done, so no test sees an
    earlier test's materialized intermediates."""
    yield
    if "spark" in request.fixturenames:
        unpin_all(request.getfixturevalue("spark"))


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with fixture tables registered as views —
    mirrors the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()
