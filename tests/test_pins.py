"""The pin-and-release rule (`operators/common.py`): `pin` materializes
an intermediate, `unpin` releases one pin, and whoever consumes a
query's result releases the rest (`obs.run`, the parity sweep, this
test session), so no query leaves storage behind for a later one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from lakehouse_homeserver_spark import obs
from lakehouse_homeserver_spark.operators.common import pin, unpin
from lakehouse_homeserver_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every registry query whose code pins an intermediate.
PINNING_QUERIES = [
    "k2_minhash_lsh",
    "k2_simhash_near_pairs",
    "d14_heavy_hitters",
    "k6_domain_mix",
    "k6_temperature_resample",
    "k8_bloom_decontaminate",
    "k2_dup_clusters",
    "k9_pagerank_dupgraph",
    "k9_cc_bigstar",
    "k2_ppjoin",
    "k5_ahash_near_dup",
    "k3_semdedup",
    "k4_bpe_token_count",
]


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_unpin_releases_now_and_a_later_read_fails_loudly(spark):
    df = pin(spark.range(1000))
    n = _persistent_rdds(spark)
    assert df.count() == 1000
    unpin(df)
    assert _persistent_rdds(spark) == n - 1
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.count()


@pytest.mark.parametrize("name", PINNING_QUERIES)
def test_obs_run_leaves_no_pin_or_cached_plan(spark, sf_dir, name):
    obs.run(spark, name, all_queries()[name], sf_dir)
    assert _persistent_rdds(spark) == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Runs in a fresh process: the test session has already run these
# queries, so only a new driver shows what a lone first call costs.
_ORDER_SCRIPT = """
import json, sys
from lakehouse_homeserver_spark import obs
from lakehouse_homeserver_spark.registry import all_queries
from lakehouse_homeserver_spark.session import get_spark

sf = sys.argv[1]
spark = get_spark(app_name="pin-order-check")
spark.sparkContext.setLogLevel("ERROR")
qs = all_queries()
obs.warm_up(spark, sf)
# The first read of the documents table runs one more job than any
# later one; pay it here, so each pair below compares like with like.
obs.run(spark, "k2_simhash", qs["k2_simhash"], sf)
out = {}
for name, before in (
    ("k2_simhash", "k2_simhash_near_pairs"),
    ("k4_bpe_train", "k4_bpe_token_count"),
):
    alone = obs.run(spark, name, qs[name], sf)["jobs"]
    obs.run(spark, before, qs[before], sf)
    out[name] = [alone, obs.run(spark, name, qs[name], sf)["jobs"]]
print(json.dumps(out))
"""


def test_query_jobs_do_not_depend_on_earlier_queries(tmp_path, sf_dir):
    """`k2_simhash` and `k4_bpe_train` run the same number of jobs
    alone and after the query that shares their intermediate
    (`k2_simhash_near_pairs` pins the fingerprints,
    `k4_bpe_token_count` trains the same merges)."""
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        # This JVM runs beside the test session's.
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _ORDER_SCRIPT, sf_dir],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    jobs = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, (alone, after) in jobs.items():
        assert alone == after, (name, jobs[name])
