"""Full oracle-parity sweep at ANY scale factor.

Runs every `queries()` entry against its `oracle_sql()` through DuckDB
and compares the driver way (row count, sorted column names,
order-insensitive repr with columns sorted by name) — the same check
the driver harness performs at sf0.01, but pointable at any table
directory. Running it at sf0.1 caught four latent cross-engine
divergences the sf0.01 gate could never see
(engine-specific ROUND at half-ties and sign-of-zero, decimal-cast
accumulation drift in the PageRank loop, and an IVF recall bound that
only held at the calibration SF). Protocol: run from any cwd (the
module loads by path), quiet box for timing relevance; correctness is
timing-independent.

Usage:
    python scripts/parity_sweep.py [query ...]
    SPARK_GRAFT_PARITY_SF_DIR=/root/testdata/sf0.1 \
        python scripts/parity_sweep.py

Third axis: SPARK_GRAFT_PARITY_MASTER / SPARK_GRAFT_PARITY_PARTITIONS
override the session shape. Running with an ADVERSARIAL partition
count (e.g. local[4] / 7 shuffle partitions) checks partition-count
INVARIANCE: on a 1000-executor cluster every reduction runs at a
different parallelism than the certification box, so any result that
depends on partitioning (order-dependent float sums being the classic)
is a latent cluster bug even if both engines agree at local[16]/16.

Exit 0 iff every compared query matches and none error. Unknown
query names on the command line are an ERROR, not a silent no-op
(a misspelled name would otherwise produce a passing sweep that
compared nothing).
"""

from __future__ import annotations

import importlib.util
import json
import multiprocessing
import os
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

import decimal
import math

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get(
    "SPARK_GRAFT_PARITY_SF_DIR", "/root/testdata/sf0.01"
)
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
# Driver heap of the engine child (see run_engine).
DRIVER_MEM = "8g"


def canon(pdf: pd.DataFrame) -> list[str]:
    """Driver-faithful canon: columns sorted by name, rows as repr
    tuples, order-insensitive; midnight naive timestamps fold to
    dates (DuckDB materializes DATE as datetime64)."""
    pdf = pdf[sorted(pdf.columns)]
    out = []
    for row in pdf.itertuples(index=False, name=None):
        vals = []
        for v in row:
            if isinstance(v, np.generic):
                v = v.item()
            if isinstance(v, decimal.Decimal):
                # duckdb .df() materializes DECIMAL as float64 while
                # Spark toPandas yields Decimal objects for the same
                # SQL type — fold to float so only VALUE divergence
                # fails (same normalization as tests/test_oracle_parity)
                v = float(v)
            if (
                isinstance(v, pd.Timestamp)
                and v.tz is None
                and v == v.normalize()
            ):
                v = v.date()
            if isinstance(v, float):
                # FULL-precision compare: the engine's
                # cross-engine contracts are bit-stability contracts
                # (floor-forms, integer micro-units, in-query display
                # rounding), so repr(float) must agree exactly — a
                # round(9) here was coarser than the finest in-query
                # quantum (k9's 1e-12 micro-units) and could mask the
                # exact sub-1e-9 drift class this sweep exists to
                # catch. Sign of zero stays visible (that is how the
                # sf0.1 sweep caught h6).
                v = None if math.isnan(v) else v
            vals.append(v)
        out.append(repr(tuple(vals)))
    return sorted(out)


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_engine(names: list[str]) -> dict[str, tuple | None]:
    """Phase 1: run every named query on a driver-shaped session.
    Returns name -> (row count, sorted column names, canon rows,
    seconds), or None when the query raised."""
    qs = _load_entry().queries()
    # Driver-faithful: a VANILLA session (no engine tuning — each
    # query applies tune_session itself, exactly like the harness),
    # but with a real driver heap: sf0.1's array-heavy ops on the
    # default 1g hit GC-locker stalls (the session.get_spark comment's
    # local-mode failure class). Heap size is a harness resource conf,
    # not engine tuning.
    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_PARITY_MASTER", "local[16]")
        )
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_PARITY_PARTITIONS", "16"),
        )
        .config("spark.driver.memory", DRIVER_MEM)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from lakehouse_homeserver_spark.operators.common import unpin_all

    out: dict[str, tuple | None] = {}
    try:
        for name in names:
            t1 = time.time()
            try:
                spdf = qs[name](spark, SF).toPandas()
                out[name] = (
                    len(spdf),
                    sorted(spdf.columns),
                    canon(spdf),
                    time.time() - t1,
                )
            except Exception:
                out[name] = None
                print(f"{name}: ERROR in Spark", flush=True)
                traceback.print_exc()
            finally:
                unpin_all(spark)
    finally:
        spark.stop()
        # This child leaves through os._exit, which skips atexit.
        from lakehouse_homeserver_spark import workspace

        workspace.release()
    return out


def main() -> int:
    mod = _load_entry()
    qs, osql = mod.queries(), mod.oracle_sql()
    only = set(sys.argv[1:])
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query name(s): {unknown}", flush=True)
        return 2
    names = [n for n in qs if not only or n in only]
    t0 = time.time()
    # The engine runs first, in a child process, and DuckDB runs after
    # that child (and with it the driver JVM) has exited: the two
    # engines' memory never adds up (one oracle alone peaks near 9 GB
    # at sf0.1, and the allocator keeps it). Every query still runs
    # before its oracle, so an oracle that reads files its query wrote
    # sees them.
    fork = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(max_workers=1, mp_context=fork) as pool:
        engine = pool.submit(run_engine, names).result()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    fails, errs = [], []
    for i, name in enumerate(qs):
        if name not in engine:
            continue
        label = f"[{i + 1}/{len(qs)}] {name}"
        if engine[name] is None:
            errs.append(name)
            print(f"{label}: ERROR", flush=True)
            continue
        n_rows, cols, rows, secs = engine[name]
        status = "rows-only"
        if name in osql:
            try:
                odf = con.execute(osql[name]).df()
            except Exception:
                errs.append(name)
                print(f"{label}: ERROR in DuckDB", flush=True)
                traceback.print_exc()
                continue
            ok = (
                n_rows == len(odf)
                and cols == sorted(odf.columns)
                and rows == canon(odf)
            )
            status = "OK" if ok else "FAIL"
            if not ok:
                fails.append(name)
        print(f"{label}: {status} ({secs:.1f}s)", flush=True)
    print(
        json.dumps(
            {
                "sf_dir": SF,
                "total_sec": round(time.time() - t0, 1),
                "n": len(engine),
                "fails": fails,
                "errs": errs,
            }
        ),
        flush=True,
    )
    return 1 if (fails or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
