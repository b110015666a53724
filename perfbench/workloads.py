"""The three benchmark workloads and their op types.

Every op is three steps. `prepare` (untimed) makes the op's seeded
input, such as a landing file. `build` and `execute` together are the
timed op: `build` is the call into the layer that returns something
lazy (a registry query function returning a DataFrame, a snapshot
read returning a DataFrame), and `execute` materializes it, or makes
the call that does the work itself (a commit, a load, a stream run).
`check` (untimed) compares the result against an oracle or the
benchmark's own model of the tables.

- sql_analytics: TPC-H-shaped registry queries over fixture scans. No
  commits and no Python workers, so it bypasses the commit and the
  Python/Arrow boundary layers.
- lakehouse_rw: ELT on the engine's snapshot tables, with reads of the
  same tables beside the writes. The only workload with commit,
  ingest and streaming work.
- corpus_pipeline: LLM-data operators over the documents fixture, most
  of them Python/Arrow-boundary kernels, beside JVM-native ones.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Queries whose cost depends on state an earlier process left under
# /tmp (`_build_fixture_once` fixtures and the `verified_pairs`
# table): the first run on a machine would pay a one-off build the
# later ones skip. No workload may use them.
CROSS_PROCESS_FIXTURE_PREFIXES = (
    "a41_", "a47_", "a49_", "a50_", "a52_", "a54_", "a56_",
    "k2_dup_clusters", "k3_contrastive_pairs", "k9_",
)

# Each run warms every op type up twice, and a run has to fit a budget
# of well under a minute, so each workload runs a cross-section of its
# family rather than all of it.
#
# TPC-H shapes: scan + aggregate (q1, q6), 3- and 6-way joins (q3,
# q5, q9), outer join + aggregate (q13), IN-subquery + aggregate
# (q18), EXISTS / NOT EXISTS (q21).
SQL_OPS = (
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
)

CORPUS_OPS = (
    # Python/Arrow-boundary kernels
    "k5_jpeg_decode",
    "k5_png_decode",
    "k5_gif_decode",
    "k5_wav_decode",
    "k4_warc_parse",
    "k4_unicode_nfc",
    "k3_pq_quantize",
    # JVM-native
    "k4_gopher_rules",
    "k4_repetition_filter",
    "k1_dedup_exact_keep",
)


@dataclass
class Op:
    name: str
    kind: str  # "read" | "write"
    prepare: Callable[[], Any]
    build: Callable[[Any], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], bool]


def pass_orders(names: list[str], seed: int):
    """Endless passes, each a seeded permutation of all op types, so a
    noisy stretch of the run hits every type alike."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


# -- registry query workloads ---------------------------------------------


def query_ops(spark, data_dir: str, names, expected) -> list[Op]:
    from check import matches
    from lakehouse_homeserver_spark.registry import all_queries

    queries = all_queries()
    return [
        Op(
            name=name,
            kind="read",
            prepare=lambda: None,
            build=lambda _, fn=queries[name]: fn(spark, data_dir),
            execute=lambda df: df.toPandas(),
            check=lambda pdf, want=expected[name]: matches(pdf, want),
        )
        for name in names
    ]


# -- lakehouse_rw ---------------------------------------------------------

# Sizes of the generated write batches, in rows. Each pass ingests
# INGEST_ROWS new keys, inserts MERGE_ROWS // 4 more through the merge
# and deletes the oldest RETIRE_ROWS keys, so the table keeps about
# the size it started with.
INITIAL_ROWS = 8_000
INGEST_ROWS = 400
MERGE_ROWS = 400
RETIRE_ROWS = INGEST_ROWS + MERGE_ROWS // 4
EVENT_ROWS = 500
# Landing files kept after they are loaded (an extractor's retention
# window), and snapshots kept by expiry.
LANDING_KEEP = 4
SNAPSHOTS_KEEP = 4


def _utc(t: pa.Table) -> pa.Table:
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            t = t.set_column(i, f.name, t.column(i).cast(pa.timestamp("us", tz="UTC")))
    return t


class LakehouseRW:
    """ELT on snapshot tables, with a model of what they must hold.

    `orders` is loaded by `Lakehouse.load_incremental` from landing
    files, upserted by `merge` and trimmed by `delete_where`;
    `user_totals` is kept by the `stream_upsert_user_totals`
    AvailableNow stream over an events landing dir. The model keeps
    each order's (status, cents) and each user's (events, cents), plus
    a (rows, key sum, cents sum) summary per snapshot version for
    time-travel checks."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, trace: bool):
        from lakehouse_homeserver_spark.sources.ingest import (
            Lakehouse,
            SnapshotFormat,
        )
        from lakehouse_homeserver_spark.sources.snapshot import SnapshotTable

        self.spark = spark
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        # Timestamps as UTC instants, so Spark reads landing files and
        # merge sources with one timestamp type.
        self.fixture_orders = _utc(pq.read_table(os.path.join(data_dir, "orders.parquet")))
        self.fixture_events = _utc(pq.read_table(os.path.join(data_dir, "events.parquet")))
        self.landing = os.path.join(work_dir, "landing")
        self.events_landing = os.path.join(work_dir, "events_landing")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        warehouse = os.path.join(work_dir, "tables")
        os.makedirs(os.path.join(self.landing, "orders"))
        os.makedirs(self.events_landing)
        self.lh = Lakehouse(spark, SnapshotFormat(spark, warehouse))
        self.orders_path = os.path.join(warehouse, "src", "orders")
        self.totals_path = os.path.join(warehouse, "user_totals")
        self.table_dirs = [self.orders_path, self.totals_path]
        self.orders = SnapshotTable(spark, self.orders_path)
        self.totals = SnapshotTable(spark, self.totals_path)
        self.next_key = 0
        self.model: dict[int, tuple[str, int]] = {}
        self.user_model: dict[int, tuple[int, int]] = {}
        self.version_summary: dict[int, tuple[int, int, int]] = {}
        self.landing_bytes = 0
        self.batch_no = 0
        self.inputs = hashlib.sha256()  # every landed batch
        self.trace = trace
        self.counters = {"files_listed": 0, "files_loaded": 0}
        self.skipped_shares: list[float] = []
        # (start time, progress reports) of every stream run
        self.stream_runs: list[tuple[float, list[dict]]] = []
        self._create_orders()

    # -- generated inputs -----------------------------------------------
    def _fresh_orders(self, n: int) -> pa.Table:
        idx = self.np_rng.integers(0, self.fixture_orders.num_rows, n)
        t = self.fixture_orders.take(pa.array(idx))
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return t.set_column(0, "o_orderkey", pa.array(keys))

    def _land(self, directory: str, table: pa.Table) -> str:
        self.batch_no += 1
        path = os.path.join(directory, f"batch-{self.batch_no:06d}.parquet")
        pq.write_table(table, path)
        self.landing_bytes += os.path.getsize(path)
        with open(path, "rb") as fh:
            self.inputs.update(fh.read())
        old = sorted(f for f in os.listdir(directory) if f.endswith(".parquet"))
        for f in old[:-LANDING_KEEP]:
            os.remove(os.path.join(directory, f))
        return path

    def _apply(self, t: pa.Table) -> None:
        for k, s, p in zip(
            t.column("o_orderkey").to_pylist(),
            t.column("o_orderstatus").to_pylist(),
            t.column("o_totalprice").to_pylist(),
        ):
            self.model[k] = (s, round(p * 100))

    def _record_version(self) -> None:
        v = self.orders.latest_version()
        self.version_summary[v] = (
            len(self.model),
            sum(self.model),
            sum(c for _, c in self.model.values()),
        )

    def _create_orders(self) -> None:
        t = self._fresh_orders(INITIAL_ROWS)
        path = self._land(os.path.join(self.landing, "orders"), t)
        # Bloom filters on the key make point lookups prunable once a
        # merge has rewritten the table into hash-partitioned files.
        self.orders.with_bloom_filters("o_orderkey").create(
            self.spark.read.parquet(path),
            properties={"ingested_files": [path]},
        )
        self._apply(t)
        self._record_version()

    # -- write ops ------------------------------------------------------
    def _orders_count_ok(self) -> bool:
        self._record_version()
        return self.orders.row_count() == len(self.model)

    def op_ingest(self) -> Op:
        def prepare():
            t = self._fresh_orders(INGEST_ROWS)
            self._land(os.path.join(self.landing, "orders"), t)
            self.counters["files_listed"] += len(
                self.lh.list_landing_files(self.landing, "orders")
            )
            return t

        def execute(t):
            return t, self.lh.load_incremental("orders", self.landing)

        def check(res):
            t, n = res
            self.counters["files_loaded"] += 1 if n else 0
            self._apply(t)
            return n == t.num_rows and self._orders_count_ok()

        return Op("ingest", "write", prepare, lambda t: t, execute, check)

    def op_stream(self) -> Op:
        from lakehouse_homeserver_spark.streaming.jobs import (
            await_or_raise,
            stream_upsert_user_totals,
        )

        def prepare():
            idx = self.np_rng.integers(0, self.fixture_events.num_rows, EVENT_ROWS)
            t = self.fixture_events.take(pa.array(idx))
            self._land(self.events_landing, t)
            return t

        def execute(t):
            started = time.time()
            q = stream_upsert_user_totals(
                self.spark, self.events_landing, self.totals_path, self.checkpoint
            )
            await_or_raise(q, timeout_s=120)
            return t, q, started

        def check(res):
            t, q, started = res
            for u, v in zip(t.column("user_id").to_pylist(), t.column("value").to_pylist()):
                n, c = self.user_model.get(u, (0, 0))
                self.user_model[u] = (n + 1, c + round(v * 100))
            progress = [json.loads(p.json) for p in q.recentProgress]
            self.stream_runs.append((started, progress))
            # One micro-batch per landed file, committed under its id.
            # (numInputRows is no check: it counts every read of the
            # batch inside foreachBatch.)
            rec = self.totals.latest_property("stream_batch_id")
            return (
                q.exception() is None
                and len(progress) == 1
                and rec is not None
                and int(rec[1]) == progress[0]["batchId"]
            )

        return Op("stream", "write", prepare, lambda t: t, execute, check)

    def op_merge(self) -> Op:
        def prepare():
            live = self.rng.sample(sorted(self.model), MERGE_ROWS - MERGE_ROWS // 4)
            idx = self.np_rng.integers(0, self.fixture_orders.num_rows, len(live))
            upd = self.fixture_orders.take(pa.array(idx)).set_column(
                0, "o_orderkey", pa.array(live, pa.int64())
            )
            return pa.concat_tables([upd, self._fresh_orders(MERGE_ROWS // 4)])

        def build(t):
            return t, self.spark.createDataFrame(t)

        def execute(b):
            t, df = b
            self.orders.merge(df, on=["o_orderkey"])
            return t

        def check(t):
            self._apply(t)
            return self._orders_count_ok()

        return Op("merge", "write", prepare, build, execute, check)

    def op_delete(self) -> Op:
        from pyspark.sql import functions as F

        def prepare():
            lo = min(self.model)
            return lo, lo + RETIRE_ROWS - 1

        def execute(bounds):
            lo, hi = bounds
            self.orders.delete_where(
                F.col("o_orderkey").between(lo, hi),
                prune_column="o_orderkey",
                lo=lo,
                hi=hi,
            )
            return bounds

        def check(bounds):
            lo, hi = bounds
            for k in range(lo, hi + 1):
                self.model.pop(k, None)
            return self._orders_count_ok()

        return Op("delete", "write", prepare, lambda b: b, execute, check)

    def op_maintain(self) -> Op:
        """Compaction and snapshot expiry, once per pass: enough that
        live files and log entries level off during a run."""

        def execute(_):
            self.orders.compact_files(target_files=1)
            self.lh.expire_snapshots("orders", retain_days=SNAPSHOTS_KEEP)
            self.totals.expire_snapshots(keep_last=SNAPSHOTS_KEEP)

        def check(_):
            ok = self._orders_count_ok()
            live = set(self.orders.versions())
            for v in list(self.version_summary):
                if v not in live:
                    del self.version_summary[v]
            return ok

        return Op("maintain", "write", lambda: None, lambda _: None, execute, check)

    # -- read ops -------------------------------------------------------
    def op_read_latest(self) -> Op:
        from pyspark.sql import functions as F

        def build(_):
            return (
                self.lh.table("orders")
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
                )
            )

        def check(rows):
            want: dict[str, list[int]] = {}
            for s, c in self.model.values():
                w = want.setdefault(s, [0, 0])
                w[0] += 1
                w[1] += c
            return {r["o_orderstatus"]: [r["n"], r["c"]] for r in rows} == want

        return Op(
            "read_latest", "read", lambda: None, build, lambda df: df.collect(), check
        )

    def op_time_travel(self) -> Op:
        from pyspark.sql import functions as F

        def prepare():
            head = self.orders.latest_version()
            older = sorted(v for v in self.version_summary if v != head)
            return self.rng.choice(older) if older else head

        def build(v):
            df = self.orders.read(version=v).agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").alias("k"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
            )
            return v, df

        def execute(b):
            v, df = b
            return v, df.collect()[0]

        def check(res):
            v, r = res
            return (r["n"], r["k"] or 0, r["c"] or 0) == self.version_summary[v]

        return Op("time_travel", "read", prepare, build, execute, check)

    def op_point_scan(self) -> Op:
        def prepare():
            return self.rng.choice(sorted(self.model))

        def build(key):
            return key, self.orders.scan_equals("o_orderkey", key)

        def execute(b):
            key, df = b
            return key, df.collect()

        def check(res):
            key, rows = res
            if self.trace:
                live = len(self.orders.files())
                kept = len(self.orders.prune_files_equals("o_orderkey", key))
                self.skipped_shares.append(1 - kept / live)
            return len(rows) == 1 and (
                rows[0]["o_orderstatus"],
                round(rows[0]["o_totalprice"] * 100),
            ) == self.model[key]

        return Op("point_scan", "read", prepare, build, execute, check)

    def ops(self) -> list[Op]:
        return [
            self.op_ingest(),
            self.op_stream(),
            self.op_merge(),
            self.op_delete(),
            self.op_maintain(),
            self.op_read_latest(),
            self.op_time_travel(),
            self.op_point_scan(),
        ]

    # -- hooks of the timed phase ---------------------------------------
    def start_timed(self) -> None:
        self.counters = {k: 0 for k in self.counters}
        self.skipped_shares = []
        self.stream_runs = []
        self.landing_bytes = 0
        self.versions_at_start = self._versions()
        self.watch = FileWatch(self.table_dirs) if self.trace else None

    def after_op(self) -> None:
        if self.watch:
            self.watch.poll()

    def _versions(self) -> int:
        return sum(t.latest_version() or 0 for t in (self.orders, self.totals))

    def layer_metrics(self, L: dict, timed: list[dict], tracer, scratch: str) -> None:
        """The snapshot, ingest and streaming numbers of the timed
        phase, and the read/write split of op latency."""
        from stats import geomean_of_medians, median

        for kind, method in COMMIT_METHODS.items():
            L[f"snapshot.commit_s.{kind}"] = median(
                s["end"] - s["start"] for s in tracer.calls("sources.snapshot", method)
            )
        for name, key in (
            ("read_latest", "snapshot.read_s"),
            ("time_travel", "snapshot.time_travel_s"),
            ("point_scan", "snapshot.point_scan_s"),
        ):
            L[key] = median(r["s"] for r in timed if r["op"] == name)
        L["snapshot.files_skipped_share"] = median(self.skipped_shares)
        commits = max(1, self._versions() - self.versions_at_start)
        L["snapshot.files_added_per_commit"] = self.watch.files_added / commits
        L["snapshot.mb_written_per_commit"] = self.watch.bytes_written / 1e6 / commits
        L["snapshot.live_files_end"] = sum(len(t.files()) for t in (self.orders, self.totals))
        L["snapshot.log_entries_end"] = sum(
            len(t.versions()) for t in (self.orders, self.totals)
        )
        L["ingest.load_incremental_s"] = median(
            s["end"] - s["start"] for s in tracer.calls("sources.ingest", "load_incremental")
        )
        if self.counters["files_listed"]:
            L["ingest.new_file_share"] = (
                self.counters["files_loaded"] / self.counters["files_listed"]
            )
        batches = [p for _, progress in self.stream_runs for p in progress]
        L["streaming.batch_s"] = median(
            p["durationMs"]["triggerExecution"] / 1e3 for p in batches
        )
        L["streaming.batches_per_op"] = len(batches) / max(1, len(self.stream_runs))
        L["streaming.query_start_s"] = median(
            _epoch(progress[0]["timestamp"]) - started
            for started, progress in self.stream_runs
            if progress
        )
        L["read_geomean_s"] = geomean_of_medians(timed, ("read",))
        L["write_geomean_s"] = geomean_of_medians(timed, ("write",))
        if self.landing_bytes:
            L["write_amp"] = self.watch.bytes_written / self.landing_bytes
        L["space_amp"] = self.bytes_on_disk() / self.fresh_write_bytes(scratch)

    def final_check(self) -> bool:
        """Both tables, row for row, against the model."""
        from pyspark.sql import functions as F

        got = {
            r[0]: (r[1], r[2])
            for r in self.orders.read()
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.round(F.col("o_totalprice") * 100).cast("long"),
            )
            .collect()
        }
        users = {
            r[0]: (r[1], r[2])
            for r in self.totals.read()
            .select(
                "user_id",
                "n_events",
                F.round(F.col("total_value") * 100).cast("long"),
            )
            .collect()
        }
        return got == self.model and users == self.user_model

    def bytes_on_disk(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for top in self.table_dirs
            for d, _, files in os.walk(top)
            for f in files
        )

    def fresh_write_bytes(self, scratch: str) -> int:
        """Bytes of one fresh parquet write of both tables' live rows."""
        total = 0
        for i, t in enumerate((self.orders, self.totals)):
            out = os.path.join(scratch, f"fresh-{i}")
            t.read().coalesce(1).write.mode("overwrite").parquet(out)
            total += sum(
                os.path.getsize(os.path.join(out, f))
                for f in os.listdir(out)
                if f.endswith(".parquet")
            )
            shutil.rmtree(out)
        return total


COMMIT_METHODS = {
    "append": "append",
    "merge": "merge",
    "delete": "delete_where",
    "compact": "compact_files",
    "expire": "expire_snapshots",
}


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class FileWatch:
    """Bytes written under a set of directories, from successive
    listings: a file counts when it is new or its size or mtime
    changed since the last look."""

    def __init__(self, dirs: list[str]):
        self.dirs = dirs
        self.seen: dict[str, tuple[int, int]] = {}
        self.bytes_written = 0
        self.files_added = 0
        self.poll()
        self.bytes_written = 0
        self.files_added = 0

    def poll(self) -> None:
        now = {}
        for top in self.dirs:
            for d, _, files in os.walk(top):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    now[p] = (st.st_size, st.st_mtime_ns)
        for p, sig in now.items():
            if self.seen.get(p) != sig:
                self.bytes_written += sig[0]
                if p not in self.seen and p.endswith(".parquet") and "/data/" in p:
                    self.files_added += 1
        self.seen = now


# -- assembly -------------------------------------------------------------


def make_ops(workload, spark, work_dir, sf, fixture_seed, seed, trace):
    """Generate the inputs and return (op types, lakehouse state or
    None) for one workload."""
    import gen
    from check import oracle_expectations
    from lakehouse_homeserver_spark.registry import all_oracles

    data_dir = os.path.join(work_dir, "data")
    if workload == "lakehouse_rw":
        gen.write_tables(data_dir, sf, fixture_seed, ("orders", "events"))
        state = LakehouseRW(spark, data_dir, work_dir, seed, trace)
        return state.ops(), state
    tables = gen.write_tables(data_dir, sf, fixture_seed)
    names = SQL_OPS if workload == "sql_analytics" else CORPUS_OPS
    oracles = all_oracles()
    expected = oracle_expectations(data_dir, tables, {n: oracles[n] for n in names})
    return query_ops(spark, data_dir, names, expected), None
