"""Incremental view maintenance (IVM) over snapshot tables.

The materialized-aggregate pattern every lakehouse grows into
(Delta/Databricks materialized views, Iceberg + incremental dbt
models): a summary table maintained from a source table's COMMIT
DELTAS instead of full recomputation. The pieces already exist in
this engine — `SnapshotTable.added_between` gives O(new data)
incremental reads, commits are atomic with arbitrary properties for
cursor bookkeeping, and count/sum partials are mergeable — this
module just composes them with the right crash/replay contract.

Work per refresh = O(delta) + O(aggregate table), never O(source):
the delta is pre-aggregated per key (combiner-friendly), then merged
into the aggregate with one outer join keyed on the group keys. At
100 TB the source is huge but the aggregate is key-cardinality-sized
— the merge is the small job. The consumed-source-version cursor
rides the SAME atomic commit as the refreshed data, so a crash
between "read delta" and "write view" replays cleanly: the cursor
only advances when the new aggregate is durably committed
(exactly-once refresh over at-least-once scheduling — the same
batch-id idempotence contract as the streaming upsert view).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot import SnapshotTable

_CURSOR = "ivm.src_version"


class IncrementalAggregate:
    """Maintain `dest` = SELECT keys, COUNT(*) AS cnt, SUM(measure)
    AS total FROM src GROUP BY keys — incrementally.

    `measure` sums through decimal(18,2) so partials merge exactly
    (order-free), the same float contract as the query layer's
    `dsum`. Extending to other mergeable aggregates (min/max, HLL,
    bitmap) is adding columns to `_delta` and `_merge` — the refresh
    protocol does not change.
    """

    def __init__(
        self,
        spark: SparkSession,
        src: SnapshotTable,
        dest: SnapshotTable,
        keys: list[str],
        measure: str,
    ):
        self.spark = spark
        self.src = src
        self.dest = dest
        self.keys = keys
        self.measure = measure

    # -- bookkeeping -------------------------------------------------------
    def consumed_version(self) -> int:
        v = self.dest.latest_version()
        if v is None:
            return 0
        return int(self.dest.entry(v)["properties"].get(_CURSOR, 0))

    # -- refresh protocol --------------------------------------------------
    def _delta(self, frm: int, to: int) -> DataFrame:
        """Per-key SIGNED delta from the change feed: +1/+value per
        inserted row, −1/−value per deleted row. Consuming
        `changes_between` instead of `added_between` makes the view
        correct under row-level DELETEs, MERGEs, and even replaces —
        count and sum are self-inverse aggregates, so the deletion
        half of the feed subtracts exactly what the insertion half
        added (the classic counting-algorithm IVM; min/max would need
        per-key recomputation on delete and are the documented
        boundary). Work stays O(what each commit touched) wherever
        the feed does."""
        feed = self.src.changes_between(frm, to)
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        m = F.col(self.measure).cast("decimal(18,2)")
        return (
            feed.select(*self.keys, sign.alias("sign"), m.alias("m"))
            .groupBy(*self.keys)
            .agg(
                F.sum("sign").alias("cnt"),
                F.sum(F.col("sign") * F.col("m"))
                .cast("decimal(18,2)")
                .alias("total"),
            )
        )

    def _merge(self, current: DataFrame, delta: DataFrame) -> DataFrame:
        c = current.select(
            *self.keys,
            F.col("cnt").alias("cnt_a"),
            F.col("total").alias("tot_a"),
        )
        d = delta.select(
            *self.keys,
            F.col("cnt").alias("cnt_b"),
            F.col("total").alias("tot_b"),
        )
        # eqNullSafe per key: a name-list join compiles to
        # EqualTo, which never matches NULL group keys, so a NULL-key
        # group would duplicate in the view on every refresh instead
        # of merging (groupBy treats NULL as one group; the merge
        # must too).
        cond = None
        for k in self.keys:
            term = c[k].eqNullSafe(d[k])
            cond = term if cond is None else cond & term
        return c.join(d, cond, "full_outer").select(
            *[F.coalesce(c[k], d[k]).alias(k) for k in self.keys],
            (
                F.coalesce("cnt_a", F.lit(0)) + F.coalesce("cnt_b", F.lit(0))
            ).alias("cnt"),
            (
                F.coalesce(F.col("tot_a"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("tot_b"), F.lit(0).cast("decimal(18,2)"))
            ).cast("decimal(18,2)").alias("total"),
        ).filter(F.col("cnt") != 0)  # fully-deleted groups leave the view

    def refresh(self) -> dict:
        """Advance the view to the source head. Returns
        {from_version, to_version, refreshed} — a no-op (refreshed
        False) when the cursor is already at the head, which is what
        makes blind re-runs safe."""
        frm = self.consumed_version()
        to = self.src.latest_version()
        if to is None or to == frm:
            return {"from_version": frm, "to_version": to, "refreshed": False}
        delta = self._delta(frm, to)
        if self.dest.exists():
            merged = self._merge(self.dest.read(), delta)
        else:
            # same zero-group rule as _merge: a group
            # fully inserted-then-deleted inside the first consumed
            # range must not persist as a phantom (cnt=0) view row.
            merged = delta.filter(F.col("cnt") != 0)
        self.dest.create_or_replace(merged, properties={_CURSOR: to})
        return {"from_version": frm, "to_version": to, "refreshed": True}

    # -- verification helper ----------------------------------------------
    def recompute(self) -> DataFrame:
        """The full-recompute twin (tests compare against this)."""
        return (
            self.src.read()
            .groupBy(*self.keys)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col(self.measure).cast("decimal(18,2)")).alias(
                    "total"
                ),
            )
        )
