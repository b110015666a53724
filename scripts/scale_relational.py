"""Relational/TPC-H/join/window/agg scale sweep at 10x clones.

The corpus operators have a standing 10x smoke (`scale_smoke.py`);
without this script the RELATIONAL families' 100 TB story would rest
on plan arguments + the sf0.1 bench. This script runs the star-schema
families on the same 10x clones (~6M lineitem / 15M orders rows) and
asserts BOTH halves of the scale claim:

  (a) wall-time scales at most ~linearly (ratio <= TIME_TOL x copies;
      fixed per-query overheads usually push ratios BELOW copies);
  (b) the certified physical-plan facts survive the bigger stats:
      broadcasts on the unscaled dims, the WindowGroupLimit rewrite,
      predicate pushdown, and zero cartesian products anywhere.

Clone semantics (build_scaled, shared with scale_smoke): lineitem /
orders / customer / events / documents / embeddings scale by
`copies`; region/nation/part/supplier stay dim-sized — the realistic
100 TB shape where facts outgrow dims. Cloned orders keep original
custkeys/partkeys, so FK joins stay live at 10x volume.

Usage: python scripts/scale_relational.py [copies]   (default 10)
Env: SPARK_GRAFT_SMOKE_SCALED_DIR=<dir> reuses built clones;
     SPARK_GRAFT_SMOKE_OPS=a,b,c restricts the op list.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_homeserver_spark import obs  # noqa: E402
from lakehouse_homeserver_spark.operators.common import session_conf  # noqa: E402
from lakehouse_homeserver_spark.plans import (  # noqa: E402
    assert_no_cartesian,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)
from lakehouse_homeserver_spark.registry import all_queries  # noqa: E402
from lakehouse_homeserver_spark.session import get_spark  # noqa: E402
from scale_smoke import BASE_SF, scaled_clones  # noqa: E402

# family -> ops. Everything here is volume-linear by design (no
# output-volume-bound pair miners — those live in scale_smoke with
# per-unit-cost accounting).
FAMILIES: dict[str, list[str]] = {
    "tpch": [
        "q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q9_product_profit",
        "tpch_q18_large_orders",
    ],
    "join": [
        "c1_join_revenue_by_nation",
        "c2_join_full_outer",
        "c6_range_join_bucketized",
        "c7_asof_join",
        "c8_salted_skew_join",
    ],
    "window": [
        "e1_window_rank",
        "e2_window_lag_lead",
        "e3_window_range_frame",
        "f4_topk_per_group",
    ],
    "agg": [
        "d2_group_agg",
        "d3_count_distinct",
        "d4_rollup",
        "d7_quantiles_approx",
        "d8_pivot",
    ],
    "ann_codec": [
        "k3_knn_bruteforce",
        "k5_jpeg_decode",
        "k5_resize_real",
        "k4_html_extract",
    ],
}

# The certified plan facts that must SURVIVE the 10x statistics.
# Checked on the 10x plan only (the 1x forms are pinned by
# tests/test_plans.py every run). nation/region stay dim-sized in the
# clones, so their broadcasts must not flip; grown sides flipping to
# shuffle joins is legitimate and NOT asserted against.
PLAN_FACTS = {
    "c1_join_revenue_by_nation": ["broadcast", "no_cartesian"],
    "tpch_q5_local_supplier_volume": [
        "broadcast",
        "no_cartesian",
        "pushed:o_orderdate",
    ],
    # q9 synthesizes partsupp via the deliberate 1-row-count x 4-row-
    # VALUES generator crosses (broadcast NL by construction, SF-
    # invariant); forbid only a true CartesianProduct.
    "tpch_q9_product_profit": ["no_cartesian_allow_bnl"],
    "tpch_q3_shipping_priority": ["no_cartesian", "pushed:o_orderdate"],
    "f4_topk_per_group": ["plan:WindowGroupLimit", "no_cartesian"],
    "c6_range_join_bucketized": ["no_cartesian"],
    "c7_asof_join": ["no_cartesian"],
    "c8_salted_skew_join": ["no_cartesian"],
}

TIME_TOL = 1.5

# Ops whose 1x baseline may use a join strategy the scaled run cannot
# (small build side broadcasts at 1x, becomes a shuffle join at Nx —
# a legitimate flip, to be adjudicated, not suppressed). When the wall
# ratio breaches the bound AND the plans show a BroadcastHashJoin at
# 1x that is gone at Nx, the baseline is re-measured with broadcast
# disabled (the 100 TB two-fact regime) and the ratio recomputed
# against that strategy-normalized number; both readings are printed.
FLIP_ADJUDICATE = {"c8_salted_skew_join"}

# Output/candidate-volume-bound ops: the clone methodology densifies
# a FIXED axis (50x rows in the same 7-year date range), so per-bucket
# candidate pairs grow ~quadratically with copies — a property of the
# cloning, not the operator (real growth extends the time axis and
# keeps bucket density ~constant). The honest unit is cost per OUTPUT
# pair; gate = per-pair cost must not grow beyond UNIT_TOL.
OUTPUT_BOUND = {"c6_range_join_bucketized": "n_pairs"}
UNIT_TOL = 2.0


def _output_units(df, col: str) -> int:
    from pyspark.sql import functions as F

    return df.agg(F.sum(col)).collect()[0][0] or 0


def _executed_has_broadcast(df) -> bool:
    return "BroadcastHashJoin" in df._jdf.queryExecution().executedPlan().toString()


def check_plan_facts(name: str, df) -> list[str]:
    """Returns the list of FAILED facts (empty = all hold)."""
    fails = []
    for fact in PLAN_FACTS.get(name, []):
        try:
            if fact == "broadcast":
                if not has_broadcast_join(df):
                    fails.append("broadcast join gone")
            elif fact == "no_cartesian":
                assert_no_cartesian(df)
            elif fact == "no_cartesian_allow_bnl":
                assert_no_cartesian(df, allow_broadcast_nl=True)
            elif fact.startswith("pushed:"):
                col = fact.split(":", 1)[1]
                if col not in " ".join(pushed_filters(df)):
                    fails.append(f"filter on {col} not pushed")
            elif fact.startswith("plan:"):
                marker = fact.split(":", 1)[1]
                if marker not in formatted_plan(df):
                    fails.append(f"{marker} gone from plan")
        except AssertionError as exc:
            fails.append(str(exc) or fact)
    return fails


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    scaled = scaled_clones(spark, copies)
    qs = all_queries()
    # Process start-up costs must not land on the first op's 1x time.
    obs.warm_up(spark, BASE_SF)
    only = os.environ.get("SPARK_GRAFT_SMOKE_OPS")
    wanted = set(only.split(",")) if only else None
    failures: list[str] = []
    print(
        f"{'family':9s} {'op':34s} {'1x_s':>7s} "
        f"{'%dx_s' % copies:>7s} {'ratio':>6s}  plan@{copies}x"
    )
    for family, ops in FAMILIES.items():
        for name in ops:
            if wanted and name not in wanted:
                continue
            times = []
            units = []
            for sf in (BASE_SF, scaled):
                times.append(obs.run(spark, name, qs[name], sf)["sec"])
                if name in OUTPUT_BOUND:
                    units.append(
                        _output_units(qs[name](spark, sf), OUTPUT_BOUND[name])
                    )
            ratio = times[1] / times[0]
            plan_fails = check_plan_facts(name, qs[name](spark, scaled))
            notes = list(plan_fails)
            breach = ratio > TIME_TOL * copies
            if breach and name in FLIP_ADJUDICATE:
                flip = _executed_has_broadcast(
                    qs[name](spark, BASE_SF)
                ) and not _executed_has_broadcast(qs[name](spark, scaled))
                if flip:
                    with session_conf(
                        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
                    ):
                        t_smj = obs.run(spark, name, qs[name], BASE_SF)["sec"]
                    ratio = times[1] / t_smj
                    breach = ratio > TIME_TOL * copies
                    notes.append(
                        "broadcast->shuffle flip adjudicated: forced-SMJ "
                        f"1x {t_smj:.2f}s, normalized ratio {ratio:.1f}"
                    )
            if name in OUTPUT_BOUND:
                pu1 = times[0] / max(units[0], 1) * 1e6
                puN = times[1] / max(units[1], 1) * 1e6
                unit_ok = puN <= UNIT_TOL * pu1
                notes.append(
                    f"pairs {units[0]}->{units[1]}, per-Mpair "
                    f"{pu1:.2f}->{puN:.2f}s"
                    + ("" if unit_ok else " FAIL: per-unit cost grew")
                )
                # output-bound: the wall gate is the per-unit gate
                breach = not unit_ok
            note = "ok" if not notes else "; ".join(notes)
            print(
                f"{family:9s} {name:34s} {times[0]:7.2f} {times[1]:7.2f} "
                f"{ratio:6.1f}  {note}",
                flush=True,
            )
            if breach:
                failures.append(
                    f"{name}: superlinear {ratio:.1f}x at {copies} copies"
                )
            failures.extend(f"{name}: {f}" for f in plan_fails)
    if failures:
        print("SCALE FAILURES:")
        for f in failures:
            print(f"  {f}")
        sys.exit(1)
    print("all relational families scale <= ~linear with plans intact")


if __name__ == "__main__":
    main()
