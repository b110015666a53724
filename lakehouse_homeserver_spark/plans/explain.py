"""Physical-plan introspection (SURVEY.md §4).

The optimizer work is Catalyst's; our job is to *verify* we didn't
accidentally write a plan it can't optimize. These helpers parse
``explain("formatted")`` output so tests can assert the properties
that decide 100 TB viability:

- filters reached the parquet scan (``PushedFilters``),
- the scan reads only projected columns (``ReadSchema``),
- dimension joins broadcast instead of shuffling the fact table,
- nothing degenerated into a CartesianProduct / unbounded
  BroadcastNestedLoopJoin.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists read by each parquet scan (one list per scan)."""
    plan = formatted_plan(df)
    scans = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        scans.append(cols)
    return scans


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def assert_no_cartesian(df: DataFrame, allow_broadcast_nl: bool = False) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, "plan contains a cartesian product"
    if not allow_broadcast_nl:
        assert "BroadcastNestedLoopJoin" not in plan, (
            "plan contains a nested-loop join"
        )
