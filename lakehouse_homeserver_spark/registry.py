"""Central query registry: merges every operator module's QUERIES/ORACLES.

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract) and by the local parity tests / bench. Queries come
in module order, then definition order within each module.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _load_modules():
    from .operators import (
        relational,
        dedup,
        similarity,
        text,
        multimodal,
        timeseries,
        sqlsurface,
        sampling,
        udfs,
        pipeline,
        acid,
        quality,
        retrieval,
        dml,
        interop,
        mmexport,
    )

    return [
        relational,
        dedup,
        similarity,
        text,
        multimodal,
        timeseries,
        sqlsurface,
        sampling,
        udfs,
        pipeline,
        acid,
        quality,
        retrieval,
        dml,
        interop,
        mmexport,
    ]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _load_modules():
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _load_modules():
        out.update(m.ORACLES)
    return out
