"""Repo-hygiene invariants over the package source.

These tests read SOURCE, not data — they are cheap and run first.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "lakehouse_homeserver_spark")


def _package_hits(pattern: str, flags: int = 0, skip: tuple = ()) -> list[str]:
    """`file:line` of every package source line matching `pattern`,
    except in the files named in `skip`."""
    pat = re.compile(pattern, flags)
    hits = []
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in sorted(files):
            path = os.path.join(root, f)
            if not f.endswith(".py") or os.path.relpath(path, PKG) in skip:
                continue
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    if pat.search(line):
                        hits.append(f"{os.path.relpath(path, REPO)}:{lineno}")
    return hits


def test_package_tmp_dirs_come_from_workspace():
    """`workspace.py` owns every directory the engine writes outside
    the warehouse; any other temp dir or `/tmp` path in the package
    is state nothing removes."""
    bad = _package_hits(
        r'mkdtemp\(|TemporaryDirectory\(|"/tmp', skip=("workspace.py",)
    )
    assert not bad, "temp dirs outside workspace.py: " + ", ".join(bad)


def test_package_catalog_tables_come_from_workspace():
    """Catalog tables are external tables over workspace fixtures or
    scratch (`workspace.save_table` / `catalog_table`). A managed
    table, a database or a metastore elsewhere in the package puts
    files under `spark.sql.warehouse.dir`, which outlive the
    in-memory catalog that owns them."""
    bad = _package_hits(
        r"saveAsTable\(|spark\.sql\.warehouse\.dir|catalogImpl"
        r"|CREATE DATABASE",
        re.IGNORECASE,
        skip=("workspace.py",),
    )
    assert not bad, "catalog state outside workspace.py: " + ", ".join(bad)


def test_package_has_no_map_in_pandas():
    """One map path across the Python boundary: map kernels go
    through `map_rows` / `mapInArrow`, and pandas is used only for
    grouped ops (`applyInPandas`). A `.mapInPandas(` call in the
    package is a second path."""
    bad = _package_hits(r"\.mapInPandas\(")
    assert not bad, "mapInPandas call sites: " + ", ".join(bad)


def test_package_cites_no_round_history():
    """Engine comments state what the code does and why, not the
    history behind it: a `VERDICT rN`, `rN review`, `(rN)` or
    `round-N` citation in the package is provenance, not a reason."""
    bad = _package_hits(
        r"\b(VERDICT|ADVICE) r\d+|\br\d+ (review|advice|shape|version)\b"
        r"|\(r\d+\)|\bround-\d+",
        re.IGNORECASE,
    )
    assert not bad, "round-history citations: " + ", ".join(bad)
