"""Repo-hygiene invariants over the package source and the
measurement harness (`bench.py`, `scripts/`).

These tests read SOURCE, not data — they are cheap and run first.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "lakehouse_homeserver_spark")


def _sources() -> list[str]:
    """Repo-relative paths of the package's Python files, `bench.py`,
    and the Python and shell files under `scripts/`."""
    out = ["bench.py"]
    for top in (PKG, os.path.join(REPO, "scripts")):
        for root, dirs, files in os.walk(top):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            out.extend(
                os.path.relpath(os.path.join(root, f), REPO)
                for f in sorted(files)
                if f.endswith((".py", ".sh"))
            )
    return out


def _package_hits(pattern: str, flags: int = 0, skip: tuple = ()) -> list[str]:
    """`file:line` of every source line (see `_sources`) matching
    `pattern`, except in the repo-relative files named in `skip`."""
    pat = re.compile(pattern, flags)
    hits = []
    for rel in _sources():
        if rel in skip:
            continue
        with open(os.path.join(REPO, rel)) as fh:
            for lineno, line in enumerate(fh, 1):
                if pat.search(line):
                    hits.append(f"{rel}:{lineno}")
    return hits


def test_package_tmp_dirs_come_from_workspace():
    """`workspace.py` owns every directory the engine writes outside
    the warehouse; any other temp dir or `/tmp` path is state nothing
    removes. The one exception is the scale scripts' clone dir
    (`scale_smoke.scaled_clones`), which is kept on purpose so a
    later run can reuse it."""
    bad = _package_hits(
        r'mkdtemp\(|TemporaryDirectory\(|"/tmp',
        skip=("lakehouse_homeserver_spark/workspace.py", "scripts/scale_smoke.py"),
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
        skip=("lakehouse_homeserver_spark/workspace.py",),
    )
    assert not bad, "catalog state outside workspace.py: " + ", ".join(bad)


def test_package_has_no_map_in_pandas():
    """One map path across the Python boundary: map kernels go
    through `map_rows` / `mapInArrow`, and pandas is used only for
    grouped ops (`applyInPandas`). A `.mapInPandas(` call is a second
    path."""
    bad = _package_hits(r"\.mapInPandas\(")
    assert not bad, "mapInPandas call sites: " + ", ".join(bad)


def test_package_cites_no_round_history():
    """Comments state what the code does and why, not the history
    behind it: a `VERDICT rN`, `rN review`, `(rN)`, `round-N`, `since
    r8`, `optimization r12/r13` or `late r11` citation is provenance,
    not a reason. A bare `rN` that is a name is not a citation: a
    function `def r4(`, a SQL CTE `r0 AS (`, a SQL alias (`region r2`,
    `r2.r_name`), a string `"r2"` or a path such as `plans/r13/`."""
    bad = _package_hits(
        r"\b(VERDICT|ADVICE) r\d+|\br\d+ (review|advice|shape|version)\b"
        r"|\(r\d+\)|\bround-\d+"
        r"|(?-i:(?<![\w/\"'])(?<!region )r\d{1,2}\b(?!\(|\.\w| AS \())",
        re.IGNORECASE,
    )
    assert not bad, "round-history citations: " + ", ".join(bad)


def test_package_pins_through_common():
    """`operators/common.py` owns materialization: `pin` is the one way
    to keep an intermediate and `unpin`/`unpin_all` the one way to
    release it. A `.cache()`, `.persist(`, `.localCheckpoint(`,
    `.unpersist(` or `clearCache(` elsewhere is storage with no owner,
    which outlives its query and changes what a later query costs."""
    bad = _package_hits(
        r"\.localCheckpoint\(|\.cache\(\)|\.persist\(|\.unpersist\(|clearCache\(",
        skip=("lakehouse_homeserver_spark/operators/common.py",),
    )
    assert not bad, "materialization outside common.py: " + ", ".join(bad)


def test_package_sets_conf_through_session_conf():
    """A query that needs a Spark conf for part of its plan scopes it
    with `common.session_conf`, which restores the session on exit;
    only `session.py`'s `tune_session` sets session defaults. A bare
    `spark.conf.set(` is a conf change that can outlive its query."""
    bad = _package_hits(
        r"spark\.conf\.set\(",
        skip=(
            "lakehouse_homeserver_spark/operators/common.py",
            "lakehouse_homeserver_spark/session.py",
        ),
    )
    assert not bad, "conf writes outside session_conf: " + ", ".join(bad)


def test_noop_sink_only_in_obs():
    """`obs.run` is the one timed run of a query and materializes it
    through the noop sink; a noop write elsewhere is a second timing
    loop whose numbers mean something else."""
    bad = _package_hits(
        r'format\("noop"\)', skip=("lakehouse_homeserver_spark/obs.py",)
    )
    assert not bad, "noop sinks outside obs.py: " + ", ".join(bad)
