"""Repo-hygiene invariants that keep the janitor/driver machinery
mechanical instead of hand-maintained (r8 advice + verdict #1).

These tests read SOURCE, not data — they are cheap and run first.
"""

from __future__ import annotations

import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_sources() -> list[str]:
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [
            d
            for d in dirs
            if d
            not in (".git", "__pycache__", "spark-warehouse", ".claude")
        ]
        for f in files:
            if f.endswith(".py"):
                out.append(os.path.join(root, f))
    return out


def test_scratch_mkdtemp_prefixes_are_namespaced():
    """r8 advice: the janitor's age-based scratch sweep rmtree's /tmp
    dirs by prefix. Every scratch mkdtemp/TemporaryDirectory prefix in
    the project must live under the single project-unique
    'lakehouse-scratch-' namespace, so the sweep can never match (and
    delete) another tool's /tmp dirs. Fixture families use the
    'lakehouse-' + registry naming and are exempt (they are swept by
    the registry-driven fixture pass, not by prefix age)."""
    # r8 advice: the old gate only matched double-quoted keyword
    # literals; an f-string, single-quoted, variable, or positional
    # prefix silently evaded it. Walk the AST instead: every call to
    # mkdtemp/TemporaryDirectory must pass a plain str-literal prefix
    # (positional slot 1 for mkdtemp args (suffix, prefix, dir), any
    # positional for TemporaryDirectory is slot 1 too) that starts
    # with 'lakehouse-'. Calls with no prefix at all are fine (pure
    # tmp, never swept by prefix).
    import ast

    bad = []
    for path in _py_sources():
        rel = os.path.relpath(path, REPO)
        if rel.startswith("tests" + os.sep):
            continue  # pytest tmp_path is the test convention
        with open(path) as fh:
            src = fh.read()
        if "mkdtemp" not in src and "TemporaryDirectory" not in src:
            continue
        tree = ast.parse(src)
        # r9 review: `from tempfile import mkdtemp as mk` must not
        # evade the gate — collect local alias names too.
        names = {"mkdtemp", "TemporaryDirectory"}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                for a in node.names:
                    if a.name in ("mkdtemp", "TemporaryDirectory"):
                        names.add(a.asname or a.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None)
            if name not in names:
                continue
            prefix_node = None
            for kw in node.keywords:
                if kw.arg == "prefix":
                    prefix_node = kw.value
            if prefix_node is None and len(node.args) >= 2:
                prefix_node = node.args[1]  # (suffix, prefix, dir)
            if prefix_node is None:
                continue
            # explicit prefix=None is the stdlib default: no prefix,
            # never swept by prefix — fine (r9 review)
            if (
                isinstance(prefix_node, ast.Constant)
                and prefix_node.value is None
            ):
                continue
            if (
                isinstance(prefix_node, ast.Constant)
                and isinstance(prefix_node.value, str)
            ):
                if not prefix_node.value.startswith("lakehouse-"):
                    bad.append(
                        f"{rel}:{node.lineno}: {prefix_node.value!r}"
                    )
            else:
                bad.append(
                    f"{rel}:{node.lineno}: non-literal prefix "
                    "(unverifiable by the janitor-safety gate)"
                )
    assert not bad, (
        "non-namespaced scratch tmp prefixes (janitor sweep hazard): "
        + "; ".join(bad)
    )


def test_janitor_dry_run_never_fails():
    """The janitor's contract is exit code 0 always; a missing table
    in one sf_dir must not abort the sweep (r8 advice — the
    _source_fingerprint FileNotFoundError class)."""
    r = subprocess.run(
        ["python", os.path.join(REPO, "scripts", "fixture_janitor.py"),
         "--dry-run"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "== kept (live fixture families) ==" in r.stdout


def test_package_has_no_map_in_pandas():
    """One map path across the Python boundary: map kernels go
    through `map_rows` / `mapInArrow`, and pandas is used only for
    grouped ops (`applyInPandas`). A `.mapInPandas(` call in the
    package is a second path."""
    pkg = os.path.join(REPO, "lakehouse_homeserver_spark") + os.sep
    bad = []
    for path in _py_sources():
        if not path.startswith(pkg):
            continue
        with open(path) as fh:
            for lineno, line in enumerate(fh, 1):
                if ".mapInPandas(" in line:
                    bad.append(f"{os.path.relpath(path, REPO)}:{lineno}")
    assert not bad, "mapInPandas call sites: " + ", ".join(bad)


def test_package_cites_no_round_history():
    """Engine comments state what the code does and why, not the
    history behind it: a `VERDICT rN` / `ADVICE rN` citation in the
    package is provenance, not a reason."""
    pkg = os.path.join(REPO, "lakehouse_homeserver_spark") + os.sep
    cite = re.compile(r"\b(VERDICT|ADVICE) r\d+")
    bad = []
    for path in _py_sources():
        if not path.startswith(pkg):
            continue
        with open(path) as fh:
            for lineno, line in enumerate(fh, 1):
                if cite.search(line):
                    bad.append(f"{os.path.relpath(path, REPO)}:{lineno}")
    assert not bad, "round-history citations: " + ", ".join(bad)
