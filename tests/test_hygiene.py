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


def test_survey_labels_match_correctness_union():
    """VERDICT r6+r7 recurring item: SURVEY §8's inline 'driver-green
    rN' labels went stale every round when hand-edited. They are now
    generated from the CORRECTNESS_r*.json union by
    scripts/refresh_survey_labels.py; this gate fails the suite if
    anyone forgets to run it after a new CORRECTNESS artifact lands."""
    r = subprocess.run(
        ["python", os.path.join(REPO, "scripts", "refresh_survey_labels.py"),
         "--check"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stdout[-3000:]


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


def test_label_gate_tolerates_post_commit_artifact_drop(monkeypatch):
    """VERDICT r8 what's-wrong #1: the driver drops CORRECTNESS_r{N}
    AFTER the builder's last commit, so --check must tolerate labels
    whose ONLY staleness source is an artifact committed after
    SURVEY.md's last commit (or still untracked) — and keep failing
    on labels the builder had a chance to refresh."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "refresh_survey_labels",
        os.path.join(REPO, "scripts", "refresh_survey_labels.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    stale = [(1, "q_x", "driver-green r8 (CORRECTNESS_r08)",
              "driver-green r9 (CORRECTNESS_r09)")]
    monkeypatch.setattr(
        mod, "_rounds_by_query", lambda: {"q_x": [7, 8, 9]}
    )

    times = {"SURVEY.md": 100, "CORRECTNESS_r09.json": 200}
    monkeypatch.setattr(mod, "_last_commit_time", lambda p: times[p])
    hard, soft = mod._tolerated(stale)
    assert hard == [] and soft == stale  # artifact landed after SURVEY

    times = {"SURVEY.md": 300, "CORRECTNESS_r09.json": 200}
    hard, soft = mod._tolerated(stale)
    assert hard == stale and soft == []  # builder saw it; must refresh

    # untracked artifact (no commit yet) reads as "newer than any"
    times = {"SURVEY.md": 300, "CORRECTNESS_r09.json": 2**63}
    hard, soft = mod._tolerated(stale)
    assert hard == [] and soft == stale

    # forgotten-refresh masking (r9 review finding): label is TWO
    # rounds stale; the intermediate artifact was committed before
    # SURVEY.md — the builder saw it and forgot. Even though the
    # latest artifact landed post-commit, the label must stay hard.
    stale2 = [(1, "q_x", "driver-green r7 (CORRECTNESS_r07)",
               "driver-green r9 (CORRECTNESS_r09)")]
    times = {"SURVEY.md": 300, "CORRECTNESS_r08.json": 200,
             "CORRECTNESS_r09.json": 400}
    hard, soft = mod._tolerated(stale2)
    assert hard == stale2 and soft == []

    # degenerate git info fails CLOSED: no repo -> None everywhere
    times = {"SURVEY.md": 300, "CORRECTNESS_r09.json": 400}
    monkeypatch.setattr(mod, "_last_commit_time", lambda p: None)
    hard, soft = mod._tolerated(stale)
    assert hard == stale and soft == []
    # shallow clone: every file collapses to the tip timestamp ->
    # strict > keeps it hard
    monkeypatch.setattr(mod, "_last_commit_time", lambda p: 500)
    hard, soft = mod._tolerated(stale)
    assert hard == stale and soft == []


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
