"""Standalone snapshot-format reader: pyarrow + stdlib ONLY.

Reads any `SnapshotTable` directory WITHOUT Spark (and without
importing the engine's own reader) — the tool a downstream consumer
uses to pull a table into pandas/Arrow from a notebook, a lambda, or
a CI check, the way `deltalake`/`pyiceberg` expose engine-free
readers over their formats. Because it shares no code with
`sources/snapshot.py`, it doubles as the format's CONFORMANCE
reference: `tests/test_format_conformance.py` asserts it reproduces
`SnapshotTable.read()` at every version of a mixed
append/delete/evolution/cherry-pick/compaction history, and the
threaded mutation fuzzer uses it to prove every concurrently
published snapshot is reconstructable from disk alone.

Layout read (documented in sources/snapshot.py):
    <table>/_log/<version 020d>.json   commit entries (CAS-published)
    <table>/_log/manifests/<sidecar>   manifest-list indirection
    <table>/data/<name>.parquet        data + delete files

Spec rules applied:
  - per-file sequence numbers (entries predating `seq` default every
    file to the entry's own version);
  - a MoR delete file applies to a data file iff delete.seq >
    data-file seq (Iceberg's rule — appends after a delete are
    unaffected);
  - equality delete files anti-join their key columns; positional
    delete files anti-join (file basename, row ordinal);
  - schema evolution null-fills columns a file predates.

Intentionally NOT implemented here: predicate pushdown, bloom/stats
pruning, streaming. This is the portability/recovery path; the
engine path (`SnapshotTable.read`) is the performance path.
"""

from __future__ import annotations

import json
import os

_MANIFEST_KEYS = ("manifest", "stats", "seq", "blooms")


def list_versions(table: str) -> list[int]:
    """All live snapshot versions, ascending."""
    log = os.path.join(table, "_log")
    if not os.path.isdir(log):
        raise FileNotFoundError(f"{table}: not a snapshot table (no _log)")
    return sorted(
        int(f[:-5])
        for f in os.listdir(log)
        if f.endswith(".json") and not f.startswith(".") and f[:-5].isdigit()
    )


def read_entry(table: str, version: int) -> dict:
    """One commit entry with its manifest-list sidecar resolved."""
    log = os.path.join(table, "_log")
    with open(os.path.join(log, f"{version:020d}.json")) as fh:
        e = json.load(fh)
    ref = e.get("manifest_ref")
    if ref is not None:
        with open(os.path.join(log, "manifests", ref)) as fh:
            payload = json.load(fh)
        e = {**e, **{k: payload[k] for k in _MANIFEST_KEYS if k in payload}}
    return e


def read_pandas(table: str, version: int | None = None):
    """Visible rows of one snapshot as a pandas DataFrame, schema
    columns in commit order, MoR deletes applied."""
    import numpy as np
    import pyarrow.parquet as pq

    vs = list_versions(table)
    if not vs:
        raise FileNotFoundError(f"{table}: table has no snapshots")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"{table}: no snapshot {v} (have {vs})")
    e = read_entry(table, v)
    cols = [f["name"] for f in json.loads(e["schema"])["fields"]]
    data = os.path.join(table, "data")
    # Mirror the engine's _file_seq rule EXACTLY: only a
    # missing/None seq map falls back to per-entry-version defaults; a
    # present-but-empty map means "no files carry a seq" and files
    # absent from it default to 0 via seq.get(fname, 0) below. The
    # previous `or`-form treated {} as absent, diverging on that edge.
    seq = e.get("seq")
    if seq is None:
        seq = {f: e["version"] for f in e["manifest"]}
    dels = e.get("delete_files", [])

    frames = []
    for fname in e["manifest"]:
        pdf = pq.read_table(os.path.join(data, fname)).to_pandas()
        pdf["_pos"] = range(len(pdf))
        fseq = seq.get(fname, 0)
        for d in dels:
            if d["seq"] <= fseq:
                continue  # older than this data file: does not apply
            dkeys = pq.read_table(os.path.join(data, d["file"])).to_pandas()
            if d.get("kind") == "positional":
                mine = dkeys[dkeys["_file"] == fname]
                pdf = pdf[~pdf["_pos"].isin(set(mine["_pos"]))]
            else:
                kcols = list(d["columns"])
                if not all(c in pdf.columns for c in kcols):
                    continue  # pre-evolution file lacks the key column
                keyset = set(
                    map(tuple, dkeys[kcols].itertuples(index=False))
                )
                # typed bool array, never a bare list: an EMPTY python
                # list would select zero COLUMNS, not zero rows
                mask = np.fromiter(
                    (
                        tuple(row) not in keyset
                        for row in pdf[kcols].itertuples(index=False)
                    ),
                    dtype=bool,
                    count=len(pdf),
                )
                pdf = pdf[mask]
        pdf = pdf.drop(columns=["_pos"])
        for c in cols:  # schema evolution: null-fill missing columns
            if c not in pdf.columns:
                pdf[c] = None
        frames.append(pdf[cols])
    if not frames:
        import pandas as pd

        return pd.DataFrame(columns=cols)
    import pandas as pd

    return pd.concat(frames, ignore_index=True)
