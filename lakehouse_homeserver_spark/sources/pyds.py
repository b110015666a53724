"""Python DataSource (Spark 4 API) exposing snapshot tables as a
first-class `spark.read.format("snapshot")` source.

The reference stack reads its tables through a catalog-wired format
("iceberg.src.t" — /root/reference/scripts/extract_load.py:87-110);
this module gives the commit-log table format the same first-class
read surface using PySpark 4's user-defined data source API
(pyspark.sql.datasource) instead of a JVM catalog plugin:

    spark.dataSource.register(SnapshotDataSource)
    spark.read.format("snapshot").load("/path/to/table")
    spark.read.format("snapshot").option("version", 3).load(...)
    spark.readStream.format("snapshot").load(...)   # tail the commit log

Design:
- `schema()` resolves from the snapshot log (driver-side JSON read,
  no Spark job) — the requested version's schema, so time travel
  surfaces the schema AS OF that snapshot.
- One `InputPartition` per live data file (the manifest IS the split
  plan); each task streams its file as Arrow record batches via
  pyarrow — batch-columnar end to end, no per-row Python loop.
- Files written before a schema evolution lack the later columns;
  the reader null-fills and reorders every batch to the snapshot
  schema — the same projection `SnapshotTable.read()` gets from
  `spark.read.schema(...)`.

This path is the INTEGRATION surface (format-string reads, catalog
UIs, tools that only know `spark.read.format`). Catalog DDL
(`CREATE TABLE ... USING snapshot OPTIONS (path ...)`) resolves the
SCHEMA correctly but Spark 4.1 hands the Python reader EMPTY options
at scan time for DDL-registered tables (verified; the `_local` URI
normalization below covers the schema call) — until that lands
upstream, register tables as temp views over `SnapshotTable.read()`
or use `spark.read.format("snapshot")` directly. `SnapshotTable.read()`
remains the fast path: it hands the manifest straight to the native
parquet scan (JVM vectorized reader, pushdown, pruning). Same table,
same snapshots, two doors.

Filter pushdown: `SnapshotReader.pushFilters` requires
``spark.sql.python.filterPushdown.enabled=true`` — Spark 4.1 REFUSES
to plan a reader that overrides pushFilters while the conf is off
(DATA_SOURCE_PUSHDOWN_DISABLED). The engine sets it in
`session.default_conf()` (runtime-settable, applied by
`tune_session`); external sessions reading this format must set it
too.
"""

from __future__ import annotations

import json
import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"


def _local(path: str) -> str:
    """Catalog DDL (`CREATE TABLE ... USING snapshot`) hands the
    source a `file:` URI; normalize to a filesystem path. Other
    schemes surface loudly (the object-store seam)."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    return path


def _versions(table_path: str) -> list[int]:
    log = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log):
        raise FileNotFoundError(f"{table_path}: not a snapshot table (no _log)")
    # tolerate foreign .json files (notes.json etc.) exactly like
    # SnapshotTable.versions() — a stray non-numeric name must not
    # kill a RUNNING stream, whose latestOffset calls this every
    # trigger
    out = []
    for f in os.listdir(log):
        if not f.endswith(".json") or f.startswith("."):
            continue
        try:
            out.append(int(f[: -len(".json")]))
        except ValueError:
            continue
    return sorted(out)


def _resolve_manifest(table_path: str, e: dict) -> dict:
    """Resolve manifest-list indirection (snapshot.py `_write_entry`):
    large snapshots keep their O(files) payload — manifest, stats,
    seq, blooms — in a sidecar under `_log/manifests/`, with the log
    entry holding only a pointer. Every pyds read path funnels
    through here so partition planning sees one entry shape."""
    ref = e.pop("manifest_ref", None)
    if ref is not None:
        with open(
            os.path.join(table_path, _LOG_DIR, "manifests", ref)
        ) as fh:
            e.update(json.load(fh))
    return e


def _entry_file_seq(entry: dict) -> dict[str, int]:
    """Per-data-file sequence numbers — LOCAL mirror of the engine's
    `snapshot._file_seq` spec rule: only a MISSING
    `seq` map falls back to per-entry-version defaults (pre-seq-era
    entries); a present-but-empty/partial map means unlisted files
    predate every delete (callers default them to 0 via
    ``.get(f, 0)``). Duplicated here ON PURPOSE rather than imported:
    this module is cloudpickled BY VALUE into the Python streaming
    source runner, where a relative engine import fails (the
    local-cluster sweep caught exactly that on a first attempt that imported
    `_file_seq`). The format-conformance suite pins all three readers
    (engine, standalone, pyds) to the same rule on hand-crafted
    logs, so drift between the mirrors fails CI."""
    seq = entry.get("seq")
    if seq is None:
        return {f: entry["version"] for f in entry["manifest"]}
    return seq


def _read_entry(
    table_path: str,
    version: int | str | None,
    as_of_ms: int | None = None,
) -> dict:
    log = os.path.join(table_path, _LOG_DIR)
    if not os.path.isdir(log):
        raise FileNotFoundError(f"{table_path}: not a snapshot table (no _log)")
    versions = sorted(
        int(f[: -len(".json")])
        for f in os.listdir(log)
        if f.endswith(".json") and not f.startswith(".")
    )
    if not versions:
        raise FileNotFoundError(f"{table_path}: table has no snapshots")
    if isinstance(version, str):  # tag name (VERSION AS OF 'tag')
        ref = os.path.join(table_path, "_refs", f"{version}.json")
        if not os.path.isfile(ref):
            raise ValueError(f"{table_path}: no tag {version!r}")
        with open(ref) as fh:
            version = json.load(fh)["version"]
    if as_of_ms is not None:
        # option("timestampAsOf", ms) — Iceberg FOR TIMESTAMP AS OF /
        # Delta timestampAsOf, same latest-at-or-before rule as
        # SnapshotTable.version_as_of. timestamp_ms lives in the entry
        # head, so this never resolves manifest sidecars.
        if version is not None:
            raise ValueError("pass version OR timestampAsOf, not both")
        best = None
        for v in versions:
            with open(os.path.join(log, f"{v:020d}.json")) as fh:
                if json.load(fh)["timestamp_ms"] <= as_of_ms:
                    best = v
        if best is None:
            raise ValueError(
                f"{table_path}: no snapshot at or before {as_of_ms}"
            )
        version = best
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"{table_path}: no snapshot {v} (have {versions})")
    with open(os.path.join(log, f"{v:020d}.json")) as fh:
        return _resolve_manifest(table_path, json.load(fh))


class SnapshotPartition(InputPartition):
    def __init__(self, file_path: str, deletes: list[tuple[list[str], list[str]]]):
        self.file_path = file_path
        # [(equality_columns, [delete_file_paths])] applicable to this
        # data file (delete seq > data-file seq), resolved at plan time.
        self.deletes = deletes


class SnapshotReader(DataSourceReader):
    def __init__(self, schema: StructType, entry: dict, table_path: str):
        self._schema = schema
        self._entry = entry
        self._table_path = table_path
        self._pushed: list = []

    def pushFilters(self, filters):
        """Spark 4.1 Python-DataSource filter pushdown
        (DataSourceReader.pushFilters): remember the simple
        single-column comparisons so `partitions()` can skip whole
        data files via the manifest's commit-time footer stats (and
        the per-file bloom filters for equality) — the same
        metadata-only job `SnapshotTable.prune_files` does for native
        scans, now wired into the V2 scan path so
        ``spark.read.format("snapshot").load(p).filter(...)`` plans
        only the overlapping files. EVERY filter is yielded back:
        file-level stats pruning can never fully absorb a row
        predicate, so Spark re-applies them all — pruning stays an
        optimization, never a correctness decision."""
        from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

        for f in filters:
            if (
                isinstance(f, (EqualTo, GreaterThan, LessThan))
                and len(f.attribute) == 1
            ):
                self._pushed.append(f)
            yield f

    def _file_may_match(self, fname: str) -> bool:
        """Conservative per-file check of every pushed filter against
        the manifest stats/blooms: a definite NO skips the file;
        missing stats, type mismatches, or any comparison error keep
        it (skipping is an optimization, never a correctness
        decision — mirrors `SnapshotTable.prune_files`)."""
        from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

        from .snapshot import _bloom_contains

        stats = self._entry.get("stats", {}).get(fname, {})
        blooms = self._entry.get("blooms", {}).get(fname, {})
        for flt in self._pushed:
            col = flt.attribute[0]
            rng = stats.get(col)
            try:
                if rng is not None:
                    lo, hi = rng[0], rng[1]
                    if isinstance(flt, EqualTo) and not (lo <= flt.value <= hi):
                        return False
                    if isinstance(flt, GreaterThan) and hi <= flt.value:
                        return False
                    if isinstance(flt, LessThan) and lo >= flt.value:
                        return False
                if isinstance(flt, EqualTo):
                    b = blooms.get(col)
                    if b is not None and not _bloom_contains(b, flt.value):
                        return False
            except TypeError:
                continue  # incomparable types: keep the file
        return True

    def partitions(self):
        data = os.path.join(self._table_path, _DATA_DIR)
        e = self._entry
        dels = e.get("delete_files", [])
        seq = _entry_file_seq(e)
        out = []
        files = [f for f in e["manifest"] if self._file_may_match(f)]
        for f in files:
            applicable: dict[tuple, list[str]] = {}
            for d in dels:
                if d["seq"] > seq.get(f, 0):
                    key = (
                        ("__positional__",)
                        if d.get("kind") == "positional"
                        else tuple(d["columns"])
                    )
                    applicable.setdefault(key, []).append(
                        os.path.join(data, d["file"])
                    )
            out.append(
                SnapshotPartition(
                    os.path.join(data, f),
                    [(list(k), v) for k, v in applicable.items()],
                )
            )
        return out

    def read(self, partition: SnapshotPartition):
        # partitions() may legitimately return [] when pushed filters
        # prune EVERY data file; Spark then calls read with a single
        # None partition — an empty scan, not an error.
        if partition is None:
            return
        yield from _iter_file_batches(self._schema, partition)


def _iter_file_batches(
    schema: StructType, partition: SnapshotPartition, keep_ord: bool = False
):
    """Arrow-batch scan of one data file, shared by the batch reader
    and the stream reader: null-fill across schema evolution, then
    MoR delete application (Arrow-side, columnar) — EQUALITY delete
    files anti-join on their key columns; POSITIONAL delete files
    (sentinel key `__positional__`, carrying (_file basename, _pos
    row ordinal) pairs) mask rows by the reader's own running row
    ordinal, numpy-vectorized. `keep_ord=True` appends the surviving
    rows' original file ordinals as an `__ord` column (the CDC stream
    reader's positional delete REPLAY needs them)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_name = os.path.basename(partition.file_path)
    # Union each delete-key set once per partition. Key sets are
    # small by contract (large deletes are CoW), so this stays
    # in-memory columnar — no per-row Python.
    del_tables = []
    pos_sets = []
    for cols, paths in partition.deletes:
        tab = pa.concat_tables([pq.read_table(p) for p in paths])
        if list(cols) == ["__positional__"]:
            mine = tab.filter(
                pa.compute.equal(tab.column("_file"), pa.scalar(base_name))
            )
            pos_sets.append(
                mine.column("_pos").to_numpy(zero_copy_only=False)
            )
        else:
            del_tables.append((cols, tab))
    dead = (
        np.unique(np.concatenate(pos_sets)).astype(np.int64)
        if pos_sets
        else None
    )
    want = [f.name for f in schema.fields]
    pf = pq.ParquetFile(partition.file_path)
    have = set(pf.schema_arrow.names)
    present = [c for c in want if c in have]
    off = 0
    for batch in pf.iter_batches(columns=present):
        n = batch.num_rows
        ords = np.arange(off, off + n, dtype=np.int64)
        off += n
        cols = {c: batch.column(batch.schema.get_field_index(c)) for c in present}
        arrays = []
        for c in want:
            if c in cols:
                arrays.append(cols[c])
            else:  # pre-evolution file: null-fill the later column
                arrays.append(pa.nulls(n))
        out = pa.RecordBatch.from_arrays(arrays, names=want)
        if dead is not None:
            keep = ~np.isin(ords, dead, assume_unique=False)
            if not keep.all():
                mask = pa.array(keep)
                out = pa.Table.from_batches([out]).filter(mask).combine_chunks()
                out = out.to_batches()[0] if out.num_rows else None
                ords = ords[keep]
                if out is None:
                    continue
        if del_tables:
            tbl = pa.Table.from_batches([out])
            tbl = tbl.append_column("__ord", pa.array(ords, pa.int64()))
            for cols_, dtab in del_tables:
                tbl = tbl.join(
                    dtab.group_by(cols_).aggregate([]),
                    keys=cols_,
                    join_type="left anti",
                )
            names = want + (["__ord"] if keep_ord else [])
            tbl = tbl.select(names).combine_chunks()
            for b in tbl.to_batches():
                if b.num_rows:
                    yield b
        else:
            if keep_ord:
                out = pa.RecordBatch.from_arrays(
                    list(out.columns) + [pa.array(ords, pa.int64())],
                    names=want + ["__ord"],
                )
            yield out


class SnapshotStreamReader(DataSourceStreamReader):
    """Tail the commit log as a structured stream (Delta streaming
    source / Iceberg incremental append scan): each micro-batch is
    exactly the set of files ADDED by the snapshots committed since
    the last batch — offsets are snapshot versions, so progress is
    pure manifest arithmetic and restarts are exactly-once from the
    checkpoint (same contract `SnapshotTable.added_between` gives
    batch consumers).

    Non-append commits (replace / delete / rollback) make "what
    changed" inexpressible as added files; like Delta's source
    without `skipChangeCommits`, the stream fails loudly rather than
    silently missing changes. At 100 TB: offset resolution is a
    driver-side JSON listing; data movement is one executor task per
    new file — O(new data) per batch, never O(table).
    """

    def __init__(self, schema: StructType, table_path: str, start_version: int):
        self._schema = schema
        self._table_path = table_path
        self._start = start_version

    def initialOffset(self) -> dict:
        # Offset = "consumed through snapshot N" (exclusive start of
        # the next batch). Default 0 = replay the whole table, the
        # file-source convention the reference's incremental loader
        # also follows (process everything not yet bookkept).
        return {"version": self._start}

    def latestOffset(self) -> dict:
        vs = _versions(self._table_path)
        return {"version": vs[-1] if vs else self._start}

    def partitions(self, start: dict, end: dict):
        data = os.path.join(self._table_path, _DATA_DIR)
        out = []
        # Versions are consecutive by the commit protocol, so every
        # version in (start, end] must still exist — a gap means
        # expire_snapshots removed log entries the stream had not yet
        # consumed. Fail like Delta's failOnDataLoss rather than
        # silently skipping the expired commits' rows.
        for v in range(start["version"] + 1, end["version"] + 1):
            entry_path = os.path.join(
                self._table_path, _LOG_DIR, f"{v:020d}.json"
            )
            if not os.path.isfile(entry_path):
                raise ValueError(
                    f"{self._table_path}: snapshot {v} was expired before "
                    "the stream consumed it — data loss; restart from a "
                    "fresh checkpoint (or retain snapshots longer than "
                    "stream downtime)"
                )
            with open(entry_path) as fh:
                e = _resolve_manifest(self._table_path, json.load(fh))
            # add-only commits keep lineage (same set added_between
            # accepts): the initial create, appends, and cherry-picked
            # (WAP-published) appends.
            if e["operation"] not in ("create", "append", "cherry-pick"):
                raise ValueError(
                    f"{self._table_path}: snapshot {v} is "
                    f"{e['operation']!r}, not an append — streaming "
                    "consumption undefined across replaces/deletes"
                )
            out.extend(
                SnapshotPartition(os.path.join(data, f), [])
                for f in e["added"]
            )
        # A batch may legitimately contain zero files (e.g. offsets
        # advanced by an empty append); Spark requires ≥1 partition.
        return out or [SnapshotPartition("", [])]

    def read(self, partition: SnapshotPartition):
        if not partition.file_path:  # empty-batch placeholder
            return
        yield from _iter_file_batches(self._schema, partition)

    def commit(self, end: dict) -> None:
        # Offsets live in the stream checkpoint; the log needs no
        # consumer-side bookkeeping (readers never write the table).
        pass


def _cdc_fields():
    from pyspark.sql.types import IntegerType, StringType, StructField

    return [
        StructField("_change_type", StringType()),
        StructField("_commit_version", IntegerType()),
    ]


CDC_COLUMNS = [("_change_type", "string"), ("_commit_version", "int")]


class ChangeFeedPartition(InputPartition):
    """One (data file × change type) unit of a CDC micro-batch.
    `deletes` anti-joins (prior MoR files: rows already gone before
    this commit); `semi` keeps ONLY rows matched by this commit's
    delete file (the rows this commit deleted)."""

    def __init__(
        self,
        file_path: str,
        deletes: list[tuple[list[str], list[str]]],
        semi: tuple[list[str], list[str]] | None,
        change: str,
        version: int,
    ):
        self.file_path = file_path
        self.deletes = deletes
        self.semi = semi
        self.change = change
        self.version = version


class SnapshotChangeFeedStreamReader(DataSourceStreamReader):
    """Streaming CHANGE-DATA-FEED (Delta CDF `readChangeFeed` /
    Iceberg changelog scan as a stream): micro-batches carry
    row-level `_change_type` / `_commit_version` for every commit in
    (checkpointed offset, head] — inserts from exactly the added
    files, deletes REPLAYED from the committed MoR delete file
    against the parent snapshot's files. Physical-only commits
    (rewrite / set-spec) emit nothing: compaction does not wake
    downstream consumers. CoW deletes / replaces / rollbacks make
    row-level changes inexpressible from the manifest alone, so the
    stream fails loudly (the boundary where Delta requires persisted
    CDC files).

    This is how a downstream sync (search index, feature store,
    aggregate) follows a mutating 100 TB table at O(changed rows):
    offset math is driver-side JSON; every partition reads one file.
    """

    def __init__(self, schema: StructType, table_path: str, start_version: int):
        self._schema = schema  # includes the CDC meta columns
        self._base = StructType(
            [f for f in schema.fields if f.name not in dict(CDC_COLUMNS)]
        )
        self._table_path = table_path
        self._start = start_version

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        vs = _versions(self._table_path)
        return {"version": vs[-1] if vs else self._start}

    def _entry(self, v: int, *, role: str = "consumed") -> dict:
        entry_path = os.path.join(self._table_path, _LOG_DIR, f"{v:020d}.json")
        if not os.path.isfile(entry_path):
            if role == "parent":
                # The consumed range is intact; only the commit's
                # PARENT entry (needed to replay MoR deletes) is gone
                # — a different failure than losing consumed offsets.
                raise ValueError(
                    f"{self._table_path}: parent snapshot {v} was expired, "
                    "so this commit's row-level deletes can no longer be "
                    "replayed; re-materialize downstream from the current "
                    "table state (the consumed offset range itself is "
                    "intact)"
                )
            raise ValueError(
                f"{self._table_path}: snapshot {v} was expired before the "
                "change feed consumed it — data loss; restart from a fresh "
                "checkpoint"
            )
        with open(entry_path) as fh:
            return _resolve_manifest(self._table_path, json.load(fh))

    def partitions(self, start: dict, end: dict):
        data = os.path.join(self._table_path, _DATA_DIR)
        out: list[ChangeFeedPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            e = self._entry(v)
            op = e["operation"]
            if op in ("create", "append", "cherry-pick"):
                out.extend(
                    ChangeFeedPartition(
                        os.path.join(data, f), [], None, "insert", v
                    )
                    for f in e["added"]
                )
                continue
            if op in ("rewrite", "set-spec", "set-constraint"):
                continue  # physical/metadata-only: zero logical change
            mode = (e.get("properties") or {}).get("mode")
            if (
                op == "delete"
                and mode in ("mor", "mor_positional")
                and v > 1
            ):
                # Resolve the parent from the entry's own 'parent'
                # pointer, not an assumed-contiguous v-1: expire /
                # rollback histories can leave version gaps.
                parent_v = e.get("parent")
                if parent_v is None:
                    parent_v = v - 1
                parent = self._entry(parent_v, role="parent")
                prior = {d["file"] for d in parent.get("delete_files", [])}
                new_dels = [
                    d
                    for d in e.get("delete_files", [])
                    if d["file"] not in prior
                ]
                seq = _entry_file_seq(parent)
                # Union the commit's new delete-key sets per column
                # tuple (one semi over the concatenated key files —
                # several delete files may share a tuple), and cascade
                # earlier tuple groups as extra anti filters so a row
                # matching two different-column key sets is emitted
                # exactly once. Mirrors changes_between's batch MoR
                # branch — both now agree on multi-delete-file commits
                # instead of relying on delete_where's current
                # one-file-per-commit behavior.
                def _key(d: dict) -> tuple:
                    return (
                        ("__positional__",)
                        if d.get("kind") == "positional"
                        else tuple(d["columns"])
                    )

                new_by_cols: dict[tuple, list[str]] = {}
                for nd in new_dels:
                    new_by_cols.setdefault(_key(nd), []).append(
                        os.path.join(data, nd["file"])
                    )
                groups = sorted(new_by_cols.items())
                for f in parent["manifest"]:
                    anti: dict[tuple, list[str]] = {}
                    for d in parent.get("delete_files", []):
                        if d["seq"] > seq.get(f, 0):
                            anti.setdefault(_key(d), []).append(
                                os.path.join(data, d["file"])
                            )
                    base_anti = [(list(k), ps) for k, ps in anti.items()]
                    for i, (cols_t, paths) in enumerate(groups):
                        earlier = [
                            (list(k), ps) for k, ps in groups[:i]
                        ]
                        out.append(
                            ChangeFeedPartition(
                                os.path.join(data, f),
                                base_anti + earlier,
                                (list(cols_t), paths),
                                "delete",
                                v,
                            )
                        )
                continue
            raise ValueError(
                f"{self._table_path}: snapshot {v} is {op!r} — row-level "
                "changes are not expressible from the manifest (CoW "
                "delete/replace/rollback); consume via "
                "SnapshotTable.changes_between in batch instead"
            )
        return out or [ChangeFeedPartition("", [], None, "insert", 0)]

    def read(self, partition: ChangeFeedPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not partition.file_path:
            return
        names = [f.name for f in self._base.fields]
        semi_tab = None
        pos_semi = None
        if partition.semi is not None:
            cols, paths = partition.semi
            if list(cols) == ["__positional__"]:
                # Positional delete replay: emit the parent rows at
                # exactly the recorded ordinals of THIS file — the
                # scan yields surviving rows tagged with their
                # original ordinals (__ord), and membership is a
                # vectorized isin, no key columns involved.
                import numpy as np

                tab = pa.concat_tables([pq.read_table(p) for p in paths])
                mine = tab.filter(
                    pa.compute.equal(
                        tab.column("_file"),
                        pa.scalar(os.path.basename(partition.file_path)),
                    )
                )
                pos_semi = np.unique(
                    mine.column("_pos").to_numpy(zero_copy_only=False)
                ).astype(np.int64)
            else:
                semi_tab = (
                    pa.concat_tables([pq.read_table(p) for p in paths])
                    .group_by(cols)
                    .aggregate([])
                )
        for batch in _iter_file_batches(
            self._base, partition, keep_ord=pos_semi is not None
        ):
            if pos_semi is not None:
                import numpy as np

                ords = batch.column(
                    batch.schema.get_field_index("__ord")
                ).to_numpy(zero_copy_only=False)
                keep = pa.array(np.isin(ords, pos_semi))
                tbl = pa.Table.from_batches([batch]).filter(keep)
                batches = tbl.select(names).combine_chunks().to_batches()
            elif semi_tab is not None:
                tbl = pa.Table.from_batches([batch]).join(
                    semi_tab,
                    keys=partition.semi[0],
                    join_type="left semi",
                )
                batches = tbl.select(names).combine_chunks().to_batches()
            else:
                batches = [batch]
            for b in batches:
                if not b.num_rows:
                    continue
                n = b.num_rows
                yield pa.RecordBatch.from_arrays(
                    list(b.columns)
                    + [
                        pa.array([partition.change] * n, pa.string()),
                        pa.array([partition.version] * n, pa.int32()),
                    ],
                    names=names + [c for c, _ in CDC_COLUMNS],
                )

    def commit(self, end: dict) -> None:
        pass


class MetadataPartition(InputPartition):
    def __init__(self, rows: list[tuple]):
        self.rows = rows


class MetadataReader(DataSourceReader):
    """Iceberg metadata tables (`.snapshots` / `.files` / `.refs` —
    the `iceberg.metadata` surface the reference queries at
    /root/reference/scripts/extract_load.py:58): the commit log
    itself as a DataFrame. Driver-resolved (it IS metadata — O(log)
    JSON, no data scan), shipped as one partition of plain rows."""

    _SCHEMAS = {
        "snapshots": (
            "version bigint, parent bigint, timestamp_ms bigint, "
            "operation string, n_files int, n_added int, row_count bigint"
        ),
        "files": (
            "file string, seq bigint, row_count bigint, "
            "n_stat_columns int, has_blooms boolean"
        ),
        "refs": "name string, type string, version bigint, created_ms bigint",
    }

    def __init__(self, table: str, table_path: str, version: int | str | None):
        self._table = table
        self._path = table_path
        self._version = version

    def schema_ddl(self) -> str:
        return self._SCHEMAS[self._table]

    def _rows(self) -> list[tuple]:
        log = os.path.join(self._path, _LOG_DIR)
        if self._table == "snapshots":
            out = []
            for v in _versions(self._path):
                with open(os.path.join(log, f"{v:020d}.json")) as fh:
                    e = _resolve_manifest(self._path, json.load(fh))
                out.append(
                    (
                        e["version"],
                        e.get("parent"),
                        e["timestamp_ms"],
                        e["operation"],
                        len(e["manifest"]),
                        len(e.get("added", [])),
                        e["row_count"],
                    )
                )
            return out
        if self._table == "files":
            e = _read_entry(self._path, self._version)
            # List the seq the read paths actually USE:
            # the None-vs-empty fallback, then get(f, 0) for files
            # absent from a partial map — so the metadata listing
            # matches delete-application semantics exactly.
            seq = _entry_file_seq(e)
            stats = e.get("stats", {})
            blooms = e.get("blooms", {})
            import pyarrow.parquet as pq

            out = []
            for f in e["manifest"]:
                p = os.path.join(self._path, _DATA_DIR, f)
                out.append(
                    (
                        f,
                        seq.get(f, 0),
                        pq.ParquetFile(p).metadata.num_rows,
                        len(stats.get(f, {})),
                        bool(blooms.get(f)),
                    )
                )
            return out
        refs_dir = os.path.join(self._path, "_refs")
        out = []
        if os.path.isdir(refs_dir):
            for f in sorted(os.listdir(refs_dir)):
                if f.endswith(".json") and not f.startswith("."):
                    with open(os.path.join(refs_dir, f)) as fh:
                        r = json.load(fh)
                    out.append(
                        (r["name"], r["type"], r["version"], r["created_ms"])
                    )
        return out

    def partitions(self):
        return [MetadataPartition(self._rows())]

    def read(self, partition: MetadataPartition):
        yield from partition.rows


class SnapshotDataSource(DataSource):
    """`format("snapshot")` — options: `path` (load() arg), `version`
    (optional int or tag name, Iceberg `VERSION AS OF` / Delta
    `versionAsOf`), `metadata` ("snapshots" | "files" | "refs" — the
    Iceberg metadata-table surface instead of the data)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def _entry(self) -> tuple[dict, str]:
        cat_uri = self.options.get("catalog_uri")
        if cat_uri:
            return self._entry_from_catalog(cat_uri)
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot source requires a path: .load(path)")
        path = _local(path)
        v = self.options.get("version")
        if v is not None:
            try:
                v = int(v)
            except ValueError:
                pass  # non-numeric → tag name
        ts = self.options.get("timestampAsOf")
        return _read_entry(path, v, int(ts) if ts is not None else None), path

    def _entry_from_catalog(self, cat_uri: str) -> tuple[dict, str]:
        """Catalog-resolved scan (`option("catalog_uri", ...)` +
        `catalog_namespace`/`catalog_table`, optionally
        `catalog_credential` as "client_id:client_secret"): the commit
        entry AND the table location both come off the REST catalog's
        loadTable response — HTTP is the ONLY metadata path; the local
        `_log` is never opened. This is the reference's catalog-impl
        wiring (extract_load.py:42-46, `type=rest`) expressed on the
        public format surface. The catalog serves the CURRENT
        snapshot, so `version`/`timestampAsOf` (time travel below the
        head) are rejected rather than silently mis-served. The
        client object lives only inside this call: nothing holding a
        socket rides the (cloudpickled) DataSource to executors."""
        from .restcat import RestCatalog

        ns = self.options.get("catalog_namespace")
        name = self.options.get("catalog_table")
        if not ns or not name:
            raise ValueError(
                "catalog_uri requires catalog_namespace and catalog_table"
            )
        if self.options.get("version") or self.options.get("timestampAsOf"):
            raise ValueError(
                "catalog-resolved scans serve the current snapshot; "
                "version/timestampAsOf need the path surface"
            )
        cred = self.options.get("catalog_credential")
        if cred is not None and ":" not in cred:
            raise ValueError(
                "catalog_credential must be 'client_id:client_secret'"
            )
        credential = tuple(cred.split(":", 1)) if cred else None
        cat = RestCatalog(cat_uri, credential=credential)
        entry, location = cat.load_entry(ns, name)
        return entry, _local(location)

    def _metadata_reader(self) -> "MetadataReader | None":
        meta = self.options.get("metadata")
        if meta is None:
            return None
        if meta not in MetadataReader._SCHEMAS:
            raise ValueError(
                f"unknown metadata table {meta!r} "
                f"(have {sorted(MetadataReader._SCHEMAS)})"
            )
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot source requires a path: .load(path)")
        v = self.options.get("version")
        if v is not None:
            try:
                v = int(v)
            except ValueError:
                pass
        return MetadataReader(meta, _local(path), v)

    def _cdc(self) -> bool:
        return str(self.options.get("readChangeFeed", "")).lower() in (
            "true",
            "1",
        )

    def schema(self) -> StructType | str:
        mr = self._metadata_reader()
        if mr is not None:
            return mr.schema_ddl()
        entry, _ = self._entry()
        base = StructType.fromJson(json.loads(entry["schema"]))
        if self._cdc():
            return StructType(base.fields + _cdc_fields())
        return base

    def reader(self, schema: StructType):
        if self._cdc():
            # A batch reader would silently serve the HEAD rows with
            # null CDC columns — no deletes, no versions.
            # Fail loudly like the version/timestampAsOf guards; the
            # batch change-feed surface is SnapshotTable.changes_between.
            raise ValueError(
                "readChangeFeed requires readStream (or use "
                "SnapshotTable.changes_between for a batch feed)"
            )
        mr = self._metadata_reader()
        if mr is not None:
            return mr
        entry, path = self._entry()
        return SnapshotReader(schema, entry, path)

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot source requires a path: .load(path)")
        start = int(self.options.get("startingVersion", 0))
        if self._cdc():
            return SnapshotChangeFeedStreamReader(schema, _local(path), start)
        return SnapshotStreamReader(schema, _local(path), start)

    def writer(self, schema: StructType, overwrite: bool):
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot sink requires a path: .save(path)")
        return SnapshotWriter(schema, _local(path), overwrite)


# ---------------------------------------------------------------------------
# Write path — df.write.format("snapshot").mode(...).save(path)
# ---------------------------------------------------------------------------

@dataclass
class SnapshotWriteMessage(WriterCommitMessage):
    """One staged file per non-empty task."""

    file: str | None


class SnapshotWriter(DataSourceArrowWriter):
    """Arrow-batched writer completing the V2 write loop on the
    format-string surface: each TASK streams its partition's record
    batches straight into one immutable parquet file under the
    table's `data/` directory (invisible until committed — the same
    staging contract as `SnapshotTable._stage`), and the DRIVER
    publishes all staged files as ONE atomic commit via
    `SnapshotTable.commit_staged` (mode("append") → append commit,
    mode("overwrite") → replace commit; merge/CAS semantics,
    conflict retry, footer-stat harvesting and bloom/spec
    inheritance all identical to the native path).

    Exactly-once: a failed job calls `abort`, which unlinks the
    staged orphans; a crash before commit leaves invisible files
    that `expire_snapshots` GCs. No reader can observe a partial
    write at any point."""

    def __init__(self, schema: StructType, table_path: str, overwrite: bool):
        self._schema = schema
        self._path = table_path
        self._data = os.path.join(table_path, _DATA_DIR)
        self._overwrite = overwrite

    def write(self, iterator):
        import uuid

        import pyarrow.parquet as pq

        # Stream batches straight into the file (ParquetWriter opened
        # lazily on the first non-empty batch) — peak task memory is
        # one Arrow batch, not the whole partition, which is the
        # difference between a 10 GB task working and OOMing at scale.
        writer = None
        name = f"{uuid.uuid4().hex}-pyds.parquet"
        try:
            for b in iterator:
                if not b.num_rows:
                    continue
                if writer is None:
                    os.makedirs(self._data, exist_ok=True)
                    writer = pq.ParquetWriter(
                        os.path.join(self._data, name), b.schema
                    )
                writer.write_batch(b)
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return SnapshotWriteMessage(file=None)
        return SnapshotWriteMessage(file=name)

    def commit(self, messages):
        from pyspark.sql import SparkSession

        from .snapshot import SnapshotTable

        added = [m.file for m in messages if m and m.file]
        # The active session, not None: commit_staged's
        # constraint-enforcement branch reads the staged files through
        # spark — with None it crashed with AttributeError and left
        # the staged parquet orphaned instead of reporting the
        # ConstraintViolation the native path reports. commit() runs
        # driver-side, where the session always exists.
        t = SnapshotTable(SparkSession.getActiveSession(), self._path)
        t.commit_staged(added, self._schema, replace=self._overwrite)

    def abort(self, messages):
        for m in messages:
            if m and m.file:
                try:
                    os.remove(os.path.join(self._data, m.file))
                except FileNotFoundError:
                    pass


# --- self-contained pickling ---------------------------------------------
# Spark serializes DataSource classes by REFERENCE (module + qualname),
# and the driver-side Python *streaming* source runner — unlike batch
# planner workers and executor workers — is spawned without the
# session's addPyFile includes on sys.path (observed on PySpark 4.1:
# `readStream.format("snapshot")` dies in
# python_streaming_source_runner.py's read_command with
# ModuleNotFoundError whenever the driver's cwd isn't the repo root,
# while the identical batch read succeeds). Registering THIS module for
# by-value pickling makes every pickled reader/partition class carry
# its own code, so the runner never needs to import the package. The
# module is deliberately self-contained — stdlib + pyspark at top
# level; the single `.snapshot` import runs inside driver-side
# commit() — which keeps the by-value payload small and closure-free.
import sys as _sys  # noqa: E402

try:  # pragma: no cover - version-gated capability probe
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except (ImportError, AttributeError):
    pass
