"""Snapshot table: ACID commits, time travel, schema evolution on parquet.

Reference parity: the reference's core value proposition is Iceberg-v2
tables — atomic `writeTo(...).createOrReplace()/append()/create()`
commits (/root/reference/scripts/extract_load.py:94-110), snapshot
lineage + `FOR VERSION AS OF` reads (reference README.md:109-111,
config/iceberg-template.properties:1-5), and snapshot expiry
(extract_load.py:167-171). This container has no Iceberg/Delta jars,
so this module implements the same table contract from first
principles, following the published designs (the Iceberg spec's
snapshot + manifest model; the Delta Lake paper's optimistic
commit-log protocol):

- A table is a directory: immutable parquet data files under
  ``data/`` plus a JSON commit log under ``_log/``.
- A commit stages data files (invisible until committed), then
  publishes ``_log/<version>.json`` with ``os.link`` — an atomic
  create-if-absent, so two racing writers CANNOT both claim a
  version; the loser re-resolves the head and retries (optimistic
  concurrency, exactly Delta's protocol; on S3 the link step becomes
  the LogStore/catalog CAS — same seam, different primitive).
- Each log entry carries the FULL manifest of live files (Iceberg's
  snapshot model, not a delta chain): time travel to version V is
  O(1) — read entry V, scan its files. Readers never see partial
  state: a crash mid-commit leaves only invisible staged files.
- Schema is stored per snapshot; ``append(merge_schema=True)`` widens
  the table with new columns (old files read as NULL for them) —
  Iceberg-style evolution without rewriting data.
- ``expire_snapshots`` deletes log entries below a cutoff and every
  data file referenced by no retained snapshot — the reference's
  per-load GC (:167-171), actually executed here, not a no-op.

Scale notes: the log is metadata, never data — entries are O(live
files) JSON. At 100 TB the listing/commit work stays driver-side and
bounded; scans are plain multi-file parquet reads that keep predicate
pushdown, column pruning, and split planning (the manifest feeds
`spark.read.parquet(*files)`). For tables with millions of files the
manifest would move into its own parquet file per snapshot
(manifest-list indirection, as Iceberg does) — seam documented on
``_write_entry``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"
_REFS_DIR = "_refs"
_MANIFESTS_DIR = "manifests"  # under _log/: manifest-list sidecars

# Entries whose live-file count exceeds this move their per-file
# payload (manifest + stats + seq + blooms) into a sidecar file and
# keep only a pointer in the log entry — the Iceberg manifest-list
# model. 4096 inline files keeps every fixture-scale entry a single
# small JSON while a million-file table's entry stays O(1): the
# commit CAS publishes one pointer, and only readers that actually
# plan a scan pay the (one-file) sidecar read.
MANIFEST_INLINE_MAX = 4096

# The O(files) entry keys that move to the sidecar together.
_MANIFEST_KEYS = ("manifest", "stats", "seq", "blooms")
_REF_NAME_RE = re.compile(r"[A-Za-z0-9._-]+")

# Sentinel for `_commit(expect_parent=...)`: "commit on whatever the
# current head is" (blind append/replace). An explicit int (or None for
# "table must be empty") pins the commit to a snapshot the caller READ,
# turning the CAS into full optimistic-concurrency for read-modify-write
# ops like MERGE — a stale write raises instead of clobbering.
_ANY_PARENT = object()


class CommitConflict(RuntimeError):
    """Another writer claimed the version (surfaced only when retries
    are exhausted — callers normally never see this)."""


class ConstraintViolation(ValueError):
    """An incoming batch broke a table CHECK constraint (Delta
    `ALTER TABLE ADD CONSTRAINT` semantics: enforced at write time,
    the commit never happens)."""


class SnapshotNotFound(ValueError):
    """Requested version does not exist (never written, or expired)."""


def merge_schemas(old: StructType, new: StructType) -> StructType:
    """Iceberg-style additive evolution: new columns append; a column
    present in both must keep its type (no silent repurposing — type
    WIDENING int→long etc. is a documented extension seam, kept
    strict here so a changed extractor schema fails loudly)."""
    by_name = {f.name: f for f in old.fields}
    for f in new.fields:
        prev = by_name.get(f.name)
        if prev is not None and prev.dataType != f.dataType:
            raise ValueError(
                f"schema evolution conflict on {f.name!r}: "
                f"{prev.dataType.simpleString()} vs {f.dataType.simpleString()}"
            )
    extra = [f for f in new.fields if f.name not in by_name]
    return StructType(old.fields + extra)


def merge_plan(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    *,
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> DataFrame:
    """The relational core of MERGE INTO (Delta/Iceberg `MERGE` with
    UPDATE SET * / DELETE and INSERT * branches), as a pure DataFrame
    plan — shared by `SnapshotTable.merge` (which commits it) and the
    read-only `a13_merge_upsert` driver query (which verifies it
    against a SQL oracle).

    Semantics: target rows whose key appears in `source` are replaced
    by the source row (`update`) or dropped (`delete`); source rows
    with no target match are inserted (`insert`) or ignored. Source
    keys must be unique (same contract as Delta, which errors on
    multiple matches; enforced by the caller's pytest, not a data-plane
    count job).

    Scale shape: one hash join keyed on `on` per branch — the anti
    join shuffles target+keys, the optional semi/anti on the source
    side is small-by-construction (updates are deltas). No window, no
    driver collect.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched: {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched: {when_not_matched!r}")
    keys = source.select(on).distinct()
    kept = target.join(keys, on, "left_anti")
    if when_matched == "update" and when_not_matched == "insert":
        incoming = source
    elif when_matched == "update":
        incoming = source.join(target.select(on).distinct(), on, "left_semi")
    elif when_not_matched == "insert":
        incoming = source.join(target.select(on).distinct(), on, "left_anti")
    else:
        incoming = None
    if incoming is None:
        return kept
    return kept.unionByName(incoming, allowMissingColumns=True)


def _footer_stats(path: str) -> tuple[int, dict]:
    """(row_count, {col: [min, max]}) from one parquet footer — the
    per-file skipping index, harvested at commit time with zero data
    reads. Only JSON-stable primitive stats are kept (ints, floats,
    strings); columns without usable statistics are simply absent,
    which `prune_files` treats as "cannot skip" (always safe)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    covered: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                if "." in name:  # nested leaves: skip (struct internals)
                    continue
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow raises ArrowNotImplementedError for types it
                # cannot extract stats for (e.g. decimal); those
                # columns simply have no skipping index.
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str)) or isinstance(lo, bool):
                continue
            covered[name] = covered.get(name, 0) + 1
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    # A column's range is only a skipping index if EVERY row group
    # contributed stats: a partial range understates the file and
    # prune_files would skip rows living in the uncovered groups.
    # "No stats" is the only safe fallback.
    full = {c for c, n in covered.items() if n == md.num_row_groups}
    return md.num_rows, {c: [mins[c], maxs[c]] for c in mins if c in full}


_BLOOM_MIN_M = 1 << 13  # floor: 1 KiB per filter
_BLOOM_BITS_PER_VALUE = 16  # m ≥ 16n → FPR ≈ 0.05% at k=7
_BLOOM_K = 7


def _bloom_positions(value, m: int) -> list[int]:
    """k bit positions for a value via md5 double hashing (Kirsch-
    Mitzenmacher): h1 + i·h2 mod m. Values are canonicalized through
    str() — build and probe must agree on the column's type, which
    they do (both read the same parquet column / literal)."""
    d = hashlib.md5(str(value).encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _build_file_blooms(path: str, cols: list[str]) -> dict[str, dict]:
    """Per-column bloom filters for one data file: {"m": bits, "b64":
    bitmap}. m is sized to the file's DISTINCT count (≥16 bits/value,
    power of two, floor 1 KiB) — a fixed-size filter silently
    saturates as files grow and prunes nothing; sizing by content is
    what parquet/Iceberg writers do (ndv-driven fpp sizing).
    One columnar read of just the filtered columns (pyarrow) — the
    harvest is O(new data) at commit time, like Iceberg's writer-side
    metrics; on a cluster this would ride the writer task itself
    (parquet's own bloom_filter_enabled), same seam as footer stats."""
    import base64

    import pyarrow.parquet as pq

    present = [
        c
        for c in cols
        if c in pq.ParquetFile(path).schema_arrow.names
    ]
    if not present:
        return {}
    tbl = pq.read_table(path, columns=present)
    out = {}
    for c in present:
        vals = tbl.column(c).drop_null().unique().to_pylist()
        m = _BLOOM_MIN_M
        while m < _BLOOM_BITS_PER_VALUE * len(vals):
            m <<= 1
        bits = bytearray(m // 8)
        for v in vals:
            for pos in _bloom_positions(v, m):
                bits[pos >> 3] |= 1 << (pos & 7)
        out[c] = {"m": m, "b64": base64.b64encode(bytes(bits)).decode()}
    return out


def _bloom_probe_keys(value) -> list:
    """Canonicalization candidates for a probe literal: the build
    side hashes str() of the STORED python values (pyarrow gives
    ints for int columns, floats for double columns), so a probe
    whose Python type differs (int 5 vs stored 5.0) must also try
    the cross-type spelling — a single-form probe returns a
    definite-no and a pruned file silently loses matching rows.
    Probing extra keys only ADDS potential
    hits: pruning stays sound, never unsound."""
    keys = [value]
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        try:
            f = float(value)
            if f.is_integer():
                keys.append(int(f))
            keys.append(f)
        except (OverflowError, ValueError):
            pass
    seen: set[str] = set()
    out = []
    for k in keys:
        sk = str(k)
        if sk not in seen:
            seen.add(sk)
            out.append(k)
    return out


def _bloom_contains(bloom: dict, value) -> bool:
    import base64

    bits = base64.b64decode(bloom["b64"])
    return any(
        all(
            bits[pos >> 3] & (1 << (pos & 7))
            for pos in _bloom_positions(v, bloom["m"])
        )
        for v in _bloom_probe_keys(value)
    )


def _remap_clone_seq(src: dict) -> dict:
    """Order-preserving remap of a source snapshot's sequence numbers
    onto non-positive integers (highest -> 0) for a clone's first
    commit, so future clone-local commits (version >= 2) always
    outrank carried state."""
    seq = _file_seq(src)
    dels = src.get("delete_files", [])
    values = sorted({*seq.values(), *(d["seq"] for d in dels)})
    remap = {v: i - (len(values) - 1) for i, v in enumerate(values)}
    return {
        "seq": {f: remap[s] for f, s in seq.items()},
        "delete_files": [{**d, "seq": remap[d["seq"]]} for d in dels],
    }


def _file_seq(entry: dict) -> dict[str, int]:
    """Per-data-file sequence number (the version that added it).
    Entries written before the MoR-delete feature lack `seq`; default
    every file to the entry's own version so later delete files
    (which always carry a higher seq) still apply to them."""
    seq = entry.get("seq")
    if seq is None:
        return {f: entry["version"] for f in entry["manifest"]}
    return seq


class SnapshotTable:
    """One table = one directory with `data/` + `_log/`. All mutation
    goes through `_commit`, all reads through `read(version=)` or the
    stats-pruned `scan(...)`."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        manifest_inline_max: int = MANIFEST_INLINE_MAX,
    ):
        self.spark = spark
        self.path = path
        self._log_path = os.path.join(path, _LOG_DIR)
        self._data_path = os.path.join(path, _DATA_DIR)
        self._bloom_cols: list[str] = []
        # Above this live-file count the per-file payload (manifest +
        # stats + seq + blooms) moves to a manifest-list sidecar and
        # the log entry holds a pointer — Iceberg's manifest-list
        # indirection. Constructor-tunable so tests exercise the
        # sidecar path on small fixtures.
        self._manifest_inline_max = manifest_inline_max
        self._manifest_cache: dict = {}

    def with_bloom_filters(self, *cols: str) -> "SnapshotTable":
        """Enable per-file bloom filters for `cols` on subsequent
        commits (Iceberg `write.bloom-filter-enabled.column.X` /
        parquet bloom filters): point-lookup pruning for high-
        cardinality keys whose min/max ranges overlap across every
        file (where range stats can never skip anything). Fluent."""
        self._bloom_cols = list(cols)
        return self

    # -- log plumbing ------------------------------------------------------
    def exists(self) -> bool:
        return bool(self.versions())

    def versions(self) -> list[int]:
        if not os.path.isdir(self._log_path):
            return []
        out = []
        for f in os.listdir(self._log_path):
            if f.endswith(".json") and not f.startswith("."):
                try:
                    out.append(int(f[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _entry_path(self, version: int) -> str:
        return os.path.join(self._log_path, f"{version:020d}.json")

    def entry(self, version: int) -> dict:
        e = self._entry_raw(version)
        ref = e.pop("manifest_ref", None)
        if ref is not None:
            # Manifest-list indirection: the per-file payload lives in
            # a sidecar; resolve it transparently so every consumer
            # sees the same entry shape regardless of table size.
            # Sidecars are immutable and uuid-named, so a tiny
            # per-handle cache makes repeated planning calls (scan →
            # prune → commit reads the head several times) one disk
            # read instead of one per call — at a million files the
            # sidecar is MBs.
            payload = self._manifest_cache.get(ref)
            if payload is None:
                with open(
                    os.path.join(self._log_path, _MANIFESTS_DIR, ref)
                ) as fh:
                    payload = json.load(fh)
                if len(self._manifest_cache) >= 4:
                    self._manifest_cache.pop(
                        next(iter(self._manifest_cache))
                    )
                self._manifest_cache[ref] = payload
            e.update(payload)
        return e

    def _entry_raw(self, version: int) -> dict:
        """The log entry as published — a `manifest_ref` pointer stays
        unresolved (GC needs the raw form)."""
        p = self._entry_path(version)
        if not os.path.isfile(p):
            have = self.versions()
            raise SnapshotNotFound(
                f"{self.path}: no snapshot {version} (have {have[:3]}..{have[-3:]}"
                if have
                else f"{self.path}: table has no snapshots"
            )
        with open(p) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """Snapshot lineage, oldest first (Iceberg's `.snapshots`
        metadata table / Delta's DESCRIBE HISTORY equivalent)."""
        return [self.entry(v) for v in self.versions()]

    def latest_property(self, key: str):
        """(version, value) of the NEWEST commit whose properties
        carry `key`, or None. Tail-first over RAW entries — no
        manifest-sidecar resolution — because the streaming
        idempotence ledgers (stream_batch_id / stream_src_hi) only
        need the most recent stream commit: a full history() walk
        re-read O(#snapshots) entries PLUS their sidecars on every
        micro-batch, O(N²) driver I/O over a stream's life.
        Stream commits write monotone ids/spans, so the
        newest one IS the max."""
        for v in reversed(self.versions()):
            props = self._entry_raw(v).get("properties", {})
            if key in props:
                return v, props[key]
        return None

    # -- write path --------------------------------------------------------
    def _stage(self, df: DataFrame) -> list[str]:
        """Write df's rows as immutable parquet files under data/.
        Staged files are INVISIBLE until a log entry references them —
        a crash here leaves orphans that expire_snapshots removes."""
        os.makedirs(self._data_path, exist_ok=True)
        stage_id = uuid.uuid4().hex
        stage_dir = os.path.join(self.path, f"_stage-{stage_id}")
        df.write.mode("overwrite").parquet(stage_dir)
        names = []
        for i, f in enumerate(sorted(os.listdir(stage_dir))):
            if not f.endswith(".parquet"):
                continue
            name = f"{stage_id}-{i:05d}.parquet"
            os.rename(
                os.path.join(stage_dir, f), os.path.join(self._data_path, name)
            )
            names.append(name)
        shutil.rmtree(stage_dir, ignore_errors=True)
        return names

    def _commit(
        self,
        operation: str,
        df: DataFrame,
        *,
        replace: bool,
        if_absent: bool = False,
        merge_schema: bool = True,
        properties: dict | None = None,
        max_retries: int = 20,
        expect_parent=_ANY_PARENT,
    ) -> dict:
        if operation in ("create", "append", "overwrite", "merge"):
            # CHECK enforcement on the write path; internal rewrites
            # (delete survivors, compaction) hold inductively.
            self._enforce_constraints(df)
        added = self._stage(self._cluster_by_spec(df))
        return self._commit_staged(
            operation,
            added,
            df.schema,
            replace=replace,
            if_absent=if_absent,
            merge_schema=merge_schema,
            properties=properties,
            max_retries=max_retries,
            expect_parent=expect_parent,
        )

    def commit_staged(
        self,
        added: list[str],
        schema: StructType,
        *,
        replace: bool = False,
        properties: dict | None = None,
    ) -> dict:
        """Commit parquet files ALREADY WRITTEN into `data/` by an
        external writer (the Python DataSource write path: executors
        stage their partitions directly, the driver commits once).
        Same merge/CAS semantics as `_commit`; `added` names must be
        unique, invisible-until-now files under the data dir.

        CHECK constraints are enforced here too (add_constraint's
        'every incoming batch' guarantee): the staged files are read
        back once — O(batch), never O(table) — and a violation
        removes them before raising, so nothing lands."""
        if added and self.exists() and self.constraints():
            staged = self.spark.read.schema(schema).parquet(
                *[os.path.join(self._data_path, f) for f in added]
            )
            try:
                self._enforce_constraints(staged)
            except ConstraintViolation:
                for f in added:
                    try:
                        os.remove(os.path.join(self._data_path, f))
                    except FileNotFoundError:
                        pass
                raise
        op = "overwrite" if (replace and self.exists()) else (
            "append" if self.exists() else "create"
        )
        return self._commit_staged(
            op, added, schema, replace=replace, properties=properties
        )

    def _commit_staged(
        self,
        operation: str,
        added: list[str],
        df_schema: StructType,
        *,
        replace: bool,
        if_absent: bool = False,
        merge_schema: bool = True,
        properties: dict | None = None,
        max_retries: int = 20,
        expect_parent=_ANY_PARENT,
    ) -> dict:
        spec_props = self._spec_properties()
        # Bloom config persists in the log (Iceberg table-property
        # semantics): a handle that never called with_bloom_filters
        # inherits the head's setting, so appends from other
        # processes keep producing bloomed files.
        if not self._bloom_cols:
            head_v0 = self.latest_version()
            if head_v0 is not None:
                self._bloom_cols = list(
                    self.entry(head_v0)["properties"].get("bloom.columns", [])
                )
        # Row counts AND per-file column min/max come from the parquet
        # footers (driver-side pyarrow metadata read, no Spark job) —
        # at any scale this is O(files) metadata. The counts shave a
        # whole count job off every commit; the min/max ranges become
        # the snapshot's file-skipping index (Iceberg's manifest
        # stats), consumed by `scan()`.
        n_added = 0
        added_stats: dict[str, dict] = {}
        added_blooms: dict[str, dict] = {}
        for f in added:
            path_f = os.path.join(self._data_path, f)
            rows, stats = _footer_stats(path_f)
            n_added += rows
            added_stats[f] = stats
            if self._bloom_cols:
                added_blooms[f] = _build_file_blooms(path_f, self._bloom_cols)
        os.makedirs(self._log_path, exist_ok=True)
        for _ in range(max_retries):
            head_v = self.latest_version()
            if expect_parent is not _ANY_PARENT and head_v != expect_parent:
                # The snapshot this write was derived from is no longer
                # the head: committing would silently drop the
                # intervening writer's rows (write skew). Clean up and
                # let the caller re-derive from the new head.
                for f in added:
                    try:
                        os.remove(os.path.join(self._data_path, f))
                    except FileNotFoundError:
                        pass
                raise CommitConflict(
                    f"{self.path}: expected parent {expect_parent}, "
                    f"head is {head_v}"
                )
            if head_v is not None and if_absent:
                # create-if-absent found the table: another writer (or
                # a previous run) created it; drop our staged files.
                for f in added:
                    try:
                        os.remove(os.path.join(self._data_path, f))
                    except FileNotFoundError:
                        pass
                return self.entry(head_v)
            head = self.entry(head_v) if head_v is not None else None
            new_v = (head_v or 0) + 1
            if head is None or replace:
                manifest = list(added)
                schema = df_schema
                total = n_added
                stats = dict(added_stats)
                blooms = dict(added_blooms)
                seq = {f: new_v for f in added}
                delete_files: list[dict] = []
            else:
                schema = df_schema
                if merge_schema:
                    schema = merge_schemas(
                        StructType.fromJson(json.loads(head["schema"])), df_schema
                    )
                else:
                    prev = StructType.fromJson(json.loads(head["schema"]))
                    if prev != df_schema:
                        raise ValueError(
                            "append schema differs from table schema and "
                            "merge_schema=False"
                        )
                manifest = head["manifest"] + added
                total = head["row_count"] + n_added
                stats = {**head.get("stats", {}), **added_stats}
                blooms = {**head.get("blooms", {}), **added_blooms}
                seq = {
                    **_file_seq(head),
                    **{f: new_v for f in added},
                }
                delete_files = list(head.get("delete_files", []))
            entry = {
                "version": new_v,
                "parent": head_v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "manifest": manifest,
                "added": added,
                "schema": json.dumps(schema.jsonValue()),
                "row_count": total,
                "stats": stats,
                "blooms": blooms,
                "seq": seq,
                "delete_files": delete_files,
                "properties": {
                    **({"bloom.columns": self._bloom_cols} if self._bloom_cols else {}),
                    **spec_props,
                    **(properties or {}),
                },
            }
            if self._write_entry(entry):
                return entry
            # lost the race: head moved under us — re-resolve and retry
        raise CommitConflict(
            f"{self.path}: gave up after {max_retries} commit attempts"
        )

    def _write_entry(self, entry: dict) -> bool:
        """Atomic publish: tmp file + os.link (create-if-absent CAS).
        On an object store this one call is replaced by the catalog /
        LogStore conditional-put; everything else is storage-agnostic.

        Manifest-list indirection: past
        `manifest_inline_max` live files the O(files) payload —
        manifest, stats, seq, blooms — is written to ONE sidecar under
        `_log/manifests/` first, and the published entry carries just
        the pointer. The CAS therefore always publishes an O(1) JSON,
        no matter how many files the snapshot holds; a crash between
        sidecar and link (or a lost race) leaves an orphan sidecar
        that expire_snapshots sweeps."""
        sidecar = None
        if len(entry.get("manifest", ())) > self._manifest_inline_max:
            payload = {
                k: entry[k] for k in _MANIFEST_KEYS if k in entry
            }
            entry = {
                k: v for k, v in entry.items() if k not in payload
            }
            mdir = os.path.join(self._log_path, _MANIFESTS_DIR)
            os.makedirs(mdir, exist_ok=True)
            sidecar = f"{entry['version']:020d}-{uuid.uuid4().hex}.json"
            with open(os.path.join(mdir, sidecar), "w") as fh:
                json.dump(payload, fh)
            entry["manifest_ref"] = sidecar
            entry["n_files"] = len(payload["manifest"])
        tmp = os.path.join(self._log_path, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        try:
            os.link(tmp, self._entry_path(entry["version"]))
            return True
        except FileExistsError:
            if sidecar is not None:
                # lost the CAS race: this sidecar will never be
                # referenced — remove it now rather than waiting on GC
                try:
                    os.remove(
                        os.path.join(self._log_path, _MANIFESTS_DIR, sidecar)
                    )
                except FileNotFoundError:
                    pass
            return False
        finally:
            os.remove(tmp)

    # -- public write API (DataFrameWriterV2-shaped, :94-110) --------------
    def create(self, df: DataFrame, properties: dict | None = None) -> dict:
        """`writeTo(t).create()` equivalent: fails if the table exists."""
        if self.exists():
            raise ValueError(f"{self.path}: table already exists")
        return self._commit("create", df, replace=True, properties=properties)

    def create_if_absent(
        self, df: DataFrame, properties: dict | None = None
    ) -> dict:
        """A7: create-if-absent (extract_load.py:106-110), race-safe —
        two concurrent creators converge on one winning snapshot."""
        return self._commit(
            "create", df, replace=True, if_absent=True, properties=properties
        )

    def create_or_replace(
        self, df: DataFrame, properties: dict | None = None
    ) -> dict:
        """A5: full overwrite — one atomic snapshot swap; concurrent
        readers keep the old manifest until they re-resolve."""
        op = "overwrite" if self.exists() else "create"
        return self._commit(op, df, replace=True, properties=properties)

    def append(
        self,
        df: DataFrame,
        properties: dict | None = None,
        merge_schema: bool = True,
    ) -> dict:
        """A6: atomic append with additive schema evolution."""
        if not self.exists():
            return self._commit("create", df, replace=True, properties=properties)
        return self._commit(
            "append",
            df,
            replace=False,
            merge_schema=merge_schema,
            properties=properties,
        )

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        *,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        properties: dict | None = None,
        max_retries: int = 5,
    ) -> dict:
        """MERGE INTO (upsert): one atomic snapshot that applies
        `merge_plan` to the current table state. The reference's stack
        exposes MERGE through Spark/Trino-on-Iceberg; this is the
        native equivalent over the commit log.

        Copy-on-write: the merged state is rewritten in full and
        committed pinned to the snapshot it was READ from
        (`expect_parent`) — if a concurrent writer lands in between,
        the commit raises instead of clobbering, and the loop
        re-derives the plan from the new head (serializable
        read-modify-write, the same conflict rule Delta applies to
        MERGE). At 100 TB the rewrite would narrow to the files whose
        key ranges intersect the source (file-skipping stats in the
        manifest) or flip to merge-on-read deletes — both seams sit
        here, in how `merged` and the manifest are built; the commit
        protocol is unchanged.
        """
        last: CommitConflict | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            if base is None:
                raise SnapshotNotFound(f"{self.path}: table has no snapshots")
            merged = merge_plan(
                self.read(version=base),
                source,
                on,
                when_matched=when_matched,
                when_not_matched=when_not_matched,
            )
            try:
                return self._commit(
                    "merge",
                    merged,
                    replace=True,
                    properties=properties,
                    expect_parent=base,
                )
            except CommitConflict as e:
                last = e
        raise last  # type: ignore[misc]

    def overwrite_where(
        self,
        df: DataFrame,
        predicate,
        *,
        prune_column: str | None = None,
        lo=None,
        hi=None,
        validate: bool = True,
        properties: dict | None = None,
        max_retries: int = 5,
    ) -> dict:
        """Atomic selective overwrite — Delta `replaceWhere` /
        Iceberg `overwrite()` with a filter (both engines sit on the
        reference's Iceberg tables, /root/reference/Dockerfile:57-78):
        ONE commit that deletes every row matching `predicate` and
        inserts `df`, so readers see either the old region or the new
        region, never a mix and never a gap.

        `validate=True` enforces the replaceWhere contract: every
        incoming row must satisfy `predicate` (a row outside the
        region would survive a later re-run of the same overwrite —
        the classic non-idempotent-backfill bug Delta rejects at
        write time). The check is one filtered count over the source.

        Copy-on-write with file pruning: when (`prune_column`, lo,
        hi) bounds the predicate, only manifest-stat-overlapping
        files are rewritten (minus matching rows); untouched files
        carry by name, and the new region is staged clustered by the
        active partition spec. At 100 TB a daily-partition restatement
        rewrites that day's files and touches nothing else — the
        backfill primitive. Pending MoR delete files force a full
        compacting rewrite (same resurrection rule as `_delete_cow`).

        Commits pinned to the snapshot the survivors were read from
        (`expect_parent`); a concurrent writer forces a re-derive.

        NULL semantics (Delta replaceWhere contract): the replace
        region is rows where `predicate` IS TRUE. A row where the
        predicate evaluates NULL is OUTSIDE the region — it survives
        the overwrite, and as an incoming row it fails validation."""
        from pyspark.sql import functions as F

        if validate:
            # NULL predicate = not in the replace region = violation.
            n_bad = df.filter(~F.coalesce(predicate, F.lit(False))).count()
            if n_bad:
                raise ValueError(
                    f"overwrite_where: {n_bad} source rows violate the "
                    "replace predicate (replaceWhere contract)"
                )
        # CHECK constraints apply to every write path, including the
        # pruned _commit_manifest fast path which bypasses _commit.
        self._enforce_constraints(df)
        last: CommitConflict | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            if base is None:
                raise SnapshotNotFound(f"{self.path}: table has no snapshots")
            e = self.entry(base)
            try:
                return self._overwrite_where_once(
                    e, df, predicate, prune_column, lo, hi, properties
                )
            except CommitConflict as err:
                last = err
        raise last  # type: ignore[misc]

    def _overwrite_where_once(
        self, e: dict, df: DataFrame, predicate, prune_column, lo, hi,
        properties,
    ) -> dict:
        from pyspark.sql import functions as F

        base = e["version"]
        new_df = self._cluster_by_spec(df)
        # Survivors = rows NOT in the replace region. NULL-predicate
        # rows are outside the region and must survive (Delta
        # replaceWhere deletes only predicate-IS-TRUE rows).
        keep = ~F.coalesce(predicate, F.lit(False))
        pending = e.get("delete_files", [])
        if pending:
            merged = (
                self.read(version=base).filter(keep).unionByName(new_df)
            )
            return self._commit(
                "overwrite",
                merged,
                replace=True,
                properties={
                    **(properties or {}),
                    "compacted_delete_files": len(pending),
                },
                expect_parent=base,
            )
        schema = StructType.fromJson(json.loads(e["schema"]))
        if prune_column is not None:
            candidates = set(self.prune_files(prune_column, lo, hi, version=base))
        else:
            candidates = set(e["manifest"])
        untouched = [f for f in e["manifest"] if f not in candidates]
        added = []
        if candidates:
            paths = [
                os.path.join(self._data_path, f) for f in sorted(candidates)
            ]
            survivors = (
                self.spark.read.schema(schema).parquet(*paths).filter(keep)
            )
            added += self._stage(survivors)
        added += self._stage(new_df)
        old_stats = e.get("stats", {})
        old_seq = _file_seq(e)
        stats = {f: old_stats.get(f, {}) for f in untouched}
        seq = {f: old_seq.get(f, base) for f in untouched}
        # Untouched-file rows come from log arithmetic (no pending
        # deletes here, so e.row_count == sum of manifest footers):
        # footer reads stay O(rewritten + added), never O(live files)
        # — a pruned overwrite of 2 of 1M files must not do 1M driver
        # footer opens.
        row_count = e["row_count"]
        for f in sorted(candidates):
            rows, _ = _footer_stats(os.path.join(self._data_path, f))
            row_count -= rows
        for f in added:
            rows, st = _footer_stats(os.path.join(self._data_path, f))
            row_count += rows
            stats[f] = st
            seq[f] = base + 1  # patched to the real version below
        try:
            return self._commit_manifest(
                "overwrite",
                manifest=untouched + added,
                schema_json=e["schema"],
                row_count=row_count,
                stats=stats,
                added=added,
                seq=seq,
                delete_files=[],
                properties={
                    **(properties or {}),
                    "rewritten_files": len(candidates),
                    "carried_files": len(untouched),
                },
                expect_parent=base,
            )
        except CommitConflict:
            for f in added:
                try:
                    os.remove(os.path.join(self._data_path, f))
                except FileNotFoundError:
                    pass
            raise

    def overwrite_partitions(
        self, df: DataFrame, properties: dict | None = None
    ) -> dict:
        """Dynamic partition overwrite (Spark
        `spark.sql.sources.partitionOverwriteMode=dynamic` / Iceberg
        `overwritePartitions()`): replace exactly the partitions
        PRESENT in `df` — derived from the data, not declared — and
        leave every other partition untouched. Requires an active
        partition spec (`set_partition_spec`).

        The partition list is a bounded `distinct().collect()` — it
        is O(partitions touched by the batch), never O(rows); a daily
        restatement collects a handful of tuples. Single-column specs
        compile to an `isin` predicate plus [min, max] file pruning;
        multi-column specs OR the per-partition conjunctions (the
        batch's partition count stays small by the same argument).
        Validation is skipped: rows define the partition set, so
        every row satisfies the derived predicate by construction."""
        spec = self.partition_spec()
        if not spec:
            raise ValueError(
                "overwrite_partitions requires an active partition spec"
            )
        cols = spec["columns"]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"overwrite_partitions: source lacks spec columns {missing}"
            )
        parts = df.select(*cols).distinct().collect()
        if not parts:
            # Empty source replaces nothing: no-op, return the head.
            v = self.latest_version()
            if v is None:
                raise SnapshotNotFound(f"{self.path}: table has no snapshots")
            return self.entry(v)
        from pyspark.sql import functions as F

        if len(cols) == 1:
            vals = [r[cols[0]] for r in parts]
            # NULL is a real partition value (the Hive default
            # partition): isin() never matches NULL and min/max choke
            # on None, so split it out — and disable file pruning when
            # present (footer stats don't index NULLs, so a range-
            # pruned file could hide old NULL rows from the rewrite
            # and readers would see both generations).
            non_null = [v for v in vals if v is not None]
            pred = F.col(cols[0]).isin(non_null) if non_null else F.lit(False)
            if len(non_null) < len(vals):
                pred = pred | F.col(cols[0]).isNull()
                prune_column = plo = phi = None
            else:
                prune_column, plo, phi = cols[0], min(vals), max(vals)
        else:
            import functools
            import operator

            # eqNullSafe, not ==: a NULL partition value must SELECT
            # the old NULL-partition rows for replacement, and == NULL
            # evaluates NULL -> those rows would silently survive
            # next to their restatement.
            pred = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [F.col(c).eqNullSafe(F.lit(r[c])) for c in cols],
                    )
                    for r in parts
                ],
            )
            prune_column = plo = phi = None
        return self.overwrite_where(
            df,
            pred,
            prune_column=prune_column,
            lo=plo,
            hi=phi,
            validate=False,
            properties={
                **(properties or {}),
                "overwritten_partitions": len(parts),
            },
        )

    def _commit_manifest(
        self,
        operation: str,
        *,
        manifest: list[str],
        schema_json: str,
        row_count: int,
        stats: dict,
        added: list[str],
        seq: dict[str, int],
        delete_files: list[dict],
        new_delete: dict | None = None,
        properties: dict | None = None,
        expect_parent=_ANY_PARENT,
        max_retries: int = 20,
    ) -> dict:
        """Commit a snapshot whose file list was assembled by the
        caller (rollback keeps an old manifest; delete keeps untouched
        files + rewrites). Same CAS loop as `_commit`; no staging.
        `new_delete` ({file, columns}) is stamped with the winning
        commit's version as its sequence number inside the loop.
        Blooms: carried for manifest files that already have them,
        built for `added` rewrites when bloom columns are enabled."""
        properties = {**self._spec_properties(), **(properties or {})}
        # None-valued properties are REMOVALS (drop_constraint)
        properties = {k: v for k, v in properties.items() if v is not None}
        os.makedirs(self._log_path, exist_ok=True)
        head_for_blooms = self.latest_version()
        prev_blooms = (
            self.entry(head_for_blooms).get("blooms", {})
            if head_for_blooms is not None
            else {}
        )
        blooms = {f: prev_blooms[f] for f in manifest if f in prev_blooms}
        if self._bloom_cols:
            for f in added:
                blooms[f] = _build_file_blooms(
                    os.path.join(self._data_path, f), self._bloom_cols
                )
        for _ in range(max_retries):
            head_v = self.latest_version()
            if expect_parent is not _ANY_PARENT and head_v != expect_parent:
                for f in added:
                    try:
                        os.remove(os.path.join(self._data_path, f))
                    except FileNotFoundError:
                        pass
                if new_delete is not None:
                    try:
                        os.remove(
                            os.path.join(self._data_path, new_delete["file"])
                        )
                    except FileNotFoundError:
                        pass
                raise CommitConflict(
                    f"{self.path}: expected parent {expect_parent}, "
                    f"head is {head_v}"
                )
            new_v = (head_v or 0) + 1
            dels = list(delete_files)
            if new_delete is not None:
                dels.append({**new_delete, "seq": new_v})
            entry = {
                "version": new_v,
                "parent": head_v,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "manifest": manifest,
                "added": added,
                "schema": schema_json,
                "row_count": row_count,
                "stats": stats,
                "blooms": blooms,
                "seq": seq,
                "delete_files": dels,
                "properties": properties or {},
            }
            if self._write_entry(entry):
                return entry
        raise CommitConflict(
            f"{self.path}: gave up after {max_retries} commit attempts"
        )

    # -- partition-spec evolution ------------------------------------------
    def partition_spec(self) -> dict | None:
        """The ACTIVE partition spec, or None. A spec is table
        metadata carried on every commit (like bloom.columns):
        {"columns": [...], "spec_id": n}."""
        head_v = self.latest_version()
        if head_v is None:
            return None
        props = self.entry(head_v).get("properties", {})
        cols = props.get("partition.spec")
        if not cols:
            return None
        return {"columns": list(cols), "spec_id": props.get("partition.spec.id", 1)}

    def set_partition_spec(self, columns: list[str]) -> dict:
        """Partition-spec EVOLUTION (Iceberg `ALTER TABLE ... WRITE
        ORDERED BY` / partition-spec v2 evolution): change how FUTURE
        writes are laid out without rewriting a single existing file.
        Metadata-only commit — the manifest is carried as-is; from the
        next commit on, staged data is range-clustered on `columns`,
        so new files get tight footer min/max stats and
        `prune_files`/`scan` skip them for selective predicates. Old
        files keep their old layout and are simply never skipped more
        than their stats allow — exactly Iceberg's old-spec/new-spec
        coexistence story. Each call bumps `spec_id`; the commit log
        is the spec history.

        At 100 TB this is the difference between re-clustering a
        table (days of rewrite) and re-clustering its FUTURE (one log
        write + better layout from now on); `Lakehouse.optimize_layout`
        remains the explicit rewrite for retrofitting old files."""
        head_v = self.latest_version()
        if head_v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(head_v)
        prev = self.partition_spec()
        spec_id = (prev["spec_id"] + 1) if prev else 1
        return self._commit_manifest(
            "set-spec",
            manifest=list(e["manifest"]),
            schema_json=e["schema"],
            row_count=e["row_count"],
            stats=dict(e.get("stats", {})),
            added=[],
            seq=_file_seq(e),
            delete_files=list(e.get("delete_files", [])),
            properties={
                "partition.spec": list(columns),
                "partition.spec.id": spec_id,
            },
        )

    def _spec_properties(self) -> dict:
        """Inherited table properties to stamp onto a new commit:
        the active partition spec, the active CHECK constraints, and
        the bloom config. bloom.columns used to be stamped only by
        `_commit`, so any metadata commit through `_commit_manifest`
        (add_constraint, set_partition_spec, rollback, MoR delete,
        compaction, cherry-pick) silently DROPPED it and blooms
        stopped being built for all later appends — inheriting it
        here covers both commit paths."""
        out: dict = {}
        spec = self.partition_spec()
        if spec:
            out["partition.spec"] = spec["columns"]
            out["partition.spec.id"] = spec["spec_id"]
        for name, sql in self.constraints().items():
            out[f"constraint.{name}"] = sql
        if not self._bloom_cols:
            v = self.latest_version()
            if v is not None:
                self._bloom_cols = list(
                    self.entry(v)["properties"].get("bloom.columns", [])
                )
        if self._bloom_cols:
            out["bloom.columns"] = self._bloom_cols
        return out

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT) -------------
    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints, name → SQL predicate text."""
        v = self.latest_version()
        if v is None:
            return {}
        props = self.entry(v).get("properties", {})
        pre = "constraint."
        return {
            k[len(pre):]: val
            for k, val in props.items()
            if k.startswith(pre)
        }

    def add_constraint(self, name: str, predicate_sql: str) -> dict:
        """Delta `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)`:
        from this commit on, every incoming batch must satisfy
        `predicate_sql` or its commit raises ConstraintViolation and
        nothing lands. Adding the constraint first validates the
        EXISTING table (one filtered count — Delta does the same full
        scan), then commits it as an inherited table property; the
        commit log is the constraint history. Enforcement costs one
        boolean aggregate over each future incoming batch — O(batch),
        never O(table)."""
        head_v = self.latest_version()
        if head_v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        from pyspark.sql import functions as F

        # Same null-as-violation form as _enforce_constraints: a
        # constraint that existing NULL rows would fail on any later
        # rewrite must not be addable over them.
        bad = (
            self.read()
            .filter(~F.coalesce(F.expr(predicate_sql), F.lit(False)))
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"{self.path}: cannot add constraint {name!r} — {bad} "
                f"existing rows violate ({predicate_sql})"
            )
        e = self.entry(head_v)
        return self._commit_manifest(
            "set-constraint",
            manifest=list(e["manifest"]),
            schema_json=e["schema"],
            row_count=e["row_count"],
            stats=dict(e.get("stats", {})),
            added=[],
            seq=_file_seq(e),
            delete_files=list(e.get("delete_files", [])),
            properties={f"constraint.{name}": predicate_sql},
        )

    def drop_constraint(self, name: str) -> dict:
        head_v = self.latest_version()
        if head_v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        if name not in self.constraints():
            raise ValueError(f"{self.path}: no constraint {name!r}")
        e = self.entry(head_v)
        return self._commit_manifest(
            "set-constraint",
            manifest=list(e["manifest"]),
            schema_json=e["schema"],
            row_count=e["row_count"],
            stats=dict(e.get("stats", {})),
            added=[],
            seq=_file_seq(e),
            delete_files=list(e.get("delete_files", [])),
            properties={f"constraint.{name}": None},
        )

    def _enforce_constraints(self, df: DataFrame) -> None:
        """One fused boolean aggregate over the incoming batch: every
        violated constraint reported at once, with counts."""
        cons = self.constraints()
        if not cons:
            return
        from pyspark.sql import functions as F

        names = sorted(cons)
        agg = df.agg(
            *[
                F.sum(
                    F.when(~F.coalesce(F.expr(cons[n]), F.lit(False)), 1)
                    .otherwise(0)
                ).alias(n)
                for n in names
            ]
        ).collect()[0]
        bad = {n: int(agg[n] or 0) for n in names if agg[n]}
        if bad:
            raise ConstraintViolation(
                f"{self.path}: batch violates CHECK constraint(s) "
                + ", ".join(
                    f"{n} ({cons[n]}): {c} rows" for n, c in bad.items()
                )
            )

    def _cluster_by_spec(self, df: DataFrame) -> DataFrame:
        """Range-cluster a write by the active spec so each staged
        file covers a narrow key range (tight manifest stats → file
        skipping). No-op without a spec or when the spec's columns
        are absent from this DataFrame."""
        spec = self.partition_spec()
        if not spec or not all(c in df.columns for c in spec["columns"]):
            return df
        cols = spec["columns"]
        return df.repartitionByRange(*cols).sortWithinPartitions(*cols)

    def rollback(self, version: int) -> dict:
        """Iceberg `rollback_to_snapshot` / Delta RESTORE: make the
        table's CURRENT state equal its state at `version` by
        committing a NEW snapshot that re-references that version's
        file list. History is preserved (the rolled-back-over commits
        stay readable until expiry) and the operation is METADATA-ONLY
        — no data file is read, copied, or rewritten, so restoring a
        100 TB table is a single conditional log write. The target's
        files must still be live, which they are as long as `version`
        itself has not been expired (entry lookup raises otherwise)."""
        target = self.entry(version)
        return self._commit_manifest(
            "rollback",
            manifest=list(target["manifest"]),
            schema_json=target["schema"],
            row_count=target["row_count"],
            stats=dict(target.get("stats", {})),
            added=[],
            seq=_file_seq(target),
            delete_files=list(target.get("delete_files", [])),
            properties={"rolled_back_to": version},
        )

    def cherry_pick(
        self, source: "SnapshotTable", version: int | None = None
    ) -> dict:
        """Publish an audited append from a branch (Iceberg
        `cherrypick_snapshot` — the PUBLISH step of write-audit-
        publish): take an append-operation snapshot on `source`
        (normally a zero-copy `clone` of this table used as a staging
        branch), and apply ITS ADDED FILES onto this table's current
        head as a new commit. Metadata-only: the branch's data files
        are hard-linked in (the clone mechanism in reverse; on an
        object store, server-side copy / shared object refs), no data
        is read or rewritten, so publishing a multi-TB audited batch
        is one conditional log write.

        The WAP flow this enables: `b = t.clone(path)` → `b.append(
        batch)` → audit queries run on `b` (main readers see nothing)
        → `t.cherry_pick(b, b.latest_version())` on pass, or simply
        delete the branch directory on fail — main is untouched
        either way. Only append snapshots can be picked (same
        added-files-only contract as `added_between`)."""
        v = source.latest_version() if version is None else version
        if v is None:
            raise SnapshotNotFound(f"{source.path}: table has no snapshots")
        e_src = source.entry(v)
        if e_src["operation"] != "append":
            raise ValueError(
                f"{source.path}: snapshot {v} is {e_src['operation']!r} — "
                "only append snapshots can be cherry-picked"
            )
        added = list(e_src["added"])
        if not added:
            raise ValueError(f"{source.path}: snapshot {v} added no files")
        if self.constraints():
            # Publishing is still an incoming batch: the target's
            # CHECK constraints gate it exactly like append's
            # enforcement — otherwise clone->append->cherry_pick
            # lands rows add_constraint promised could never land.
            # One O(batch) boolean aggregate
            # over the branch's added files, read from the SOURCE
            # so a violation links nothing.
            incoming = self.spark.read.schema(
                StructType.fromJson(json.loads(e_src["schema"]))
            ).parquet(
                *[os.path.join(source._data_path, f) for f in added]
            )
            self._enforce_constraints(incoming)
        head_v = self.latest_version()
        head = self.entry(head_v) if head_v is not None else None
        if head and set(added) & set(head["manifest"]):
            raise ValueError(
                f"{self.path}: snapshot {v} of {source.path} is already "
                "published here"
            )
        n_added = 0
        src_stats = e_src.get("stats", {})
        stats = dict(head.get("stats", {})) if head else {}
        os.makedirs(self._data_path, exist_ok=True)
        for f in added:
            tgt = os.path.join(self._data_path, f)
            if not os.path.exists(tgt):
                os.link(os.path.join(source._data_path, f), tgt)
            rows, _ = _footer_stats(tgt)
            n_added += rows
            stats[f] = src_stats.get(f, {})
        src_schema = StructType.fromJson(json.loads(e_src["schema"]))
        if head:
            schema = merge_schemas(
                StructType.fromJson(json.loads(head["schema"])), src_schema
            )
            manifest = head["manifest"] + added
            total = head["row_count"] + n_added
            seq_base = _file_seq(head)
            dels = list(head.get("delete_files", []))
        else:
            schema, manifest, total, seq_base, dels = (
                src_schema,
                list(added),
                n_added,
                {},
                [],
            )
        next_v = (head_v or 0) + 1
        return self._commit_manifest(
            "cherry-pick",
            manifest=manifest,
            schema_json=json.dumps(schema.jsonValue()),
            row_count=total,
            stats=stats,
            added=added,
            seq={**seq_base, **{f: next_v for f in added}},
            delete_files=dels,
            properties={
                "cherry_picked_from": source.path,
                "cherry_picked_version": v,
            },
            expect_parent=head_v,
        )

    def delete_where(
        self,
        predicate,
        *,
        mode: str = "cow",
        equality_on: list[str] | None = None,
        prune_column: str | None = None,
        lo=None,
        hi=None,
        properties: dict | None = None,
        max_retries: int = 5,
    ) -> dict:
        """Row-level DELETE, both Iceberg v2 strategies.

        mode="cow" (copy-on-write, Delta DELETE / Iceberg CoW): rows
        matching `predicate` (a Column) are removed by REWRITING ONLY
        the data files that might contain them; untouched files carry
        over into the new manifest by name. When (`prune_column`, lo,
        hi) bounds the predicate, candidate files come from the
        manifest's footer min/max stats — at 100 TB a key- or
        time-scoped delete (GDPR erasure, partition retirement)
        rewrites the handful of overlapping files, not the table.
        Without bounds every file is a candidate (full CoW). If the
        table carries pending MoR delete files, CoW compacts them
        into the rewrite (full rewrite, like Iceberg's
        rewrite_data_files) so no resurrected row can appear.

        mode="mor" (merge-on-read, Iceberg v2 equality deletes): the
        delete is committed as a DELETE FILE — the distinct
        `equality_on` key tuples of the matching rows — and NO data
        file is touched. Readers anti-join data files against delete
        files whose sequence number is higher than the data file's
        (later appends are unaffected, exactly Iceberg's sequencing
        rule). `predicate` must be a function of `equality_on`
        columns: an equality delete removes EVERY row sharing a
        deleted key. At 100 TB this makes deletes O(matched keys)
        writes instead of O(matched files) rewrites; the read-side
        anti-join cost is reclaimed later by `rewrite_deletes()`.

        Commits pinned to the snapshot the delete was derived from
        (`expect_parent`): a concurrent writer forces a re-derive, the
        same serializable read-modify-write rule as `merge`."""
        if mode not in ("cow", "mor", "mor_positional"):
            raise ValueError(f"delete_where: unknown mode {mode!r}")
        if mode == "mor" and not equality_on:
            raise ValueError("delete_where(mode='mor') needs equality_on")
        last: CommitConflict | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            if base is None:
                raise SnapshotNotFound(f"{self.path}: table has no snapshots")
            e = self.entry(base)
            try:
                if mode == "mor":
                    return self._delete_mor(e, predicate, equality_on, properties)
                if mode == "mor_positional":
                    return self._delete_mor_positional(e, predicate, properties)
                return self._delete_cow(
                    e, predicate, prune_column, lo, hi, properties
                )
            except CommitConflict as err:
                last = err
        raise last  # type: ignore[misc]

    def _delete_cow(
        self, e: dict, predicate, prune_column, lo, hi, properties
    ) -> dict:
        from pyspark.sql import functions as F

        base = e["version"]
        # SQL DELETE removes rows where the predicate IS TRUE; a row
        # where it evaluates NULL survives (same rule as replaceWhere).
        keep = ~F.coalesce(predicate, F.lit(False))
        pending = e.get("delete_files", [])
        if pending:
            # Pending MoR deletes: a pruned rewrite could resurrect
            # deleted rows (new files outrank old delete files), so
            # compact everything — read() applies the deletes.
            survivors = self.read(version=base).filter(keep)
            return self._commit(
                "delete",
                survivors,
                replace=True,
                properties={
                    **(properties or {}),
                    "compacted_delete_files": len(pending),
                },
                expect_parent=base,
            )
        schema = StructType.fromJson(json.loads(e["schema"]))
        if prune_column is not None:
            candidates = set(self.prune_files(prune_column, lo, hi, version=base))
        else:
            candidates = set(e["manifest"])
        untouched = [f for f in e["manifest"] if f not in candidates]
        if candidates:
            paths = [
                os.path.join(self._data_path, f) for f in sorted(candidates)
            ]
            survivors = (
                self.spark.read.schema(schema).parquet(*paths).filter(keep)
            )
            added = self._stage(survivors)
        else:
            added = []
        old_stats = e.get("stats", {})
        old_seq = _file_seq(e)
        stats = {f: old_stats.get(f, {}) for f in untouched}
        seq = {f: old_seq.get(f, base) for f in untouched}
        # Same log-arithmetic count as _overwrite_where_once: footer
        # reads only for rewritten + replacement files.
        row_count = e["row_count"]
        for f in sorted(candidates):
            rows, _ = _footer_stats(os.path.join(self._data_path, f))
            row_count -= rows
        for f in added:
            rows, st = _footer_stats(os.path.join(self._data_path, f))
            row_count += rows
            stats[f] = st
            seq[f] = base + 1  # patched to the real version below
        return self._commit_manifest(
            "delete",
            manifest=untouched + added,
            schema_json=e["schema"],
            row_count=row_count,
            stats=stats,
            added=added,
            seq=seq,
            delete_files=[],
            properties={
                **(properties or {}),
                "rewritten_files": len(candidates),
                "carried_files": len(untouched),
            },
            expect_parent=base,
        )

    def _delete_mor(self, e: dict, predicate, equality_on, properties) -> dict:
        base = e["version"]
        visible = self.read(version=base)
        keys = (
            visible.filter(predicate).select(*equality_on).distinct().coalesce(1)
        )
        staged = self._stage(keys)
        if len(staged) > 1:
            # keep one delete file per commit: tiny key sets coalesce
            paths = [os.path.join(self._data_path, f) for f in staged]
            merged = self.spark.read.parquet(*paths).coalesce(1)
            restaged = self._stage(merged)
            for f in staged:
                os.remove(os.path.join(self._data_path, f))
            staged = restaged
        delete_file = staged[0]
        n_deleted = visible.join(
            self.spark.read.parquet(
                os.path.join(self._data_path, delete_file)
            ),
            on=list(equality_on),
            how="left_semi",
        ).count()
        try:
            return self._commit_manifest(
                "delete",
                manifest=list(e["manifest"]),
                schema_json=e["schema"],
                row_count=e["row_count"] - n_deleted,
                stats=dict(e.get("stats", {})),
                added=[],
                seq=_file_seq(e),
                delete_files=list(e.get("delete_files", [])),
                new_delete={"file": delete_file, "columns": list(equality_on)},
                properties={
                    **(properties or {}),
                    "mode": "mor",
                    "deleted_rows": n_deleted,
                },
                expect_parent=base,
            )
        except CommitConflict:
            try:
                os.remove(os.path.join(self._data_path, delete_file))
            except FileNotFoundError:
                pass
            raise

    def _delete_mor_positional(self, e: dict, predicate, properties) -> dict:
        """Iceberg v2 POSITIONAL delete / Delta deletion vector: the
        delete file records (`_file` basename, `_pos` row ordinal)
        pairs — which physical rows died, not which keys. No data file
        is touched and no key columns are required (`predicate` may be
        over any columns); readers anti-join on the parquet reader's
        own (file, row_index). Positions are derived from the
        position-annotated VISIBLE read, so rows hidden by pending
        deletes are never re-counted, and the commit's row_count drops
        by exactly the delete file's cardinality (1 position == 1
        row — unlike equality deletes, no matching pass is needed)."""
        base = e["version"]
        visible = self._read_files(e, e["manifest"], with_positions=True)
        keys = (
            visible.filter(predicate).select("_file", "_pos").coalesce(1)
        )
        staged = self._stage(keys)
        if len(staged) > 1:
            paths = [os.path.join(self._data_path, f) for f in staged]
            merged = self.spark.read.parquet(*paths).coalesce(1)
            restaged = self._stage(merged)
            for f in staged:
                os.remove(os.path.join(self._data_path, f))
            staged = restaged
        delete_file = staged[0]
        n_deleted, _ = _footer_stats(
            os.path.join(self._data_path, delete_file)
        )
        try:
            return self._commit_manifest(
                "delete",
                manifest=list(e["manifest"]),
                schema_json=e["schema"],
                row_count=e["row_count"] - n_deleted,
                stats=dict(e.get("stats", {})),
                added=[],
                seq=_file_seq(e),
                delete_files=list(e.get("delete_files", [])),
                new_delete={
                    "file": delete_file,
                    "columns": ["_file", "_pos"],
                    "kind": "positional",
                },
                properties={
                    **(properties or {}),
                    "mode": "mor_positional",
                    "deleted_rows": n_deleted,
                },
                expect_parent=base,
            )
        except CommitConflict:
            try:
                os.remove(os.path.join(self._data_path, delete_file))
            except FileNotFoundError:
                pass
            raise

    def rewrite_deletes(self, properties: dict | None = None) -> dict:
        """Maintenance: materialize pending MoR delete files into the
        data files (Iceberg `rewrite_data_files` with delete
        compaction / Delta OPTIMIZE over deletion vectors). After this
        the manifest has no delete files and reads are plain scans
        again. No-op when nothing is pending."""
        base = self.latest_version()
        if base is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(base)
        pending = e.get("delete_files", [])
        if not pending:
            return e
        return self._commit(
            "rewrite",
            self.read(version=base),
            replace=True,
            properties={
                **(properties or {}),
                "compacted_delete_files": len(pending),
            },
            expect_parent=base,
        )

    def compact_files(
        self,
        *,
        small_file_bytes: int | None = None,
        target_files: int = 1,
        properties: dict | None = None,
    ) -> dict:
        """Bin-pack small-file compaction — Iceberg `rewrite_data_files`
        (binpack strategy) / Trino `ALTER TABLE ... EXECUTE optimize`.
        The reference stack exposes both by construction
        (/root/reference/Dockerfile:57-78 Iceberg runtime,
        config/iceberg-template.properties:1-13 Trino Iceberg).

        Selects live data files smaller than `small_file_bytes`
        (None = every file) by on-disk size — a driver-side metadata
        stat, no Spark job — reads ONLY those files with pending MoR
        delete files applied, and rewrites them as `target_files`
        files. Untouched files carry into the new manifest BY NAME:
        compaction is manifest surgery, not a table rewrite. At 100 TB
        this is the difference between rewriting a handful of
        drizzle-sized append files (one bounded job) and re-shuffling
        the table; pick target_files ≈ selected_bytes / 512 MiB.

        Sequencing: rewritten files get the new commit's sequence
        number, so existing delete files (all with seq ≤ head) no
        longer apply to them — correct, because their deletes were
        materialized during the rewrite read. Delete files are carried
        for the untouched data files they still outrank;
        `rewrite_deletes()` remains the full delete-compaction path.

        Returns the new log entry; no-op (returns the head entry) when
        fewer than two files qualify."""
        base = self.latest_version()
        if base is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(base)
        small = [
            f
            for f in e["manifest"]
            if small_file_bytes is None
            or os.path.getsize(os.path.join(self._data_path, f))
            < small_file_bytes
        ]
        if len(small) <= max(target_files, 1):
            return e
        rewritten = self._read_files(e, small).coalesce(max(target_files, 1))
        staged = self._stage(rewritten)
        kept = [f for f in e["manifest"] if f not in set(small)]
        stats = {
            f: s for f, s in e.get("stats", {}).items() if f in set(kept)
        }
        for f in staged:
            _, st = _footer_stats(os.path.join(self._data_path, f))
            stats[f] = st
        prev_seq = _file_seq(e)
        try:
            return self._commit_manifest(
                "rewrite",
                manifest=kept + staged,
                schema_json=e["schema"],
                row_count=e["row_count"],
                stats=stats,
                added=staged,
                seq={
                    **{f: prev_seq.get(f, 0) for f in kept},
                    **{f: base + 1 for f in staged},
                },
                delete_files=list(e.get("delete_files", [])),
                properties={
                    **(properties or {}),
                    "strategy": "binpack",
                    "compacted_files": len(small),
                },
                expect_parent=base,
            )
        except CommitConflict:
            for f in staged:
                try:
                    os.remove(os.path.join(self._data_path, f))
                except FileNotFoundError:
                    pass
            raise

    # -- read path ---------------------------------------------------------
    def schema(self, version: int | None = None) -> StructType:
        v = self.latest_version() if version is None else version
        if v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        return StructType.fromJson(json.loads(self.entry(v)["schema"]))

    def read(
        self, version: int | None = None, *, as_of_ms: int | None = None
    ) -> DataFrame:
        """Scan the table as of `version` (A12/A15; Iceberg
        `VERSION AS OF`). The snapshot schema is applied explicitly so
        pre-evolution files surface NULL for later columns; pushdown /
        pruning work as on any parquet scan. Pending MoR delete files
        are applied as anti-joins (see `_read_files`). `version` may
        be a tag name (Iceberg `VERSION AS OF 'tag'`); `as_of_ms`
        selects by commit wall-clock time instead (Iceberg
        `FOR TIMESTAMP AS OF`, see `version_as_of`) — the two are
        mutually exclusive."""
        if as_of_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ms, not both")
            version = self.version_as_of(as_of_ms)
        v = self.latest_version() if version is None else self.resolve(version)
        if v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(v)
        return self._read_files(e, e["manifest"])

    def _read_files(
        self, e: dict, names: list[str], with_positions: bool = False
    ) -> DataFrame:
        """Read a subset of a snapshot's data files with MoR delete
        semantics: a delete file applies to a data file iff its
        sequence number is higher (Iceberg's rule — appends AFTER a
        delete are unaffected). Data files are grouped by sequence
        number; each group anti-joins the union of the delete files
        that outrank it, broadcast (delete key sets are small by
        construction — large deletes belong in CoW). Both v2 delete
        strategies apply here: EQUALITY files anti-join on their key
        columns, POSITIONAL files (kind="positional": `_file` basename
        + `_pos` row ordinal, Iceberg positional deletes / Delta
        deletion vectors) anti-join on the parquet reader's own
        (_metadata.file_path, _metadata.row_index) — no key columns
        needed, which is what makes them the right tool for
        predicate-derived deletes over keyless tables.
        `with_positions=True` keeps the `_file`/`_pos` annotation on
        the output (the positional-delete WRITE path derives its keys
        from exactly this read, so a delete over already-deleted rows
        can never resurrect or double-count). With no pending deletes
        this is a plain multi-file parquet scan: zero overhead on the
        common path."""
        from pyspark.sql import functions as F

        def annotate(df):
            return df.select(
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("_file"),
                F.col("_metadata.row_index").alias("_pos"),
                "*",
            )

        schema = StructType.fromJson(json.loads(e["schema"]))
        if not names:
            empty = self.spark.createDataFrame([], schema)
            if with_positions:
                empty = empty.select(
                    F.lit(None).cast("string").alias("_file"),
                    F.lit(None).cast("bigint").alias("_pos"),
                    "*",
                )
            return empty
        dels = e.get("delete_files", [])
        paths = [os.path.join(self._data_path, f) for f in names]
        if not dels and not with_positions:
            return self.spark.read.schema(schema).parquet(*paths)
        if not dels:
            return annotate(self.spark.read.schema(schema).parquet(*paths))
        seq = _file_seq(e)
        groups: dict[int, list[str]] = {}
        for f in names:
            groups.setdefault(seq.get(f, 0), []).append(f)
        parts: list[DataFrame] = []
        for s, group in sorted(groups.items()):
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self._data_path, f) for f in group]
            )
            applicable = [d for d in dels if d["seq"] > s]
            positional = [
                d for d in applicable if d.get("kind") == "positional"
            ]
            equality = [
                d for d in applicable if d.get("kind") != "positional"
            ]
            if positional or with_positions:
                df = annotate(df)
            if positional:
                keys = self.spark.read.parquet(
                    *[
                        os.path.join(self._data_path, d["file"])
                        for d in positional
                    ]
                ).distinct()
                df = df.join(
                    F.broadcast(keys), on=["_file", "_pos"], how="left_anti"
                )
            by_cols: dict[tuple, list[str]] = {}
            for d in equality:
                by_cols.setdefault(tuple(d["columns"]), []).append(d["file"])
            for cols, dfiles in by_cols.items():
                keys = self.spark.read.parquet(
                    *[os.path.join(self._data_path, f) for f in dfiles]
                ).distinct()
                df = df.join(F.broadcast(keys), on=list(cols), how="left_anti")
            if (positional) and not with_positions:
                df = df.drop("_file", "_pos")
            elif with_positions and not positional:
                pass  # annotated above
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def files(self, version: int | None = None) -> list[dict]:
        """The Iceberg `.files` metadata table: one dict per live data
        file with its commit-time footer stats. Metadata only — no
        data scan."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(v)
        stats = e.get("stats", {})
        return [
            {"file": f, "stats": stats.get(f, {})} for f in e["manifest"]
        ]

    def prune_files(
        self, column: str, lo, hi, version: int | None = None
    ) -> list[str]:
        """Manifest-level file skipping: keep only files whose
        [min, max] range for `column` overlaps [lo, hi]. Files with no
        recorded stats are kept (skipping is an optimization, never a
        correctness decision). Pure metadata: at 100 TB this turns
        "list and open a million files" into "open the dozens whose
        range matches" BEFORE Spark plans the scan — the same job
        Iceberg's manifest stats do."""
        out = []
        for f in self.files(version):
            rng = f["stats"].get(column)
            if rng is None or (rng[0] <= hi and rng[1] >= lo):
                out.append(f["file"])
        return out

    def prune_files_equals(
        self, column: str, value, version: int | None = None
    ) -> list[str]:
        """Point-lookup file skipping: range stats first (cheap), then
        the per-file bloom filter — a definite NO skips the file, a
        maybe keeps it (false positives only cost a read, never
        correctness). This is the pruning path range stats cannot
        serve: a high-cardinality key (user id, doc digest) whose
        min/max spans every file."""
        v = self.latest_version() if version is None else version
        e = self.entry(v) if v is not None else None
        blooms = e.get("blooms", {}) if e else {}
        out = []
        for f in self.prune_files(column, value, value, version=v):
            b = blooms.get(f, {}).get(column)
            if b is None or _bloom_contains(b, value):
                out.append(f)
        return out

    def scan_equals(
        self, column: str, value, version: int | None = None
    ) -> DataFrame:
        """Equality scan through stats+bloom pruning, residual
        predicate still applied (pruning is invisible)."""
        from pyspark.sql import functions as F

        v = self.latest_version() if version is None else version
        if v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(v)
        names = self.prune_files_equals(column, value, version=v)
        return self._read_files(e, names).filter(F.col(column) == F.lit(value))

    def scan(
        self, column: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Range scan with file skipping: prune the manifest by footer
        stats, read only surviving files, and STILL apply the residual
        predicate (pruning is semantically invisible — a file may
        overlap the range yet contain no matching rows)."""
        from pyspark.sql import functions as F

        v = self.latest_version() if version is None else version
        if v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        e = self.entry(v)
        names = self.prune_files(column, lo, hi, version=v)
        pred = (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
        return self._read_files(e, names).filter(pred)

    def added_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental read (Iceberg incremental scan / Delta CDF for
        append-only tables): the rows ADDED by commits in
        (from_version, to_version]. Pure manifest arithmetic — the
        union of each intervening snapshot's `added` file list — so a
        downstream consumer processes exactly the new data without
        diffing table states or re-scanning history. Replace/overwrite
        commits reset lineage and raise here: "what changed" is no
        longer expressible as added files alone (the CDC seam).

        At 100 TB this is how periodic consumers (index builders,
        aggregators, exporters) stay O(new data) instead of O(table):
        file pruning happens in metadata before any executor starts.
        """
        to_v = self.latest_version() if to_version is None else to_version
        if to_v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        self._require_contiguous(from_version, to_v)
        names: list[str] = []
        for v in self.versions():
            if from_version < v <= to_v:
                e = self.entry(v)
                # add-only commits keep lineage: the initial create,
                # appends, and cherry-picked (published) appends.
                if e["operation"] not in ("create", "append", "cherry-pick"):
                    raise ValueError(
                        f"{self.path}: snapshot {v} is {e['operation']!r}, "
                        "not an append — incremental read undefined across "
                        "replaces"
                    )
                names.extend(e["added"])
        schema = StructType.fromJson(json.loads(self.entry(to_v)["schema"]))
        if not names:
            return self.spark.createDataFrame([], schema)
        files = [os.path.join(self._data_path, f) for f in names]
        return self.spark.read.schema(schema).parquet(*files)

    def _require_contiguous(
        self, from_version: int, to_v: int, need_parent: bool = False
    ) -> None:
        """Versions are allocated contiguously (head+1), so a missing
        number inside (from, to] means a snapshot in the requested
        range was EXPIRED: its rows are unrecoverable and an
        incremental feed that silently skips it permanently loses
        data downstream. Raise, like Delta/Iceberg do on incomplete
        log ranges, instead of returning a quietly-wrong diff. `need_parent` additionally requires
        from_version itself (changes_between diffs each commit
        against its TRUE parent)."""
        have = set(self.versions())
        missing = [
            v for v in range(from_version + 1, to_v + 1) if v not in have
        ]
        if missing:
            raise ValueError(
                f"{self.path}: snapshots {missing} in ({from_version}, "
                f"{to_v}] were expired — incremental range incomplete"
            )
        if need_parent and from_version > 0 and from_version not in have:
            raise ValueError(
                f"{self.path}: snapshot {from_version} was expired — "
                "change feed needs the range's parent snapshot"
            )

    def changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change-data-feed (Delta CDF / Iceberg
        `changelog_scan`): every logical row change committed in
        (from_version, to_version], as the to-version schema plus
        `_change_type` ('insert' | 'delete'; an update surfaces as a
        delete+insert pair, Delta's preimage/postimage) and
        `_commit_version`.

        Work is proportional to WHAT EACH COMMIT TOUCHED, not table
        size, wherever the log makes that expressible:

        - create/append/cherry-pick → inserts read from exactly the
          commit's added files (O(new data), same as `added_between`);
        - MoR delete → the committed delete file's keys semi-join the
          parent snapshot (O(matched rows); the delete file IS the
          change record);
        - CoW delete → bag-difference of (rewritten ∪ removed) files
          vs the commit's replacement files — bounded by the rewritten
          set, which footer-stat pruning already minimized;
        - rewrite (delete-file compaction) → logical no-op, emits
          nothing;
        - replace/rollback/merge → full preimage-vs-postimage bag
          diff (`exceptAll`), the one shape where O(both versions) is
          irreducible without per-commit change files — exactly where
          Delta requires `delta.enableChangeDataFeed` to do better.

        At 100 TB a downstream sync (search index, feature store,
        aggregate view) consumes this instead of diffing snapshots:
        append-heavy history costs O(changed rows) in metadata +
        scan."""
        to_v = self.latest_version() if to_version is None else to_version
        if to_v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        self._require_contiguous(from_version, to_v, need_parent=True)
        out_schema = StructType.fromJson(json.loads(self.entry(to_v)["schema"]))

        def _align(df: DataFrame) -> DataFrame:
            from pyspark.sql import functions as F

            cols = [
                F.col(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in out_schema.fields
            ]
            return df.select(*cols)

        def _tag(df: DataFrame, change: str, v: int) -> DataFrame:
            from pyspark.sql import functions as F

            return _align(df).select(
                "*",
                F.lit(change).alias("_change_type"),
                F.lit(v).cast("int").alias("_commit_version"),
            )

        versions = [v for v in self.versions() if from_version < v <= to_v]
        parts: list[DataFrame] = []
        for v in versions:
            e = self.entry(v)
            op = e["operation"]
            prior = [p for p in self.versions() if p < v]
            parent = self.entry(prior[-1]) if prior else None
            schema_v = StructType.fromJson(json.loads(e["schema"]))
            if op in ("create", "append", "cherry-pick"):
                if e["added"]:
                    df = self.spark.read.schema(schema_v).parquet(
                        *[os.path.join(self._data_path, f) for f in e["added"]]
                    )
                    parts.append(_tag(df, "insert", v))
                continue
            if op in ("rewrite", "set-constraint", "set-spec"):
                continue  # physical/metadata-only, zero logical change
            if op == "delete" and parent is not None:
                mode = (e.get("properties") or {}).get("mode")
                new_dels = [
                    d
                    for d in e.get("delete_files", [])
                    if d["file"]
                    not in {p["file"] for p in parent.get("delete_files", [])}
                ]
                if mode == "mor_positional" and new_dels:
                    from pyspark.sql import functions as F

                    # Positional commit: the deleted rows are the
                    # parent's visible rows at exactly the recorded
                    # (file, ordinal) pairs — one semi-join on the
                    # position annotation, no key columns involved.
                    keys = self.spark.read.parquet(
                        *[
                            os.path.join(self._data_path, d["file"])
                            for d in new_dels
                        ]
                    ).distinct()
                    pre = self._read_files(
                        parent, parent["manifest"], with_positions=True
                    )
                    deleted = pre.join(
                        F.broadcast(keys), on=["_file", "_pos"],
                        how="left_semi",
                    ).drop("_file", "_pos")
                    parts.append(_tag(deleted, "delete", v))
                    continue
                if mode == "mor" and new_dels:
                    from pyspark.sql import functions as F

                    # A row is deleted if it matches ANY of the
                    # commit's new delete files — the UNION of the
                    # key sets, not the intersection a chained
                    # left_semi would compute. Union the key frames
                    # per column tuple first (several files may share
                    # one), then cascade semi/anti per tuple group so
                    # a row matching two different-column key sets is
                    # emitted exactly once (bag semantics preserved —
                    # no distinct over data rows).
                    by_cols: dict[tuple, list] = {}
                    for d in new_dels:
                        by_cols.setdefault(tuple(d["columns"]), []).append(
                            d["file"]
                        )
                    remaining = self._read_files(parent, parent["manifest"])
                    hit_parts: list[DataFrame] = []
                    for cols_t, files in by_cols.items():
                        keys = self.spark.read.parquet(
                            *[
                                os.path.join(self._data_path, f)
                                for f in files
                            ]
                        ).distinct()
                        hit_parts.append(
                            remaining.join(
                                F.broadcast(keys),
                                on=list(cols_t),
                                how="left_semi",
                            )
                        )
                        remaining = remaining.join(
                            F.broadcast(keys),
                            on=list(cols_t),
                            how="left_anti",
                        )
                    deleted = hit_parts[0]
                    for h in hit_parts[1:]:
                        deleted = deleted.unionByName(h)
                    parts.append(_tag(deleted, "delete", v))
                    continue
                removed = [
                    f for f in parent["manifest"] if f not in set(e["manifest"])
                ]
                if removed:
                    pre = self._read_files(parent, removed)
                    post_files = list(e.get("added", []))
                    if post_files:
                        post = self.spark.read.schema(schema_v).parquet(
                            *[
                                os.path.join(self._data_path, f)
                                for f in post_files
                            ]
                        )
                        deleted = _align(pre).exceptAll(_align(post))
                    else:
                        deleted = _align(pre)
                    parts.append(_tag(deleted, "delete", v))
                continue
            # replace / rollback / merge / unknown: full bag diff.
            post = self._read_files(e, e["manifest"])
            if parent is None:
                parts.append(_tag(post, "insert", v))
                continue
            pre = self._read_files(parent, parent["manifest"])
            parts.append(_tag(_align(pre).exceptAll(_align(post)), "delete", v))
            parts.append(_tag(_align(post).exceptAll(_align(pre)), "insert", v))
        if not parts:
            meta = StructType.fromJson(json.loads(self.entry(to_v)["schema"]))
            empty = self.spark.createDataFrame([], meta)
            return _tag(empty, "insert", to_v).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def row_count(self, version: int | None = None) -> int:
        v = self.latest_version() if version is None else version
        if v is None:
            return 0
        return self.entry(v)["row_count"]

    # -- named refs (tags) -------------------------------------------------
    @property
    def _refs_path(self) -> str:
        return os.path.join(self.path, _REFS_DIR)

    def tag(self, name: str, version: int | None = None) -> dict:
        """Create an immutable named ref to a snapshot (Iceberg
        `ALTER TABLE ... CREATE TAG` / Delta does this with cloned
        tables). Tags pin versions for reproducibility — "the corpus
        release we trained run X on" — and `expire_snapshots` treats
        tagged snapshots as live, so the pin survives GC. The ref is
        one O_EXCL file write: atomic, first-writer-wins (same
        primitive as the commit log)."""
        if not _REF_NAME_RE.fullmatch(name):
            raise ValueError(
                f"invalid tag name {name!r} (want [A-Za-z0-9._-]+)"
            )
        v = self.latest_version() if version is None else version
        if v is None or v not in self.versions():
            raise SnapshotNotFound(f"{self.path}: no snapshot {v} to tag")
        ref = {
            "name": name,
            "version": v,
            "type": "tag",
            "created_ms": int(time.time() * 1000),
        }
        os.makedirs(self._refs_path, exist_ok=True)
        target = os.path.join(self._refs_path, f"{name}.json")
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(ref, fh)
        try:
            os.link(tmp, target)  # atomic create-exclusive
        except FileExistsError:
            raise ValueError(
                f"{self.path}: tag {name!r} already exists "
                f"(at version {self.tags()[name]}); tags are immutable — "
                "drop_tag first to move it"
            ) from None
        finally:
            os.remove(tmp)
        return ref

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(os.path.join(self._refs_path, f"{name}.json"))
        except FileNotFoundError:
            raise SnapshotNotFound(f"{self.path}: no tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        """name → version for every tag (Iceberg `.refs` metadata)."""
        if not os.path.isdir(self._refs_path):
            return {}
        out = {}
        for f in sorted(os.listdir(self._refs_path)):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(self._refs_path, f)) as fh:
                    ref = json.load(fh)
                out[ref["name"]] = ref["version"]
        return out

    def resolve(self, version: int | str | None) -> int | None:
        """Resolve a version-or-tag reference to a version number."""
        if version is None or isinstance(version, int):
            return version
        tags = self.tags()
        if version not in tags:
            raise SnapshotNotFound(
                f"{self.path}: no tag {version!r} (have {sorted(tags)})"
            )
        return tags[version]

    def version_as_of(self, ts_ms: int) -> int:
        """Iceberg ``FOR TIMESTAMP AS OF`` / Delta ``timestampAsOf``:
        the LATEST version whose commit wall-clock time is <= ts_ms —
        "the table as a reader at that moment saw it". A timestamp
        before the first commit raises (both reference systems error
        rather than returning an empty table). Ties (commits landing
        within the same millisecond) resolve to the latest such
        version, matching the reader-at-that-moment rule.

        Linear scan over raw log entries (timestamp_ms lives in the
        entry head, never in the manifest sidecar, so this reads no
        sidecars); commit times are monotone by the commit protocol,
        so a million-version log would bisect — at typical expiry
        horizons the scan is tens of entries."""
        best = None
        for v in self.versions():
            if self._entry_raw(v)["timestamp_ms"] <= ts_ms:
                best = v
        if best is None:
            raise SnapshotNotFound(
                f"{self.path}: no snapshot at or before {ts_ms}"
            )
        return best

    # -- maintenance (A10) -------------------------------------------------
    def clone(
        self, dest_path: str, version: int | None = None
    ) -> "SnapshotTable":
        """Zero-copy table clone (Delta SHALLOW CLONE / Iceberg
        branch-from-snapshot equivalent): a NEW table whose first
        snapshot references the source's data files as of `version`
        — no data is rewritten.

        Local mechanism is a hard link per data file, which is what
        makes the clone GC-SAFE in both directions: each table's
        `expire_snapshots` unlinks only names in its own data dir, and
        the filesystem frees an inode only when its last link is gone
        — so expiring the source never breaks the clone (the hazard
        Delta documents for VACUUM-after-shallow-clone simply cannot
        happen). On an object store the seam is server-side COPY (S3
        CopyObject is metadata-only within a bucket) or a
        reference-counted manifest — the commit protocol is unchanged.

        Subsequent writes diverge: each table appends its own files
        under its own log. Lineage records the provenance in the clone
        commit's properties."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise SnapshotNotFound(f"{self.path}: table has no snapshots")
        src = self.entry(v)
        dest = SnapshotTable(self.spark, dest_path)
        if dest.exists():
            raise ValueError(f"{dest_path}: table already exists")
        os.makedirs(dest._data_path, exist_ok=True)
        os.makedirs(dest._log_path, exist_ok=True)
        src_deletes = src.get("delete_files", [])
        for name in src["manifest"] + [d["file"] for d in src_deletes]:
            tgt = os.path.join(dest._data_path, name)
            if not os.path.exists(tgt):
                os.link(os.path.join(self._data_path, name), tgt)
        stats = src.get("stats", {})
        entry = {
            "version": 1,
            "parent": None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "clone",
            "manifest": list(src["manifest"]),
            "added": [],
            "schema": src["schema"],
            "row_count": src["row_count"],
            "stats": {f: stats.get(f, {}) for f in src["manifest"]},
            # Seq/delete state travels with the clone so pending MoR
            # deletes stay applied. Clone-local version numbering
            # restarts at 1, so carried sequence numbers are remapped
            # order-preservingly onto ..,-1,0: every carried seq stays
            # below any future clone commit's (≥2), and the relative
            # data-vs-delete ordering — all the delete rule uses — is
            # intact.
            **_remap_clone_seq(src),
            # Inherited table properties travel with the clone (Delta
            # SHALLOW CLONE copies table properties): without them a
            # WAP staging branch has no CHECK constraints, no bloom
            # config and no partition spec, so branch appends skip
            # enforcement the source promises.
            "properties": {
                **{
                    k: val
                    for k, val in src.get("properties", {}).items()
                    if k.startswith(
                        ("constraint.", "bloom.", "partition.spec")
                    )
                },
                "cloned_from": self.path,
                "cloned_version": v,
            },
        }
        if not dest._write_entry(entry):
            raise ValueError(f"{dest_path}: concurrent clone won the create")
        return dest

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        orphan_grace_ms: int = 3 * 86_400_000,
    ) -> dict:
        """Drop expired snapshots and delete every data file no
        retained snapshot references — including crash orphans from
        aborted commits (extract_load.py:167-171).

        Retention: by count (`keep_last`, deterministic for tests and
        replays) and/or wall-clock (`older_than_ms`, the reference's
        `expire_snapshots(TIMESTAMP now-3d)` contract — snapshots with
        `timestamp_ms` < cutoff expire). The head snapshot is always
        retained regardless of either rule, matching Iceberg; so is
        any TAGGED snapshot (Iceberg ref retention — a pinned corpus
        release must survive GC until its tag is dropped).

        Two deletion classes: files referenced by
        an EXPIRED snapshot are lineage-tracked and deleted
        immediately; files referenced by NO snapshot at all (crash
        debris — but also the staged files of a commit IN FLIGHT
        right now) are only deleted when older than
        `orphan_grace_ms` (default 3 days, Iceberg's
        remove_orphan_files cutoff) — unconditional orphan deletion
        races a concurrent writer between its _stage() and its CAS
        link, corrupting the snapshot that then commits
        successfully. Pass orphan_grace_ms=0 only when no concurrent
        writer can exist (tests, single-process maintenance).
        Returns {expired_snapshots, deleted_files}."""
        vs = self.versions()
        if len(vs) <= keep_last and not os.path.isdir(self._data_path):
            return {"expired_snapshots": 0, "deleted_files": 0}
        keep = set(vs[-keep_last:]) if keep_last > 0 else set()
        if vs:
            keep.add(vs[-1])  # never expire the head, under ANY rule
        keep.update(v for v in self.tags().values() if v in vs)
        if older_than_ms is not None and vs:
            keep.update(
                v
                for v in vs
                if self.entry(v)["timestamp_ms"] >= older_than_ms
            )
        live: set[str] = set()
        live_sidecars: set[str] = set()
        for v in keep:
            raw = self._entry_raw(v)
            if "manifest_ref" in raw:
                live_sidecars.add(raw["manifest_ref"])
            e = self.entry(v)
            live.update(e["manifest"])
            live.update(d["file"] for d in e.get("delete_files", []))
        expired = [v for v in vs if v not in keep]
        referenced_expired: set[str] = set()
        for v in expired:
            e = self.entry(v)
            referenced_expired.update(e["manifest"])
            referenced_expired.update(
                d["file"] for d in e.get("delete_files", [])
            )
        # Carry ingest bookkeeping before dropping entries:
        # `Lakehouse.ingested_files` DERIVES the seen-file set from
        # per-commit `ingested_files` properties, so expiring old
        # commits silently shrank it and the next load_incremental
        # re-ingested those files as duplicate rows. Fold the expired
        # prefix's walk state into the oldest retained entry — unless
        # that entry is itself a replacing commit (create/overwrite),
        # which resets bookkeeping anyway, exactly as the live walk
        # would have.
        if expired and keep:
            v0 = min(keep)
            carried: list[str] = []
            for v in sorted(x for x in expired if x < v0):
                raw = self._entry_raw(v)
                if raw.get("operation") in ("create", "overwrite"):
                    carried = []
                carried.extend(
                    raw.get("properties", {}).get("ingested_files", [])
                )
            if carried:
                raw0 = self._entry_raw(v0)
                if raw0.get("operation") not in ("create", "overwrite"):
                    props = raw0.setdefault("properties", {})
                    existing = props.get("ingested_files", [])
                    props["ingested_files"] = carried + [
                        f for f in existing if f not in carried
                    ]
                    tmp = self._entry_path(v0) + ".tmp"
                    with open(tmp, "w") as fh:
                        json.dump(raw0, fh)
                    os.replace(tmp, self._entry_path(v0))
        for v in expired:
            os.remove(self._entry_path(v))
        deleted = 0
        now_s = time.time()
        if os.path.isdir(self._data_path):
            for f in os.listdir(self._data_path):
                if not f.endswith(".parquet") or f in live:
                    continue
                full = os.path.join(self._data_path, f)
                if f not in referenced_expired:
                    # true orphan: age-gate against in-flight commits
                    try:
                        age_ms = (now_s - os.path.getmtime(full)) * 1000
                    except FileNotFoundError:
                        continue
                    if age_ms < orphan_grace_ms:
                        continue
                os.remove(full)
                deleted += 1
        # Manifest-list sidecars referenced by no retained entry —
        # expired snapshots' lists plus crash/race orphans.
        mdir = os.path.join(self._log_path, _MANIFESTS_DIR)
        if os.path.isdir(mdir):
            for f in os.listdir(mdir):
                if f not in live_sidecars:
                    os.remove(os.path.join(mdir, f))
        return {"expired_snapshots": len(expired), "deleted_files": deleted}
