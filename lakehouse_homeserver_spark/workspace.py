"""The one owner of every directory the engine writes outside the
warehouse. Two lifetimes, both under ``tempfile.gettempdir()``:

- **Scratch** (``scratch(name)``): a fresh empty directory under the
  process's root ``lakehouse-scratch-<pid>``. A query's DataFrame may
  read its scratch lazily, after the query function has returned, so
  scratch lives as long as the process: the root is removed at exit
  (``atexit``) or by ``release()``. A process that leaves through
  ``os._exit`` (a ``multiprocessing`` child) calls ``release()``
  itself. Creating a root removes every sibling ``lakehouse-scratch-*``
  entry that does not belong to a live process, so a killed run's
  scratch goes with the next run's first use.
- **Fixtures** (``fixture(name, build, source)``): build-once
  directories under ``FIXTURES``, shared across processes. Content is
  deterministic, so a fixture built by any process is valid; a keyed
  fixture folds a fingerprint of its source table into its name, so a
  regenerated dataset gets a fresh build and the stale one is removed.
  ``catalog_table`` puts a session catalog table over a keyed fixture.

Catalog tables are always external: their files live in a fixture or
in scratch, never under ``spark.sql.warehouse.dir``, whose managed
locations outlive the in-memory catalog that owns them.

Importing this module creates nothing.
"""

from __future__ import annotations

import atexit
import fcntl
import os
import re
import shutil
import tempfile
from collections.abc import Callable

SCRATCH_PREFIX = "lakehouse-scratch-"
FIXTURES = os.path.join(tempfile.gettempdir(), "lakehouse-fixtures")

_root: str | None = None
_root_pid: int | None = None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _remove_dead_roots(tmp: str) -> None:
    """Remove every `lakehouse-scratch-*` entry in `tmp` that is not
    the root of a live process (killed runs, and names without a pid)."""
    for entry in os.listdir(tmp):
        if not entry.startswith(SCRATCH_PREFIX):
            continue
        pid = entry[len(SCRATCH_PREFIX):]
        if not (pid.isdigit() and _alive(int(pid))):
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)


def scratch(name: str) -> str:
    """A fresh empty directory that lives until this process ends."""
    global _root, _root_pid
    pid = os.getpid()
    if _root_pid != pid:  # first use, or a forked child
        tmp = tempfile.gettempdir()
        _remove_dead_roots(tmp)
        _root = os.path.join(tmp, f"{SCRATCH_PREFIX}{pid}")
        os.makedirs(_root, exist_ok=True)
        _root_pid = pid
    return tempfile.mkdtemp(prefix=f"{name}-", dir=_root)


def release() -> None:
    """Remove this process's scratch root (a no-op when it has none)."""
    global _root, _root_pid
    if _root_pid == os.getpid():
        shutil.rmtree(_root, ignore_errors=True)
    _root = _root_pid = None


atexit.register(release)


def _source_fingerprint(sf_dir: str, table: str) -> str:
    """Short content fingerprint of one source table's parquet files
    (names + sizes + mtimes — driver-side stat only, no Spark job).
    Folded into persistent-fixture tags so a regenerated dataset, or
    two sf_dirs sharing a basename, rebuild instead of reusing a
    stale table. Nanosecond mtimes: integer-second truncation let a
    same-size in-place regen within one second reuse the stale
    fixture. A MISSING source is an error, not an empty hash — two
    sf_dirs both lacking the table would otherwise collide on one
    fixture path."""
    import hashlib

    p = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(p):
        for f in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, f))
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(p):
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        raise FileNotFoundError(
            f"fixture source table missing: {p} — refusing to mint a "
            "fingerprint for a nonexistent dataset"
        )
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def fixture(
    name: str,
    build: Callable[[str], None],
    source: tuple[str, str] | None = None,
) -> str:
    """The directory `FIXTURES/<name>`, filled once by `build(dir)`.

    With `source=(sf_dir, table)` the directory is
    `<name>-<sf basename>-<fingerprint of the table>`, and a build
    removes the same family's directories with another fingerprint.

    A sentinel file written after a successful build marks the
    directory valid. Builds run under an exclusive flock with the
    sentinel checked again inside, so when two processes start
    together the first builds and the second reuses its files. A
    build that raised leaves no sentinel; the next call removes the
    whole directory and builds again."""
    key = name
    if source is not None:
        sf_dir, table = source
        key = f"{name}-{os.path.basename(sf_dir.rstrip('/')) or 'sf'}"
        path = os.path.join(
            FIXTURES, f"{key}-{_source_fingerprint(sf_dir, table)}"
        )
    else:
        path = os.path.join(FIXTURES, name)
    sentinel = os.path.join(path, ".fixture-ok")
    if os.path.exists(sentinel):
        return path
    locks = os.path.join(FIXTURES, ".locks")
    os.makedirs(locks, exist_ok=True)
    with open(os.path.join(locks, f"{key}.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when closed
        if os.path.exists(sentinel):
            return path
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(sentinel, "w") as s:
            s.write("ok")
        if source is not None:
            stale = re.compile(re.escape(key) + r"-[0-9a-f]{10}")
            for entry in os.listdir(FIXTURES):
                if stale.fullmatch(entry) and entry != os.path.basename(path):
                    shutil.rmtree(
                        os.path.join(FIXTURES, entry), ignore_errors=True
                    )
    return path


def save_table(df, table: str, path: str, bucket_key: str | None = None) -> str:
    """Write `df` as parquet at `path` and register it as the external
    catalog table `table`, bucketed and sorted by `bucket_key` into 8
    buckets when given (bucketed writes need a catalog table)."""
    w = df.write.mode("overwrite").option("path", path)
    if bucket_key:
        w = w.bucketBy(8, bucket_key).sortBy(bucket_key)
    w.saveAsTable(table)
    return table


def catalog_table(
    spark,
    name: str,
    df: Callable,
    source: tuple[str, str],
    bucket_key: str | None = None,
    analyze: bool = False,
) -> str:
    """A catalog table over the keyed fixture `fixture(name, …, source)`,
    whose files `df()` writes once. The table is named after the
    fixture directory, so a second dataset with the same basename gets
    its own build and never resolves to the first one's table.

    The catalog is per session: a session that lacks the table
    registers it over the fixture's files (and, with `analyze`,
    computes column statistics for the cost-based optimizer)."""

    def build(path: str) -> None:
        # Bucketed writes need a catalog table. Drop it again (external:
        # the files stay) so this session registers it below, the same
        # way every other session does.
        table = save_table(df(), _table_name(path), path, bucket_key)
        spark.sql(f"DROP TABLE {table}")

    path = fixture(name, build, source)
    table = _table_name(path)
    if not spark.catalog.tableExists(table):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df().schema
        )
        buckets = (
            f" CLUSTERED BY ({bucket_key}) SORTED BY ({bucket_key}) INTO 8 BUCKETS"
            if bucket_key
            else ""
        )
        spark.sql(
            f"CREATE TABLE {table} ({cols}) USING PARQUET{buckets}"
            f" LOCATION '{path}'"
        )
        if analyze:
            spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR ALL COLUMNS")
    return table


def _table_name(path: str) -> str:
    return re.sub(r"\W", "_", os.path.basename(path))
