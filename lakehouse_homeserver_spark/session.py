"""SparkSession factory.

Reference parity: the reference builds its session from a conf block
wiring an Iceberg REST catalog + s3a credentials
(/root/reference/scripts/extract_load.py:26-52). We keep the same
shape — a single factory that layers (defaults | format seam | user
overrides) — but local-first: built-in session catalog, local
warehouse dir, parquet tables. The ``extra_conf`` seam is where the
exact Iceberg/S3 settings would be applied unchanged on a real
cluster.

Scale notes
-----------
- AQE on (coalesce partitions, skew-join) — the runtime re-planner is
  what makes a static plan survive a 100× scale-up.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a 1000-executor cluster this would be set to ~2-3× total cores.
  AQE coalesces down when partitions are small, so erring high is safe.
- Arrow enabled for any pandas-UDF path (vectorized Python transfer).
- Session timezone pinned to UTC so timestamp semantics are stable
  across driver, executors, and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Worker interpreter shim (see scripts/worker_python.sh for the
# measured numbers): freshly spawned
# Python workers import pyspark through $SPARK_HOME's pyspark.zip,
# paying ~1.3 s of zipimport bytecode compilation PER PROCESS — and
# the Python streaming source runner is one fresh process per stream.
# When the driver's own pyspark is a directory install (bytecode
# cache warm), the shim prepends it to the worker's PYTHONPATH so the
# same release imports in ~0.4 s, and drops Spark's own archives
# (pyspark.zip, the py4j zip, the jars) from that path: every task
# re-reads each archive's index when pyspark invalidates the import
# caches, ~105 ms per task in all. Results are unaffected: pyspark
# and py4j are the identical releases either way (checked against
# the version.py in $SPARK_HOME's pyspark.zip and the py4j zip's
# name), only resolved from a path with a __pycache__.
_WORKER_SHIM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "worker_python.sh",
)


def _zip_pyspark_version(zip_path: str) -> str | None:
    """`__version__` from a pyspark.zip's pyspark/version.py, or None
    when the archive or the assignment cannot be read."""
    import re
    import zipfile

    try:
        with zipfile.ZipFile(zip_path) as zf:
            src = zf.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None
    m = re.search(
        r"^__version__(?:\s*:\s*str)?\s*=\s*['\"]([^'\"]+)['\"]", src, re.M
    )
    return m.group(1) if m else None


def _worker_shim_env(real_python: str) -> dict[str, str]:
    """Env the shim needs, or {} when it must not be used: driver
    pyspark lives in a zip/egg (no bytecode-cached dir to point at),
    the shim is missing, or the configured worker interpreter is a
    different major.minor than the driver's (its workers could not
    import the driver's install; Spark itself rejects such a mismatch
    at run time, but don't let the shim be the thing that breaks), or
    $SPARK_HOME's pyspark.zip or py4j zip is a different release than
    the driver's pyspark or py4j (the shim would put the driver's
    release in place of the one the workers are meant to run), or
    py4j does not import from pyspark's parent dir (the one dir the
    shim puts in front)."""
    import glob
    import shutil
    import subprocess
    import sys

    import py4j
    import pyspark

    pkg_dir = os.path.dirname(os.path.abspath(pyspark.__file__))
    if not os.path.isdir(pkg_dir) or not os.access(_WORKER_SHIM, os.X_OK):
        return {}
    # The shim drops the py4j zip, so py4j must import from the dir it
    # puts in front.
    py4j_dir = os.path.dirname(os.path.dirname(os.path.abspath(py4j.__file__)))
    if py4j_dir != os.path.dirname(pkg_dir):
        return {}
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        lib = os.path.join(spark_home, "python", "lib")
        zip_path = os.path.join(lib, "pyspark.zip")
        if (
            os.path.isfile(zip_path)
            and _zip_pyspark_version(zip_path) != pyspark.__version__
        ):
            return {}
        py4j_zip = f"py4j-{py4j.__version__}-src.zip"
        if any(
            os.path.basename(z) != py4j_zip
            for z in glob.glob(os.path.join(lib, "py4j-*-src.zip"))
        ):
            return {}
    driver_ver = "%d.%d" % sys.version_info[:2]
    resolved = shutil.which(real_python)
    if resolved is None:
        return {}
    if os.path.realpath(resolved) != os.path.realpath(sys.executable):
        try:
            worker_ver = subprocess.run(
                [resolved, "-c", "import sys;print('%d.%d'%sys.version_info[:2])"],
                capture_output=True,
                text=True,
                timeout=30,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return {}
        if worker_ver != driver_ver:
            return {}
    return {
        "SPARK_GRAFT_PYSPARK_DIR": os.path.dirname(pkg_dir),
        "SPARK_GRAFT_REAL_PYTHON": real_python,
    }


def _install_worker_shim_env() -> None:
    """Export the shim env + PYSPARK_PYTHON before the JVM starts
    (get_spark path): the JVM inherits os.environ, and every
    PythonWorkerFactory spawn inherits the JVM's environment. The
    shim never changes WHICH interpreter runs (it execs the one that
    was configured, or the driver's own) — it only prepends the
    driver's bytecode-cached pyspark dir to the worker's PYTHONPATH
    and drops Spark's own archives from it."""
    import sys

    real = os.environ.get("PYSPARK_PYTHON") or sys.executable
    if os.path.realpath(real) == os.path.realpath(_WORKER_SHIM):
        return  # already installed
    env = _worker_shim_env(real)
    if not env:
        return
    for k, v in env.items():
        os.environ[k] = v
    os.environ["PYSPARK_PYTHON"] = _WORKER_SHIM


def default_conf() -> dict[str, str]:
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": DEFAULT_SHUFFLE_PARTITIONS,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 128 MiB input splits: big enough to amortize task overhead,
        # small enough that a 100 TB scan still yields ~800k tasks —
        # fine for a 1000-executor cluster, and AQE coalesces outputs.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Broadcast threshold: dims like region/nation/supplier stay
        # broadcastable; AQE also converts to broadcast at runtime
        # when post-shuffle stats come in under the bound.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.parquet.filterPushdown": "true",
        # Python DataSource V2 filter pushdown (Spark 4.1): lets
        # `SnapshotReader.pushFilters` prune whole data files via the
        # manifest's footer stats + blooms before the scan plans.
        "spark.sql.python.filterPushdown.enabled": "true",
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
        # rejects; read as raw nanos (long) and convert to a µs
        # timestamp in the source registry (matches DuckDB truncation).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 16g, in MiB."""
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, phys_mib // 2)}m"


def get_spark(
    app_name: str = "lakehouse-homeserver-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests and
    bench; on a cluster, leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    _install_worker_shim_env()
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**default_conf(), **(extra_conf or {})}
    if master.startswith("local"):
        # In local mode ONE driver heap is the whole cluster; Spark's
        # 1g default starves 32 concurrent tasks (GC-locker stalls,
        # then OOM on array-heavy ops at 10x corpus in the scaling
        # smoke). Half of physical memory, at most 16g, leaves room
        # for a second JVM or an oracle process beside this one. On a
        # real cluster spark-submit owns this knob, so it is only set
        # for self-built local sessions (static conf — must be set
        # before the JVM starts).
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine defaults to an externally-provided session.

    The driver harness hands us a session it built; runtime-settable
    confs (AQE, timezone, shuffle partitions) are applied here so
    query semantics match `get_spark` sessions.
    """
    from pyspark.errors import AnalysisException

    for k, v in default_conf().items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # Only static confs are expected to be un-settable on a
            # live session; anything else (typo'd key, bad value)
            # must surface — a silently-missed conf changes query
            # semantics (e.g. timezone) in ways the oracle catches 50
            # queries later with no cause attached.
            if "static" not in str(e).lower():
                raise
    # Worker shim on an externally-built session: the JVM env is
    # already fixed, but `sc.pythonExec` is read (Python-side) when
    # each function/data source is wrapped, and `sc.environment` is
    # shipped as the worker's envVars — so functions created AFTER
    # tune_session spawn their workers through the shim. The shim
    # still execs the interpreter that was configured.
    sc = spark.sparkContext
    if os.path.realpath(sc.pythonExec) != os.path.realpath(_WORKER_SHIM):
        env = _worker_shim_env(sc.pythonExec)
        if env:
            sc.environment.update(env)
            sc.pythonExec = _WORKER_SHIM
    _ship_package(spark)
    return spark


_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the executors' python workers.

    Python-kernel closures are cloudpickled **by reference** (module +
    qualname), so the worker process must be able to import
    ``lakehouse_homeserver_spark`` — which fails when the driver
    process runs from an arbitrary cwd (the harness does) and on any
    real cluster where the package isn't pre-installed on executors.
    ``sc.addPyFile`` of a package zip is the standard deployment path
    (same mechanism as ``spark-submit --py-files``). The zip is
    written once per session into the process's scratch, so it goes
    when the process ends.
    """
    import hashlib
    import zipfile

    from .workspace import scratch

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    sources = []
    for dirpath, _dirnames, filenames in sorted(os.walk(pkg_dir)):
        for f in sorted(filenames):
            if f.endswith(".py"):
                sources.append(os.path.join(dirpath, f))
    digest = hashlib.md5()
    for path in sources:
        with open(path, "rb") as fh:
            digest.update(path.encode())
            digest.update(fh.read())
    zpath = os.path.join(
        scratch("pyfiles"),
        f"lakehouse_homeserver_spark-{digest.hexdigest()[:12]}.zip",
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for path in sources:
            arc = os.path.join(
                "lakehouse_homeserver_spark", os.path.relpath(path, pkg_dir)
            )
            zf.write(path, arc)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)
