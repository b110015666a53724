"""One workspace per benchmark run, and the Spark session built in it.

Everything a run writes goes under `perfbench/.work/<workload>-<pid>`:
Python temp dirs (the engine's `tempfile.mkdtemp` scratch sites and
the package zip it ships to executors), the Spark warehouse and Derby
home, the JVM temp dir, Spark's local dirs and the event log. The
directory is removed when the run ends, and the run fails if the
shared locations the engine used to leak into (`/tmp/lakehouse-*`,
`<repo>/spark-warehouse`) gained entries.
"""

from __future__ import annotations

import glob
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lakehouse_homeserver_spark"
WORK = os.path.join(HERE, ".work")


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def _leak_sites() -> set[str]:
    sites = set(glob.glob("/tmp/lakehouse-*"))
    wh = os.path.join(ROOT, "spark-warehouse")
    if os.path.isdir(wh):
        sites.update(os.path.join(wh, e) for e in os.listdir(wh))
    return sites


def _remove_orphans() -> None:
    """Remove workspaces whose run was killed before it could."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def _physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


class Workspace:
    """Owns the run directory, the process environment the JVM and
    the Python workers inherit, and the Spark session."""

    def __init__(self, workload: str, trace: bool):
        _remove_orphans()
        self.dir = os.path.join(WORK, f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.dir, "tmp")
        self.event_log = os.path.join(self.dir, "eventlog")
        self.trace = trace
        self.spark = None
        self._leaks_before = _leak_sites()
        for d in (self.tmp, self.event_log, os.path.join(self.dir, "local")):
            os.makedirs(d)
        self.cores = len(os.sched_getaffinity(0))
        # A quarter of physical memory, at most 3 GiB: the inputs are
        # small, and the engine's 16g default exceeds small boxes.
        mem_mb = min(3072, _physical_mem_bytes() // 4 // 2**20)
        self.driver_mem = f"{mem_mb}m"
        # Must be set before the engine package is imported (its
        # shuffle-partition default is read at import) and before the
        # JVM starts (it and every Python worker inherit this env).
        os.environ.update(
            {
                "TMPDIR": self.tmp,
                "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
                "SPARK_GRAFT_CPUS": str(self.cores),
                "SPARK_GRAFT_DRIVER_MEM": self.driver_mem,
                "PYTHONPATH": os.pathsep.join(
                    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
                ),
            }
        )
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def start_spark(self):
        from lakehouse_homeserver_spark.session import get_spark

        java_opts = (
            f"-Djava.io.tmpdir={self.tmp} "
            f"-Dderby.system.home={os.path.join(self.dir, 'derby')} "
            "-XX:-UsePerfData"
        )
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then end the JVM and wait for it: it
        would otherwise outlive `spark.stop()` until this process
        exits (it dies when its stdin pipe closes)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise

    def event_log_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.event_log, "*")))

    def info(self) -> dict:
        import pyspark

        return {
            "cores": self.cores,
            "driver_heap": self.driver_mem,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }

    def close(self) -> list[str]:
        """Stop Spark, remove the workspace, and return the shared
        locations that gained entries during the run."""
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(WORK)
            except OSError:
                pass  # another run's workspace is still there
        return sorted(_leak_sites() - self._leaks_before)
