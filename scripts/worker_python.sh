#!/bin/sh
# Spark Python-worker interpreter shim: cuts the per-spawn cost of
# crossing the JVM↔Python boundary.
#
# PythonWorkerFactory prepends $SPARK_HOME/python/lib/pyspark.zip to
# every worker process's PYTHONPATH, so a FRESHLY SPAWNED worker
# imports the whole pyspark package through zipimport — which has no
# bytecode cache and re-COMPILES every module on every spawn
# (measured: `import pyspark` 1.37 s from the zip vs 0.44 s from the
# driver's directory install, whose __pycache__ is warm). Daemon-forked
# task workers pay this once per session, but "simple" workers are
# spawned fresh each time — and the Python *streaming* source runner
# is one per STREAM, so every Python-data-source stream paid ~1.3 s
# of pure bytecode compilation before its first offset call.
#
# When the driver itself runs pyspark from a real directory, workers
# importing that same installation are exactly as consistent as the
# zip (same release the JVM shipped with) and skip the compile.
# session.py exports SPARK_GRAFT_PYSPARK_DIR = the driver pyspark's
# parent dir only in that case, and only when the version.py inside
# $SPARK_HOME's pyspark.zip names the driver's pyspark release; this
# shim PREPENDS it (the zip stays on the path as fallback) and execs
# the driver's own interpreter.
if [ -n "$SPARK_GRAFT_PYSPARK_DIR" ]; then
  PYTHONPATH="$SPARK_GRAFT_PYSPARK_DIR${PYTHONPATH:+:$PYTHONPATH}"
  export PYTHONPATH
fi
exec "${SPARK_GRAFT_REAL_PYTHON:-python3}" "$@"
