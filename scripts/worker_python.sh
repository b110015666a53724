#!/bin/sh
# Spark Python-worker interpreter shim: cuts the per-spawn and per-task
# cost of crossing the JVM↔Python boundary.
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
# parent dir only in that case, and only when $SPARK_HOME's
# pyspark.zip and py4j-<ver>-src.zip name the driver's pyspark and
# py4j releases; this shim PREPENDS that dir and execs the driver's
# own interpreter.
#
# It also DROPS Spark's own archives from the path: entries named
# pyspark.zip or py4j-*-src.zip, and every *.jar (the JVM adds
# spark-core's jar: 5,359 entries, no .py file). With the driver's
# dir in front they only served as a fallback, yet each cost time on
# EVERY task: pyspark's worker setup calls importlib.invalidate_caches(),
# and under Python 3.11 a zipimporter's invalidate_caches re-parses
# its archive's whole central directory in pure Python. Measured in a
# worker, one call took 104.6 ms: spark-core's jar 47.4 ms, a second
# importer on the jar's /org path 46.8 ms, pyspark.zip 11.2 ms, the
# py4j zip 0.2 ms; without them, 0.08 ms. Every other entry (user
# zips included) keeps its place and order. The split is a plain-sh
# loop: this runs on every worker spawn, so it starts no subprocess.
if [ -n "$SPARK_GRAFT_PYSPARK_DIR" ]; then
  kept=$SPARK_GRAFT_PYSPARK_DIR
  rest=${PYTHONPATH:+$PYTHONPATH:}
  while [ -n "$rest" ]; do
    entry=${rest%%:*}
    rest=${rest#*:}
    case $entry in
      pyspark.zip | */pyspark.zip | py4j-*-src.zip | */py4j-*-src.zip | *.jar) ;;
      *) kept=$kept:$entry ;;
    esac
  done
  PYTHONPATH=$kept
  export PYTHONPATH
fi
exec "${SPARK_GRAFT_REAL_PYTHON:-python3}" "$@"
