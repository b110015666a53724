"""lakehouse_homeserver_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the
reference lakehouse platform (svengonschorek/lakehouse-homeserver):
full SQL over ACID parquet-backed tables, incremental file-based
ingestion with bookkeeping, plus LLM-data-pipeline extension
operators (dedup, similarity search, text analysis, multimodal
columns) designed for 100 TB scale.

Layout
------
- ``session``    : SparkSession factory (AQE on, sane shuffle sizing).
- ``sources``    : table registry over parquet fixtures + the
  incremental ELT loader (reference parity: scripts/extract_load.py).
- ``operators``  : the query library — every operator family from
  SURVEY.md §2, one named query per capability, each paired with a
  DuckDB oracle SQL string.
- ``streaming``  : Structured Streaming jobs (file-source ingest,
  windows, watermarks, stateful dedup).
- ``functions``  : reusable column-expression helpers (vector math,
  text tooling) — all built-in-function compositions, no slow UDFs.
- ``plans``      : plan-introspection helpers (assert pushdown /
  broadcast / codegen) used by tests to keep plans scale-worthy.
- ``workspace``  : owner of every directory written outside the
  warehouse: per-process scratch and build-once fixtures.

Design rules (100 TB):
- DataFrame/SQL only; RDDs never.
- Broadcast small dimensions explicitly; let AQE handle skew.
- No ``collect()`` in any operator path; drivers only orchestrate.
- Python only where built-ins genuinely cannot express the
  semantics, and always as Arrow batches: map kernels through
  ``map_rows`` / ``mapInArrow``, pandas only for grouped ops.
"""

__version__ = "0.1.0"
