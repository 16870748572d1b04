"""etl_geotab_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference ETL task (``dfpc-coe/etl-geotab``, ``/root/reference/task.ts``)
as declarative, Catalyst-optimizable Spark operators, extended with the
LLM-data-pipeline operator set (dedup, similarity search, multimodal
columns, text analysis) and designed for 100 TB scale.

Layout
------
- ``session``   — SparkSession factory (UTC, AQE, Arrow).
- ``io``        — parquet table catalog for the test fixtures.
- ``functions`` — scalar/vector/text expression builders (JVM-side).
- ``operators`` — relational + LLM-pipeline operators (dedup, as-of,
  top-k, similarity, multimodal).
- ``pipeline``  — the Geotab pipeline rebuilt as a composition of
  engine operators (reference parity: task.ts:124-295).
- ``sources``   — JSON-RPC DataSource with filter pushdown + REST sink
  (reference parity: task.ts:147-219, 294).
- ``streaming`` — Structured Streaming equivalents (watermark horizon,
  tumbling/sliding/session windows, scheduled re-pull).
- ``worker_boot`` — Python worker start-up: the worker home ``get_spark``
  launches the JVM from, so workers import the installed PySpark; and,
  installed on import, a zip archive on ``sys.path`` is re-read only when
  it changed, not on every task.
"""

from etl_geotab_spark import worker_boot as _worker_boot

_worker_boot.install()

__version__ = "0.1.0"
