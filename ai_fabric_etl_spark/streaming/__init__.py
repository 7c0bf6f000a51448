"""Structured Streaming surface (SURVEY §2.9, build plan M5).

The reference is micro-batch by *scheduler*: an Airflow DAG polls a
landing directory every 15 minutes (x12_processing_dag.py:28,:40-50),
archives files after processing, and keeps running totals via Postgres
upserts (process_test_data.py:112-148). Ops dashboards are KQL
tumbling-window queries over trace logs
(monitoring/sftp-monitoring-queries.md).

Here each of those becomes a first-class Structured Streaming
construct:

- file-source checkpointing replaces the poll+archive dance with
  exactly-once ingest (``ingest``)
- KQL ``bin(timestamp, 1h/15m)`` becomes watermarked tumbling /
  sliding / session windows (``ops_metrics``)
- the Postgres ON CONFLICT upsert becomes a ``foreachBatch`` keyed
  merge with the broken ``(a+b)/2`` running average replaced by an
  exact weighted mean (``running_aggs``)
- alert rules (failures > N per 15 min) become streaming aggregation +
  filter (``ops_metrics.failure_alerts``)
- a custom stateful operator (per-user sessionization) via
  ``applyInPandasWithState`` (``stateful``)

All window/alert transforms are written against plain DataFrames, so
the identical code runs in batch (catalog queries with DuckDB oracles)
and streaming (with ``withWatermark``) — one logical plan, two
execution modes.
"""

from ai_fabric_etl_spark.streaming.ingest import start_silver_ingest, stream_bronze

__all__ = ["stream_bronze", "start_silver_ingest"]
