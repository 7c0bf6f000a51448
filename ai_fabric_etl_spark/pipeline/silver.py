"""Silver layer: distributed X12 parsing via mapInPandas.

The reference parses every file in a driver for-loop and only touches
executors at the final createDataFrame (silver_x12_parsing.py:1388,
:1501). Here the parse itself is the distributed operator: each task
parses its partition of files with Arrow-batched pandas exchange —
the single biggest architectural fix (SURVEY §3.1, §4 parallelism).
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_fabric_etl_spark.schemas import PARSED_SCHEMA, SILVER_SCHEMA
from ai_fabric_etl_spark.x12.parsers import dead_letter_row, parse_x12_file

_SILVER_COLS = [f.name for f in SILVER_SCHEMA.fields]


def parse_to_silver(
    files_df: DataFrame,
    batch_id: str = "batch-0",
    now: datetime | None = None,
) -> DataFrame:
    """(file_name, content) -> one silver row per ST..SE set.

    ``now`` injectable for deterministic golden-output tests; when
    omitted it is stamped ONCE here on the driver, not per task —
    datetime.now() inside executor code would give retried/speculated/
    recomputed tasks different processing timestamps (and near
    midnight different processing_date PARTITIONS) for identical input
    (r4 self-review). Files are never split across tasks, so the
    order-dependent ST..SE/current-claim accumulation is safe (SURVEY
    §7.3 risk 1).

    A file that makes the parser raise does NOT vanish: it yields its
    ``x12.parsers.dead_letter_row`` (transaction_type 'ERR', quality
    0, invalid, the error in validation_results), so corrupt inputs
    stay visible to the data-quality mart instead of silently
    shrinking row counts — the reference records the same failures in
    its bronze tracking table (bronze_x12_ingestion.py status
    columns).
    """
    if now is None:
        from datetime import datetime as _dt
        from datetime import timezone as _tz

        now = _dt.now(_tz.utc).replace(tzinfo=None)

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for file_name, content in zip(pdf["file_name"], pdf["content"]):
                try:
                    rows.extend(
                        parse_x12_file(file_name, content, batch_id=batch_id, now=now)
                    )
                except Exception as exc:  # noqa: BLE001 - a corrupt file must not kill the batch
                    rows.append(dead_letter_row(file_name, exc, batch_id, now))
            if rows:
                yield pd.DataFrame(rows, columns=_SILVER_COLS)

    return files_df.select("file_name", "content").mapInPandas(
        parse_batch, schema=SILVER_SCHEMA
    )


def silver_with_parsed(silver_df: DataFrame) -> DataFrame:
    """Attach the typed payload struct: from_json is JVM-side, so the
    JSON decode happens once, inside codegen, not in Python."""
    return silver_df.withColumn("parsed", F.from_json("parsed_data", PARSED_SCHEMA))


def write_silver(silver_df: DataFrame, out_dir: str) -> None:
    """Partitioned append (silver_x12_parsing.py:1506-1510 semantics).

    Partitioning by (processing_date, transaction_type) gives static +
    dynamic partition pruning to every gold mart query.
    """
    (
        silver_df.write.mode("append")
        .partitionBy("processing_date", "transaction_type")
        .parquet(out_dir)
    )


def read_silver(spark: SparkSession, path: str) -> DataFrame:
    """Read a written silver table back with the silver schema's types.

    Partition discovery infers the all-digit ``transaction_type``
    values (``837``, ``835`` ...) as INT; cast back to STRING so marts
    and 997 functional codes match a freshly parsed frame."""
    return spark.read.parquet(path).withColumn(
        "transaction_type", F.col("transaction_type").cast("string")
    )
