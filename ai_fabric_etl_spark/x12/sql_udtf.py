"""SQL-callable X12 parse: the U9 parser exposed as a Spark UDTF.

The engine's pipeline parse path is ``pipeline/silver.parse_to_silver``
(mapInPandas — Arrow-batched, cost amortized per partition). This
module additionally registers the SAME parser as a Python UDTF so
pure-SQL users can parse inline, mirroring how the reference's users
would poke at single files (silver_x12_parsing.py drives its parse
per-file too — ours just does it lazily from SQL):

    SELECT p.*
    FROM x12_files AS f,
    LATERAL parse_x12(f.file_name, f.content) AS p

Row-at-a-time UDTF dispatch is slower than the batched silver path,
so this is the interactive/exploratory surface; pipelines stay on
``parse_to_silver``. Output parity between the two paths is pinned in
tests/test_x12_parser.py.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql.functions import udtf

from ai_fabric_etl_spark.schemas import SILVER_SCHEMA
from ai_fabric_etl_spark.x12.parsers import dead_letter_row, parse_x12_file

_COLS = [f.name for f in SILVER_SCHEMA.fields]


@udtf(returnType=SILVER_SCHEMA)
class ParseX12:
    """One output row per ST..SE transaction set in ``content``; input
    that makes the parser raise (e.g. NULL content) yields its
    ``dead_letter_row`` — the same contract as the silver batch
    parser's per-file exception fence."""

    def eval(self, file_name: str, content: str):  # noqa: D102
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        try:
            rows = parse_x12_file(file_name, content, batch_id="sql", now=now)
        except Exception as exc:  # noqa: BLE001 - corrupt file -> dead letter, not a query abort
            rows = [dead_letter_row(file_name, exc, "sql", now)]
        for r in rows:
            yield tuple(r[c] for c in _COLS)


def register_parse_x12(spark, name: str = "parse_x12") -> str:
    """Register the UDTF under ``name`` for SQL use; returns the name."""
    spark.udtf.register(name, ParseX12)
    return name
