"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``ai_fabric_etl_spark/``; this module is
just the wiring.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_fabric_etl_spark.queries import catalog  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the per-claim
    service-line rollup (header↔detail join + explode-style agg) that
    replaces the reference's extract_837_claim_metrics_udf
    (gold_x12_analytics.py:94-133) with distributed explode+agg.
    """
    return catalog.u1_claim_metrics(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return catalog.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each queries() entry.

    The one entry absent here is ``pack_greedy_firstfit``: strict
    first-fit packing is sequential per stratum, so its bin ids have
    no SQL twin. Its companion ★ entry ``pack_firstfit_invariants``
    value-verifies the packing invariants (every document in exactly
    one bin, no bin over budget), so every catalog entry is
    driver-gated. The X12 parse itself is fully value-oracled
    (spec-derived expected silver) through BOTH access paths
    (mapInPandas pipeline and the x12 data source).
    """
    return catalog.oracle_sql()
