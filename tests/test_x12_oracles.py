"""The 11 X12 gold catalog entries against their DuckDB oracles.

Each ``x12_gold_*`` entry runs on Spark and its ``oracle_sql()`` twin
runs on DuckDB over the same silver parquet; the two must agree on row
count, column names and the order-insensitive value hash that
``tools/verify_oracle.py`` computes.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.verify_oracle import TABLES, result_fingerprint

X12_GOLD = [
    "x12_gold_transaction_summary",
    "x12_gold_trading_partner_analytics",
    "x12_gold_eligibility_analytics",
    "x12_gold_data_quality_metrics",
    "x12_gold_business_kpis",
    "x12_gold_claim_analytics",
    "x12_gold_payment_analytics",
    "x12_gold_enrollment_analytics",
    "x12_gold_claim_status_analytics",
    "x12_gold_preauth_request_analytics",
    "x12_gold_preauth_response_analytics",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", X12_GOLD)
def test_x12_gold_entry_matches_duckdb_oracle(spark, sf_dir, duck, name):
    from ai_fabric_etl_spark.queries import catalog

    # the Spark side runs first: it writes the silver parquet the oracle reads
    sdf = catalog.queries()[name](spark, sf_dir)
    got = result_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])

    # Arrow fetch keeps DuckDB's DECIMAL/HUGEINT distinct from int, as
    # the verify_oracle harness does
    tbl = duck.execute(catalog.oracle_sql()[name]).fetch_arrow_table()
    rows = list(zip(*[tbl.column(i).to_pylist() for i in range(tbl.num_columns)]))
    want = result_fingerprint(tbl.column_names, rows)
    assert got[0] > 0, name
    assert got == want, name
