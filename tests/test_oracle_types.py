"""Registry-wide oracle-SQL portability guard (VERDICT r13 item 1b).

Round 13's only driver-red rows (`sample_token_budget`,
`dq_expectations_orders`) were not engine bugs: their oracle SQL
emitted an uncast HUGEINT aggregate column (DuckDB promotes BIGINT
SUM / SUM(CASE...) to HUGEINT), which materializes as `int` through
`.fetchall()` but as `Decimal`/float through an Arrow or pandas
fetch — so the local harness could never see the divergence the
driver's fetch path sees. These tests close the class:

- every registered oracle's DuckDB result schema (via ``DESCRIBE``,
  which binds without executing) must contain no HUGEINT/UHUGEINT
  column and no DECIMAL column that isn't on the deliberate
  whitelist;
- the whitelist is exact — an entry that stops emitting DECIMAL must
  be removed from it, so the list can't rot into a blanket waiver.

Runs against the sf0.001 views; needs no SparkSession.
"""

from __future__ import annotations

import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Oracles that emit DECIMAL output columns ON PURPOSE, with the Spark
# side emitting the same decimal type (so both fetch paths agree).
# None remain: each entry maps oracle name -> its DECIMAL columns.
DELIBERATE_DECIMAL: dict[str, set[str]] = {}


@pytest.fixture(scope="module")
def oracle_schemas():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"testdata dir {SF_DIR} missing")
    from ai_fabric_etl_spark.queries import catalog

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    out = {}
    for name, sql in catalog.oracle_sql().items():
        # DESCRIBE <select> binds and plans but does not execute —
        # the whole registry checks in seconds
        out[name] = con.execute("DESCRIBE " + sql).fetchall()
    con.close()
    return out


def test_no_hugeint_oracle_outputs(oracle_schemas):
    """No oracle may emit HUGEINT/UHUGEINT: the driver's fetch path
    renders it as Decimal while fetchall renders int — an automatic
    hash mismatch against a Spark BIGINT even when values agree."""
    offenders = {
        name: [(c, t) for c, t, *_ in desc if "HUGEINT" in t.upper()]
        for name, desc in oracle_schemas.items()
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, (
        "oracles emitting HUGEINT output columns (CAST the aggregate "
        f"to BIGINT): {offenders}"
    )


def test_no_undeclared_decimal_oracle_outputs(oracle_schemas):
    offenders = {}
    for name, desc in oracle_schemas.items():
        allowed = DELIBERATE_DECIMAL.get(name, set())
        hits = [
            (c, t)
            for c, t, *_ in desc
            if "DECIMAL" in t.upper() and c not in allowed
        ]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "oracles emitting undeclared DECIMAL output columns (cast to "
        "BIGINT/DOUBLE or whitelist deliberately, matching the Spark "
        f"side's type): {offenders}"
    )


def test_deliberate_decimal_whitelist_is_exact(oracle_schemas):
    """The whitelist must track reality: if a listed entry stops
    emitting DECIMAL on a listed column, remove it here."""
    for name, cols in DELIBERATE_DECIMAL.items():
        assert name in oracle_schemas, f"whitelisted oracle {name} gone"
        actual = {
            c for c, t, *_ in oracle_schemas[name] if "DECIMAL" in t.upper()
        }
        assert actual == cols, (
            f"{name}: whitelist says {sorted(cols)}, oracle emits "
            f"DECIMAL on {sorted(actual)}"
        )
