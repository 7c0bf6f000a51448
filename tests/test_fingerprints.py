"""Fingerprint-composite contract tests (queries/composites.py).

The committed fingerprint_meta.py must match a fresh derivation from
the live Spark schemas — otherwise a sub-query schema change would
silently drop columns from the cross-engine summary.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_meta_matches_live_schemas(spark):
    from ai_fabric_etl_spark.queries import composites
    from ai_fabric_etl_spark.queries.catalog import _QUERIES
    from ai_fabric_etl_spark.queries.fingerprint import schema_kinds
    from ai_fabric_etl_spark.queries.fingerprint_meta import FP_META

    drift = {}
    for group in composites.FP_GROUPS.values():
        for name in group:
            live = schema_kinds(_QUERIES[name](spark, SF_DIR))
            if FP_META.get(name) != live:
                drift[name] = (FP_META.get(name), live)
    assert not drift, (
        f"fingerprint_meta.py is stale for {sorted(drift)} — rerun "
        "tools/gen_fingerprint_meta.py"
    )


def test_composites_registered_and_prioritized():
    from ai_fabric_etl_spark.queries import composites
    from ai_fabric_etl_spark.queries.catalog import oracle_sql, queries

    q = list(queries())
    o = oracle_sql()
    for group in composites.FP_GROUPS:
        assert group in q[:50], f"{group} must sit inside the 50-entry cap"
        assert group in o, f"{group} must carry a DuckDB oracle"


def test_priority_groups_and_meta_name_registered_entries():
    # _ordered() skips a _PRIORITY name that is not registered, and a
    # stale FP_META key is never read: both would hide a deleted entry
    import ai_fabric_etl_spark.queries  # noqa: F401  (registers entries)
    from ai_fabric_etl_spark.queries import catalog, composites
    from ai_fabric_etl_spark.queries.fingerprint_meta import FP_META

    registered = set(catalog._QUERIES)
    stale = {
        "_PRIORITY": sorted(set(catalog._PRIORITY) - registered),
        "FP_GROUPS": sorted(
            {n for g in composites.FP_GROUPS.values() for n in g} - registered
        ),
        "FP_META": sorted(set(FP_META) - registered),
    }
    assert not any(stale.values()), f"unregistered names: {stale}"
    # a repeated member runs its sub-query twice and emits its row twice
    repeated = {
        g: sorted({n for n in names if names.count(n) > 1})
        for g, names in composites.FP_GROUPS.items()
        if len(set(names)) != len(names)
    }
    assert not repeated, f"repeated FP_GROUPS members: {repeated}"


def test_fingerprint_detects_value_change(spark):
    # the summary must actually be sensitive: perturbing one numeric
    # value in one row flips num_sum
    from ai_fabric_etl_spark.queries.fingerprint import (
        schema_kinds,
        spark_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.25)], "id long, s string, v double"
    )
    kinds = schema_kinds(df)
    base = spark_fingerprint("t", df, kinds).collect()[0]
    pert = spark.createDataFrame(
        [(1, "a", 10.500001), (2, "b", 20.25)], "id long, s string, v double"
    )
    got = spark_fingerprint("t", pert, kinds).collect()[0]
    assert base["num_sum"] != got["num_sum"]
    assert base["n"] == got["n"] == 2


def test_fingerprint_detects_row_swap(spark):
    # pooled sums are blind to values REDISTRIBUTED between rows;
    # keyed_sum (value x string-key weight) must catch the swap
    from ai_fabric_etl_spark.queries.fingerprint import (
        schema_kinds,
        spark_fingerprint,
    )

    base = spark.createDataFrame(
        [("URGENT", 100), ("HIGH", 7)], "prio string, cnt long"
    )
    swapped = spark.createDataFrame(
        [("URGENT", 7), ("HIGH", 100)], "prio string, cnt long"
    )
    kinds = schema_kinds(base)
    a = spark_fingerprint("t", base, kinds).collect()[0]
    b = spark_fingerprint("t", swapped, kinds).collect()[0]
    assert a["num_sum"] == b["num_sum"]  # the blind spot, by design
    assert a["keyed_sum"] != b["keyed_sum"]  # closed by the keyed term


@pytest.mark.parametrize("group", ["fp_tpch_core", "fp_relational_ops"])
def test_composite_runs_one_row_per_subquery(spark, group):
    from ai_fabric_etl_spark.queries import composites
    from ai_fabric_etl_spark.queries.catalog import _QUERIES

    rows = _QUERIES[group](spark, SF_DIR).collect()
    assert [r["q"] for r in rows] == composites.FP_GROUPS[group]
    assert all(r["n"] >= 0 for r in rows)
