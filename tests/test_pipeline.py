"""End-to-end medallion pipeline test: files -> bronze -> silver -> gold."""

from __future__ import annotations

import json
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from ai_fabric_etl_spark.pipeline.bronze import read_bronze
from ai_fabric_etl_spark.pipeline.gold import ALL_MARTS, build_all_marts
from ai_fabric_etl_spark.pipeline.silver import parse_to_silver, silver_with_parsed
from ai_fabric_etl_spark.x12.parsers import parse_x12_file
from ai_fabric_etl_spark.x12.testgen import generate_corpus

NOW = datetime(2025, 1, 2, 12, 0, 0)


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    for name, content in generate_corpus():
        (d / name).write_text(content)
    # a decoy that must be glob-filtered out, and a corrupt .x12
    (d / "notes.json").write_text("{}")
    (d / "corrupt.x12").write_text("GARBAGE NO ISA")
    return str(d)


@pytest.fixture(scope="module")
def bronze_df(spark, landing_dir):
    return read_bronze(spark, landing_dir)


@pytest.fixture(scope="module")
def silver_df(spark, bronze_df):
    valid = bronze_df.filter(F.col("is_valid_x12"))
    return silver_with_parsed(parse_to_silver(valid, batch_id="t1", now=NOW)).cache()


def test_bronze_glob_and_validation(bronze_df):
    names = {r["file_name"] for r in bronze_df.select("file_name").collect()}
    assert "notes.json" not in names, "glob filter leaked a non-x12 file"
    assert "corrupt.x12" in names
    flags = {r["file_name"]: r["is_valid_x12"] for r in bronze_df.collect()}
    assert flags["corrupt.x12"] is False
    assert sum(1 for v in flags.values() if v) == 27


def test_bronze_isa_metadata(bronze_df):
    row = bronze_df.filter(F.col("is_valid_x12")).limit(1).collect()[0]
    assert row["sender_id"].startswith("SENDER")
    assert row["receiver_id"].startswith("RECV")
    assert row["usage_indicator"] == "T"


def test_silver_matches_local_parse(silver_df):
    """Distributed mapInPandas result == driver-side pure-Python parse."""
    expected = []
    for name, content in generate_corpus():
        expected.extend(parse_x12_file(name, content, batch_id="t1", now=NOW))
    got = silver_df.collect()
    assert len(got) == len(expected)
    exp_keys = sorted(
        (e["file_name"], e["transaction_set_control_number"], e["quality_score"])
        for e in expected
    )
    got_keys = sorted(
        (r["file_name"], r["transaction_set_control_number"], r["quality_score"])
        for r in got
    )
    assert got_keys == exp_keys


def test_silver_typed_struct_roundtrip(silver_df):
    """from_json typed struct agrees with the JSON payload."""
    row = silver_df.filter(F.col("transaction_type") == "837").limit(1).collect()[0]
    payload = json.loads(row["parsed_data"])
    assert row["parsed"]["total_claim_amount"] == pytest.approx(
        payload["total_claim_amount"]
    )
    assert len(row["parsed"]["claims"]) == len(payload["claims"])


def test_all_marts_build_and_have_rows(silver_df):
    marts = build_all_marts(silver_df)
    assert set(marts) == set(ALL_MARTS)
    for name, df in marts.items():
        rows = df.collect()
        assert rows, f"{name} is empty"


def test_claim_analytics_variance(silver_df):
    from ai_fabric_etl_spark.pipeline.gold import claim_analytics

    rows = claim_analytics(silver_df).collect()
    assert rows
    for r in rows:
        # generator builds CLM total = sum of SV1 lines, so variance ~ 0
        assert r["amount_variance"] == pytest.approx(0.0, abs=0.02)
        assert r["variance_percentage"] == pytest.approx(0.0, abs=0.01)
        assert r["total_service_lines"] >= 1


def test_payment_analytics_reconciliation(silver_df):
    from ai_fabric_etl_spark.pipeline.gold import payment_analytics

    for r in payment_analytics(silver_df).collect():
        assert r["payment_variance"] == pytest.approx(0.0, abs=0.02)
        assert 0 <= r["payment_ratio"] <= 100.01


def test_trading_partner_type_counts(silver_df):
    from ai_fabric_etl_spark.pipeline.gold import trading_partner_analytics

    rows = trading_partner_analytics(silver_df).collect()
    for r in rows:
        total_by_type = sum(r[f"count_{t}"] for t in
                            ("837", "835", "834", "270", "271", "276", "277", "278", "279"))
        assert total_by_type == r["total_transactions"]
        assert r["trading_partner_id"] == f"{r['sender_id']}-{r['receiver_id']}"


def test_business_kpis_bugfix(silver_df):
    from ai_fabric_etl_spark.pipeline.gold import business_kpis

    row = business_kpis(silver_df).collect()[0]
    # 3 senders x 2 receivers but only pairs that co-occur (i%3, i%2)
    assert row["unique_trading_partnerships"] == 6
    assert row["total_transactions"] > 0


def test_data_quality_includes_invalid(spark, silver_df):
    """The quality mart must not filter is_valid (reference behavior)."""
    from ai_fabric_etl_spark.pipeline.gold import data_quality_metrics

    total = silver_df.count()
    mart_total = (
        data_quality_metrics(silver_df)
        .agg(F.sum("transaction_count").alias("n"))
        .collect()[0]["n"]
    )
    assert mart_total == total


def test_ack_997_generation(silver_df):
    from ai_fabric_etl_spark.x12.ack997 import generate_acks, validate_997

    acks = generate_acks(silver_df).collect()
    assert acks
    for a in acks:
        ok, issues = validate_997(a["ack_997"])
        assert ok, issues
        assert a["transaction_count"] == len(a["control_numbers"])
        # every acknowledged control number appears as an AK2
        assert a["ack_997"].count("AK2*") == len(a["control_numbers"])


def test_sql_views_mirror_init_sql(spark, bronze_df, silver_df):
    """A8: the three v_* views (init.sql:150-186) over silver/bronze."""
    from ai_fabric_etl_spark.pipeline.views import register_views

    created = register_views(spark, silver_df.drop("parsed"), bronze=bronze_df)
    assert len(created) == 3

    daily = spark.sql("SELECT * FROM v_daily_processing_summary").collect()
    assert len(daily) >= 1
    row = daily[0]
    assert (
        row.total_files
        == row.high_quality_files + row.medium_quality_files + row.low_quality_files
    )

    breakdown = spark.sql("SELECT * FROM v_transaction_type_breakdown").collect()
    counts = [r.file_count for r in breakdown]
    assert counts == sorted(counts, reverse=True), "O1 ordering lost"

    recent = spark.sql("SELECT * FROM v_recent_processing_activity")
    rows = recent.collect()
    assert len(rows) > 0
    # left join: the corrupt bronze file survives with null silver side
    corrupt = [r for r in rows if r.file_name == "corrupt.x12"]
    assert len(corrupt) == 1 and corrupt[0].transaction_type is None


def test_write_marts_partitioned(spark, silver_df, tmp_path):
    """S7: overwrite sinks partition by processing_date when present."""
    from ai_fabric_etl_spark.pipeline.gold import build_all_marts, write_marts

    marts = build_all_marts(silver_df)
    out = str(tmp_path / "gold")
    write_marts(marts, out)
    import os

    summary_dirs = os.listdir(f"{out}/gold_transaction_summary")
    assert any(d.startswith("processing_date=") for d in summary_dirs)
    kpis = spark.read.parquet(f"{out}/gold_business_kpis")
    assert kpis.count() == 1
    back = spark.read.parquet(f"{out}/gold_transaction_summary")
    assert back.count() == marts["gold_transaction_summary"].count()


def test_write_ack_files_per_partner(spark, silver_df, tmp_path):
    """S8: distributed per-partner 997 text files, valid 997 content."""
    import glob as globmod

    from ai_fabric_etl_spark.x12.ack997 import generate_acks, validate_997, write_ack_files

    acks = generate_acks(silver_df)
    out = str(tmp_path / "acks")
    write_ack_files(acks, out)
    partner_files = globmod.glob(f"{out}/sender_id=*/receiver_id=*/part-*")
    assert len(partner_files) > 0
    text = open(partner_files[0]).read()
    ok, issues = validate_997(text.strip())
    assert ok, issues


def test_golden_silver_fixture_matches_fresh_parse(spark):
    """The committed golden silver fixture (the x12 mart oracles' cold
    fallback) must equal a fresh parse of the deterministic corpus —
    regenerate with tools/regen_golden_silver.py after parser changes."""
    import os

    from ai_fabric_etl_spark.queries import x12_queries

    golden_dir = x12_queries._GOLDEN
    assert os.path.isdir(golden_dir), "golden fixture missing"
    golden = spark.read.parquet(golden_dir).drop("parsed")
    fresh = x12_queries._silver(spark).drop("parsed")
    g = sorted(map(tuple, golden.collect()))
    f = sorted(map(tuple, fresh.collect()))
    assert g == f


def test_cli_end_to_end(spark, landing_dir, tmp_path_factory):
    """python -m ai_fabric_etl_spark run: the four-notebook surface as
    one command — bronze scan -> parse -> marts -> 997 files."""
    import os

    from ai_fabric_etl_spark.run import main

    out = str(tmp_path_factory.mktemp("cli_wh"))
    rc = main(["run", "--input", landing_dir, "--out", out,
               "--batch-id", "cli-t"])
    assert rc == 0
    for sub in ("bronze", "silver", "gold", "acks"):
        assert os.listdir(os.path.join(out, sub)), sub
    silver = spark.read.parquet(os.path.join(out, "silver"))
    assert silver.count() > 0
    marts = os.listdir(os.path.join(out, "gold"))
    assert len([m for m in marts if not m.startswith(("_", "."))]) == 11
    # per-partner hive layout: acks/sender_id=X/receiver_id=Y/part-*
    partner_dirs = [d for d in os.listdir(os.path.join(out, "acks"))
                    if d.startswith("sender_id=")]
    assert partner_dirs, "no per-partner 997 output"
    assert spark.read.text(os.path.join(out, "acks")).count() > 0
    # standalone gold stage re-reads the persisted silver
    rc2 = main(["run", "--stage", "gold", "--input", landing_dir,
                "--out", out])
    assert rc2 == 0


def test_cli_query_listing(capsys):
    from ai_fabric_etl_spark.run import main

    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    assert "x12_silver_transactions" in out and "oracled" in out


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _ack_lines(spark, acks_dir: str) -> list[str]:
    return sorted(r[0] for r in spark.read.text(acks_dir).select("value").collect())


def test_cli_printed_counts_match_outputs(spark, landing_dir, tmp_path, capsys):
    """The bronze/silver/acks counts the CLI prints (taken from
    observed metrics on the writes) equal what the writes left on disk."""
    import re

    from ai_fabric_etl_spark.pipeline.silver import read_silver
    from ai_fabric_etl_spark.run import main

    out = str(tmp_path / "wh")
    assert main(["run", "--input", landing_dir, "--out", out]) == 0
    printed = capsys.readouterr().out
    lines = [ln.split(":")[0] for ln in printed.splitlines()]
    assert lines == ["bronze", "silver", "gold", "acks"], printed

    def count(pattern: str) -> int:
        return int(re.search(pattern, printed).group(1))

    assert count(r"bronze: (\d+) files") == spark.read.parquet(f"{out}/bronze").count()
    assert count(r"silver: (\d+) transactions") == read_silver(spark, f"{out}/silver").count()
    assert count(r"acks: (\d+) 997s") == len(_ack_lines(spark, f"{out}/acks"))


def test_cli_run_releases_persisted_frames(spark, landing_dir, tmp_path):
    """A CLI run unpersists everything it persisted: running it inside a
    long-lived session leaves no cached RDD behind."""
    from ai_fabric_etl_spark.run import main

    before = _persistent_rdds(spark)
    assert main(["run", "--input", landing_dir, "--out", str(tmp_path / "wh")]) == 0
    assert _persistent_rdds(spark) == before


def test_cli_standalone_gold_and_acks_read_silver_as_string(spark, landing_dir, tmp_path):
    """``--stage gold`` / ``--stage acks`` over a written silver give the
    full run's types and text: partition discovery must not turn the
    all-digit transaction_type into INT (wrong mart schema, and every
    997's AK1 code falls back to FA)."""
    from ai_fabric_etl_spark.run import main

    out = str(tmp_path / "wh")
    assert main(["run", "--input", landing_dir, "--out", out]) == 0
    full_acks = _ack_lines(spark, f"{out}/acks")
    assert all("AK1*FA*" not in a for a in full_acks)

    for stage in ("gold", "acks"):
        assert main(["run", "--stage", stage, "--input", landing_dir, "--out", out]) == 0
    for mart in ("gold_transaction_summary", "gold_data_quality_metrics"):
        dtypes = dict(spark.read.parquet(f"{out}/gold/{mart}").dtypes)
        assert dtypes["transaction_type"] == "string", mart
    assert _ack_lines(spark, f"{out}/acks") == full_acks


def test_cli_failing_sink_fails_the_run(spark, landing_dir, tmp_path):
    """A sink that cannot write fails the whole run, without hanging on
    the sinks still running beside it and without leaking the cache."""
    import threading

    from ai_fabric_etl_spark.run import main

    out = tmp_path / "wh"
    out.mkdir()
    (out / "gold").write_text("a file where the gold directory should be")
    before = _persistent_rdds(spark)
    result = {}

    def run():
        try:
            result["rc"] = main(["run", "--input", landing_dir, "--out", str(out)])
        except Exception as exc:  # noqa: BLE001 - the failure is the expected outcome
            result["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(600)
    assert not t.is_alive(), "run hung after a sink failed"
    assert "error" in result or result["rc"] != 0
    assert _persistent_rdds(spark) == before
