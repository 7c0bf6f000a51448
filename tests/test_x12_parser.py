"""Unit tests for the pure-Python X12 layer (no Spark needed)."""

from __future__ import annotations

from datetime import datetime

from ai_fabric_etl_spark.x12.envelope import extract_envelope_metadata, validate_x12_text
from ai_fabric_etl_spark.x12.parsers import dead_letter_row, parse_x12_file
from ai_fabric_etl_spark.x12.segments import split_segments
from ai_fabric_etl_spark.x12.testgen import generate_corpus

NOW = datetime(2025, 1, 2, 12, 0, 0)
_RUN_COLS = ("batch_id", "processing_timestamp", "processing_date")


def _without_run_cols(row: dict) -> dict:
    return {k: v for k, v in row.items() if k not in _RUN_COLS}


def _parse_error(file_name: str, content):
    """The exception parse_x12_file raises for ``content``."""
    try:
        parse_x12_file(file_name, content, now=NOW)
    except Exception as exc:  # noqa: BLE001
        return exc
    raise AssertionError(f"{file_name}: expected the parse to raise")


def _sample(txn_type: str) -> tuple[str, str]:
    for name, content in generate_corpus():
        if f"_{txn_type}_" in name:
            return name, content
    raise AssertionError(f"no {txn_type} in corpus")


def test_split_segments_basic():
    segs = split_segments("ISA*00*x~GS*HC*a*b~ST*837*1~SE*2*1~GE*1*1~IEA*1*1~")
    assert [s.segment_id for s in segs] == ["ISA", "GS", "ST", "SE", "GE", "IEA"]
    assert segs[2].el(0) == "837"
    assert segs[2].el(99) == ""  # bounds-guarded


def test_numeric_guard_empty_string():
    seg = split_segments("SV1*HC:99213**UN*~")[0]
    assert seg.num(1) == 0.0  # empty -> 0.0, reference semantics


def test_envelope_metadata():
    _, content = _sample("837")
    meta = extract_envelope_metadata(split_segments(content))
    assert meta.sender_id.startswith("SENDER")
    assert meta.receiver_id.startswith("RECV")
    assert meta.usage_indicator == "T"
    assert meta.transaction_count >= 1
    assert meta.interchange_control_number.isdigit()


def test_validate_rejects_garbage():
    ok, issues = validate_x12_text("not an x12 file at all")
    assert not ok and issues


def test_validate_accepts_corpus():
    for name, content in generate_corpus():
        ok, issues = validate_x12_text(content)
        assert ok, f"{name}: {issues}"


def test_parse_837_claims_and_lines():
    name, content = _sample("837")
    rows = parse_x12_file(name, content, now=NOW)
    assert rows, "no transactions parsed"
    import json

    for row in rows:
        assert row["transaction_type"] == "837"
        payload = json.loads(row["parsed_data"])
        assert payload["claims"], "837 with no claims"
        claim = payload["claims"][0]
        assert claim["total_claim_amount"] > 0
        assert claim["service_lines"], "claim with no service lines"
        # claim total is the sum of its generated line amounts
        assert abs(
            claim["total_claim_amount"]
            - round(sum(sl["line_amount"] for sl in claim["service_lines"]), 2)
        ) < 0.01
        assert payload["provider"]["identifier"]


def test_parse_835_payment_reconciles():
    import json

    name, content = _sample("835")
    rows = parse_x12_file(name, content, now=NOW)
    for row in rows:
        payload = json.loads(row["parsed_data"])
        assert payload["claim_count"] == len(payload["claims"])
        # BPR payment equals sum of CLP paid amounts by construction
        assert abs(payload["payment_amount"] - payload["total_paid_amount"]) < 0.01


def test_parse_834_maintenance_codes():
    import json

    name, content = _sample("834")
    rows = parse_x12_file(name, content, now=NOW)
    for row in rows:
        p = json.loads(row["parsed_data"])
        assert p["member_count"] == len(p["members"])
        assert (
            p["new_enrollments"] + p["terminations"] + p["changes"] == p["member_count"]
        )


def test_parse_279_action_buckets():
    import json

    name, content = _sample("279")
    rows = parse_x12_file(name, content, now=NOW)
    for row in rows:
        p = json.loads(row["parsed_data"])
        assert p["review_count"] == len(p["review_results"])
        assert (
            p["approved_count"] + p["denied_count"] + p["pending_count"]
            <= p["review_count"]
        )
        for r in p["review_results"]:
            assert r["decision"] in ("approved", "denied", "pending", "unknown")


def test_all_types_parse_with_quality():
    for name, content in generate_corpus():
        rows = parse_x12_file(name, content, now=NOW)
        assert rows, f"{name} produced no rows"
        for row in rows:
            assert 0 <= row["quality_score"] <= 100
            assert row["is_valid"] == (row["quality_score"] >= 50)
            assert row["processing_date"] == NOW.date()


def test_parse_matches_spec_ground_truth():
    # the driver oracle for x12_silver_transactions: parsing the
    # generated corpus must reproduce the generator's OWN spec
    # (control numbers, partners, GS date, quality contract) on every
    # envelope-surface column, row for row
    from ai_fabric_etl_spark.x12.testgen import expected_silver

    parsed = []
    for name, content in generate_corpus():
        parsed.extend(parse_x12_file(name, content, batch_id="entry", now=NOW))
    expected = expected_silver(batch_id="entry", now=NOW)
    assert len(parsed) == len(expected)
    surface = list(expected[0].keys())
    key = lambda r: (r["file_name"], r["transaction_set_control_number"])  # noqa: E731
    for got, want in zip(sorted(parsed, key=key), sorted(expected, key=key)):
        assert {c: got[c] for c in surface} == want


def test_sql_udtf_parity_with_silver_path(spark):
    # the LATERAL parse_x12 SQL surface must agree with the batched
    # mapInPandas silver path on every deterministic column
    from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
    from ai_fabric_etl_spark.x12.sql_udtf import register_parse_x12

    register_parse_x12(spark)
    corpus = generate_corpus()[:6]
    files = spark.createDataFrame(corpus, ["file_name", "content"])
    files.createOrReplaceTempView("udtf_files")
    got = spark.sql(
        "SELECT p.* FROM udtf_files AS f, "
        "LATERAL parse_x12(f.file_name, f.content) AS p"
    )
    want = parse_to_silver(files, batch_id="sql")
    # wall-clock columns (now-dependent) excluded; batch ids match
    drop = ["processing_timestamp", "processing_date"]
    key = lambda r: (r["file_name"], r["transaction_set_control_number"])  # noqa: E731
    g = sorted((r.asDict() for r in got.drop(*drop).collect()), key=key)
    w = sorted((r.asDict() for r in want.drop(*drop).collect()), key=key)
    assert g == w
    assert len(g) >= 6


def test_sql_udtf_corrupt_input_yields_no_rows(spark):
    from ai_fabric_etl_spark.x12.sql_udtf import register_parse_x12

    register_parse_x12(spark)
    rows = spark.sql(
        "SELECT p.* FROM VALUES ('junk.x12', 'NOT*X12~AT*ALL~'), "
        "('empty.x12', ''), ('null.x12', CAST(NULL AS STRING)) AS f(file_name, content), "
        "LATERAL parse_x12(f.file_name, f.content) AS p"
    ).collect()
    # junk and empty content parse to zero sets; NULL content raises
    # and dead-letters exactly as parse_to_silver does
    want = dead_letter_row("null.x12", _parse_error("null.x12", None), "sql", NOW)
    assert [_without_run_cols(r.asDict()) for r in rows] == [
        _without_run_cols(want)
    ]


def test_quality_formula_canonical():
    # a transaction missing required segments: 837 with no CLM/NM1/BHT
    text = (
        "ISA*00*          *00*          *ZZ*S              *ZZ*R              "
        "*250101*1200*^*00501*000000001*0*T*:~"
        "GS*HC*S*R*20250101*1200*1*X*005010~"
        "ST*837*0001~SE*2*0001~GE*1*1~IEA*1*000000001~"
    )
    rows = parse_x12_file("bad.x12", text, now=NOW)
    assert len(rows) == 1
    # 3 missing required segments (BHT, NM1, CLM) = 3 issues -> 100-60=40
    # plus warnings (SE count mismatch) -> 40-5=35
    assert rows[0]["quality_score"] == 35
    assert rows[0]["is_valid"] is False


def test_multi_interchange_file_labels_rows_per_isa():
    """A legal concatenated file (ISA..IEA ISA..IEA) from two senders:
    each row must carry ITS OWN interchange's envelope, not the last
    ISA's (r4 self-review)."""
    import random

    from ai_fabric_etl_spark.x12.testgen import _envelope, _set, make_835, make_837

    rng = random.Random(3)
    first = _envelope(
        [_set("837", 1, make_837(rng, 1))], "ALPHA", "RECVA", icn=111, gcn=11,
        func_code="HC",
    )
    second = _envelope(
        [_set("835", 2, make_835(rng, 2))], "BRAVO", "RECVB", icn=222, gcn=22,
        func_code="HP",
    )
    rows = parse_x12_file("multi.x12", first + second, now=NOW)
    assert len(rows) == 2
    by_type = {r["transaction_type"]: r for r in rows}
    assert by_type["837"]["sender_id"] == "ALPHA"
    assert by_type["837"]["interchange_control_number"] == "000000111"
    assert by_type["837"]["functional_group_number"] == "11"
    assert by_type["835"]["sender_id"] == "BRAVO"
    assert by_type["835"]["interchange_control_number"] == "000000222"
    assert by_type["835"]["functional_group_number"] == "22"


def test_parse_failure_yields_dead_letter_row(spark):
    """A file that makes the parser raise must surface as one ERR
    dead-letter row (invalid, quality 0), never vanish silently."""
    from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
    from ai_fabric_etl_spark.x12.testgen import generate_corpus

    good = generate_corpus(n_files=2)
    files = spark.createDataFrame(
        [*good, ("broken.x12", None)], "file_name string, content string"
    )
    rows = parse_to_silver(files, batch_id="dlq", now=NOW).collect()
    err = [r for r in rows if r["transaction_type"] == "ERR"]
    assert len(err) == 1
    assert err[0]["file_name"] == "broken.x12"
    assert err[0]["is_valid"] is False and err[0]["quality_score"] == 0
    want = dead_letter_row("broken.x12", _parse_error("broken.x12", None), "dlq", NOW)
    assert _without_run_cols(err[0].asDict()) == _without_run_cols(want)
    assert len(rows) > len(err)  # the good files still parsed


def test_unknown_type_generic_fallback():
    import json

    text = (
        "ISA*00*          *00*          *ZZ*S              *ZZ*R              "
        "*250101*1200*^*00501*000000002*0*T*:~"
        "GS*PO*S*R*20250101*1200*1*X*005010~"
        "ST*850*0001~BEG*00*SA*PO1~PO1*1*10*EA*9.99~SE*4*0001~GE*1*1~IEA*1*000000002~"
    )
    rows = parse_x12_file("po.x12", text, now=NOW)
    assert rows[0]["transaction_type"] == "850"
    p = json.loads(rows[0]["parsed_data"])
    assert p["segment_counts"]["PO1"] == 1


def test_parse_edge_inputs_never_crash():
    """Corrupt inputs yield [] or degraded rows, never exceptions —
    the guarantee mapInPandas batches rely on."""
    import datetime

    from ai_fabric_etl_spark.x12.parsers import dead_letter_row, parse_x12_file

    now = datetime.datetime(2024, 1, 1)
    cases = {
        "empty.x12": "",
        "whitespace.x12": "   \n\r  ",
        "not_x12.x12": "hello world this is not edi",
        "isa_only.x12": "ISA*00*          *00*          *ZZ*SENDER         *ZZ*RECV           *240101*1200*^*00501*000000001*0*T*:~",
        "truncated_st.x12": (
            "ISA*00*          *00*          *ZZ*S              *ZZ*R              "
            "*240101*1200*^*00501*000000001*0*T*:~GS*HC*S*R*20240101*1200*1*X*005010~"
            "ST*837*0001~BHT*0019*00*REF*20240101*1200*CH~"
        ),
        "unicode.x12": "ISA*00*ünicode~ST*837*0001~SE*2*0001~",
        "huge_element.x12": "ISA*" + "x" * 100000 + "~ST*837*0001~SE*2*0001~",
    }
    for name, content in cases.items():
        rows = parse_x12_file(name, content, batch_id="edge", now=now)
        assert isinstance(rows, list), name
        for r in rows:
            assert 0 <= r["quality_score"] <= 100, name
            assert r["file_name"] == name


def test_pipeline_survives_corrupt_files(spark, tmp_path):
    """End-to-end: a landing dir mixing valid, corrupt and empty files
    parses the valid ones and drops the rest."""
    from ai_fabric_etl_spark.pipeline.bronze import read_bronze
    from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
    from ai_fabric_etl_spark.x12.testgen import generate_corpus

    import pyspark.sql.functions as F

    d = tmp_path / "mixed"
    d.mkdir()
    good = generate_corpus(n_files=3, seed=5)
    for name, content in good:
        (d / name).write_text(content)
    (d / "empty.x12").write_text("")
    (d / "garbage.x12").write_text("\x00\x01\x02 not edi at all")
    (d / "half.x12").write_text(good[0][1][: len(good[0][1]) // 3])

    bronze = read_bronze(spark, str(d))
    valid = bronze.filter(F.col("is_valid_x12"))
    silver = parse_to_silver(valid, batch_id="mixed")
    names = {r.file_name for r in silver.select("file_name").distinct().collect()}
    assert names == {n for n, _ in good}
