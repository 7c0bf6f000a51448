"""Streaming surface tests (SURVEY §2.9 / build plan M5).

Each streaming construct is checked against its batch equivalent on
the same data — the stream (availableNow) must produce exactly what
the batch plan produces, since the transforms share code.
"""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
from ai_fabric_etl_spark.queries.catalog import load_events
from ai_fabric_etl_spark.streaming.ingest import start_silver_ingest, stream_bronze
from ai_fabric_etl_spark.streaming.ops_metrics import (
    failure_alerts,
    hourly_rollup,
    session_rollup,
    sliding_rollup,
)
from ai_fabric_etl_spark.streaming.running_aggs import (
    merge_running_totals,
    read_running_totals,
    start_running_totals,
)
from ai_fabric_etl_spark.streaming.stateful import sessionize_with_state
from ai_fabric_etl_spark.x12.testgen import generate_corpus

NOW = datetime.datetime(2024, 3, 15, 12, 0, 0)


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    for name, content in generate_corpus(n_files=9, seed=11):
        (d / name).write_text(content)
    return str(d)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """events re-written as TIMESTAMP(MICROS) parquet so the stream
    reader needs no nanos workaround."""
    d = str(tmp_path_factory.mktemp("events_pq"))
    load_events(spark, sf_dir).write.mode("overwrite").parquet(d)
    return d


def _stream_events(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name != "sess" else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_silver_ingest_matches_batch(spark, landing, tmp_path):
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    q = start_silver_ingest(spark, landing, out, ckpt, batch_id="b1", now=NOW)
    q.awaitTermination(120)

    batch_files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=9, seed=11)],
        "file_name string, content string",
    )
    expected = parse_to_silver(batch_files, batch_id="b1", now=NOW)
    got = spark.read.parquet(out)
    assert got.count() == expected.count() > 0
    key = ["file_name", "transaction_set_control_number"]
    assert sorted(map(tuple, got.select(*key).collect())) == sorted(
        map(tuple, expected.select(*key).collect())
    )

    # exactly-once: draining again with the same checkpoint adds nothing
    q2 = start_silver_ingest(spark, landing, out, ckpt, batch_id="b1", now=NOW)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == expected.count()


def test_streaming_windows_match_batch(spark, sf_dir, events_dir):
    batch = spark.read.parquet(events_dir)
    stream = _stream_events(spark, events_dir)

    cases = [
        ("hr", hourly_rollup, ["window_start", "event_type"]),
        ("sl", sliding_rollup, ["window_start"]),
        ("al", lambda df: failure_alerts(df, threshold=0), ["window_start"]),
    ]
    for name, fn, keys in cases:
        q = _run_to_memory(fn(stream), name)
        got = spark.table(name).orderBy(*keys).collect()
        exp = fn(batch).orderBy(*keys).collect()
        assert got == exp, name
        assert len(exp) > 0, name


def test_session_rollup_batch(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    out = session_rollup(batch, gap="30 minutes")
    rows = out.collect()
    assert len(rows) > 0
    # session invariant: start <= last_ts, n_events >= 1
    assert all(r.session_start <= r.last_ts and r.n_events >= 1 for r in rows)
    # total events preserved
    assert sum(r.n_events for r in rows) == batch.count()


def test_running_totals_weighted_mean(spark, landing, tmp_path):
    files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=9, seed=11)],
        "file_name string, content string",
    )
    silver = parse_to_silver(files, now=NOW).cache()
    state = str(tmp_path / "state")

    # two unequal batches — (a+b)/2 averaging would get this wrong
    b1 = silver.limit(5)
    b2 = silver.subtract(b1)
    merge_running_totals(spark, b1, state, epoch_id=0)
    merge_running_totals(spark, b2, state, epoch_id=1)
    # replay of epoch 1 must be a no-op
    merge_running_totals(spark, b2, state, epoch_id=1)

    got = read_running_totals(spark, state)
    exp = silver.groupBy("processing_date", "transaction_type").agg(
        F.count(F.lit(1)).alias("transaction_count"),
        (
            F.sum(F.col("quality_score").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality_score"),
    )
    key = lambda r: (str(r[0]), r[1])  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, exp.collect()), key=key
    )


def test_running_totals_streaming(spark, landing, tmp_path):
    state = str(tmp_path / "state2")
    ckpt = str(tmp_path / "ckpt2")
    silver_stream = parse_to_silver(stream_bronze(spark, landing), now=NOW)
    q = start_running_totals(silver_stream, state, ckpt)
    q.awaitTermination(120)
    got = read_running_totals(spark, state)
    assert got.agg(F.sum("transaction_count")).collect()[0][0] > 0


def test_stateful_sessionization(spark, tmp_path):
    # 1 user, two sessions split by a >30min gap; session 2 left open
    base = datetime.datetime(2024, 1, 1, 8, 0, 0)

    def ev(i, mins):
        return (i, base + datetime.timedelta(minutes=mins), 7, "click", 1.0, "{}")

    rows = [ev(0, 0), ev(1, 10), ev(2, 20), ev(3, 90), ev(4, 95)]
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(d)

    stream = _stream_events(spark, d)
    out = sessionize_with_state(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sessions").collect()
    # the first session closed (gap exceeded in-batch); the trailing
    # session stays open awaiting watermark timeout
    assert len(got) == 1
    r = got[0]
    assert r.user_id == 7 and r.n_events == 3
    assert r.session_start == base
    assert r.session_end == base + datetime.timedelta(minutes=20)


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ estimate within the configured bound of exact — the entry
    itself computes the invariant (its driver-verified column)."""
    from ai_fabric_etl_spark.queries.catalog import a5_approx_distinct

    rows = a5_approx_distinct(spark, sf_dir).collect()
    assert rows and all(r.approx_within_bound for r in rows)


def test_gold_incremental_summary_matches_batch(spark, landing, tmp_path):
    """Incremental partial-merge summary == full recompute."""
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_summary_batch,
        read_incremental_summary,
    )

    files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=9, seed=11)],
        "file_name string, content string",
    )
    silver = parse_to_silver(files, now=NOW).cache()
    state = str(tmp_path / "summary")
    b1 = silver.limit(7)
    b2 = silver.subtract(b1)
    merge_summary_batch(spark, b1, state)
    merge_summary_batch(spark, b2, state)

    got = read_incremental_summary(spark, state)
    keys = ["processing_date", "transaction_type", "sender_id", "receiver_id"]
    algebraic = [
        "transaction_count",
        "average_quality_score",
        "first_processed",
        "last_processed",
    ]
    exp = silver.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("transaction_count"),
        (
            F.sum(F.col("quality_score").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("average_quality_score"),
        F.min("processing_timestamp").alias("first_processed"),
        F.max("processing_timestamp").alias("last_processed"),
        F.countDistinct("interchange_control_number").alias("unique_interchanges"),
        F.countDistinct("file_name").alias("unique_files"),
    )
    sk = lambda r: tuple(str(x) for x in r[:4])  # noqa: E731
    assert sorted(map(tuple, got.select(*keys, *algebraic).collect()), key=sk) == sorted(
        map(tuple, exp.select(*keys, *algebraic).collect()), key=sk
    )
    # distinct counts survive the cross-batch sketch merge: HLL estimates
    # (exact at this cardinality — sparse mode) match exact countDistinct
    got_d = {sk(r): (r.unique_interchanges, r.unique_files) for r in got.collect()}
    for r in exp.collect():
        gi, gf = got_d[sk(r)]
        assert abs(gi - r.unique_interchanges) <= max(1, 0.05 * r.unique_interchanges)
        assert abs(gf - r.unique_files) <= max(1, 0.05 * r.unique_files)


def test_gold_incremental_average_skips_null_scores(spark, tmp_path):
    """F.avg skips NULLs in the batch marts; the incremental views
    must divide score_sum by the NON-NULL score count, not the row
    count (r4 self-review) — else a NULL-scored silver row silently
    deflates every streamed average."""
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_summary_batch,
        read_incremental_summary,
    )

    rows = [
        ("b", "f1", NOW, "1", "1", "c1", "837", "S", "R", "d", "{}", "{}", 90, True, NOW.date()),
        ("b", "f2", NOW, "1", "1", "c2", "837", "S", "R", "d", "{}", "{}", None, True, NOW.date()),
        ("b", "f3", NOW, "1", "1", "c3", "837", "S", "R", "d", "{}", "{}", 70, True, NOW.date()),
    ]
    from ai_fabric_etl_spark.schemas import SILVER_SCHEMA

    silver = spark.createDataFrame(rows, SILVER_SCHEMA)
    state = str(tmp_path / "nullscore")
    merge_summary_batch(spark, silver, state)
    got = read_incremental_summary(spark, state).collect()[0]
    assert got["transaction_count"] == 3
    assert got["average_quality_score"] == 80.0  # (90+70)/2, not /3


def test_gold_incremental_partner_matches_batch(spark, landing, tmp_path):
    """Incremental partner-analytics partials == batch mart: additive
    counts exact, set-union type distincts exact, HLL interchange
    distincts within sketch error."""
    from ai_fabric_etl_spark.pipeline.gold import trading_partner_analytics
    from ai_fabric_etl_spark.pipeline.silver import silver_with_parsed
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_partner_batch,
        read_incremental_partner,
    )

    files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=12, seed=23)],
        "file_name string, content string",
    )
    silver = parse_to_silver(files, now=NOW).cache()
    state = str(tmp_path / "partner")
    b1 = silver.limit(5)
    b2 = silver.subtract(b1)
    merge_partner_batch(spark, b1, state)
    merge_partner_batch(spark, b2, state)

    got = read_incremental_partner(spark, state)
    exp = trading_partner_analytics(silver_with_parsed(silver))
    keys = ["processing_date", "sender_id", "receiver_id"]
    exact_cols = keys + [
        "total_transactions",
        "unique_transaction_types",
        *[f"count_{t}" for t in ("837", "835", "834", "270", "271", "276", "277", "278", "279")],
        "first_transaction",
        "last_transaction",
        "trading_partner_id",
    ]
    sk = lambda r: tuple(str(x) for x in r[:3])  # noqa: E731
    assert sorted(map(tuple, got.select(*exact_cols).collect()), key=sk) == sorted(
        map(tuple, exp.select(*exact_cols).collect()), key=sk
    )
    got_rows = {sk(r): r for r in got.collect()}
    for r in exp.collect():
        g = got_rows[sk(r)]
        assert abs(g.average_quality_score - r.average_quality_score) < 1e-6
        assert abs(g.unique_interchanges - r.unique_interchanges) <= max(
            1, 0.05 * r.unique_interchanges
        )


def test_gold_incremental_detail_marts_match_batch(spark, tmp_path):
    """Detail-mart upserts: two batches + a replay of the first ==
    one batch recompute, row for row (keyed merge is exact and
    idempotent — no sketch tolerance needed)."""
    from ai_fabric_etl_spark.pipeline.gold import ALL_MARTS
    from ai_fabric_etl_spark.pipeline.silver import silver_with_parsed
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_detail_batch,
        read_incremental_detail,
    )

    files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=12, seed=37)],
        "file_name string, content string",
    )
    silver = parse_to_silver(files, now=NOW).cache()
    state = str(tmp_path / "detail")
    b1 = silver.limit(5).cache()
    b2 = silver.subtract(b1)
    merge_detail_batch(spark, b1, state)
    merge_detail_batch(spark, b1, state)  # at-least-once replay
    merge_detail_batch(spark, b2, state)

    swp = silver_with_parsed(silver)
    for name in (
        "gold_healthcare_claim_analytics",
        "gold_healthcare_payment_analytics",
        "gold_healthcare_enrollment_analytics",
        "gold_healthcare_preauth_request_analytics",
        "gold_healthcare_preauth_response_analytics",
    ):
        exp = ALL_MARTS[name](swp)
        got = read_incremental_detail(spark, state, name).select(*exp.columns)
        assert sorted(map(lambda r: tuple(map(str, r)), got.collect())) == sorted(
            map(lambda r: tuple(map(str, r)), exp.collect())
        ), name


def test_gold_incremental_eligibility_and_claim_status(spark, tmp_path):
    """Additive partials across batches == the batch marts exactly
    (counts and decimal sums; avg via score_sum/n)."""
    from ai_fabric_etl_spark.pipeline.gold import (
        claim_status_analytics,
        eligibility_analytics,
    )
    from ai_fabric_etl_spark.pipeline.silver import silver_with_parsed
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_claim_status_batch,
        merge_eligibility_batch,
        read_incremental_claim_status,
        read_incremental_eligibility,
    )

    files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=14, seed=41)],
        "file_name string, content string",
    )
    silver = parse_to_silver(files, now=NOW).cache()
    b1 = silver.limit(6).cache()
    b2 = silver.subtract(b1)
    es = str(tmp_path / "elig")
    cs = str(tmp_path / "cstat")
    for b in (b1, b2):
        merge_eligibility_batch(spark, b, es)
        merge_claim_status_batch(spark, b, cs)

    swp = silver_with_parsed(silver)
    exp_e = eligibility_analytics(swp)
    got_e = read_incremental_eligibility(spark, es).select(*exp_e.columns)
    k = lambda r: tuple(map(str, r[:3]))  # noqa: E731
    exp_rows = {k(r): r for r in exp_e.collect()}
    got_rows = {k(r): r for r in got_e.collect()}
    assert set(exp_rows) == set(got_rows)
    for key, e in exp_rows.items():
        g = got_rows[key]
        for col in ("inquiries", "responses", "total_inquiry_items",
                    "total_benefits", "active_coverage_count"):
            assert g[col] == e[col], (key, col)
        assert abs(g["average_quality_score"] - e["average_quality_score"]) < 1e-9

    exp_c = claim_status_analytics(swp)
    got_c = read_incremental_claim_status(spark, cs).select(*exp_c.columns)
    exp_rows_c = {k(r): r for r in exp_c.collect()}
    got_rows_c = {k(r): r for r in got_c.collect()}
    assert set(exp_rows_c) == set(got_rows_c)
    for key, e in exp_rows_c.items():
        g = got_rows_c[key]
        assert g["status_requests"] == e["status_requests"], key
        assert g["status_responses"] == e["status_responses"], key
        # double sums re-associate across batch partials: equal up to fp
        for col in ("total_charge_amount", "total_paid_amount"):
            assert abs(g[col] - e[col]) <= 1e-6 * max(1.0, abs(e[col])), (key, col)


def test_start_gold_incremental_stream(spark, landing, tmp_path):
    """The combined incremental stream maintains summary + detail
    state end-to-end through foreachBatch."""
    from ai_fabric_etl_spark.streaming.gold_stream import (
        read_incremental_detail,
        read_incremental_summary,
        start_gold_incremental,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = parse_to_silver(stream_bronze(spark, landing), now=NOW)
    q = start_gold_incremental(stream, state, ckpt)
    q.awaitTermination(180)

    summary = read_incremental_summary(spark, f"{state}/summary")
    assert summary.count() > 0
    total = summary.agg(F.sum("transaction_count")).collect()[0][0]
    files = spark.createDataFrame(
        [(os.path.basename(p),) for p in os.listdir(landing)], "file_name string"
    )
    claims = read_incremental_detail(
        spark, f"{state}/detail", "gold_healthcare_claim_analytics"
    )
    assert claims.count() > 0
    assert total > 0 and files.count() > 0


def test_gold_incremental_state_tables_hold_only_own_files(spark, tmp_path):
    """After two drops through stream_bronze -> parse_to_silver ->
    start_gold_incremental, every state table holds only its own
    commit artifacts: the pointer, format marker, commit log and
    version directories — no Delta log, no Iceberg metadata."""
    from ai_fabric_etl_spark.streaming.gold_stream import start_gold_incremental

    landing = tmp_path / "landing"
    landing.mkdir()
    state = tmp_path / "state"
    ckpt = str(tmp_path / "ckpt")
    for drop, seed in enumerate((21, 22)):
        for name, content in generate_corpus(n_files=3, seed=seed):
            (landing / f"d{drop}_{name}").write_text(content)
        stream = parse_to_silver(stream_bronze(spark, str(landing)), now=NOW)
        start_gold_incremental(stream, str(state), ckpt).awaitTermination(180)

    tables = 0
    for root, dirs, files in os.walk(state):
        assert "_delta_log" not in dirs and "metadata" not in dirs, root
        if "_LATEST" not in files:
            continue
        tables += 1
        extra = {
            n for n in os.listdir(root)
            if n not in ("_LATEST", "_FORMAT", "_history.jsonl")
            and not (n.startswith("v=") and os.path.isdir(os.path.join(root, n)))
        }
        assert not extra, (root, extra)
        # both drops were folded
        assert ParquetMergeTable(spark, root).last_epoch(ckpt) == 1, root
    assert tables >= 7


def test_gold_incremental_quality_and_kpis(spark, tmp_path):
    """Quality + global-KPI partials across batches == batch marts:
    additive terms exact, HLL distincts exact at this cardinality
    (sparse mode), avg via decimal score_sum/n."""
    from ai_fabric_etl_spark.pipeline.gold import business_kpis, data_quality_metrics
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_kpis_batch,
        merge_quality_batch,
        read_incremental_kpis,
        read_incremental_quality,
    )

    files = spark.createDataFrame(
        [(n, c) for n, c in generate_corpus(n_files=14, seed=53)],
        "file_name string, content string",
    )
    silver = parse_to_silver(files, now=NOW).cache()
    b1 = silver.limit(6).cache()
    b2 = silver.subtract(b1)
    qs = str(tmp_path / "quality")
    ks = str(tmp_path / "kpis")
    for b in (b1, b2):
        merge_quality_batch(spark, b, qs)
        merge_kpis_batch(spark, b, ks)

    exp_q = data_quality_metrics(silver)
    got_q = read_incremental_quality(spark, qs).select(*exp_q.columns)
    k = lambda r: (str(r[0]), r[1])  # noqa: E731
    exp_rows = {k(r): r for r in exp_q.collect()}
    got_rows = {k(r): r for r in got_q.collect()}
    assert set(exp_rows) == set(got_rows)
    for key, e in exp_rows.items():
        g = got_rows[key]
        for col in ("transaction_count", "min_quality_score", "max_quality_score",
                    "high_quality_count", "medium_quality_count", "low_quality_count"):
            assert g[col] == e[col], (key, col)
        for col in ("average_quality_score", "high_quality_percentage",
                    "medium_quality_percentage", "low_quality_percentage"):
            assert abs(g[col] - e[col]) < 1e-9, (key, col)
        for col in ("unique_files", "unique_senders", "unique_receivers"):
            assert abs(g[col] - e[col]) <= max(1, 0.05 * e[col]), (key, col)

    e = business_kpis(silver).collect()[0]
    g = read_incremental_kpis(spark, ks).collect()[0]
    assert g["total_transactions"] == e["total_transactions"]
    assert g["unique_transaction_types"] == e["unique_transaction_types"]
    assert g["last_processed"] == e["last_processed"]
    assert abs(g["average_quality_score"] - e["average_quality_score"]) < 1e-9
    for col in ("unique_files", "unique_senders", "unique_receivers",
                "unique_trading_partnerships"):
        assert abs(g[col] - e[col]) <= max(1, 0.05 * e[col]), col


def _invalid_file(i: int = 0) -> tuple[str, str]:
    """An 837 with no BHT/NM1/CLM: 3 issues -> score 40 -> is_valid=False."""
    from ai_fabric_etl_spark.x12.testgen import _envelope, _set

    body = _set("837", 90_000 + i, ["REF*XX*JUNK"])
    return (
        f"test_invalid_{i:03d}.x12",
        _envelope([body], "SENDER01", "RECV01", icn=90_000 + i, gcn=900 + i,
                  func_code="HC"),
    )


def test_gold_incremental_summary_excludes_invalid(spark, tmp_path):
    """ADVICE r1 (high): incremental summary/partner partials must
    apply the is_valid filter the batch marts apply — with an invalid
    transaction in the batch, incremental == batch mart exactly."""
    from ai_fabric_etl_spark.pipeline.gold import (
        trading_partner_analytics,
        transaction_summary,
    )
    from ai_fabric_etl_spark.pipeline.silver import silver_with_parsed
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_partner_batch,
        merge_summary_batch,
        read_incremental_partner,
        read_incremental_summary,
    )

    corpus = generate_corpus(n_files=6, seed=31) + [_invalid_file(0), _invalid_file(1)]
    files = spark.createDataFrame(corpus, "file_name string, content string")
    silver = parse_to_silver(files, now=NOW).cache()
    assert silver.filter(~F.col("is_valid")).count() >= 2  # fixture really is mixed

    s_state = str(tmp_path / "summary")
    p_state = str(tmp_path / "partner")
    merge_summary_batch(spark, silver, s_state)
    merge_partner_batch(spark, silver, p_state)

    exp_s = transaction_summary(silver_with_parsed(silver))
    got_s = read_incremental_summary(spark, s_state)
    cols = ["processing_date", "transaction_type", "sender_id", "receiver_id",
            "transaction_count"]
    assert sorted(map(tuple, got_s.select(*cols).collect())) == sorted(
        map(tuple, exp_s.select(*cols).collect())
    )

    exp_p = trading_partner_analytics(silver_with_parsed(silver))
    got_p = read_incremental_partner(spark, p_state)
    pcols = ["processing_date", "sender_id", "receiver_id", "total_transactions"]
    assert sorted(map(tuple, got_p.select(*pcols).collect())) == sorted(
        map(tuple, exp_p.select(*pcols).collect())
    )


def test_gold_incremental_epoch_replay_is_exactly_once(spark, tmp_path):
    """ADVICE r1 (medium): replaying an epoch (at-least-once
    foreachBatch) must not double-count the additive folds."""
    from ai_fabric_etl_spark.streaming.gold_stream import (
        merge_summary_batch,
        read_incremental_summary,
    )

    files = spark.createDataFrame(
        generate_corpus(n_files=6, seed=41), "file_name string, content string"
    )
    silver = parse_to_silver(files, now=NOW).cache()
    b1 = silver.limit(4)
    b2 = silver.subtract(b1)

    state = str(tmp_path / "sum_epoch")
    merge_summary_batch(spark, b1, state, epoch_id=0)
    merge_summary_batch(spark, b1, state, epoch_id=0)  # crash-replay of epoch 0
    merge_summary_batch(spark, b2, state, epoch_id=1)
    merge_summary_batch(spark, b2, state, epoch_id=1)  # and of epoch 1

    total = read_incremental_summary(spark, state).agg(
        F.sum("transaction_count")
    ).collect()[0][0]
    assert total == silver.filter(F.col("is_valid")).count()


def test_stream_interval_join_matches_batch_range_join(spark, tmp_path):
    """Stream-stream interval join == batch range_join on the same
    rows: a watermarked symmetric hash join with bounded state is the
    streaming twin of the bucketed batch range join."""
    from ai_fabric_etl_spark.operators.temporal import range_join
    from ai_fabric_etl_spark.queries.catalog import load_events
    from ai_fabric_etl_spark.streaming.joins import stream_interval_join

    ev = load_events(spark, "/root/testdata/sf0.001").limit(2000).cache()
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    activity = ev.select(
        "user_id", F.col("event_id").alias("act_id"), F.col("ts").alias("act_ts")
    )
    err_dir, act_dir = str(tmp_path / "err"), str(tmp_path / "act")
    errors.write.parquet(err_dir)
    activity.write.parquet(act_dir)

    s_err = spark.readStream.schema(errors.schema).parquet(err_dir)
    s_act = spark.readStream.schema(activity.schema).parquet(act_dir)
    joined = stream_interval_join(
        s_err, s_act, by=["user_id"], left_ts="err_ts", right_ts="act_ts",
        before_seconds=600.0, watermark_seconds=600.0,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.err_id, r.act_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }
    exp = {
        (r.user_id, r.err_id, r.act_id)
        for r in range_join(
            errors, activity, by=["user_id"], left_ts="err_ts",
            right_ts="act_ts", before_seconds=600.0,
        ).collect()
    }
    assert got == exp and got


def test_stream_dedup_within_watermark_matches_batch(spark, events_dir, tmp_path):
    """Streaming dedup with watermark-bounded state: a corpus with
    every event duplicated (simulated at-least-once replay) dedups to
    exactly the batch dropDuplicates result."""
    from ai_fabric_etl_spark.streaming.ops_metrics import dedup_within_watermark

    doubled_dir = str(tmp_path / "events_doubled")
    ev = spark.read.parquet(events_dir)
    ev.unionByName(ev).write.mode("overwrite").parquet(doubled_dir)

    schema = ev.schema
    stream = spark.readStream.schema(schema).parquet(doubled_dir)
    # append mode (dedup is not an aggregation; _run_to_memory's
    # complete mode would be rejected)
    q = (
        dedup_within_watermark(stream)
        .writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_wm").count()
    exp = ev.dropDuplicates(["event_id"]).count()
    assert got == exp
    # and the deduped ids are exactly the original id set
    got_ids = {r.event_id for r in spark.table("dedup_wm").select("event_id").collect()}
    exp_ids = {r.event_id for r in ev.select("event_id").collect()}
    assert got_ids == exp_ids


def test_quantile_state_stream_equals_batch_exact_regime(spark, tmp_path):
    """Exact regime (k >= n): quantiles from micro-batch-folded state
    must equal the batch discrete quantiles over all data, and a
    replayed epoch must not change the state."""
    import math

    from ai_fabric_etl_spark.streaming.sketch_state import (
        merge_quantile_state,
        read_quantiles,
    )

    state = str(tmp_path / "qstate")
    rows = [(("A" if i % 2 else "B"), float((i * 37) % 251)) for i in range(900)]
    df = spark.createDataFrame(rows, "g string, x double")
    assert df.count() == 900
    # three micro-batches of 300 rows
    for epoch in range(3):
        lo, hi = epoch * 300, (epoch + 1) * 300
        batch = spark.createDataFrame(rows[lo:hi], "g string, x double")
        merge_quantile_state(
            spark, batch, state, epoch, "x", ["g"], k=4096, app_id="t1"
        )
    # replay epoch 2 with different data: must be skipped
    merge_quantile_state(
        spark,
        spark.createDataFrame([("A", 1e9)], "g string, x double"),
        state, 2, "x", ["g"], k=4096, app_id="t1",
    )
    got = {
        r["g"]: (r["p50"], r["p95"])
        for r in read_quantiles(spark, state, ["g"], {"p50": 0.5, "p95": 0.95})
        .collect()
    }
    for g in ("A", "B"):
        vals = sorted(x for gg, x in rows if gg == g)
        want = (
            vals[max(1, math.ceil(0.5 * len(vals))) - 1],
            vals[max(1, math.ceil(0.95 * len(vals))) - 1],
        )
        assert got[g] == want, g


def test_quantile_state_streaming_wiring(spark, tmp_path):
    """availableNow file stream through start_quantile_state: the
    persisted state answers quantiles without rescanning the source."""
    from ai_fabric_etl_spark.streaming.sketch_state import (
        read_quantiles,
        start_quantile_state,
    )

    src = str(tmp_path / "src")
    rows = [(("A" if i % 3 == 0 else "B"), float(i % 101)) for i in range(600)]
    spark.createDataFrame(rows, "g string, x double").write.parquet(src)
    stream = spark.readStream.schema("g string, x double").parquet(src)
    q = start_quantile_state(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"),
        "x", ["g"], k=8192,
    )
    q.awaitTermination(120)
    import math

    got = {
        r["g"]: r["p50"]
        for r in read_quantiles(
            spark, str(tmp_path / "state"), ["g"], {"p50": 0.5}
        ).collect()
    }
    for g in ("A", "B"):
        vals = sorted(x for gg, x in rows if gg == g)
        assert got[g] == vals[max(1, math.ceil(0.5 * len(vals))) - 1]


def test_heavy_hitter_state_exact_regime_and_replay(spark, tmp_path):
    from ai_fabric_etl_spark.streaming.sketch_state import (
        merge_heavy_hitters_state,
        read_heavy_hitters,
    )

    state = str(tmp_path / "hhstate")
    rows = [(f"v{i % 9}",) for i in range(600)]
    for epoch in range(3):
        batch = spark.createDataFrame(rows[epoch * 200:(epoch + 1) * 200],
                                      "lang string")
        merge_heavy_hitters_state(
            spark, batch, state, epoch, "lang", k=64, app_id="hh1"
        )
    # replay epoch 1 with junk: must be ignored
    merge_heavy_hitters_state(
        spark, spark.createDataFrame([("junk",)] * 50, "lang string"),
        state, 1, "lang", k=64, app_id="hh1",
    )
    got = {r["lang"]: r["mg_count"] for r in
           read_heavy_hitters(spark, state).collect()}
    import collections

    want = collections.Counter(v for v, in rows)
    assert got == dict(want)  # distinct (9) <= k: exact == batch groupBy


def test_heavy_hitter_state_compression_keeps_heavies(spark, tmp_path):
    from ai_fabric_etl_spark.streaming.sketch_state import (
        merge_heavy_hitters_state,
        read_heavy_hitters,
    )

    state = str(tmp_path / "hhstate2")
    # 1000 distinct singletons + one value with 200 occurrences, k=16
    rows = [(f"u{i}",) for i in range(1000)] + [("hot",)] * 200
    for epoch in range(2):
        batch = spark.createDataFrame(rows[epoch * 600:(epoch + 1) * 600],
                                      "lang string")
        merge_heavy_hitters_state(
            spark, batch, state, epoch, "lang", k=16, app_id="hh2"
        )
    out = read_heavy_hitters(spark, state).collect()
    assert len(out) <= 16
    got = {r["lang"]: r["mg_count"] for r in out}
    # hot survives with a lower-bound count within the MG error band
    assert "hot" in got and 200 - 1200 / 17 <= got["hot"] <= 200


def test_cms_state_stream_equals_batch_and_replay(spark, tmp_path):
    """Micro-batch-folded CMS state must equal the one-pass batch
    sketch BIT-for-bit on the union of all streamed batches (bucket
    summation is exactly associative — no float, no compression), and
    a replayed epoch must be skipped (a double-fold would silently
    double-count, the failure mode the epoch guard exists for)."""
    from ai_fabric_etl_spark.operators.sketches import cms_table
    from ai_fabric_etl_spark.streaming.sketch_state import (
        merge_cms_state,
        read_cms_estimates,
    )

    state = str(tmp_path / "cmsstate")
    rows = [(i % 37,) for i in range(900)]
    for epoch in range(3):
        batch = spark.createDataFrame(
            rows[epoch * 300:(epoch + 1) * 300], "user_id long"
        )
        merge_cms_state(
            spark, batch, state, epoch, "user_id",
            width=64, depth=4, app_id="cms1",
        )
    # replay epoch 2 with junk rows: must be ignored
    merge_cms_state(
        spark, spark.createDataFrame([(1,)] * 500, "user_id long"),
        state, 2, "user_id", width=64, depth=4, app_id="cms1",
    )
    full = spark.createDataFrame(rows, "user_id long")
    batch_sk = cms_table(full, "user_id", width=64, depth=4)
    from ai_fabric_etl_spark.operators.merge import ParquetMergeTable

    stream_sk = ParquetMergeTable(spark, state).read()
    key = ["cms_row", "cms_bucket", "cms_count"]
    assert sorted(map(tuple, stream_sk.select(*key).collect())) == sorted(
        map(tuple, batch_sk.select(*key).collect())
    )
    vals = full.select("user_id").distinct()
    est = {
        r["user_id"]: r["cms_estimate"]
        for r in read_cms_estimates(
            spark, state, vals, "user_id", width=64, depth=4
        ).collect()
    }
    import collections

    truth = collections.Counter(v for v, in rows)
    assert all(est[k] >= c for k, c in truth.items())


def test_cms_state_streaming_wiring(spark, tmp_path):
    """availableNow file stream through start_cms_state: the persisted
    sketch answers point queries without rescanning the source."""
    from ai_fabric_etl_spark.streaming.sketch_state import (
        read_cms_estimates,
        start_cms_state,
    )

    src = str(tmp_path / "cms_src")
    spark.range(0, 400).select((F.col("id") % 11).alias("user_id")).write.parquet(src)
    stream = spark.readStream.schema("user_id long").parquet(src)
    q = start_cms_state(
        stream, str(tmp_path / "cms_state2"), str(tmp_path / "cms_ckpt"),
        "user_id", width=64, depth=4,
    )
    q.awaitTermination(120)
    vals = spark.range(0, 11).select(F.col("id").alias("user_id"))
    est = {
        r["user_id"]: r["cms_estimate"]
        for r in read_cms_estimates(
            spark, str(tmp_path / "cms_state2"), vals, "user_id",
            width=64, depth=4,
        ).collect()
    }
    # 400 rows over 11 keys: ids 0..3 get 37, rest 36 — CMS >= truth
    for k in range(11):
        assert est[k] >= (37 if k < 4 else 36)


def test_drift_monitor_stream_equals_batch_exactly(spark, tmp_path):
    """Micro-batch-folded drift state must produce BIT-identical PSI
    rows to the batch drift_psi over the same reference and the union
    of all streamed batches; a replayed epoch must not change it."""
    from ai_fabric_etl_spark.operators.profile import drift_psi
    from ai_fabric_etl_spark.streaming.sketch_state import (
        drift_reference,
        merge_drift_state,
        read_drift_psi,
    )
    from pyspark.sql import functions as F

    bins = 6
    ref_rows = [(i, float((i * 53) % 997)) for i in range(600)]
    cur_rows = [(i + 10_000, float(((i * 91) % 997) * 1.3)) for i in range(450)]
    ref = spark.createDataFrame(ref_rows, "k long, x double")
    cur = spark.createDataFrame(cur_rows, "k long, x double")

    edges, ref_counts = drift_reference(ref, col="x", tiebreak="k", bins=bins)
    assert len(edges) == bins - 1 and sum(ref_counts.values()) == 600

    state = str(tmp_path / "drift_state")
    for epoch in range(3):
        lo, hi = epoch * 150, (epoch + 1) * 150
        batch = spark.createDataFrame(cur_rows[lo:hi], "k long, x double")
        merge_drift_state(
            spark, batch, state, epoch, "x", edges, app_id="drift-t"
        )
    # replayed epoch with junk data must be skipped
    merge_drift_state(
        spark,
        spark.createDataFrame([(1, 1e12)], "k long, x double"),
        state, 1, "x", edges, app_id="drift-t",
    )
    got = {
        r.bin_id: (r.ref_n, r.cur_n, r.psi_term_micro)
        for r in read_drift_psi(spark, state, ref_counts, bins=bins).collect()
    }
    want = {
        r.bin_id: (r.ref_n, r.cur_n, r.psi_term_micro)
        for r in drift_psi(
            ref, cur, col="x", tiebreak="k", bins=bins
        ).collect()
    }
    assert got == want
    total_psi = sum(v[2] for v in got.values()) / 1e6
    assert total_psi > 0.05  # the 1.3x scale shift is visible


def test_drift_monitor_streaming_wiring(spark, tmp_path):
    """availableNow file stream through start_drift_monitor: state
    answers PSI without rescanning the source; identical sample ->
    near-zero PSI."""
    from ai_fabric_etl_spark.streaming.sketch_state import (
        drift_reference,
        read_drift_psi,
        start_drift_monitor,
    )

    rows = [(i, float((i * 29) % 503)) for i in range(800)]
    ref = spark.createDataFrame(rows[:400], "k long, x double")
    edges, ref_counts = drift_reference(ref, col="x", tiebreak="k", bins=5)

    src = str(tmp_path / "drift_src")
    spark.createDataFrame(rows[400:], "k long, x double").write.parquet(src)
    stream = spark.readStream.schema("k long, x double").parquet(src)
    q = start_drift_monitor(
        stream,
        str(tmp_path / "drift_state2"),
        str(tmp_path / "drift_ckpt"),
        "x",
        edges,
    )
    q.awaitTermination(120)
    out = read_drift_psi(
        spark, str(tmp_path / "drift_state2"), ref_counts, bins=5
    ).collect()
    assert sum(r.cur_n for r in out) == 400
    assert abs(sum(r.psi_term_micro for r in out)) / 1e6 < 0.1


def test_gold_incremental_crash_recovery(spark, landing, tmp_path, monkeypatch):
    """VERDICT r4 item 6: kill the incremental gold stream MID-FOLD —
    the quality merge raises while the other state commits of the same
    micro-batch run beside it (they finish before the error surfaces),
    so every state but quality has merged the batch and the checkpoint
    has not committed the epoch — then restart from the same
    checkpoint. The per-state epoch guards must skip the already-folded
    states on replay and apply the missing quality fold, leaving every
    one of the 11 marts bit-equal to an uninterrupted run on the same
    input (and the summary mart exactly equal to the batch
    recompute)."""
    import ai_fabric_etl_spark.streaming.gold_stream as gs
    from ai_fabric_etl_spark.pipeline.gold import transaction_summary
    from ai_fabric_etl_spark.streaming.gold_stream import (
        read_incremental_claim_status,
        read_incremental_detail,
        read_incremental_eligibility,
        read_incremental_kpis,
        read_incremental_partner,
        read_incremental_quality,
        read_incremental_summary,
        start_gold_incremental,
    )

    state_a = str(tmp_path / "state_crash")
    ckpt_a = str(tmp_path / "ckpt_crash")
    state_b = str(tmp_path / "state_clean")
    ckpt_b = str(tmp_path / "ckpt_clean")

    # ---- run A: inject a crash inside the first fold ----
    orig_quality = gs.merge_quality_batch
    calls = {"n": 0}

    def flaky_quality(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-fold")
        return orig_quality(*args, **kwargs)

    monkeypatch.setattr(gs, "merge_quality_batch", flaky_quality)
    stream = parse_to_silver(stream_bronze(spark, landing), now=NOW)
    q = start_gold_incremental(stream, state_a, ckpt_a)
    with pytest.raises(Exception):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise q.exception()
    assert calls["n"] == 1, "crash injection did not fire"
    # partial write really happened: the first four states took the
    # batch, the post-crash states did not
    assert read_incremental_summary(spark, f"{state_a}/summary").count() > 0
    assert not os.path.exists(f"{state_a}/quality") or (
        read_incremental_quality(spark, f"{state_a}/quality").count() == 0
    )

    # ---- resume from the same checkpoint, injection disarmed ----
    monkeypatch.setattr(gs, "merge_quality_batch", orig_quality)
    stream = parse_to_silver(stream_bronze(spark, landing), now=NOW)
    q = start_gold_incremental(stream, state_a, ckpt_a)
    q.awaitTermination(180)

    # ---- run B: clean single run on the same input ----
    stream = parse_to_silver(stream_bronze(spark, landing), now=NOW)
    q = start_gold_incremental(stream, state_b, ckpt_b)
    q.awaitTermination(180)

    readers = {
        "summary": lambda s: read_incremental_summary(spark, f"{s}/summary"),
        "partner": lambda s: read_incremental_partner(spark, f"{s}/partner"),
        "eligibility": lambda s: read_incremental_eligibility(
            spark, f"{s}/eligibility"
        ),
        "claim_status": lambda s: read_incremental_claim_status(
            spark, f"{s}/claim_status"
        ),
        "quality": lambda s: read_incremental_quality(spark, f"{s}/quality"),
        "kpis": lambda s: read_incremental_kpis(spark, f"{s}/kpis"),
    }
    for name in gs._detail_marts():
        readers[name] = (
            lambda s, n=name: read_incremental_detail(spark, f"{s}/detail", n)
        )

    def rowset(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    for name, rd in readers.items():
        a, b = rowset(rd(state_a)), rowset(rd(state_b))
        assert a == b, f"mart {name}: crash+resume != clean run"

    # anchor: the recovered summary equals the batch recompute exactly
    silver = parse_to_silver(
        spark.createDataFrame(
            [(os.path.basename(p),
              open(os.path.join(landing, p)).read())
             for p in os.listdir(landing)],
            "file_name string, content string",
        ),
        now=NOW,
    )
    got_df = read_incremental_summary(spark, f"{state_a}/summary")
    shared = [
        c for c in transaction_summary(silver).columns
        if c in got_df.columns  # created_at is a wall-clock stamp
    ]
    exp = transaction_summary(silver).select(*shared)
    assert rowset(got_df.select(*shared)) == rowset(exp)


def _incremental_mart_rows(spark, state):
    """Every incrementally maintained mart under ``state``, collected."""
    import ai_fabric_etl_spark.streaming.gold_stream as gs

    out = {
        sub: getattr(gs, f"read_incremental_{sub}")(spark, f"{state}/{sub}").collect()
        for sub in ("summary", "partner", "eligibility", "claim_status", "quality", "kpis")
    }
    for name in gs._detail_marts():
        out[name] = gs.read_incremental_detail(spark, f"{state}/detail", name).collect()
    return out


def _state_tables(state):
    """Root of every ParquetMergeTable under ``state``."""
    return sorted(root for root, _, files in os.walk(state) if "_LATEST" in files)


def _land_drop(landing, drop, n_files=3):
    for name, content in generate_corpus(n_files=n_files, seed=60 + drop):
        (landing / f"d{drop}_{name}").write_text(content)


def _drain(spark, landing, state, ckpt):
    from ai_fabric_etl_spark.streaming.gold_stream import start_gold_incremental

    stream = parse_to_silver(stream_bronze(spark, str(landing)), now=NOW)
    q = start_gold_incremental(stream, str(state), ckpt)
    q.awaitTermination(180)
    if q.exception() is not None:
        raise q.exception()


def test_gold_incremental_failed_fold_releases_cached_frames(spark, tmp_path, monkeypatch):
    """A micro-batch whose fold raises still unpersists the batch and its
    parsed payload: the persistent-RDD count is what it was before."""
    import ai_fabric_etl_spark.streaming.gold_stream as gs

    def broken(*args, **kwargs):
        raise RuntimeError("injected merge failure")

    monkeypatch.setattr(gs, "merge_quality_batch", broken)
    landing = tmp_path / "landing"
    landing.mkdir()
    _land_drop(landing, 0)
    jsc = spark.sparkContext._jsc.sc()
    cached_before = jsc.getPersistentRDDs().size()
    with pytest.raises(Exception, match="injected merge failure"):
        _drain(spark, landing, tmp_path / "state", str(tmp_path / "ckpt"))
    assert jsc.getPersistentRDDs().size() == cached_before


def test_gold_incremental_concurrent_fold_failure_contract(spark, tmp_path, monkeypatch):
    """One merge raises for epoch 1 while the others commit beside it:
    the stream surfaces the error, every other state table has folded
    epoch 1, and a restart from the checkpoint leaves the marts equal
    to a clean run over the same drops."""
    import ai_fabric_etl_spark.streaming.gold_stream as gs

    landing = tmp_path / "landing"
    landing.mkdir()
    state_a, ckpt_a = tmp_path / "state_a", str(tmp_path / "ckpt_a")
    orig_summary = gs.merge_summary_batch

    def flaky_summary(spark, batch, path, epoch_id=None, app_id=None, **kw):
        if epoch_id == 1:
            raise RuntimeError("injected summary failure")
        return orig_summary(spark, batch, path, epoch_id, app_id, **kw)

    monkeypatch.setattr(gs, "merge_summary_batch", flaky_summary)
    _land_drop(landing, 0)
    _drain(spark, landing, state_a, ckpt_a)
    _land_drop(landing, 1)
    with pytest.raises(Exception, match="injected summary failure"):
        _drain(spark, landing, state_a, ckpt_a)

    tables = _state_tables(state_a)
    assert len(tables) == 11
    for root in tables:
        want = 0 if root == str(state_a / "summary") else 1
        assert ParquetMergeTable(spark, root).last_epoch(ckpt_a) == want, root

    monkeypatch.setattr(gs, "merge_summary_batch", orig_summary)
    _drain(spark, landing, state_a, ckpt_a)
    assert all(
        ParquetMergeTable(spark, root).last_epoch(ckpt_a) == 1 for root in tables
    )

    # clean run: the same two drops, in the same two epochs
    clean_landing = tmp_path / "clean_landing"
    clean_landing.mkdir()
    state_b, ckpt_b = tmp_path / "state_b", str(tmp_path / "ckpt_b")
    for drop in (0, 1):
        _land_drop(clean_landing, drop)
        _drain(spark, clean_landing, state_b, ckpt_b)

    def rowset(rows):
        return sorted(tuple(str(v) for v in r) for r in rows)

    got, want = _incremental_mart_rows(spark, state_a), _incremental_mart_rows(spark, state_b)
    assert got.keys() == want.keys()
    for name in want:
        assert rowset(got[name]) == rowset(want[name]), name


def test_gold_incremental_state_stays_bounded(spark, tmp_path):
    """Four drops leave at most two versions in every state table, and
    the marts still equal one clean drain of the same files."""
    landing = tmp_path / "landing"
    landing.mkdir()
    state, ckpt = tmp_path / "state", str(tmp_path / "ckpt")
    for drop in range(4):
        _land_drop(landing, drop)
        _drain(spark, landing, state, ckpt)

    tables = _state_tables(state)
    assert len(tables) == 11
    for root in tables:
        t = ParquetMergeTable(spark, root)
        assert t.last_epoch(ckpt) == 3, root
        assert len(t.versions()) <= 2, (root, t.versions())

    clean = tmp_path / "clean"
    _drain(spark, landing, clean, str(tmp_path / "ckpt_clean"))

    def split(row):
        # doubles (averages, charge sums) re-associate across partials
        exact = tuple(str(v) for v in row if not isinstance(v, float))
        return exact, [v for v in row if isinstance(v, float)]

    got, want = _incremental_mart_rows(spark, state), _incremental_mart_rows(spark, clean)
    assert got.keys() == want.keys()
    for name in want:
        g = sorted(map(split, got[name]), key=lambda p: p[0])
        w = sorted(map(split, want[name]), key=lambda p: p[0])
        assert [e for e, _ in g] == [e for e, _ in w], name
        for (_, gf), (_, wf) in zip(g, w):
            assert gf == pytest.approx(wf, rel=1e-9), name


# HLL-estimated columns of the incremental marts; every other column
# of the stream must equal the batch CLI's exactly (doubles to 1e-9)
_SKETCHED = {
    "gold_transaction_summary": {"unique_interchanges", "unique_files"},
    "gold_trading_partner_analytics": {"unique_interchanges"},
    "gold_data_quality_metrics": {"unique_files", "unique_senders", "unique_receivers"},
    "gold_business_kpis": {"unique_files", "unique_senders", "unique_receivers",
                           "unique_trading_partnerships"},
}
_STREAM_READS = {
    "gold_transaction_summary": "summary",
    "gold_trading_partner_analytics": "partner",
    "gold_eligibility_analytics": "eligibility",
    "gold_claim_status_analytics": "claim_status",
    "gold_data_quality_metrics": "quality",
    "gold_business_kpis": "kpis",
}


def test_batch_cli_and_incremental_stream_marts_agree(spark, tmp_path, monkeypatch):
    """One seeded landing directory through the batch CLI and through
    stream_bronze -> parse_to_silver -> start_gold_incremental in two
    drops: all 11 marts have the batch mart's columns, in its order
    (the summary's wall-clock created_at is the batch write's own), and
    the same values: exact except doubles (re-associated sums, to 1e-9)
    and HLL distinct estimates (within max(1, 5%))."""
    from functools import partial

    import ai_fabric_etl_spark.pipeline.silver as silver_mod
    import ai_fabric_etl_spark.streaming.gold_stream as gs
    from ai_fabric_etl_spark.pipeline.gold import ALL_MARTS, build_all_marts
    from ai_fabric_etl_spark.run import main

    corpus = generate_corpus(n_files=18, seed=83)
    landing = tmp_path / "landing"
    landing.mkdir()
    state, ckpt = tmp_path / "state", str(tmp_path / "ckpt")
    for drop in (corpus[:8], corpus[8:]):
        for name, content in drop:
            (landing / name).write_text(content)
        _drain(spark, landing, state, ckpt)

    # the CLI stamps silver with the same processing time as the stream
    monkeypatch.setattr(silver_mod, "parse_to_silver", partial(parse_to_silver, now=NOW))
    out = str(tmp_path / "wh")
    assert main(["run", "--input", str(landing), "--out", out]) == 0
    batch_cols = {
        name: df.columns for name, df in build_all_marts(
            silver_mod.silver_with_parsed(silver_mod.read_silver(spark, f"{out}/silver"))
        ).items()
    }
    assert list(batch_cols) == list(ALL_MARTS)

    for name, cols in batch_cols.items():
        if name in _STREAM_READS:
            got = getattr(gs, f"read_incremental_{_STREAM_READS[name]}")(
                spark, f"{state}/{_STREAM_READS[name]}")
        else:
            got = gs.read_incremental_detail(spark, f"{state}/detail", name)
        assert got.columns == [c for c in cols if c != "created_at"], name
        disk = spark.read.parquet(f"{out}/gold/{name}")
        assert sorted(disk.columns) == sorted(cols), name

        doubles = {c for c, t in got.dtypes if t == "double"}
        sketched = _SKETCHED.get(name, set())
        exact = [c for c in got.columns if c not in doubles | sketched]

        g_rows, b_rows = (
            sorted(df.select(*got.columns).collect(),
                   key=lambda r: tuple(str(r[c]) for c in exact))
            for df in (got, disk)
        )
        assert len(g_rows) == len(b_rows) > 0, name
        for g, b in zip(g_rows, b_rows):
            assert [g[c] for c in exact] == [b[c] for c in exact], name
            for c in doubles:
                if b[c] is None:
                    assert g[c] is None, (name, c)
                else:
                    assert g[c] == pytest.approx(b[c], rel=1e-9), (name, c)
            for c in sketched:
                assert abs(g[c] - b[c]) <= max(1, 0.05 * b[c]), (name, c)


def test_gold_stream_imports_without_a_session():
    """Importing gold_stream builds no Column, so it needs no session."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", "import ai_fabric_etl_spark.streaming.gold_stream"],
        cwd=repo, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr


def test_stream_interval_join_left_outer_matches_batch(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: errors with no
    time-adjacent activity must emit with NULL right columns once the
    watermark proves no match can arrive. A sentinel row far past the
    real data advances the final watermark beyond every real row, so
    the streamed result must equal the batch left range join exactly
    (sentinel excluded)."""
    import datetime

    from ai_fabric_etl_spark.operators.temporal import range_join
    from ai_fabric_etl_spark.queries.catalog import load_events
    from ai_fabric_etl_spark.streaming.joins import stream_interval_join

    ev = load_events(spark, "/root/testdata/sf0.001").limit(600).cache()
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
    )
    activity = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("act_id"),
        F.col("ts").alias("act_ts"),
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel_ts = max_ts + datetime.timedelta(seconds=2000)
    sent_err = spark.createDataFrame(
        [(-1, -1, sentinel_ts)], errors.schema
    )
    sent_act = spark.createDataFrame(
        [(-1, -2, sentinel_ts)], activity.schema
    )
    err_dir, act_dir = str(tmp_path / "err_lo"), str(tmp_path / "act_lo")
    errors.unionByName(sent_err).write.parquet(err_dir)
    activity.unionByName(sent_act).write.parquet(act_dir)

    s_err = spark.readStream.schema(errors.schema).parquet(err_dir)
    s_act = spark.readStream.schema(activity.schema).parquet(act_dir)
    joined = stream_interval_join(
        s_err, s_act, by=["user_id"], left_ts="err_ts", right_ts="act_ts",
        before_seconds=300.0, watermark_seconds=600.0, how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_lo")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.err_id, r.act_id)
        for r in spark.sql("SELECT * FROM ssj_lo").collect()
        if r.err_id != -1
    }
    exp = {
        (r.user_id, r.err_id, r.act_id)
        for r in range_join(
            errors, activity, by=["user_id"], left_ts="err_ts",
            right_ts="act_ts", before_seconds=300.0, how="left",
        ).collect()
    }
    assert got == exp and got
    # the outer side genuinely fires: some errors have no nearby click
    assert any(a is None for _, _, a in got)
