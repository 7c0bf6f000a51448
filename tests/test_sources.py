"""Sources surface tests (SURVEY §2.1 S10-S13)."""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from ai_fabric_etl_spark.sources import eligible_files, jdbc_read_options, landing_path
from ai_fabric_etl_spark.sources.sftp_ingest import SFTPConnector


def test_jdbc_read_options_partitioned():
    opts = jdbc_read_options(
        url="jdbc:postgresql://db/x12",
        table="silver_x12_transactions",
        partition_column="id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "10000"


def test_jdbc_read_options_requires_bounds():
    with pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", table="t", partition_column="id")


def test_sftp_connector_is_stubbed():
    c = SFTPConnector("partner.example.com")
    with pytest.raises(NotImplementedError):
        c.list_files("/outbound")


def test_eligible_files_age_and_size(spark, tmp_path):
    old = tmp_path / "old_enough.x12"
    old.write_text("ISA*00*" + "x" * 200)
    fresh = tmp_path / "too_fresh.x12"
    fresh.write_text("ISA*00*" + "x" * 200)
    big = tmp_path / "too_big.x12"
    big.write_text("ISA*00*" + "x" * 5000)
    skipped = tmp_path / "notes.csv"
    skipped.write_text("not x12")

    now = time.time()
    os.utime(old, (now - 3600, now - 3600))
    os.utime(big, (now - 3600, now - 3600))
    os.utime(fresh, (now, now))

    got = eligible_files(
        spark,
        str(tmp_path),
        min_age=datetime.timedelta(minutes=5),
        max_bytes=1000,
    )
    assert [r.file_name for r in got.collect()] == ["old_enough.x12"]


def test_landing_path_layout():
    p = landing_path("/bronze", "BCBS001", datetime.datetime(2024, 3, 7))
    assert p == "/bronze/BCBS001/year=2024/month=03/day=07"


def test_x12_datasource_parity_with_pipeline(spark, tmp_path):
    """spark.read.format('x12') must produce exactly what the
    mapInPandas silver path produces for the same files, same batch
    id, same injected timestamp — one format, two access paths."""
    from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
    from ai_fabric_etl_spark.sources.x12_datasource import register
    from ai_fabric_etl_spark.x12.testgen import generate_corpus

    from datetime import datetime

    corpus = generate_corpus(n_files=12, seed=23)
    d = tmp_path / "landing"
    d.mkdir()
    for name, content in corpus:
        (d / name).write_text(content, encoding="utf-8")
    now = datetime(2026, 1, 2, 3, 4, 5)

    register(spark)
    via_source = (
        spark.read.format("x12")
        .option("batchid", "b1")
        .option("now", now.isoformat())
        .load(str(d))
    )
    files_df = spark.createDataFrame(corpus, ["file_name", "content"])
    via_pipeline = parse_to_silver(files_df, batch_id="b1", now=now)
    a = sorted(map(tuple, via_source.collect()))
    b = sorted(map(tuple, via_pipeline.collect()))
    assert a == b and len(a) > 0
    # file-level parallelism is planned by the source
    assert via_source.rdd.getNumPartitions() > 1


def test_x12_datasource_dead_letter_and_missing(spark, tmp_path):
    from ai_fabric_etl_spark.sources.x12_datasource import register
    from ai_fabric_etl_spark.x12.parsers import dead_letter_row

    import pytest
    from py4j.protocol import Py4JJavaError

    d = tmp_path / "bad"
    d.mkdir()
    (d / "broken.x12").write_bytes(b"\xff\xfe garbage not utf8 \xff")
    register(spark)
    rows = spark.read.format("x12").load(str(d)).collect()
    assert len(rows) == 1 and rows[0]["transaction_type"] == "ERR"
    assert rows[0]["is_valid"] is False
    # the row is the shared dead letter for the read's decode error
    with pytest.raises(UnicodeDecodeError) as failure:
        with open(d / "broken.x12", encoding="utf-8") as fh:
            fh.read()
    want = dead_letter_row(
        "broken.x12", failure.value, "x12-datasource", datetime.datetime.now()
    )
    run_cols = ("batch_id", "processing_timestamp", "processing_date")
    assert {k: v for k, v in rows[0].asDict().items() if k not in run_cols} == {
        k: v for k, v in want.items() if k not in run_cols
    }
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises((Py4JJavaError, Exception)):
        spark.read.format("x12").load(str(empty)).collect()


def test_x12_datasource_streaming_new_file_detection(spark, tmp_path):
    """readStream.format('x12'): each availableNow pass emits exactly
    the files not yet in the checkpointed offset — no duplicates, no
    losses across restarts (the poll+archive replacement, SURVEY
    §2.9, expressed as a Spark 4 streaming data source)."""
    from datetime import datetime

    from ai_fabric_etl_spark.sources.x12_datasource import register
    from ai_fabric_etl_spark.x12.testgen import generate_corpus

    corpus = generate_corpus(n_files=10, seed=31)
    d = tmp_path / "landing"
    d.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    register(spark)

    def run_pass():
        q = (
            spark.readStream.format("x12")
            .option("batchid", "s1")
            .option("now", datetime(2026, 1, 1).isoformat())
            .load(str(d))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for name, content in corpus[:6]:
        (d / name).write_text(content, encoding="utf-8")
    run_pass()
    first = spark.read.parquet(out).count()
    assert first > 0
    for name, content in corpus[6:]:
        (d / name).write_text(content, encoding="utf-8")
    run_pass()
    got = spark.read.parquet(out)
    # every (file, set) exactly once, covering all 10 files
    assert got.count() == got.dropDuplicates(
        ["file_name", "functional_group_number",
         "transaction_set_control_number"]).count()
    assert got.select("file_name").distinct().count() == 10


def test_x12_datasource_filename_pushdown_prunes_files(spark, tmp_path):
    from datetime import datetime

    from ai_fabric_etl_spark.sources.x12_datasource import register
    from ai_fabric_etl_spark.x12.testgen import generate_corpus

    corpus = generate_corpus(n_files=12, seed=23)
    d = tmp_path / "landing"
    d.mkdir()
    for name, content in corpus:
        (d / name).write_text(content, encoding="utf-8")
    register(spark)
    target = corpus[0][0]
    df = (
        spark.read.format("x12")
        .option("now", datetime(2026, 1, 1).isoformat())
        .load(str(d))
        .filter(F.col("file_name") == target)
    )
    rows = df.collect()
    assert rows and all(r["file_name"] == target for r in rows)
    # the pruned listing plans exactly one partition (one file)
    assert df.rdd.getNumPartitions() == 1


def test_x12_sink_write_then_read_roundtrip(spark, tmp_path):
    """df.write.format('x12') stages then commits one file per row;
    reading the directory back through the same format reproduces the
    pipeline parse exactly. _staging_* must be gone after commit."""
    import os
    from datetime import datetime

    from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
    from ai_fabric_etl_spark.sources.x12_datasource import register
    from ai_fabric_etl_spark.x12.testgen import generate_corpus

    corpus = generate_corpus(n_files=8, seed=41)
    d = str(tmp_path / "sink")
    register(spark)
    df = spark.createDataFrame(corpus, ["file_name", "content"])
    df.repartition(4).write.format("x12").mode("overwrite").save(d)
    assert sorted(os.listdir(d)) == sorted(n for n, _ in corpus)
    now = datetime(2026, 2, 3)
    back = (
        spark.read.format("x12")
        .option("batchid", "rt")
        .option("now", now.isoformat())
        .load(d)
    )
    want = parse_to_silver(df, batch_id="rt", now=now)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, want.collect())
    )
    # overwrite replaces earlier files
    df.limit(1).write.format("x12").mode("overwrite").save(d)
    assert len(os.listdir(d)) == 1
