"""ParquetMergeTable upsert semantics (SURVEY A7 / MERGE INTO)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators.merge import ParquetMergeTable


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merge_upsert(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, name string, score long"
    )
    t.merge(base, keys=["id"])  # first merge == create
    assert _rows(t.read()) == [(1, "a", 10), (2, "b", 20)]

    src = spark.createDataFrame(
        [(2, "b2", 25), (3, "c", 30)], "id long, name string, score long"
    )
    t.merge(src, keys=["id"])
    assert _rows(t.read()) == [(1, "a", 10), (2, "b2", 25), (3, "c", 30)]


def test_merge_partial_update_cols(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl2"))
    t.merge(
        spark.createDataFrame([(1, "a", 10)], "id long, name string, score long"),
        keys=["id"],
    )
    t.merge(
        spark.createDataFrame([(1, "zzz", 99), (4, "d", 40)], "id long, name string, score long"),
        keys=["id"],
        update_cols=["score"],  # name NOT updated on match
    )
    assert _rows(t.read()) == [(1, "a", 99), (4, "d", 40)]


def test_merge_versions_advance(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl3"))
    df = spark.createDataFrame([(1, 1)], "id long, v long")
    t.merge(df, keys=["id"])
    v0 = t._version()
    t.merge(spark.createDataFrame([(1, 2)], "id long, v long"), keys=["id"])
    assert t._version() == v0 + 1
    assert _rows(t.read()) == [(1, 2)]


def test_merge_epoch_guard_round_trip(spark, tmp_path):
    """The pointer records the last applied epoch atomically with the
    version, and survives overwrite/merge round trips."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_epoch"))
    df = spark.createDataFrame([(1, 10)], "id long, v long")
    assert t.last_epoch() is None
    t.overwrite(df, epoch=0)
    assert t.last_epoch() == 0
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"), keys=["id"], epoch=1)
    assert t.last_epoch() == 1
    assert _rows(t.read()) == [(1, 10), (2, 20)]
    # epoch-less writes CARRY the marker FORWARD (r4 self-review):
    # maintenance ops and direct batch writes on a streaming state
    # table must not disarm the replay guard — erasing it would let a
    # replayed micro-batch double-fold additive partials
    t.overwrite(df)
    assert t.last_epoch() == 1
    t.compact(target_files=1)
    assert t.last_epoch() == 1
    t.update("id = 1", {"v": F.lit(11)})
    assert t.last_epoch() == 1
    t.delete("id = 999")
    assert t.last_epoch() == 1


def test_merge_epoch_scoped_by_app_identity(spark, tmp_path):
    """Epoch counters are per-stream (Delta txnAppId semantics): a
    query restarted on a FRESH checkpoint restarts epoch ids at 0, and
    its batches must NOT be skipped as replays of the old stream."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_app"))
    df = spark.createDataFrame([(1, 10)], "id long, v long")
    t.overwrite(df, epoch=500, app_id="/ckpt/run-a")
    assert t.last_epoch("/ckpt/run-a") == 500
    # a different stream identity sees no epoch -> applies its batches
    assert t.last_epoch("/ckpt/run-b") is None
    # legacy callers without an app still see the raw epoch
    assert t.last_epoch() == 500
    # adopting the new stream replaces both epoch and app
    t.overwrite(df, epoch=0, app_id="/ckpt/run-b")
    assert t.last_epoch("/ckpt/run-b") == 0
    assert t.last_epoch("/ckpt/run-a") is None


def test_merge_failure_mid_swap_keeps_old_version(spark, tmp_path):
    """VERDICT r1 item 6: a crash AFTER writing the new version
    directory but BEFORE the pointer swap must leave readers on the
    old consistent version."""
    import os

    path = str(tmp_path / "tbl_crash")
    t = ParquetMergeTable(spark, path)
    v0 = spark.createDataFrame([(1, 10)], "id long, v long")
    t.overwrite(v0)

    # simulate the crash: the data write of version 1 completes, the
    # pointer swap never happens
    v1 = spark.createDataFrame([(1, 99), (2, 20)], "id long, v long")
    v1.write.mode("overwrite").parquet(os.path.join(path, "v=1"))

    assert _rows(t.read()) == [(1, 10)]  # still the committed version
    # recovery: the next successful merge writes v=2 and swaps past the orphan
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"), keys=["id"])
    assert _rows(t.read()) == [(1, 10), (2, 20)]


def test_merge_sequential_batches_serialize(spark, tmp_path):
    """foreachBatch applies batches serially; two folds back-to-back
    see each other's writes (read-modify-write against the freshest
    pointer)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_serial"))
    for i in range(5):
        t.merge(
            spark.createDataFrame([(i, i * 10)], "id long, v long"),
            keys=["id"],
            epoch=i,
        )
    assert _rows(t.read()) == [(i, i * 10) for i in range(5)]
    assert t.last_epoch() == 4


def test_merge_time_travel_and_history(spark, tmp_path):
    """Delta-style VERSION AS OF over retained version directories."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_tt"))
    t.overwrite(spark.createDataFrame([(1, 10)], "id long, v long"))
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"), keys=["id"])
    t.merge(spark.createDataFrame([(1, 11)], "id long, v long"), keys=["id"])

    assert t.versions() == [0, 1, 2]
    assert _rows(t.read(version=0)) == [(1, 10)]
    assert _rows(t.read(version=1)) == [(1, 10), (2, 20)]
    assert _rows(t.read()) == [(1, 11), (2, 20)]

    removed = t.vacuum(keep_last=1)
    assert removed == [0, 1]
    assert t.versions() == [2]
    assert _rows(t.read()) == [(1, 11), (2, 20)]  # current unaffected
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="not retained"):
        t.read(version=0)


def test_merge_schema_evolution(spark, tmp_path):
    """mergeSchema semantics: source-only columns are added (null for
    untouched rows); target-only columns survive (null for inserts)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_evo"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"))
    t.merge(
        spark.createDataFrame([(2, "b2", 99), (3, "c", 42)],
                              "id long, name string, score long"),
        keys=["id"],
    )
    got = {r.id: (r.name, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b2", 99), 3: ("c", 42)}

    # target-only column: later narrow source keeps the evolved column
    t.merge(spark.createDataFrame([(4, "d")], "id long, name string"), keys=["id"])
    got = {r.id: (r.name, r.score) for r in t.read().collect()}
    assert got[4] == ("d", None) and got[2] == ("b2", 99)


def test_merge_matched_null_not_overwritten_outside_update_cols(spark, tmp_path):
    """Non-update columns on MATCHED rows keep their value — including
    a legitimate NULL (a coalesce-based merge would steal the source's
    value for it)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_nullkeep"))
    t.overwrite(
        spark.createDataFrame([(1, "a", None), (9, "z", 5)],
                              "id long, name string, score long")
    )
    t.merge(
        spark.createDataFrame([(1, "b", 7), (2, "c", 8)],
                              "id long, name string, score long"),
        keys=["id"],
        update_cols=["name"],
    )
    got = {r.id: (r.name, r.score) for r in t.read().collect()}
    assert got == {1: ("b", None), 2: ("c", 8), 9: ("z", 5)}


def test_delete_where(spark, tmp_path):
    """DELETE FROM WHERE: copy-on-write rewrite, old version still
    time-travelable; NULL-evaluating predicates keep the row."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_del"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id long, score long"
        )
    )
    v_before = t._version()
    n = t.delete("score > 15")
    assert n == 1
    assert _rows(t.read()) == [(1, 10), (2, None)]  # NULL kept
    assert _rows(t.read(version=v_before)) == [(1, 10), (2, None), (3, 30)]


def test_update_where(spark, tmp_path):
    from pyspark.sql import functions as F

    t = ParquetMergeTable(spark, str(tmp_path / "tbl_upd"))
    t.overwrite(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, score long")
    )
    t.update("id = 2", {"score": F.col("score") + 5})
    assert _rows(t.read()) == [(1, 10), (2, 25)]


def test_merge_matched_delete_clause(spark, tmp_path):
    """WHEN MATCHED AND cond THEN DELETE: matched+condition rows drop,
    matched-without-condition update, unmatched source rows insert
    (even when the delete condition is true — MERGE semantics)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_mdel"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", False), (2, "b", False)], "id long, name string, tomb boolean"
        )
    )
    t.merge(
        spark.createDataFrame(
            [(1, "x", True), (2, "b2", False), (3, "c", True)],
            "id long, name string, tomb boolean",
        ),
        keys=["id"],
        delete_condition="tomb",
    )
    assert _rows(t.read()) == [(2, "b2", False), (3, "c", True)]


def test_optimistic_concurrency_conflict(spark, tmp_path):
    """A writer that read snapshot v and finds the table advanced at
    commit time fails with ConcurrentWriteError instead of silently
    clobbering the other writer's rows (lost update)."""
    import pytest

    from ai_fabric_etl_spark.operators.merge import ConcurrentWriteError

    t = ParquetMergeTable(spark, str(tmp_path / "tbl_occ"))
    t.overwrite(spark.createDataFrame([(1, 10)], "id long, v long"))
    stale = t._version()
    # writer B commits first
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"), keys=["id"])
    # writer A (snapshot = stale) now fails its commit
    with pytest.raises(ConcurrentWriteError):
        t.overwrite(
            spark.createDataFrame([(1, 99)], "id long, v long"),
            expected_version=stale,
        )
    # un-checked merge still works (last-writer-wins mode)
    t.merge(spark.createDataFrame([(1, 99)], "id long, v long"), keys=["id"])
    assert _rows(t.read()) == [(1, 99), (2, 20)]


def test_compact_preserves_content_and_skipping_layout(spark, tmp_path):
    """OPTIMIZE: same rows, fewer files; sort_by produces disjoint
    per-file ranges (footer-stat data skipping)."""
    import glob

    t = ParquetMergeTable(spark, str(tmp_path / "tbl_opt"))
    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS grp").repartition(16)
    t.overwrite(df)
    before = _rows(t.read())
    t.compact(target_files=2, sort_by=["id"])
    after_dir = str(tmp_path / "tbl_opt" / f"v={t._version()}")
    files = glob.glob(f"{after_dir}/part-*.parquet")
    assert len(files) == 2
    assert _rows(t.read()) == before
    # per-file id ranges must be disjoint for skipping to work
    import pyarrow.parquet as pq

    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        ids = [
            (md.row_group(i).column(0).statistics.min,
             md.row_group(i).column(0).statistics.max)
            for i in range(md.num_row_groups)
        ]
        ranges.append((min(a for a, _ in ids), max(b for _, b in ids)))
    ranges.sort()
    assert ranges[0][1] < ranges[1][0]


def test_history_timestamp_travel_and_restore(spark, tmp_path):
    """DESCRIBE HISTORY / TIMESTAMP AS OF / RESTORE parity: the commit
    log records one labeled entry per version; a timestamp between two
    commits resolves to the earlier one; RESTORE re-commits an old
    version as a new one (history only moves forward)."""
    import time

    import pytest as _pytest

    t = ParquetMergeTable(spark, str(tmp_path / "tbl_hist"))
    t.overwrite(spark.createDataFrame([(1, 10)], "id long, v long"))
    between = time.time()
    time.sleep(0.01)
    t.merge(spark.createDataFrame([(2, 20)], "id long, v long"), keys=["id"])
    t.delete("id = 1")

    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["op"] for h in hist] == ["WRITE", "MERGE", "DELETE"]
    assert all(h["timestamp"] > 0 for h in hist)

    # timestamp between v0 and v1 resolves to v0
    assert _rows(t.read(timestamp=between)) == [(1, 10)]
    assert _rows(t.read(timestamp=time.time())) == [(2, 20)]
    with _pytest.raises(FileNotFoundError, match="existed at"):
        t.read(timestamp=hist[0]["timestamp"] - 1000)
    with _pytest.raises(ValueError, match="not both"):
        t.read(version=0, timestamp=between)

    # restore to v1 (pre-delete): new version 3, same rows as v1
    t.restore(1)
    assert t._version() == 3
    assert _rows(t.read()) == [(1, 10), (2, 20)]
    assert t.history()[-1]["op"] == "RESTORE"
    # the restored-FROM version is still readable
    assert _rows(t.read(version=2)) == [(2, 20)]


def test_change_feed_insert_update_delete(spark, tmp_path):
    """CDF diff between versions: tagged net changes, one preimage/
    postimage pair per updated key, nothing for untouched keys."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_cdf"))
    t.overwrite(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"))
    v0 = t._version()
    # update k=2, delete k=3, insert k=4, leave k=1 untouched
    t.merge(spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "k int, s string, v int"), keys=["k"])
    t.delete(F.col("k") == 3)
    feed = t.changes(keys=["k"], from_version=v0)
    got = {(r["k"], r["_change_type"]): (r["s"], r["v"]) for r in feed.collect()}
    assert got == {
        (2, "update_preimage"): ("b", 20),
        (2, "update_postimage"): ("B", 99),
        (3, "delete"): ("c", 30),
        (4, "insert"): ("d", 40),
    }
    assert feed.select("_commit_version").distinct().collect()[0][0] == t._version()


def test_change_feed_schema_evolution(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_cdf_evo"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, s string"))
    t.merge(spark.createDataFrame([(1, "a", 7)], "k int, s string, extra int"),
            keys=["k"])
    feed = t.changes(keys=["k"], from_version=0)
    got = {r["_change_type"]: (r["s"], r["extra"]) for r in feed.collect()}
    # old row reads null for the evolved column -> counts as an update
    assert got == {"update_preimage": ("a", None), "update_postimage": ("a", 7)}


def test_read_where_skips_files_and_matches_full_scan(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_skip"))
    df = spark.range(0, 10000).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 97).cast("int").alias("v"),
    )
    t.overwrite(df)
    t.compact(target_files=8, sort_by=["k"])
    files, total = t._skip_files({"k": (100, 200)})
    assert total == 8 and len(files) < total
    got = _rows(t.read_where({"k": (100, 200)}))
    want = _rows(t.read().filter((F.col("k") >= 100) & (F.col("k") <= 200)))
    assert got == want and len(got) == 101


def test_read_where_unsorted_layout_still_exact(spark, tmp_path):
    """Without clustering, stats may prune nothing - results must
    still equal the exact filter (skipping is a pure optimization)."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_skip2"))
    df = spark.range(0, 5000).select(
        (F.col("id") * 2654435761 % 5000).cast("int").alias("k"))
    t.overwrite(df.repartition(4))
    got = _rows(t.read_where({"k": (10, 50)}))
    want = _rows(t.read().filter((F.col("k") >= 10) & (F.col("k") <= 50)))
    assert got == want


def test_read_where_empty_range_returns_empty_with_schema(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_skip3"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, s string"))
    out = t.read_where({"k": (100, 200)})
    assert out.columns == ["k", "s"] and out.count() == 0


def test_read_where_after_zorder_prunes_on_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y) + footer-stat skipping: a narrow
    range on EITHER curve column must prune files (single-key sorting
    would only prune on the leading key), and results stay exact."""
    t = ParquetMergeTable(spark, str(tmp_path / "tbl_zskip"))
    df = spark.range(0, 20000).select(
        (F.col("id") % 141).cast("int").alias("x"),
        ((F.col("id") * 7919) % 141).cast("int").alias("y"),
    )
    t.overwrite(df)
    t.compact(target_files=16, zorder_by=["x", "y"])
    fx, total = t._skip_files({"x": (0, 8)})
    fy, _ = t._skip_files({"y": (0, 8)})
    assert total == 16 and len(fx) < total and len(fy) < total
    got = _rows(t.read_where({"y": (0, 8)}))
    want = _rows(t.read().filter((F.col("y") >= 0) & (F.col("y") <= 8)))
    assert got == want


def test_schema_changes_and_small_files_report(spark, tmp_path):
    from ai_fabric_etl_spark.operators.merge import (
        schema_changes,
        small_files_report,
    )

    t = ParquetMergeTable(spark, str(tmp_path / "tbl_drift"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, s string"))
    v0 = t._version()
    # evolve: add a column via merge, then rewrite with a type change
    t.merge(spark.createDataFrame([(2, "b", 7)], "k int, s string, extra int"),
            keys=["k"])
    t.overwrite(
        t.read().select("k", F.col("s").cast("binary").alias("s"), "extra")
    )
    got = schema_changes(t, from_version=v0)
    assert got == [
        {"column": "extra", "change": "added", "from_type": None,
         "to_type": "int"},
        {"column": "s", "change": "type_changed", "from_type": "string",
         "to_type": "binary"},
    ]

    frag = ParquetMergeTable(spark, str(tmp_path / "tbl_frag"))
    frag.overwrite(spark.range(0, 1000).repartition(10))
    rep = small_files_report(frag, min_rows=500)
    assert rep["n_files"] == 10 and rep["n_small"] == 10
    assert rep["total_rows"] == 1000
    frag.compact(target_files=1)
    rep2 = small_files_report(frag, min_rows=500)
    assert rep2["n_files"] == 1 and rep2["n_small"] == 0


def _as_nullable(dt):
    """``dt`` with every field, element and value nullable: what the
    parquet file source makes of a schema it is handed."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def test_read_launches_no_job_and_takes_manifest_schema(spark, tmp_path):
    """A manifest-mode read hands the manifest's schema to the reader,
    so building the frame runs no schema-inference job."""
    import json

    from pyspark.sql.types import StructType

    t = ParquetMergeTable(spark, str(tmp_path / "tbl_lazy"))
    ddl = "id long not null, name string, xs array<int>, m map<string,double>"
    t.overwrite(spark.createDataFrame([(1, "a", [1, None], {"k": 1.5})], ddl))
    t.append(spark.createDataFrame([(2, None, None, None)], ddl))
    manifest = StructType.fromJson(
        json.loads(t._read_manifest_obj(t._version())["schema"])
    )

    sc = spark.sparkContext
    group = f"merge-table-read-{id(t)}"
    sc.setJobGroup(group, "ParquetMergeTable.read")
    try:
        df = t.read()
        schema = df.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert schema == _as_nullable(manifest)
    assert sorted((r["id"], r["name"]) for r in df.collect()) == [(1, "a"), (2, None)]
