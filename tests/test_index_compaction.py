"""compact_index (operators/maintenance.py — VERDICT r11 item 2):
after many streaming appends, each index layout compacts its
accumulated small files into one per leaf partition and returns
BYTE-IDENTICAL probe decisions, with `_meta` pins preserved."""

import glob
import os

import numpy as np

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators import codecs, multimodal, similarity
from ai_fabric_etl_spark.operators.maintenance import (
    compact_index,
    compact_parquet_dir,
)


def _parquet_files(path: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                           recursive=True)
        if not os.path.basename(f).startswith((".", "_"))
    ]


def _img(seed: int) -> bytearray:
    rng = np.random.RandomState(seed)
    return bytearray(
        codecs.encode_bmp(rng.randint(0, 256, (16, 18, 3)).astype(np.uint8))
    )


def test_phash_index_compaction_identical_probe(spark, tmp_path):
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(i, _img(i)) for i in range(4)], "media_id long, payload binary"
    )
    multimodal.phash_index_write(
        multimodal.dhash64(base, fake=False), idx, n_buckets=8
    )
    for b in range(8):  # simulate 8 micro-batch appends
        batch = spark.createDataFrame(
            [(100 + b * 10 + i, _img(100 + b * 10 + i)) for i in range(2)],
            "media_id long, payload binary",
        )
        multimodal.phash_index_insert(
            spark, idx, multimodal.dhash64(batch, fake=False)
        )
    probe_batch = multimodal.dhash64(
        spark.createDataFrame(
            [(900, _img(0)), (901, _img(121)), (902, _img(555))],
            "media_id long, payload binary",
        ),
        fake=False,
    )
    before = sorted(
        map(tuple, multimodal.phash_index_probe(
            spark, idx, probe_batch).collect())
    )
    n_before = len(_parquet_files(idx))
    stats = compact_index(spark, idx)
    assert stats["leaves_compacted"] > 0
    assert len(_parquet_files(idx)) < n_before
    after = sorted(
        map(tuple, multimodal.phash_index_probe(
            spark, idx, probe_batch).collect())
    )
    assert before == after and len(before) >= 2
    # meta pin untouched
    assert os.path.exists(os.path.join(idx, "_phash_index_meta.json"))


def test_phash_index_compaction_dedupes_crash_duplicates(spark, tmp_path):
    """A crashed idempotent re-insert leaves exact-duplicate chunk
    rows; compaction removes them (the cleanup half of the
    full-presence self-detection design)."""
    idx = str(tmp_path / "idx")
    b = spark.createDataFrame(
        [(1, _img(1))], "media_id long, payload binary"
    )
    h = multimodal.dhash64(b, fake=False)
    multimodal.phash_index_write(h, idx, n_buckets=8)
    multimodal.phash_index_insert(spark, idx, h)  # duplicate insert
    raw = spark.read.schema(
        "media_id long, dhash long, cv long, ci int, cb int"
    ).parquet(idx)
    assert raw.count() == 8  # 4 chunks x 2
    compact_index(spark, idx)
    raw = spark.read.schema(
        "media_id long, dhash long, cv long, ci int, cb int"
    ).parquet(idx)
    assert raw.count() == 4
    assert raw.distinct().count() == 4


def _y4m(seed: int, n_frames: int = 4) -> bytearray:
    frames = [
        np.random.RandomState(seed * 1000 + f)
        .randint(0, 256, (8, 16)).astype(np.uint8)
        for f in range(n_frames)
    ]
    return bytearray(codecs.encode_y4m(frames))


def test_video_index_compaction_identical_probe(spark, tmp_path):
    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, _y4m(1)), (2, _y4m(2))], "media_id long, payload binary"
    )
    multimodal.video_index_write(
        multimodal.video_frame_hashes(base, fake=False), idx, n_buckets=8
    )
    for b in range(5):
        batch = spark.createDataFrame(
            [(10 + b, _y4m(10 + b))], "media_id long, payload binary"
        )
        multimodal.video_index_insert(
            spark, idx, multimodal.video_frame_hashes(batch, fake=False)
        )
    probe_fh = multimodal.video_frame_hashes(
        spark.createDataFrame(
            [(900, _y4m(1)), (901, _y4m(12)), (902, _y4m(77))],
            "media_id long, payload binary",
        ),
        fake=False,
    )
    before = sorted(
        map(tuple, multimodal.video_index_probe(
            spark, idx, probe_fh).collect())
    )
    n_before = len(_parquet_files(idx))
    compact_index(spark, idx)
    assert len(_parquet_files(idx)) < n_before
    after = sorted(
        map(tuple, multimodal.video_index_probe(
            spark, idx, probe_fh).collect())
    )
    assert before == after and len(before) >= 2


def test_emb_lsh_index_compaction_identical(spark, tmp_path):
    idx = str(tmp_path / "idx")
    rng = np.random.RandomState(7)
    dim = 16

    def emb(ids, seeds):
        rows = []
        for i, s in zip(ids, seeds):
            v = np.random.RandomState(s).randn(dim)
            rows.append((i, (v / np.linalg.norm(v)).tolist()))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    similarity.emb_neardup_index_write(
        emb(range(4), range(4)), idx, dim=dim, n_tables=3,
        expected_final_count=64,
    )
    for b in range(4):
        similarity.emb_neardup_index_insert(
            emb([10 + b], [10 + b]), idx
        )
    probe = emb([900, 901], [1, 99])  # 900 duplicates indexed vec 1
    before = sorted(
        map(tuple, similarity.emb_neardup_incremental(probe, idx).collect())
    )
    n_before = len(_parquet_files(idx))
    compact_index(spark, idx)
    assert len(_parquet_files(idx)) < n_before
    after = sorted(
        map(tuple, similarity.emb_neardup_incremental(probe, idx).collect())
    )
    assert before == after and any(900 in (a, b) for a, b, _ in before)


def test_compact_parquet_dir_generic_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(6):
        spark.createDataFrame([(i, i * 2)], "a long, b long").write.mode(
            "append"
        ).parquet(p)
    before = sorted(map(tuple, spark.read.parquet(p).collect()))
    stats = compact_parquet_dir(spark, p)
    assert stats["files_before"] >= 6 and stats["files_after"] == 1
    assert sorted(map(tuple, spark.read.parquet(p).collect())) == before


def test_compact_reaps_orphan_tmp_dirs(spark, tmp_path):
    """ADVICE r12: a crash after the tmp-dir write but before
    os.replace leaves an orphan `_compacting-<uuid>` dir that no later
    run referenced — compact_parquet_dir must reap pre-existing
    orphans at the start of each leaf pass (they are unreferenced by
    construction: the replace into the leaf never happened)."""
    p = str(tmp_path / "t")
    for i in range(3):
        spark.createDataFrame([(i,)], "a long").write.mode(
            "append"
        ).parquet(p)
    orphan = os.path.join(p, "_compacting-deadbeef0123")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-stale.parquet"), "wb") as fh:
        fh.write(b"stale")
    before = sorted(map(tuple, spark.read.parquet(p).collect()))
    compact_parquet_dir(spark, p)
    assert not os.path.exists(orphan)
    assert sorted(map(tuple, spark.read.parquet(p).collect())) == before
