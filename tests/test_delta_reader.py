"""Native Delta-log reader (sources/delta_reader.py): replay-based
snapshot reads without delta-spark, against hand-built foreign tables
exercising partitioned layouts, checkpoints, schema evolution, time
travel and protocol gating."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ai_fabric_etl_spark.sources.delta_reader import (
    DeltaProtocolError,
    read_delta_snapshot,
)


_PROTOCOL = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def _rowset(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def _meta(fields):
    """metaData action for an unpartitioned table of (name, type)."""
    schema = {"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in fields
    ]}
    return {"metaData": {
        "id": "foreign-t", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(schema),
        "partitionColumns": [], "configuration": {},
    }}


def _add_file(spark, root, name, rows, ddl):
    """Write ``rows`` as the single data file ``root/name``; returns
    its add action."""
    d = f"{root}/_build_{name}"
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    os.replace(f"{d}/{src}", f"{root}/{name}")
    shutil.rmtree(d)
    return {"add": {"path": name, "partitionValues": {},
                    "size": os.stat(f"{root}/{name}").st_size,
                    "modificationTime": 0, "dataChange": True}}


def _remove(add):
    return {"remove": {"path": add["add"]["path"], "deletionTimestamp": 0,
                       "dataChange": True}}


def _commit(root, v, actions):
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    with open(f"{root}/_delta_log/{v:020d}.json", "w") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in actions))


def _write_foreign_partitioned(spark, root):
    """A partitioned Delta table as a real writer lays it out: data
    files WITHOUT the partition column, partitionValues in the log."""
    os.makedirs(f"{root}/_delta_log", exist_ok=True)
    adds = []
    for day, rows in (
        ("2024-01-01", [(1, "x"), (2, "y")]),
        ("2024-01-02", [(3, "z")]),
    ):
        d = f"{root}/day={day}"
        spark.createDataFrame(rows, "k int, s string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = f"day={day}/{f}"
                adds.append(
                    {"add": {"path": p, "partitionValues": {"day": day},
                             "size": os.stat(f"{root}/{p}").st_size,
                             "modificationTime": 0, "dataChange": True}}
                )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "s", "type": "string", "nullable": True, "metadata": {}},
            {"name": "day", "type": "date", "nullable": True, "metadata": {}},
        ],
    }
    lines = [
        json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}),
        json.dumps({"metaData": {
            "id": "foreign-1", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["day"], "configuration": {},
        }}),
        *[json.dumps(a) for a in adds],
    ]
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_reads_foreign_partitioned_table(spark, tmp_path):
    root = str(tmp_path / "foreign")
    _write_foreign_partitioned(spark, root)
    df = read_delta_snapshot(spark, root)
    assert df.columns == ["k", "s", "day"]
    assert dict(df.dtypes)["day"] == "date"
    got = {(r.k, r.s, str(r.day)) for r in df.collect()}
    assert got == {(1, "x", "2024-01-01"), (2, "y", "2024-01-01"),
                   (3, "z", "2024-01-02")}
    # partition pruning works on the re-attached column
    assert df.filter(F.col("day") == "2024-01-02").count() == 1


def test_checkpoint_replay(spark, tmp_path):
    """_last_checkpoint + checkpoint parquet seed the snapshot; JSON
    commits after the checkpoint still apply (the add in commit 2 and
    the remove of a checkpointed file), and VERSION AS OF the
    checkpoint version resolves from the checkpoint alone."""
    root = str(tmp_path / "ck")
    ddl = "k int, s string"
    meta = _meta([("k", "integer"), ("s", "string")])
    a = _add_file(spark, root, "a.parquet", [(1, "a")], ddl)
    b = _add_file(spark, root, "b.parquet", [(1, "a"), (2, "b")], ddl)
    _commit(root, 0, [_PROTOCOL, meta, a])
    _commit(root, 1, [b, _remove(a)])
    log_dir = f"{root}/_delta_log"

    # checkpoint at version 1: protocol, metaData and the live add
    ck_rows = [
        {"protocol": _PROTOCOL["protocol"],
         "metaData": None, "add": None, "remove": None},
        {"protocol": None, "metaData": {
            "id": meta["metaData"]["id"],
            "schemaString": meta["metaData"]["schemaString"],
            "partitionColumns": [], "configuration": {},
        }, "add": None, "remove": None},
        {"protocol": None, "metaData": None, "add": b["add"], "remove": None},
    ]
    ck_schema = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int>, "
        "metaData struct<id:string,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean>, "
        "remove struct<path:string,deletionTimestamp:bigint,"
        "dataChange:boolean>"
    )
    tmp_ck = str(tmp_path / "ckbuild")
    spark.createDataFrame(ck_rows, ck_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp_ck)
    src = next(f for f in os.listdir(tmp_ck) if f.endswith(".parquet"))
    os.replace(f"{tmp_ck}/{src}", f"{log_dir}/{1:020d}.checkpoint.parquet")
    with open(f"{log_dir}/_last_checkpoint", "w") as fh:
        json.dump({"version": 1, "size": len(ck_rows)}, fh)
    # json commits 0/1 removed: only the checkpoint can seed them
    os.remove(f"{log_dir}/{0:020d}.json")
    os.remove(f"{log_dir}/{1:020d}.json")

    # a post-checkpoint commit
    c = _add_file(spark, root, "c.parquet", [(9, "z")], ddl)
    _commit(root, 2, [c, _remove(b)])

    got = read_delta_snapshot(spark, root)
    assert _rowset(got) == [("9", "z")]
    got_ck = read_delta_snapshot(spark, root, version=1)
    assert _rowset(got_ck) == [("1", "a"), ("2", "b")]


def test_version_as_of_replays_prefix_with_its_schema(spark, tmp_path):
    """A later metaData action evolves the schema: the current snapshot
    reads the evolved columns, and VERSION AS OF 0 replays only the
    first commit, applying the ORIGINAL schema."""
    root = str(tmp_path / "evo")
    a = _add_file(spark, root, "a.parquet", [(1, "a"), (2, "b")],
                  "id long, name string")
    _commit(root, 0, [
        _PROTOCOL, _meta([("id", "long"), ("name", "string")]), a,
    ])
    b = _add_file(spark, root, "b.parquet",
                  [(1, "a", None), (2, "b2", 99), (3, "c", 42)],
                  "id long, name string, score long")
    _commit(root, 1, [
        _meta([("id", "long"), ("name", "string"), ("score", "long")]),
        b, _remove(a),
    ])

    got = read_delta_snapshot(spark, root)
    assert got.columns == ["id", "name", "score"]
    assert _rowset(got) == [("1", "a", "None"), ("2", "b2", "99"),
                            ("3", "c", "42")]
    got_v0 = read_delta_snapshot(spark, root, version=0)
    assert got_v0.columns == ["id", "name"]
    assert _rowset(got_v0) == [("1", "a"), ("2", "b")]


def test_protocol_gate(spark, tmp_path):
    root = str(tmp_path / "dv")
    os.makedirs(f"{root}/_delta_log")
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                          "minWriterVersion": 7}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": []}),
            "partitionColumns": [], "configuration": {},
        }}) + "\n")
    with pytest.raises(DeltaProtocolError):
        read_delta_snapshot(spark, root)


def test_percent_encoded_paths_roundtrip(spark, tmp_path):
    """ADVICE r5: PROTOCOL.md paths are percent-encoded relative URIs;
    the replayer must decode them before resolving (and so removes
    match their adds). Foreign table with a space in a file name."""
    root = str(tmp_path / "enc")
    os.makedirs(f"{root}/_delta_log")
    d = f"{root}/build"
    spark.createDataFrame([(1, "x"), (2, "y")], "k int, s string").coalesce(
        1
    ).write.mode("overwrite").parquet(d)
    src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    fancy = "part 00 (copy).parquet"
    os.replace(f"{d}/{src}", f"{root}/{fancy}")
    from urllib.parse import quote

    enc = quote(fancy, safe="/=")
    assert "%20" in enc
    meta = {"metaData": {
        "id": "t", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "s", "type": "string", "nullable": True, "metadata": {}},
        ]}),
        "partitionColumns": [], "configuration": {},
    }}
    with open(f"{root}/_delta_log/{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps(meta) + "\n")
        fh.write(json.dumps({"add": {
            "path": enc, "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_snapshot(spark, root)
    assert {r.k for r in got.collect()} == {1, 2}

    # a remove (encoded the same way) retires the add
    with open(f"{root}/_delta_log/{1:020d}.json", "w") as fh:
        fh.write(json.dumps({"remove": {
            "path": enc, "deletionTimestamp": 0,
            "dataChange": True}}) + "\n")
    assert read_delta_snapshot(spark, root).count() == 0
