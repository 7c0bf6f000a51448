"""Native Delta-table reader: replay ``_delta_log`` without delta-spark.

The sandbox has no delta-spark package, but the Delta transaction log
is a PUBLIC, simple format (github.com/delta-io/delta PROTOCOL.md):
numbered JSON commits of add/remove/metaData actions, optionally
compacted into a parquet checkpoint referenced by ``_last_checkpoint``.
Replaying it needs no library — this module resolves a snapshot's live
file set and reads it as a plain parquet scan, so tables written by
real Delta writers are readable here natively.

Reference anchor: the reference reads Delta tables for ack generation
(generate_x12_acknowledgments.py:61); SURVEY §2.1 S5.

Scale notes: the log replay is driver-side but tiny (KBs per commit;
checkpoints bound replay length exactly as Delta intends). The data
read is a normal parquet scan — pushdown/pruning/codegen all apply.
Partitioned tables get their partition columns re-attached as typed
literals per partition-value group, one union branch per distinct
partition tuple — the same information a DeltaScan injects.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PROTOCOL_MAX_READER = 2  # no deletion vectors / column mapping


class DeltaProtocolError(RuntimeError):
    """The table requires reader features this replayer does not
    implement (deletion vectors, column mapping, v2 checkpoints)."""


def _read_last_checkpoint(log_dir: str) -> dict | None:
    try:
        with open(os.path.join(log_dir, "_last_checkpoint"), encoding="utf-8") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _commit_versions(log_dir: str) -> list[int]:
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError as exc:
        raise FileNotFoundError(f"no _delta_log at {log_dir}") from exc
    return sorted(
        int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
    )


def _replay(
    spark: SparkSession, table_path: str, version: int | None
) -> tuple[dict[str, dict], dict]:
    """(live add-actions by path, metaData) at ``version`` (or latest).

    Starts from the newest parquet checkpoint at-or-before the target
    version when one exists, then applies subsequent JSON commits —
    the standard Delta snapshot construction."""
    log_dir = os.path.join(table_path, "_delta_log")
    versions = _commit_versions(log_dir)
    live: dict[str, dict] = {}
    meta: dict = {}
    start = 0

    ckpt = _read_last_checkpoint(log_dir)
    if ckpt and (version is None or ckpt["version"] <= version):
        cv = int(ckpt["version"])
        parts = int(ckpt.get("parts", 1) or 1)
        if parts == 1:
            files = [os.path.join(log_dir, f"{cv:020d}.checkpoint.parquet")]
        else:
            files = [
                os.path.join(
                    log_dir,
                    f"{cv:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
                )
                for i in range(1, parts + 1)
            ]
        rows = spark.read.parquet(*files).collect()
        for r in rows:
            d = r.asDict(recursive=True)
            if d.get("protocol"):
                _check_protocol(d["protocol"])
            if d.get("metaData"):
                meta = d["metaData"]
            add = d.get("add")
            if add and add.get("path"):
                # PROTOCOL.md: add/remove paths are percent-encoded
                # relative URIs — decode before keying/joining, or
                # names with spaces/special chars resolve to
                # nonexistent files and removes never match their adds
                live[unquote(add["path"])] = add
            rm = d.get("remove")
            if rm and rm.get("path"):
                live.pop(unquote(rm["path"]), None)
        start = cv + 1

    if version is None:
        version = versions[-1] if versions else -1
    for v in versions:
        if v < start or v > version:
            continue
        with open(os.path.join(log_dir, f"{v:020d}.json"), encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _check_protocol(action["protocol"])
                elif "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    live[unquote(action["add"]["path"])] = action["add"]
                elif "remove" in action:
                    live.pop(unquote(action["remove"]["path"]), None)
    if not meta:
        raise DeltaProtocolError(f"{table_path}: no metaData action found")
    return live, meta


def _check_protocol(proto: dict) -> None:
    if int(proto.get("minReaderVersion", 1)) > PROTOCOL_MAX_READER:
        raise DeltaProtocolError(
            f"table requires minReaderVersion="
            f"{proto['minReaderVersion']} (> {PROTOCOL_MAX_READER}; "
            "deletion vectors / column mapping not supported)"
        )


def read_delta_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a Delta table's snapshot (current, or ``VERSION AS OF``)
    as a DataFrame by replaying its transaction log.

    Unpartitioned tables become one multi-file parquet scan.
    Partitioned tables group live files by their partitionValues
    tuple; each group scans with its partition columns re-attached as
    typed literals (cast via the metaData schema), unioned by name —
    column order follows the table schema either way.
    """
    live, meta = _replay(spark, table_path, version)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols: list[str] = list(meta.get("partitionColumns") or [])
    if not live:
        return spark.createDataFrame([], schema)

    def full(p: str) -> str:
        return p if p.startswith("/") else os.path.join(table_path, p)

    ordered = [f.name for f in schema.fields]
    if not part_cols:
        df = spark.read.schema(schema).parquet(*[full(p) for p in sorted(live)])
        return df.select(*ordered)

    data_schema = StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    groups: dict[tuple, list[str]] = {}
    for path, add in live.items():
        pv = add.get("partitionValues") or {}
        key = tuple(pv.get(c) for c in part_cols)
        groups.setdefault(key, []).append(full(path))
    parts_dfs = []
    for key, paths in sorted(groups.items(), key=lambda kv: str(kv[0])):
        df = spark.read.schema(data_schema).parquet(*sorted(paths))
        for c, raw in zip(part_cols, key):
            typ = schema[c].dataType
            df = df.withColumn(
                c,
                F.lit(raw).cast(typ) if raw is not None
                else F.lit(None).cast(typ),
            )
        parts_dfs.append(df.select(*ordered))
    out = parts_dfs[0]
    for df in parts_dfs[1:]:
        out = out.unionByName(df)
    return out
