"""End-to-end pipeline CLI — the operational surface a user of the
reference drives through its four notebooks (bronze_x12_ingestion.py,
silver_x12_parsing.py, gold_x12_analytics.py,
generate_x12_acknowledgments.py), as one command:

    python -m ai_fabric_etl_spark run --input LANDING_DIR --out WAREHOUSE
    python -m ai_fabric_etl_spark run --stage silver --input DIR --out W
    python -m ai_fabric_etl_spark queries            # list the catalog
    python -m ai_fabric_etl_spark query NAME --sf-dir /root/testdata/sf0.01

Stages compose exactly like the library calls they wrap (pipeline/
bronze.py -> silver.py -> gold.py, x12/ack997.py); ``--stage all``
(default) chains bronze scan -> distributed parse -> 11 gold marts ->
997 acknowledgment files under ``OUT/{bronze,silver,gold,acks}``.
The monitoring views (pipeline/views.py) are session-scoped SQL and
therefore not materialized here.

Execution shape of ``run``: every plan runs once, and sinks that do
not depend on each other run at the same time on one session.

- The landing scan feeds two sinks at once: the bronze write and the
  silver parse + write run side by side on a thread pool.
- Silver is parsed once. The parsed frame is persisted (memory, spilling
  to disk) before its write, and the gold marts and the 997s read that
  cache. Their plans are built while silver is being written; once it
  is written, the mart writes (``write_marts`` submits all 11 together)
  and the 997 write run side by side.
- The printed counts come from ``DataFrame.observe`` on the bronze,
  silver and 997 writes, so no extra action re-scans the input.
- Lines print in stage order. The first failing sink re-raises after
  the others have finished, and everything persisted is released.

A standalone ``--stage gold`` or ``--stage acks`` reads silver back
through ``read_silver``, which restores its STRING transaction type.
"""

from __future__ import annotations

import argparse
import json
import sys
from concurrent.futures import ThreadPoolExecutor


def _observed(df, name: str):
    """``df`` with a row count observed by its next action, and the
    ``Observation`` to read it from once that action has run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _cmd_run(args) -> int:
    from pyspark.sql import functions as F

    from ai_fabric_etl_spark.pipeline.bronze import read_bronze, write_bronze
    from ai_fabric_etl_spark.pipeline.gold import build_all_marts, write_marts
    from ai_fabric_etl_spark.pipeline.silver import (
        parse_to_silver,
        read_silver,
        silver_with_parsed,
        write_silver,
    )
    from ai_fabric_etl_spark.session import get_spark
    from ai_fabric_etl_spark.x12.ack997 import generate_acks, write_ack_files

    spark = get_spark("ai_fabric_etl_spark.run")
    out = args.out.rstrip("/")
    stages = (
        ["bronze", "silver", "gold", "acks"]
        if args.stage == "all"
        else [args.stage]
    )

    silver = None
    try:
        with ThreadPoolExecutor(max_workers=len(stages)) as pool:
            if "bronze" in stages or "silver" in stages:
                bronze = read_bronze(spark, args.input, glob=args.glob)
            if "bronze" in stages:
                bronze_rows, bronze_obs = _observed(bronze, "bronze")
                bronze_job = pool.submit(write_bronze, bronze_rows, f"{out}/bronze")

            if "silver" in stages:
                valid = bronze.filter(F.col("is_valid_x12"))
                silver = parse_to_silver(valid, batch_id=args.batch_id)
            elif "gold" in stages or "acks" in stages:
                silver = read_silver(spark, f"{out}/silver")
            if "gold" in stages or "acks" in stages:
                silver.persist()  # one parse / scan for every consumer
            if "silver" in stages:
                silver_rows, silver_obs = _observed(silver, "silver")
                silver_job = pool.submit(write_silver, silver_rows, f"{out}/silver")

            # plan the downstream sinks while silver is written; their
            # writes start once the cache behind them is filled
            if "gold" in stages:
                marts = build_all_marts(silver_with_parsed(silver))
            if "acks" in stages:
                acks, acks_obs = _observed(generate_acks(silver), "acks")
            if "silver" in stages:
                silver_job.result()
            if "gold" in stages:
                gold_job = pool.submit(write_marts, marts, f"{out}/gold")
            if "acks" in stages:
                acks_job = pool.submit(write_ack_files, acks, f"{out}/acks")

            if "bronze" in stages:
                bronze_job.result()
                print(f"bronze: {bronze_obs.get['rows']} files -> {out}/bronze")
            if "silver" in stages:
                print(f"silver: {silver_obs.get['rows']} transactions -> {out}/silver")
            if "gold" in stages:
                gold_job.result()
                print(f"gold: {len(marts)} marts -> {out}/gold")
            if "acks" in stages:
                acks_job.result()
                print(f"acks: {acks_obs.get['rows']} 997s -> {out}/acks")
    finally:
        if silver is not None:
            silver.unpersist()
    return 0


def _cmd_queries(_args) -> int:
    from ai_fabric_etl_spark.queries import oracle_sql, queries

    oracles = oracle_sql()
    for name in queries():
        print(f"{name}\t{'oracled' if name in oracles else 'rows-only'}")
    return 0


def _cmd_query(args) -> int:
    from ai_fabric_etl_spark.queries import queries
    from ai_fabric_etl_spark.session import get_spark

    qs = queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r} (see: queries)", file=sys.stderr)
        return 2
    spark = get_spark("ai_fabric_etl_spark.query")
    df = qs[args.name](spark, args.sf_dir)
    rows = df.limit(args.limit).collect()
    if args.json:
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    else:
        df.limit(args.limit).show(args.limit, truncate=False)
    print(f"# {len(rows)} row(s) shown (limit {args.limit})", file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ai_fabric_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="run the X12 medallion pipeline")
    runp.add_argument("--input", required=True, help="landing directory")
    runp.add_argument("--out", required=True, help="warehouse root")
    runp.add_argument(
        "--stage",
        choices=["all", "bronze", "silver", "gold", "acks"],
        default="all",
    )
    runp.add_argument("--glob", default="*.{x12,edi,txt}")
    runp.add_argument("--batch-id", default="cli-batch")
    runp.set_defaults(fn=_cmd_run)

    qsp = sub.add_parser("queries", help="list the contract catalog")
    qsp.set_defaults(fn=_cmd_queries)

    qp = sub.add_parser("query", help="run one catalog query")
    qp.add_argument("name")
    qp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qp.add_argument("--limit", type=int, default=20)
    qp.add_argument("--json", action="store_true")
    qp.set_defaults(fn=_cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
