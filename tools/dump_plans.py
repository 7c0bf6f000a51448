"""Dump .explain("formatted") for registry queries to text files.

Usage: python tools/dump_plans.py OUT_DIR SUFFIX query [query ...]

Writes OUT_DIR/<query>_<SUFFIX>.txt per query (the optimization-round
evidence files: plans/r14/<query>_before.txt / _after.txt). Runs each
query function lazily — no action is executed, so a dump is cheap; the
plan shown is the pre-AQE physical plan (the judged artifact: Exchange
count, join strategy, PushedFilters/ReadSchema, *EvalPython nodes).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from ai_fabric_etl_spark.queries import catalog, queries  # noqa: F401
    from ai_fabric_etl_spark.session import get_spark

    spark = get_spark("dump_plans")
    qs = queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
