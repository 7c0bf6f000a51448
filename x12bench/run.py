"""X12 medallion benchmark: one workload run, one JSON result line.

    python3 x12bench/run.py --workload batch_small_files --seed 1 --seconds 15 --trace 0

Run from the root of a checkout; the program under test is the
``ai_fabric_etl_spark`` package beside this directory, on a
``local[<usable cpus>]`` Spark session built by its own ``get_spark``.
Metric names and units come from ``BENCHMARK.json`` at the root. With
``--trace 0`` the result carries every end-to-end metric, with
``--trace 1`` every per-layer metric. All files the run writes go
under ``.x12bench_work/`` in the checkout, which is emptied first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".x12bench_work")
SETUPS = 3


def _fail(msg: str) -> int:
    print(f"x12bench: {msg}", file=sys.stderr)
    return 2


def _spark_env() -> dict[str, str]:
    """Keep every Spark, JVM and Python temp file inside the checkout,
    and size the session to the CPUs this process may use."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _warm_up(spark) -> None:
    spark.sparkContext.parallelize(range(8), 4).map(lambda x: x + 1).sum()


def set_up(conf: dict[str, str]):
    """Start the session the CLI would use ``SETUPS`` times, each with a
    warm-up job (first Python-worker spawn, first SQL job). The first
    start launches the JVM; later ones restart the SparkContext in it.
    Returns the last session and the set-up times."""
    from ai_fabric_etl_spark.session import get_spark

    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("ai_fabric_etl_spark.run", extra_conf=conf)
        _warm_up(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def shut_down(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run
    started (the JVM's Python workers outlive it briefly)."""
    from pyspark import SparkContext

    from x12bench.procmem import descendants

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(outcome, setup_times: list[float]) -> dict[str, float]:
    # freshness: files landed -> the dashboard read that includes them returns
    fresh = [p + d for p, d in zip(outcome.pipeline_s, outcome.dashboard_s)]
    return {
        "setup_s": _p50(setup_times),
        "pipeline_p50_s": _p50(outcome.pipeline_s),
        "tx_per_s": outcome.tx_per_s,
        "freshness_p50_s": _p50(fresh),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="x12bench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ai_fabric_etl_spark")):
        return _fail(f"program package ai_fabric_etl_spark not found under {ROOT}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as exc:
        return _fail(f"cannot read BENCHMARK.json: {exc}")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    from x12bench import procmem, workloads

    shutil.rmtree(WORK, ignore_errors=True)
    conf = _spark_env()
    spark, setup_times = set_up(conf)
    try:
        ctx = workloads.Context(
            spark=spark,
            work=WORK,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            sizes=workloads.TINY if args.tiny else workloads.Sizes(),
        )
        t_run = time.perf_counter()
        outcome = workloads.WORKLOADS[args.workload](ctx)
        t_run = time.perf_counter() - t_run
        rss_mb = procmem.peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        shut_down(spark)
        t_stop = time.perf_counter() - t_stop

    if args.trace:
        values = dict(outcome.layers)
        values["error_ratio"] = outcome.failed / outcome.attempted
        values["peak_rss_mb"] = rss_mb
        values["dashboard_p50_s"] = _p50(outcome.dashboard_s)
        with open(os.path.join(WORK, "spans.json"), "w", encoding="utf-8") as fh:
            json.dump([vars(s) for s in outcome.spans], fh)
    else:
        values = end_to_end(outcome, setup_times)
    mismatch = set(values) ^ {m["name"] for m in declared}
    if mismatch:
        return _fail(f"metrics not both measured and declared in BENCHMARK.json: {sorted(mismatch)}")

    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"setups_s={[round(t, 3) for t in setup_times]} "
          f"workload_s={t_run:.1f} shutdown_s={t_stop:.1f} "
          f"pipeline_s={[round(t, 3) for t in outcome.pipeline_s]} "
          f"dashboard_s={[round(t, 3) for t in outcome.dashboard_s]}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": outcome.failed == 0 and bool(outcome.pipeline_s),
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
