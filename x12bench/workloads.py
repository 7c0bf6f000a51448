"""The benchmark's workloads: closed loop, one client, one pipeline run
or micro-batch in flight at a time, each driven through the entry
points a user calls.

- ``batch_small_files``: a partner drop of many small interchanges
  through ``ai_fabric_etl_spark.run.main(["run", ...])`` in-process,
  first in a fresh session as from the CLI, then the analyst's dashboard
  read over what it wrote.
- ``stream_incremental``: fixed-size drops landing one after another,
  each drained by ``stream_bronze -> parse_to_silver ->
  start_gold_incremental`` (availableNow) and read back through the
  ``read_incremental_*`` functions, against a growing merge state.

Each workload returns its end-to-end samples and, when traced, its
per-layer numbers; ``run.py`` turns them into the reported metrics.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from x12bench import corpus as corpus_mod
from x12bench.trace import GOLD_STREAM_MERGES, Tracer, install


@dataclass(frozen=True)
class Sizes:
    """Input sizes. Timed inputs are sized in transactions (1-3 per
    small file), so throughput stays comparable across seeds.

    The batch workload times its first pipeline run in a fresh session,
    as every ``python -m ai_fabric_etl_spark run`` is: the JVM's code
    generation and just-in-time compilation are part of what a CLI user
    waits for. The stream is a long-running service, so an untimed first
    drop of ``warmup_files`` files creates the merge state and warms the
    JVM before the timed drops. Nine files carry all nine transaction
    types, so no mart the dashboard reads is empty."""

    small_tx: int = 256
    warmup_files: int = 9
    stream_batch_tx: int = 128
    # landing files generated up front for the streaming workload; a
    # run stops long before using them all
    stream_max_batches: int = 40


# 27 transactions span at least 9 files
TINY = Sizes(small_tx=27, stream_batch_tx=10, stream_max_batches=6)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    traced: bool
    sizes: Sizes


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    pipeline_s: list[float] = field(default_factory=list)
    dashboard_s: list[float] = field(default_factory=list)
    tx_per_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    spans: list = field(default_factory=list)


VIEWS = (
    "v_daily_processing_summary",
    "v_transaction_type_breakdown",
    "v_recent_processing_activity",
)


def _gold_marts() -> list[str]:
    from ai_fabric_etl_spark.pipeline.gold import ALL_MARTS

    return list(ALL_MARTS)


def batch_layer_names() -> list[str]:
    return [
        "bronze.write_s", "bronze.files", "bronze.invalid_files",
        "silver.write_s", "silver.rows", "silver.err_rows",
        "silver.files_written", "silver.bytes_written",
        "gold.write_s", *[f"gold.{m}_s" for m in _gold_marts()], "gold.files_written",
        "ack997.write_s", "ack997.acks", "ack997.valid_ratio",
        "run.residual_s",
        *[f"views.{v}_s" for v in VIEWS], "gold.read_s",
    ]


def stream_layer_names() -> list[str]:
    return [
        "ingest.trigger_ms", "ingest.add_batch_ms", "ingest.get_batch_ms",
        "ingest.wal_commit_ms", "ingest.input_rows",
        *[f"gold_stream.merge_{m}_s" for m in GOLD_STREAM_MERGES], "gold_stream.read_s",
        "merge.state_files", "merge.state_bytes_per_input_byte",
    ]


COMMON_LAYER_NAMES = [
    "run.pipeline_s", "run.tracing_overhead_s", "error_ratio", "peak_rss_mb", "dashboard_p50_s",
]


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _dir_stats(root: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the ``suffix`` files anywhere under ``root``."""
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


def _closed_loop(ctx: Context, step) -> None:
    """Call ``step(i)`` until ``ctx.seconds`` have passed, at least once;
    each call starts after the last ends."""
    start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - start < ctx.seconds:
        step(i)
        i += 1


def _report_failure(what: str) -> None:
    print(f"x12bench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _spans_by_name(tracer: Tracer, since: int) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in tracer.spans[since:]:
        out[s.name] = out.get(s.name, 0.0) + s.seconds
    return out


# ---------------------------------------------------------------------------
# batch_small_files
# ---------------------------------------------------------------------------


def _batch_dashboard(spark, out: str, timings: dict[str, float]):
    """The analyst read after a run: the three monitoring views over the
    written silver/bronze, then every gold mart read back; all collected.
    Returns the business-KPI row for the output check."""
    from ai_fabric_etl_spark.pipeline.views import register_views

    silver = spark.read.parquet(f"{out}/silver")
    bronze = spark.read.parquet(f"{out}/bronze")
    for view in register_views(spark, silver, bronze):
        t0 = time.perf_counter()
        spark.table(view).collect()
        timings[f"views.{view}_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    marts = {m: spark.read.parquet(f"{out}/gold/{m}").collect() for m in _gold_marts()}
    timings["gold.read_s"] = time.perf_counter() - t0
    return marts["gold_business_kpis"]


_ENVELOPE = (
    "file_name", "interchange_control_number", "functional_group_number",
    "transaction_set_control_number", "transaction_type", "sender_id",
    "receiver_id", "transaction_date", "quality_score", "is_valid",
)


def _read_silver(spark, out: str):
    from pyspark.sql import functions as F

    # partition discovery reads the all-digit transaction_type back as int
    return spark.read.parquet(f"{out}/silver").withColumn(
        "transaction_type", F.col("transaction_type").cast("string")
    )


def _read_acks(spark, out: str) -> list[bool]:
    """``validate_997`` verdict of every written 997, one per text line."""
    from ai_fabric_etl_spark.x12.ack997 import validate_997

    return [validate_997(r[0])[0] for r in spark.read.text(f"{out}/acks").collect()]


def _check_batch_outputs(spark, out: str, corpus: corpus_mod.Corpus, kpi_rows) -> list[str]:
    """Problems with one pipeline run's outputs (empty when correct)."""
    problems = []
    silver = _read_silver(spark, out)
    got = sorted(tuple(r) for r in silver.select(*_ENVELOPE).collect())
    want = sorted(tuple(r[c] for c in _ENVELOPE) for r in corpus.expected_silver)
    if got != want:
        problems.append(f"silver envelope rows differ ({len(got)} vs {len(want)} expected)")
    total = kpi_rows[0]["total_transactions"] if len(kpi_rows) == 1 else None
    if total != corpus.transactions:
        problems.append(f"gold_business_kpis.total_transactions {total} != {corpus.transactions}")
    acks = _read_acks(spark, out)
    if len(acks) != corpus.interchanges:
        problems.append(f"{len(acks)} acks for {corpus.interchanges} interchanges")
    if not all(acks):
        problems.append(f"{acks.count(False)} acks fail validate_997")
    return problems


def _batch_counts(spark, out: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    bronze = spark.read.parquet(f"{out}/bronze")
    silver = _read_silver(spark, out)
    silver_files, silver_bytes = _dir_stats(f"{out}/silver")
    acks = _read_acks(spark, out)
    return {
        "bronze.files": bronze.count(),
        "bronze.invalid_files": bronze.filter(~F.col("is_valid_x12")).count(),
        "silver.rows": silver.count(),
        "silver.err_rows": silver.filter(F.col("transaction_type") == "ERR").count(),
        "silver.files_written": silver_files,
        "silver.bytes_written": silver_bytes,
        "gold.files_written": _dir_stats(f"{out}/gold")[0],
        "ack997.acks": len(acks),
        "ack997.valid_ratio": acks.count(True) / len(acks) if acks else 0.0,
    }


def _run_cli(run_main, argv: list[str]) -> int:
    with contextlib.redirect_stdout(io.StringIO()):
        return run_main(argv)


def batch_small_files(ctx: Context) -> Outcome:
    from ai_fabric_etl_spark import run

    spark = ctx.spark
    corpus = corpus_mod.small_files_holding(ctx.seed, ctx.sizes.small_tx)
    land = os.path.join(ctx.work, "landing")
    corpus_mod.write_files(corpus.files, land)

    res = Outcome()
    tracer = Tracer()
    traced_iters: list[dict[str, float]] = []
    counts: dict[str, float] = {}

    def iteration(i: int) -> None:
        """One pipeline run, then the dashboard read over its output."""
        out = os.path.join(ctx.work, f"warehouse_{i}")
        argv = ["run", "--input", land, "--out", out, "--batch-id", f"bench-{i}"]
        since = len(tracer.spans)
        patches = install(tracer) if ctx.traced else None
        res.attempted += 1
        try:
            timings: dict[str, float] = {}
            t0 = time.perf_counter()
            with tracer.root_span("run.pipeline") if ctx.traced else contextlib.nullcontext():
                rc = _run_cli(run.main, argv)
            t1 = time.perf_counter()
            kpis = _batch_dashboard(spark, out, timings)
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failed run is counted, the loop goes on
            _report_failure("pipeline run")
            res.failed += 1
            return
        finally:
            if patches is not None:
                patches.restore()
        problems = [f"run.main returned {rc}"] if rc != 0 else []
        problems += _check_batch_outputs(spark, out, corpus, kpis)
        if problems:
            print(f"x12bench: wrong output: {problems}", file=sys.stderr)
            res.failed += 1
            return
        res.pipeline_s.append(t1 - t0)
        res.dashboard_s.append(t2 - t1)
        if ctx.traced:
            spans = _spans_by_name(tracer, since)
            layer = {f"{name}_s": secs for name, secs in spans.items()}
            stage_names = ("bronze.write", "silver.write", "gold.write", "ack997.write")
            layer["run.residual_s"] = spans["run.pipeline"] - sum(
                spans.get(s, 0.0) for s in stage_names
            )
            layer.update(timings)
            traced_iters.append(layer)
            counts.update(_batch_counts(spark, out))
        shutil.rmtree(out, ignore_errors=True)

    _closed_loop(ctx, iteration)

    if res.pipeline_s:
        res.tx_per_s = corpus.transactions / statistics.median(res.pipeline_s)
    if ctx.traced:
        res.layers = {n: 0.0 for n in stream_layer_names()}
        for name in [*batch_layer_names(), "run.pipeline_s"]:
            res.layers[name] = _mean([it.get(name, 0.0) for it in traced_iters])
        res.layers.update(counts)
        res.layers["run.tracing_overhead_s"] = tracer.overhead_s / max(1, len(traced_iters))
        res.spans = tracer.spans
    return res


# ---------------------------------------------------------------------------
# stream_incremental
# ---------------------------------------------------------------------------

_INCREMENTAL_READS = (
    ("read_incremental_summary", "summary"),
    ("read_incremental_partner", "partner"),
    ("read_incremental_eligibility", "eligibility"),
    ("read_incremental_claim_status", "claim_status"),
    ("read_incremental_quality", "quality"),
    ("read_incremental_kpis", "kpis"),
)

_PROGRESS = {
    "ingest.trigger_ms": "triggerExecution",
    "ingest.add_batch_ms": "addBatch",
    "ingest.get_batch_ms": "getBatch",
    "ingest.wal_commit_ms": "walCommit",
}


def _stream_dashboard(spark, state: str):
    """Every incrementally maintained mart, collected; returns the KPI rows."""
    from ai_fabric_etl_spark.streaming import gold_stream

    rows = {}
    for fn, sub in _INCREMENTAL_READS:
        rows[sub] = getattr(gold_stream, fn)(spark, f"{state}/{sub}").collect()
    for mart in gold_stream._detail_marts():
        gold_stream.read_incremental_detail(spark, f"{state}/detail", mart).collect()
    return rows["kpis"]


def stream_incremental(ctx: Context) -> Outcome:
    from ai_fabric_etl_spark.pipeline.silver import parse_to_silver
    from ai_fabric_etl_spark.streaming import gold_stream
    from ai_fabric_etl_spark.streaming.ingest import stream_bronze

    spark = ctx.spark
    sizes = ctx.sizes
    corpus = corpus_mod.small_files(
        ctx.seed, sizes.warmup_files + sizes.stream_batch_tx * sizes.stream_max_batches
    )
    land = os.path.join(ctx.work, "landing")
    state = os.path.join(ctx.work, "incremental_gold")
    ckpt = os.path.join(ctx.work, "checkpoint")
    os.makedirs(land)

    res = Outcome()
    tracer = Tracer()
    landed = {"files": 0, "tx": 0, "bytes": 0}
    measured_tx: list[int] = []
    traced_iters: list[dict[str, float]] = []
    state_stats = {"merge.state_files": 0.0, "merge.state_bytes_per_input_byte": 0.0}

    def drop(n_files: int, i: int | None) -> None:
        """Land the next ``n_files`` files, drain them, read the marts
        back. ``i`` is the timed iteration, None for an untimed warm-up
        drop."""
        start = landed["files"]
        files = corpus.files[start:start + n_files]
        corpus_mod.write_files(files, land)
        batch_tx = sum(corpus.tx_by_file[name] for name, _ in files)
        landed["files"] += n_files
        landed["tx"] += batch_tx
        landed["bytes"] += sum(len(c) for _, c in files)

        measured = i is not None
        traced = measured and ctx.traced
        since = len(tracer.spans)
        patches = install(tracer) if traced else None
        if measured:
            res.attempted += 1
        try:
            t0 = time.perf_counter()
            silver = parse_to_silver(stream_bronze(spark, land), batch_id=f"stream-{start}")
            with tracer.root_span("stream.drain") if traced else contextlib.nullcontext():
                q = gold_stream.start_gold_incremental(silver, state, ckpt)
                q.awaitTermination()
            t1 = time.perf_counter()
            kpis = _stream_dashboard(spark, state)
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failed batch is counted, the loop goes on
            _report_failure("micro-batch")
            res.failed += measured
            return
        finally:
            if patches is not None:
                patches.restore()
        total = kpis[0]["total_transactions"] if len(kpis) == 1 else None
        if total != landed["tx"]:
            print(
                f"x12bench: wrong output: incremental total_transactions {total}"
                f" != {landed['tx']} landed",
                file=sys.stderr,
            )
            res.failed += measured
            return
        if not measured:
            return
        res.pipeline_s.append(t1 - t0)
        res.dashboard_s.append(t2 - t1)
        measured_tx.append(batch_tx)
        if not traced:
            return
        spans = _spans_by_name(tracer, since)
        layer = {f"{name}_s": secs for name, secs in spans.items()}
        layer["run.pipeline_s"] = spans["stream.drain"]
        layer["gold_stream.read_s"] = t2 - t1
        layer.update({k: 0.0 for k in (*_PROGRESS, "ingest.input_rows")})
        for p in q.recentProgress:
            for name, key in _PROGRESS.items():
                layer[name] += p["durationMs"].get(key, 0)
            layer["ingest.input_rows"] += p["numInputRows"]
        traced_iters.append(layer)
        files_n, state_bytes = _dir_stats(state)
        state_stats["merge.state_files"] = files_n
        state_stats["merge.state_bytes_per_input_byte"] = state_bytes / landed["bytes"]

    def timed_drop(i: int) -> None:
        drop(corpus_mod.files_holding(corpus, landed["files"], sizes.stream_batch_tx), i)

    drop(sizes.warmup_files, None)
    _closed_loop(ctx, timed_drop)

    if res.pipeline_s:
        res.tx_per_s = sum(measured_tx) / sum(res.pipeline_s)
    if ctx.traced:
        res.layers = {n: 0.0 for n in batch_layer_names()}
        for name in [*stream_layer_names(), "run.pipeline_s"]:
            res.layers[name] = _mean([it.get(name, 0.0) for it in traced_iters])
        res.layers.update(state_stats)
        res.layers["run.tracing_overhead_s"] = tracer.overhead_s / max(1, len(traced_iters))
        res.spans = tracer.spans
    return res


WORKLOADS = {
    "batch_small_files": batch_small_files,
    "stream_incremental": stream_incremental,
}
