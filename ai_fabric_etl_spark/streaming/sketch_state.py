"""Streaming sketch state: mergeable quantile summaries maintained
per micro-batch — the streaming face of ``operators/sketches``.

Running percentiles ("p95 quality score so far, per transaction
type") cannot be a Structured Streaming built-in aggregate: exact
percentiles need every value, and the state would grow with the
stream. The mergeable-summary pattern bounds it: each micro-batch
folds into Munro–Paterson partials (``quantile_partials``), the state
table keeps at most k·log₂(n/k) rows per group (``quantile_compress``
after each union), and any read materializes estimates with
``quantile_values`` — state is kilobytes per group forever, the same
discipline as the HLL/MG partials in the gold incremental marts
(streaming/gold_stream.py).

Exactly-once: epoch ids ride the state-table pointer scoped to the
checkpoint identity (Delta txnAppId style, identical to
running_aggs.py) — replayed foreachBatch epochs are skipped, and the
exact regime (k ≥ stream size) makes replay idempotence literally
bit-testable (stream result == batch quantile_disc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
from ai_fabric_etl_spark.operators.sketches import (
    quantile_compress,
    quantile_partials,
    quantile_values,
)


def merge_quantile_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int,
    col: str,
    by: list[str],
    k: int = 256,
    app_id: str | None = None,
) -> None:
    """Fold one micro-batch into the quantile state table. Also
    callable from batch jobs (backfills use the same state)."""
    table = ParquetMergeTable(spark, state_dir)
    last = table.last_epoch(app_id)
    if last is not None and epoch_id <= last:
        return  # replayed epoch — already folded
    parts = quantile_partials(batch, col, by, k=k)
    if table.exists():
        parts = quantile_compress(
            table.read().unionByName(parts), by, k=k
        )
    table.overwrite(parts, epoch=epoch_id, app_id=app_id)


def read_quantiles(
    spark: SparkSession,
    state_dir: str,
    by: list[str],
    qs: dict[str, float],
) -> DataFrame:
    """Current quantile estimates from the persisted partials — no
    base-data scan, ever."""
    return quantile_values(
        ParquetMergeTable(spark, state_dir).read(), by, qs
    )


def start_quantile_state(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    by: list[str],
    k: int = 256,
) -> StreamingQuery:
    """Wire the fold into foreachBatch with availableNow semantics
    (same trigger discipline as streaming/running_aggs)."""
    spark = stream_df.sparkSession
    app_id = f"quantile_state:{checkpoint_dir}"

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_quantile_state(
            spark, batch_df, state_dir, epoch_id, col, by, k=k, app_id=app_id
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_state(
    spark: SparkSession, state_dir: str, keep_last: int = 2
) -> dict:
    """Bound a sketch-state table's footprint after many micro-batches
    — the maintenance pass a long-lived stream schedules every N
    epochs (VERDICT r7 item 6): ``vacuum(keep_last)`` drops old
    ``v={n}`` data directories (the state VALUE lives entirely in the
    newest version — every fold overwrites — so history is pure replay
    insurance).

    The exactly-once guard is untouched: ``last_epoch`` reads only the
    ``_LATEST`` pointer (O(1) at any epoch count), and vacuum never
    moves it. Returns ``vacuumed_versions`` (removed by this pass) and
    ``retained`` (versions still readable).
    """
    table = ParquetMergeTable(spark, state_dir)
    removed = table.vacuum(keep_last=keep_last)
    return {"vacuumed_versions": len(removed), "retained": len(table.versions())}


__all__ = [
    "compact_state",
    "merge_quantile_state",
    "read_quantiles",
    "start_quantile_state",
    "merge_heavy_hitters_state",
    "read_heavy_hitters",
    "merge_cms_state",
    "read_cms_estimates",
    "start_cms_state",
    "drift_reference",
    "merge_drift_state",
    "read_drift_psi",
    "start_drift_monitor",
]


def merge_heavy_hitters_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int,
    col: str,
    k: int = 64,
    app_id: str | None = None,
) -> None:
    """Fold one micro-batch into a Misra–Gries heavy-hitter state
    table: batch partials merge by summation, then one k-counter
    decrement re-bounds the state (Agarwal et al. mergeable-summaries
    — the undercount bounds ADD across merges, so the streaming
    state keeps the same guarantees as the batch sketch). State is
    ≤ k rows forever; when the stream's distinct values never exceed
    k the counts stay EXACT (stream == batch groupBy, tested)."""
    from ai_fabric_etl_spark.operators.sketches import misra_gries_partials

    table = ParquetMergeTable(spark, state_dir)
    last = table.last_epoch(app_id)
    if last is not None and epoch_id <= last:
        return
    parts = misra_gries_partials(batch, col, k=k)
    if table.exists():
        parts = table.read().unionByName(parts)
    summed = parts.groupBy(col).agg(F.sum("mg_count").alias("mg_count"))
    # k-counter decrement only when over budget (state is tiny: the
    # limit/collect touches at most k + k*partitions rows)
    if summed.count() > k:
        thr = (
            summed.orderBy(F.col("mg_count").desc())
            .limit(k + 1)
            .agg(F.min("mg_count"))
            .collect()[0][0]
        )
        summed = summed.select(
            col, (F.col("mg_count") - F.lit(thr)).alias("mg_count")
        ).filter(F.col("mg_count") > 0)
    table.overwrite(summed, epoch=epoch_id, app_id=app_id)


def read_heavy_hitters(
    spark: SparkSession, state_dir: str, min_count: int = 1
) -> DataFrame:
    """Current heavy-hitter summary (lower-bound counts), heaviest
    first."""
    t = ParquetMergeTable(spark, state_dir).read()
    return t.filter(F.col("mg_count") >= min_count).orderBy(
        F.col("mg_count").desc(), t.columns[0]
    )


def merge_cms_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int,
    col: str,
    width: int = 256,
    depth: int = 4,
    app_id: str | None = None,
) -> None:
    """Fold one micro-batch into a count-min sketch state table: the
    batch's own CMS (≤ depth·width rows, pure codegen) adds bucket-wise
    into the stored sketch. CMS error bounds are additive under
    summation (Cormode & Muthukrishnan '05 §4.2), so the streaming
    state keeps the batch guarantees; state is ≤ depth·width rows
    FOREVER regardless of stream cardinality. Epoch-guarded
    exactly-once like the quantile/MG/PSI states — because the fold is
    pure summation, a replayed epoch folding twice would silently
    double-count, which is exactly what the guard + test pin."""
    from ai_fabric_etl_spark.operators.sketches import cms_merge, cms_table

    table = ParquetMergeTable(spark, state_dir)
    last = table.last_epoch(app_id)
    if last is not None and epoch_id <= last:
        return
    parts = cms_table(batch, col, width=width, depth=depth)
    if table.exists():
        parts = cms_merge(table.read(), parts)
    table.overwrite(parts, epoch=epoch_id, app_id=app_id)


def read_cms_estimates(
    spark: SparkSession,
    state_dir: str,
    values: DataFrame,
    col: str,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point-query the persisted sketch for every row of ``values`` —
    no base-data scan, identical estimator to the batch
    ``cms_estimate`` so stream == batch is exact."""
    from ai_fabric_etl_spark.operators.sketches import cms_estimate

    return cms_estimate(
        ParquetMergeTable(spark, state_dir).read(),
        values,
        col,
        width=width,
        depth=depth,
    )


def start_cms_state(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    width: int = 256,
    depth: int = 4,
) -> StreamingQuery:
    """Wire the CMS fold into foreachBatch (availableNow)."""
    spark = stream_df.sparkSession
    app_id = f"cms_state:{checkpoint_dir}"

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_cms_state(
            spark,
            batch_df,
            state_dir,
            epoch_id,
            col,
            width=width,
            depth=depth,
            app_id=app_id,
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# streaming drift monitor: PSI against a frozen reference
# ---------------------------------------------------------------------------


def drift_reference(
    ref: DataFrame, col: str, tiebreak: str, bins: int = 10
) -> tuple[list[float], dict[int, int]]:
    """Freeze the reference side of the drift monitor: the equi-depth
    bin edges (bins−1 actual data values) and the reference's own
    per-bin counts BUCKETED BY THOSE EDGES (not the equi-depth row
    counts — edge-tie rows must land exactly where the streaming
    bucketing puts them, or stream and batch PSI disagree on tied
    values). One batch job at monitor setup; both outputs are
    driver-side literals of size O(bins)."""
    from ai_fabric_etl_spark.operators.profile import (
        assign_bin,
        histogram_equidepth,
    )

    edge_rows = (
        histogram_equidepth(ref, col=col, tiebreak=tiebreak, bins=bins)
        .filter(F.col("bin_id") < bins)
        .select("bin_id", "hi")
        .collect()
    )
    edges = [float(r.hi) for r in sorted(edge_rows, key=lambda r: r.bin_id)]
    counts = (
        ref.filter(F.col(col).isNotNull())
        .select(assign_bin(F.col(col), edges).alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    ref_counts = {int(r.bin_id): int(r.n) for r in counts}
    return edges, ref_counts


def merge_drift_state(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    epoch_id: int,
    col: str,
    edges: list[float],
    app_id: str | None = None,
) -> None:
    """Fold one micro-batch's bin counts into the drift state table
    (≤ bins rows forever): pure codegen bin assignment + one tiny
    aggregate, additive fold, epoch-guarded exactly-once (replayed
    foreachBatch epochs are skipped — same discipline as the
    quantile/heavy-hitter states)."""
    from ai_fabric_etl_spark.operators.profile import assign_bin

    table = ParquetMergeTable(spark, state_dir)
    last = table.last_epoch(app_id)
    if last is not None and epoch_id <= last:
        return
    counts = (
        batch.filter(F.col(col).isNotNull())
        .select(assign_bin(F.col(col), edges).alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("cur_n"))
    )
    if table.exists():
        prev = table.read()
        counts = (
            prev.select("bin_id", F.col("cur_n").alias("_prev"))
            .join(counts, "bin_id", "full_outer")
            .select(
                "bin_id",
                (
                    F.coalesce(F.col("_prev"), F.lit(0))
                    + F.coalesce(F.col("cur_n"), F.lit(0))
                ).alias("cur_n"),
            )
        )
    table.overwrite(counts, epoch=epoch_id, app_id=app_id)


def read_drift_psi(
    spark: SparkSession,
    state_dir: str,
    ref_counts: dict[int, int],
    bins: int = 10,
) -> DataFrame:
    """Current PSI terms from the persisted bin counts vs the frozen
    reference — (bin_id, ref_n, cur_n, psi_term_micro), identical
    formula (profile.psi_from_counts) to the batch drift_psi, so
    stream == batch is exact. Total PSI = Σ psi_term_micro / 1e6."""
    from ai_fabric_etl_spark.operators.profile import psi_from_counts

    state = ParquetMergeTable(spark, state_dir).read()
    refs = spark.createDataFrame(
        [(int(b), int(n)) for b, n in sorted(ref_counts.items())],
        "bin_id int, ref_n long",
    )
    grid = spark.range(1, bins + 1).select(
        F.col("id").cast("int").alias("bin_id")
    )
    both = (
        grid.join(refs, "bin_id", "left")
        .join(state, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
    )
    return psi_from_counts(both, bins)


def start_drift_monitor(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    edges: list[float],
) -> StreamingQuery:
    """Wire the drift fold into foreachBatch (availableNow)."""
    spark = stream_df.sparkSession
    app_id = f"drift_state:{checkpoint_dir}"

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_drift_state(
            spark, batch_df, state_dir, epoch_id, col, edges, app_id=app_id
        )

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
