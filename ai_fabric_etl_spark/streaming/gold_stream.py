"""Streaming gold: keep the mart layer fresh as silver rows stream in.

Two modes, mirroring how the reference actually behaves vs what an
engine should do:

- ``start_gold_lookback_refresh`` — the compat mode: every micro-batch
  triggers a full recompute of the marts over a lookback window of the
  accumulated silver table, exactly the reference's scheduled gold
  notebook (gold_x12_analytics.py:39,65-68 — recompute over
  ``lookback_days``) but triggered by data arrival instead of a
  15-minute cron. Correct for every mart regardless of algebra;
  cost = full lookback scan per refresh (bounded by partition pruning
  on processing_date).

- ``start_gold_incremental`` — the engine mode: all 11 marts from one
  stream. Each micro-batch is materialized once (the batch and its
  parsed payload are cached), then its 11 state commits run
  concurrently, one thread per distinct table: six aggregate folds
  (overwrite, then vacuum to two versions) and five detail-mart
  appends (epoch guard plus a null-safe anti-join on the transaction
  keys, ``append(retain=2)``). The pool drains before the first error
  re-raises, so every table that could commit the batch has, and a
  restart from the checkpoint replays only the tables that missed it.

  An aggregate fold merges the batch's per-key partials (count,
  decimal sums, min/max, HLL sketches) into its ParquetMergeTable, so
  each refresh costs O(batch + |keys|), never a rescan. avg/min/max
  decompose exactly; countDistinct terms such as the summary mart's
  unique_interchanges / unique_files (gold_x12_analytics.py:453-454)
  do not — they are carried as Datasketches HLL binary sketches
  (``hll_sketch_agg`` partials, ``hll_union`` merge,
  ``hll_sketch_estimate`` at read). Sketches are fixed-size
  (~2^lgConfigK registers) so state stays O(|keys|) at 100 TB while
  estimates hold ~2% relative error.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
from ai_fabric_etl_spark.pipeline.gold import build_all_marts, write_marts
from ai_fabric_etl_spark.pipeline.silver import read_silver, silver_with_parsed

_KEYS = ["processing_date", "transaction_type", "sender_id", "receiver_id"]


def start_gold_lookback_refresh(
    silver_stream: DataFrame,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    lookback_days: int | None = None,
) -> StreamingQuery:
    """Append the stream to silver, then rebuild marts from the
    accumulated table each micro-batch (reference-compatible
    recompute semantics). ``lookback_days`` bounds the recompute to
    processing_date >= max(processing_date) - lookback_days via
    partition pruning (gold_x12_analytics.py:39's window); None keeps
    the full-history rebuild."""

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # idempotent append: each epoch owns its own subdirectory and
        # OVERWRITES it, so an at-least-once replay rewrites the same
        # rows instead of duplicating them (ADVICE r1)
        (
            batch_df.write.mode("overwrite")
            .partitionBy("processing_date", "transaction_type")
            .parquet(f"{silver_dir}/epoch={epoch_id}")
        )
        silver = silver_with_parsed(read_silver(spark, silver_dir).drop("epoch"))
        if lookback_days is not None:
            horizon = silver.agg(
                F.date_sub(F.max("processing_date"), lookback_days).alias("h")
            ).collect()[0]["h"]
            silver = silver.filter(F.col("processing_date") >= F.lit(horizon))
        # one scan shared by the 11 concurrent mart writes, released
        # before the next epoch
        silver.persist()
        try:
            write_marts(build_all_marts(silver), gold_dir)
        finally:
            silver.unpersist()

    writer = (
        silver_stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# lgConfigK=12 → 4 KiB sketch / key, ~1.6% standard error; raise to 14
# at very high per-key cardinality (16 KiB, ~0.8%).
_HLL_LG_K = 12


def _summary_partials(silver_batch: DataFrame) -> DataFrame:
    # is_valid filter matches the batch mart's _base (gold.py:31,
    # mirroring gold_x12_analytics.py:74) — without it the incremental
    # summary overcounts whenever invalid transactions exist (ADVICE r1)
    return silver_batch.filter(F.col("is_valid")).groupBy(*_KEYS).agg(
        F.count(F.lit(1)).alias("transaction_count"),
        F.sum(F.col("quality_score").cast("decimal(18,4)")).alias("score_sum"),
        F.count("quality_score").alias("score_cnt"),
        F.min("processing_timestamp").alias("first_processed"),
        F.max("processing_timestamp").alias("last_processed"),
        F.hll_sketch_agg("interchange_control_number", F.lit(_HLL_LG_K)).alias(
            "interchange_sketch"
        ),
        F.hll_sketch_agg("file_name", F.lit(_HLL_LG_K)).alias("file_sketch"),
    )


def _fold(
    spark: SparkSession,
    batch_partials: DataFrame,
    state_path: str,
    keys: list[str],
    merge_exprs: list,
    epoch_id: int | None = None,
    app_id: str | None = None,
) -> None:
    """union(prev, batch) → re-aggregate with the partials' merge
    functions → atomic swap → vacuum to the last two versions. One
    shuffle over O(batch + |keys|) rows.

    Exactly-once: foreachBatch is at-least-once, and these folds are
    ADDITIVE, so a replayed batch would double-count. The last applied
    epoch rides in the table pointer (same atomic swap as the data);
    an epoch we have already folded is skipped, and the epoch counter
    is scoped to the checkpoint identity (``app_id``) so a fresh
    checkpoint's restarted counter is not mistaken for replays
    (ADVICE r1 + r4 self-review)."""
    table = ParquetMergeTable(spark, state_path)
    if _already_applied(table, epoch_id, app_id):
        return
    if table.exists():
        batch_partials = (
            table.read().unionByName(batch_partials).groupBy(*keys).agg(*merge_exprs)
        )
    table.overwrite(batch_partials, epoch=epoch_id, app_id=app_id)
    # the current version and the one before it are all a replay or a
    # reader mid-commit needs; without this every drop leaves a v=N/
    table.vacuum(keep_last=2)


def _commit_concurrently(commits: list) -> None:
    """Run every zero-argument commit on its own thread of one pool,
    then re-raise the first error (in list order) once all have
    finished. Each commit writes a distinct table, so every table
    keeps a single writer."""
    with ThreadPoolExecutor(max_workers=len(commits)) as pool:
        jobs = [pool.submit(commit) for commit in commits]
    for job in jobs:
        job.result()


def _already_applied(
    table: ParquetMergeTable, epoch_id: int | None, app_id: str | None
) -> bool:
    """True when ``table`` already holds micro-batch ``epoch_id``.
    app_id (the checkpoint identity) scopes the epoch counter: a
    restart on a FRESH checkpoint resets epoch ids to 0, and without
    the scoping every real batch up to the old maximum would be
    silently skipped as a "replay" (Delta txnAppId)."""
    if epoch_id is None:
        return False
    last = table.last_epoch(app_id)
    return last is not None and epoch_id <= last


_SUMMARY_MERGE = [
    F.sum("transaction_count").alias("transaction_count"),
    F.sum("score_sum").alias("score_sum"),
    F.sum("score_cnt").alias("score_cnt"),
    F.min("first_processed").alias("first_processed"),
    F.max("last_processed").alias("last_processed"),
    F.hll_union_agg("interchange_sketch").alias("interchange_sketch"),
    F.hll_union_agg("file_sketch").alias("file_sketch"),
]


def merge_summary_batch(
    spark: SparkSession, silver_batch: DataFrame, state_path: str,
    epoch_id: int | None = None, app_id: str | None = None,
) -> None:
    """Fold one batch into the incremental summary-mart partials."""
    _fold(spark, _summary_partials(silver_batch), state_path, _KEYS, _SUMMARY_MERGE,
          epoch_id=epoch_id, app_id=app_id)


def read_incremental_summary(spark: SparkSession, state_path: str) -> DataFrame:
    """The summary mart view over the partials (exact weighted avg)."""
    t = ParquetMergeTable(spark, state_path).read()
    return t.select(
        *_KEYS,
        "transaction_count",
        # divide by the NON-NULL score count (F.avg semantics in the
        # batch mart), not the row count
        (F.col("score_sum").cast("double") / F.col("score_cnt")).alias(
            "average_quality_score"
        ),
        "first_processed",
        "last_processed",
        F.hll_sketch_estimate("interchange_sketch").alias("unique_interchanges"),
        F.hll_sketch_estimate("file_sketch").alias("unique_files"),
    )


_PARTNER_KEYS = ["processing_date", "sender_id", "receiver_id"]
_TX_TYPES = ("837", "835", "834", "270", "271", "276", "277", "278", "279")


def _partner_partials(silver_batch: DataFrame) -> DataFrame:
    """Partials for gold_trading_partner_analytics
    (gold_x12_analytics.py:600-628). Every term decomposes: conditional
    counts and sums are additive; unique_transaction_types uses exact
    set-union partials (domain bounded at 9 types, so the state is a
    tiny array, cheaper and exact vs a sketch); unique_interchanges is
    unbounded → HLL sketch."""
    type_counts = [
        F.sum(F.when(F.col("transaction_type") == t, 1).otherwise(0)).alias(
            f"count_{t}"
        )
        for t in _TX_TYPES
    ]
    # is_valid filter matches the batch mart's _base (ADVICE r1)
    return silver_batch.filter(F.col("is_valid")).groupBy(*_PARTNER_KEYS).agg(
        F.count(F.lit(1)).alias("total_transactions"),
        F.collect_set("transaction_type").alias("type_set"),
        F.sum(F.col("quality_score").cast("decimal(18,4)")).alias("score_sum"),
        F.count("quality_score").alias("score_cnt"),
        *type_counts,
        F.hll_sketch_agg("interchange_control_number", F.lit(_HLL_LG_K)).alias(
            "interchange_sketch"
        ),
        F.min("processing_timestamp").alias("first_transaction"),
        F.max("processing_timestamp").alias("last_transaction"),
    )


_PARTNER_MERGE = [
    F.sum("total_transactions").alias("total_transactions"),
    F.array_distinct(F.flatten(F.collect_list("type_set"))).alias("type_set"),
    F.sum("score_sum").alias("score_sum"),
    F.sum("score_cnt").alias("score_cnt"),
    *[F.sum(f"count_{t}").alias(f"count_{t}") for t in _TX_TYPES],
    F.hll_union_agg("interchange_sketch").alias("interchange_sketch"),
    F.min("first_transaction").alias("first_transaction"),
    F.max("last_transaction").alias("last_transaction"),
]


def merge_partner_batch(
    spark: SparkSession, silver_batch: DataFrame, state_path: str,
    epoch_id: int | None = None, app_id: str | None = None,
) -> None:
    """Fold one batch into the incremental partner-analytics partials."""
    _fold(
        spark, _partner_partials(silver_batch), state_path, _PARTNER_KEYS, _PARTNER_MERGE,
        epoch_id=epoch_id, app_id=app_id,
    )


def read_incremental_partner(spark: SparkSession, state_path: str) -> DataFrame:
    """The trading-partner mart view over the partials."""
    t = ParquetMergeTable(spark, state_path).read()
    return t.select(
        *_PARTNER_KEYS,
        "total_transactions",
        F.size("type_set").alias("unique_transaction_types"),
        (F.col("score_sum").cast("double") / F.col("score_cnt")).alias(
            "average_quality_score"
        ),
        *[f"count_{t}" for t in _TX_TYPES],
        F.hll_sketch_estimate("interchange_sketch").alias("unique_interchanges"),
        "first_transaction",
        "last_transaction",
        F.concat(F.col("sender_id"), F.lit("-"), F.col("receiver_id")).alias(
            "trading_partner_id"
        ),
    )


# ---------------------------------------------------------------------------
# incremental per-type detail marts
# ---------------------------------------------------------------------------

# The five explode marts are per-TRANSACTION detail tables (one output
# row per ST..SE set; the service-line/member/claim explodes roll back
# up to the same transaction before leaving the mart). Every output
# row therefore derives from exactly one silver row, which makes their
# incremental form an append — no partial-merge algebra and no rewrite
# of held rows: transform the batch alone and append the transactions
# the table does not hold yet. Safe because a transaction set never
# spans files and the ingest ships whole files per batch, so a batch
# always holds every exploded child of the transactions it carries.
# Replaying a batch (foreachBatch is at-least-once) appends nothing:
# the epoch guard skips it, and without an epoch a null-safe anti-join
# on these keys drops every row the table already holds.
# functional_group_number is part of the identity: ST02 control
# numbers repeat across GS groups within a file (ADVICE r1).
_DETAIL_KEYS = [
    "file_name",
    "functional_group_number",
    "transaction_set_control_number",
]


def _detail_marts():
    from ai_fabric_etl_spark.pipeline import gold

    return {
        "gold_healthcare_claim_analytics": gold.claim_analytics,
        "gold_healthcare_payment_analytics": gold.payment_analytics,
        "gold_healthcare_enrollment_analytics": gold.enrollment_analytics,
        "gold_healthcare_preauth_request_analytics": gold.preauth_request_analytics,
        "gold_healthcare_preauth_response_analytics": gold.preauth_response_analytics,
    }


def merge_detail_batch(
    spark: SparkSession, silver_batch: DataFrame, state_root: str,
    epoch_id: int | None = None, app_id: str | None = None,
    parsed_batch: DataFrame | None = None,
) -> None:
    """Append one silver batch's transactions to every detail mart: an
    epoch-guarded anti-join append, not a keyed upsert, so a commit
    costs O(batch) data I/O and never rewrites held rows. A table that
    already records ``epoch_id`` for ``app_id`` is skipped; otherwise
    rows whose ``_DETAIL_KEYS`` the table already holds are dropped by
    a null-safe left-anti join, so a replay with or without an epoch
    appends nothing. Each table keeps its last two versions. The five
    tables are distinct, so their commits run concurrently; the first
    error re-raises once every commit has finished."""
    swp = parsed_batch if parsed_batch is not None else silver_with_parsed(silver_batch)
    _commit_concurrently([
        partial(_append_detail, spark, fn, swp, f"{state_root}/{name}", epoch_id, app_id)
        for name, fn in _detail_marts().items()
    ])


def _append_detail(
    spark: SparkSession, mart_fn, swp: DataFrame, path: str,
    epoch_id: int | None, app_id: str | None,
) -> None:
    table = ParquetMergeTable(spark, path)
    if _already_applied(table, epoch_id, app_id):
        return
    mart = mart_fn(swp).dropDuplicates(_DETAIL_KEYS)
    if table.exists():
        held = table.read().select(*[F.col(k).alias(f"_held_{k}") for k in _DETAIL_KEYS])
        mart = mart.join(
            held,
            on=[F.col(k).eqNullSafe(F.col(f"_held_{k}")) for k in _DETAIL_KEYS],
            how="left_anti",
        )
    table.append(mart, epoch=epoch_id, app_id=app_id, retain=2)


def read_incremental_detail(
    spark: SparkSession, state_root: str, mart_name: str
) -> DataFrame:
    """Current contents of one incrementally maintained detail mart."""
    return ParquetMergeTable(spark, f"{state_root}/{mart_name}").read()


# ---------------------------------------------------------------------------
# incremental eligibility / claim-status marts (pure additive algebra)
# ---------------------------------------------------------------------------

_ELIG_KEYS = ["processing_date", "sender_id", "receiver_id"]


def _eligibility_partials(
    silver_batch: DataFrame, parsed_batch: DataFrame | None = None
) -> DataFrame:
    """Partials for gold_eligibility_analytics: every term is an
    additive sum; avg decomposes to (decimal score_sum, score_cnt)."""
    base = parsed_batch if parsed_batch is not None else silver_with_parsed(silver_batch)
    swp = base.filter(
        F.col("is_valid") & F.col("transaction_type").isin("270", "271")
    )
    p = "parsed"
    return swp.groupBy(*_ELIG_KEYS).agg(
        F.sum(F.when(F.col("transaction_type") == "270", 1).otherwise(0)).alias(
            "inquiries"
        ),
        F.sum(F.when(F.col("transaction_type") == "271", 1).otherwise(0)).alias(
            "responses"
        ),
        F.sum(F.coalesce(F.col(f"{p}.inquiry_count"), F.lit(0))).alias(
            "total_inquiry_items"
        ),
        F.sum(F.coalesce(F.col(f"{p}.benefit_count"), F.lit(0))).alias(
            "total_benefits"
        ),
        F.sum(
            F.when(F.coalesce(F.col(f"{p}.active_coverage"), F.lit(False)), 1).otherwise(0)
        ).alias("active_coverage_count"),
        F.sum(F.col("quality_score").cast("decimal(18,4)")).alias("score_sum"),
        F.count("quality_score").alias("score_cnt"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_ELIG_SUM_COLS = [
    "inquiries",
    "responses",
    "total_inquiry_items",
    "total_benefits",
    "active_coverage_count",
    "score_sum",
    "score_cnt",
    "n_rows",
]


def merge_eligibility_batch(
    spark: SparkSession, silver_batch: DataFrame, state_path: str,
    epoch_id: int | None = None, app_id: str | None = None,
    parsed_batch: DataFrame | None = None,
) -> None:
    _fold(
        spark,
        _eligibility_partials(silver_batch, parsed_batch),
        state_path,
        _ELIG_KEYS,
        [F.sum(c).alias(c) for c in _ELIG_SUM_COLS],
        epoch_id=epoch_id, app_id=app_id,
    )


def read_incremental_eligibility(spark: SparkSession, state_path: str) -> DataFrame:
    t = ParquetMergeTable(spark, state_path).read()
    return t.select(
        *_ELIG_KEYS,
        "inquiries",
        "responses",
        "total_inquiry_items",
        "total_benefits",
        "active_coverage_count",
        (F.col("score_sum").cast("double") / F.col("score_cnt")).alias(
            "average_quality_score"
        ),
    )


def _claim_status_partials(
    silver_batch: DataFrame, parsed_batch: DataFrame | None = None
) -> DataFrame:
    """Partials for gold_claim_status_analytics — the batch mart's agg
    runs over EXPLODED status rows, and all four terms are sums over
    those rows, so the per-batch mart itself is the partial."""
    from ai_fabric_etl_spark.pipeline.gold import claim_status_analytics

    swp = parsed_batch if parsed_batch is not None else silver_with_parsed(silver_batch)
    return claim_status_analytics(swp)


_CLAIM_STATUS_SUM_COLS = [
    "status_requests",
    "response_transactions",
    "status_responses",
    "total_charge_amount",
    "total_paid_amount",
]


def merge_claim_status_batch(
    spark: SparkSession, silver_batch: DataFrame, state_path: str,
    epoch_id: int | None = None, app_id: str | None = None,
    parsed_batch: DataFrame | None = None,
) -> None:
    _fold(
        spark,
        _claim_status_partials(silver_batch, parsed_batch),
        state_path,
        _ELIG_KEYS,
        [F.sum(c).alias(c) for c in _CLAIM_STATUS_SUM_COLS],
        epoch_id=epoch_id, app_id=app_id,
    )


def read_incremental_claim_status(spark: SparkSession, state_path: str) -> DataFrame:
    return ParquetMergeTable(spark, state_path).read()


# ---------------------------------------------------------------------------
# incremental data-quality / business-KPI marts
# ---------------------------------------------------------------------------

_QUALITY_KEYS = ["processing_date", "transaction_type"]


def _quality_partials(silver_batch: DataFrame) -> DataFrame:
    """Partials for gold_data_quality_metrics (NO is_valid filter —
    quality reporting covers invalid rows). Band counts/min/max/sums
    are algebraic; the three countDistinct terms ride as HLL sketches
    (sender/receiver cardinality is small enough that sparse-mode
    sketches stay exact in practice; file_name is the unbounded one)."""
    high = F.sum(F.when(F.col("quality_score") >= 90, 1).otherwise(0))
    med = F.sum(
        F.when((F.col("quality_score") >= 70) & (F.col("quality_score") < 90), 1).otherwise(0)
    )
    low = F.sum(F.when(F.col("quality_score") < 70, 1).otherwise(0))
    return silver_batch.groupBy(*_QUALITY_KEYS).agg(
        F.count(F.lit(1)).alias("transaction_count"),
        F.sum(F.col("quality_score").cast("decimal(18,4)")).alias("score_sum"),
        F.count("quality_score").alias("score_cnt"),
        F.min("quality_score").alias("min_quality_score"),
        F.max("quality_score").alias("max_quality_score"),
        high.alias("high_quality_count"),
        med.alias("medium_quality_count"),
        low.alias("low_quality_count"),
        F.hll_sketch_agg("file_name", F.lit(_HLL_LG_K)).alias("file_sketch"),
        F.hll_sketch_agg("sender_id", F.lit(_HLL_LG_K)).alias("sender_sketch"),
        F.hll_sketch_agg("receiver_id", F.lit(_HLL_LG_K)).alias("receiver_sketch"),
    )


_QUALITY_MERGE = [
    F.sum("transaction_count").alias("transaction_count"),
    F.sum("score_sum").alias("score_sum"),
    F.sum("score_cnt").alias("score_cnt"),
    F.min("min_quality_score").alias("min_quality_score"),
    F.max("max_quality_score").alias("max_quality_score"),
    F.sum("high_quality_count").alias("high_quality_count"),
    F.sum("medium_quality_count").alias("medium_quality_count"),
    F.sum("low_quality_count").alias("low_quality_count"),
    F.hll_union_agg("file_sketch").alias("file_sketch"),
    F.hll_union_agg("sender_sketch").alias("sender_sketch"),
    F.hll_union_agg("receiver_sketch").alias("receiver_sketch"),
]


def merge_quality_batch(
    spark: SparkSession, silver_batch: DataFrame, state_path: str,
    epoch_id: int | None = None, app_id: str | None = None,
) -> None:
    _fold(spark, _quality_partials(silver_batch), state_path, _QUALITY_KEYS, _QUALITY_MERGE,
          epoch_id=epoch_id, app_id=app_id)


def read_incremental_quality(spark: SparkSession, state_path: str) -> DataFrame:
    t = ParquetMergeTable(spark, state_path).read()
    cnt = F.col("transaction_count")
    return t.select(
        *_QUALITY_KEYS,
        "transaction_count",
        (F.col("score_sum").cast("double") / F.col("score_cnt")).alias(
            "average_quality_score"
        ),
        "min_quality_score",
        "max_quality_score",
        "high_quality_count",
        "medium_quality_count",
        "low_quality_count",
        (F.col("high_quality_count") * 100.0 / cnt).alias("high_quality_percentage"),
        (F.col("medium_quality_count") * 100.0 / cnt).alias("medium_quality_percentage"),
        (F.col("low_quality_count") * 100.0 / cnt).alias("low_quality_percentage"),
        F.hll_sketch_estimate("file_sketch").alias("unique_files"),
        F.hll_sketch_estimate("sender_sketch").alias("unique_senders"),
        F.hll_sketch_estimate("receiver_sketch").alias("unique_receivers"),
    )


def _kpi_partials(silver_batch: DataFrame) -> DataFrame:
    """Partials for gold_business_kpis — a GLOBAL aggregate, so the
    merge key is a constant. transaction_type's domain is 9 values →
    exact set-union; the four unbounded distincts are HLL sketches."""
    base = silver_batch.filter(F.col("is_valid"))
    combo = F.concat(F.col("sender_id"), F.lit("-"), F.col("receiver_id"))
    return base.groupBy(F.lit(1).alias("_all")).agg(
        F.count(F.lit(1)).alias("total_transactions"),
        F.hll_sketch_agg("file_name", F.lit(_HLL_LG_K)).alias("file_sketch"),
        F.collect_set("transaction_type").alias("type_set"),
        F.hll_sketch_agg("sender_id", F.lit(_HLL_LG_K)).alias("sender_sketch"),
        F.hll_sketch_agg("receiver_id", F.lit(_HLL_LG_K)).alias("receiver_sketch"),
        F.hll_sketch_agg(combo, F.lit(_HLL_LG_K)).alias("combo_sketch"),
        F.sum(F.col("quality_score").cast("decimal(18,4)")).alias("score_sum"),
        F.count("quality_score").alias("score_cnt"),
        F.max("processing_timestamp").alias("last_processed"),
    )


_KPI_MERGE = [
    F.sum("total_transactions").alias("total_transactions"),
    F.hll_union_agg("file_sketch").alias("file_sketch"),
    F.array_distinct(F.flatten(F.collect_list("type_set"))).alias("type_set"),
    F.hll_union_agg("sender_sketch").alias("sender_sketch"),
    F.hll_union_agg("receiver_sketch").alias("receiver_sketch"),
    F.hll_union_agg("combo_sketch").alias("combo_sketch"),
    F.sum("score_sum").alias("score_sum"),
    F.sum("score_cnt").alias("score_cnt"),
    F.max("last_processed").alias("last_processed"),
]


def merge_kpis_batch(
    spark: SparkSession, silver_batch: DataFrame, state_path: str,
    epoch_id: int | None = None, app_id: str | None = None,
) -> None:
    _fold(spark, _kpi_partials(silver_batch), state_path, ["_all"], _KPI_MERGE,
          epoch_id=epoch_id, app_id=app_id)


def read_incremental_kpis(spark: SparkSession, state_path: str) -> DataFrame:
    t = ParquetMergeTable(spark, state_path).read()
    return t.select(
        "total_transactions",
        F.hll_sketch_estimate("file_sketch").alias("unique_files"),
        F.size("type_set").alias("unique_transaction_types"),
        F.hll_sketch_estimate("sender_sketch").alias("unique_senders"),
        F.hll_sketch_estimate("receiver_sketch").alias("unique_receivers"),
        F.hll_sketch_estimate("combo_sketch").alias("unique_trading_partnerships"),
        (F.col("score_sum").cast("double") / F.col("score_cnt")).alias(
            "average_quality_score"
        ),
        "last_processed",
    )


def start_gold_incremental(
    silver_stream: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """One stream maintaining ALL 11 marts incrementally: partial
    merges for the six aggregate marts (summary, partner, eligibility,
    claim-status, data-quality, global KPIs — additive terms exact,
    unbounded distincts as HLL sketches) and anti-join appends for the
    five detail marts. Each micro-batch costs O(batch + |touched
    keys|); nothing ever rescans silver.

    Per micro-batch the batch is materialized once: it and its parsed
    payload are cached and shared by every merge. The seven merges (the
    detail one fans out to its five tables) then commit concurrently;
    every table is distinct, so each keeps a single writer. The pool
    drains before the first error re-raises, and the two cached frames
    are released whether or not the fold succeeds. Each table records
    its own last epoch, so a restart after a failed fold replays only
    the tables that missed the batch."""

    app_id = checkpoint_dir  # epoch counters scoped to this checkpoint

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.cache()
        swp = None
        try:
            # parse the typed payload ONCE per batch; three consumers
            # (eligibility, claim-status, detail appends) share it
            # instead of re-running from_json over the whole batch each
            swp = silver_with_parsed(batch_df).cache()
            parsed = {"parsed_batch": swp}
            # the merges are looked up in the module globals on every
            # call, so a wrapper swapped into the module takes effect
            calls = [
                (merge_summary_batch, "summary", {}),
                (merge_partner_batch, "partner", {}),
                (merge_eligibility_batch, "eligibility", parsed),
                (merge_claim_status_batch, "claim_status", parsed),
                (merge_quality_batch, "quality", {}),
                (merge_kpis_batch, "kpis", {}),
                (merge_detail_batch, "detail", parsed),
            ]
            _commit_concurrently([
                partial(fn, spark, batch_df, f"{state_root}/{sub}", epoch_id, app_id, **kw)
                for fn, sub, kw in calls
            ])
        finally:
            if swp is not None:
                swp.unpersist()
            batch_df.unpersist()

    writer = (
        silver_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
