"""Gold layer: analytic data marts as native DataFrame ops.

Every mart from gold_x12_analytics.py:812-822 plus the two
promised-but-missing marts (eligibility + claim-status,
README.md:256-257 / UDFs U4-U5) and the business-KPI mart with the
:778 countDistinct-on-missing-column bug fixed.

The reference computes per-transaction metrics with row-at-a-time
Python UDFs over JSON strings (gold_x12_analytics.py:427-433 — the
slowest possible path); here the same numbers come from the typed
``parsed`` struct with explode+agg, staying inside whole-stage
codegen end to end.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P = "parsed"

# Transaction identity: X12 ST02 control numbers are unique only within
# a functional group (GS), so per-transaction detail marts key on all
# three envelope levels (ADVICE r1 — the reference never surfaces
# functional_group_number in its marts, a documented deviation).
_TXN_KEYS = ("file_name", "functional_group_number",
             "transaction_set_control_number")

_TX_TYPES = ("837", "835", "834", "270", "271", "276", "277", "278", "279")

# lgConfigK=12 → 4 KiB sketch / key, ~1.6% standard error; raise to 14
# at very high per-key cardinality (16 KiB, ~0.8%).
_HLL_LG_K = 12


def _base(silver: DataFrame) -> DataFrame:
    """Validity filter (gold_x12_analytics.py:72-74)."""
    return silver.filter(F.col("is_valid"))


# ---------------------------------------------------------------------------
# aggregate marts: one definition, a batch form and a stream form
# ---------------------------------------------------------------------------


class Term(NamedTuple):
    """One output column of an aggregate mart. ``expr`` is the input
    Column (derived: a function of a name → Column lookup over the keys
    and the earlier terms); ``state`` names the column a distinct term
    keeps in the stream.

    ``kind`` fixes the batch form (``batch_column``) and the stream form
    (``state_columns`` partial + merge, ``state_read``). count, sum, min
    and max are the same aggregate in both; the stream merges them by
    sum, sum, min and max. The deliberate differences:
    - avg: F.avg in batch; decimal score_sum plus the non-null score_cnt
      in the stream (F.avg skips NULLs, so the read divides by score_cnt);
    - distinct: exact countDistinct in batch; in the stream an HLL sketch,
      or an exact set for transaction_type, whose domain is _TX_TYPES;
    - stamp (created_at): the batch write's wall-clock time; a stream
      view has no write to stamp, and a read-time stamp would make two
      reads of one state differ;
    - state: kept by the stream only, so state tables keep their schema.
    - derived: computed from the other columns after the aggregate."""

    name: str
    kind: str
    expr: Any = None
    state: str | None = None


class Mart(NamedTuple):
    """``groupBy(keys).agg(terms)`` over the rows ``where`` admits (None:
    all). Built by a function, since Columns need an active session."""

    keys: tuple[str, ...]
    where: Column | None
    terms: tuple[Term, ...]


def batch_column(t: Term, lookup) -> Column | None:
    """The batch aggregate of ``t``, or None for a stream-only term."""
    if t.kind == "count":
        return F.count(F.lit(1))
    if t.kind in ("sum", "min", "max"):
        return getattr(F, t.kind)(t.expr)
    if t.kind == "avg":
        return F.avg(t.expr)
    if t.kind == "distinct":
        return F.countDistinct(t.expr)
    if t.kind == "derived":
        return t.expr(lookup)
    if t.kind == "stamp":
        return F.current_timestamp()
    return None


def state_columns(t: Term) -> list[tuple[str, Column, Column]]:
    """(state column, per-batch partial, merge of partials) for ``t``."""
    n = t.name
    if t.kind in ("count", "state"):
        return [(n, F.count(F.lit(1)), F.sum(n))]
    if t.kind in ("sum", "min", "max"):
        agg = getattr(F, t.kind)
        return [(n, agg(t.expr), agg(n))]
    if t.kind == "avg":
        return [
            ("score_sum", F.sum(t.expr.cast("decimal(18,4)")), F.sum("score_sum")),
            ("score_cnt", F.count(t.expr), F.sum("score_cnt")),
        ]
    if t.kind == "distinct" and t.state == "type_set":
        return [(t.state, F.collect_set(t.expr),
                 F.array_distinct(F.flatten(F.collect_list(t.state))))]
    if t.kind == "distinct":
        return [(t.state, F.hll_sketch_agg(t.expr, F.lit(_HLL_LG_K)),
                 F.hll_union_agg(t.state))]
    return []


def state_read(t: Term, lookup) -> Column | None:
    """The mart column ``t`` reads back from its state, or None."""
    if t.kind == "avg":
        return F.col("score_sum").cast("double") / F.col("score_cnt")
    if t.kind == "distinct" and t.state == "type_set":
        return F.size(t.state).cast("bigint")
    if t.kind == "distinct":
        return F.hll_sketch_estimate(t.state)
    if t.kind == "derived":
        return t.expr(lookup)
    if t.kind in ("stamp", "state"):
        return None
    return F.col(t.name)


def select_terms(terms, form) -> list[Column]:
    """Each term's ``form`` column, aliased; a derived term looks up
    the earlier terms' columns of the same form, or a key."""
    cols: dict[str, Column] = {}
    for t in terms:
        c = form(t, lambda n: cols.get(n, F.col(n)))
        if c is not None:
            cols[t.name] = c
    return [c.alias(n) for n, c in cols.items()]


def aggregate(silver: DataFrame, mart: Mart) -> DataFrame:
    """The batch form: one groupBy over the rows the mart admits."""
    rows = silver if mart.where is None else silver.filter(mart.where)
    return rows.groupBy(*mart.keys).agg(*select_terms(mart.terms, batch_column))


def _count_if(cond: Column) -> Column:
    return F.when(cond, 1).otherwise(0)


def summary_mart() -> Mart:
    """gold_transaction_summary (gold_x12_analytics.py:443-461)."""
    ts = F.col("processing_timestamp")
    return Mart(
        ("processing_date", "transaction_type", "sender_id", "receiver_id"),
        F.col("is_valid"),
        (
            Term("transaction_count", "count"),
            Term("average_quality_score", "avg", F.col("quality_score")),
            Term("first_processed", "min", ts),
            Term("last_processed", "max", ts),
            Term("unique_interchanges", "distinct", F.col("interchange_control_number"),
                 "interchange_sketch"),
            Term("unique_files", "distinct", F.col("file_name"), "file_sketch"),
            Term("created_at", "stamp"),
        ),
    )


def partner_mart() -> Mart:
    """gold_trading_partner_analytics (gold_x12_analytics.py:600-628):
    9 per-type conditional counts per partner pair."""
    ts = F.col("processing_timestamp")
    return Mart(
        ("processing_date", "sender_id", "receiver_id"),
        F.col("is_valid"),
        (
            Term("total_transactions", "count"),
            Term("unique_transaction_types", "distinct", F.col("transaction_type"), "type_set"),
            Term("average_quality_score", "avg", F.col("quality_score")),
            *[
                Term(f"count_{t}", "sum", _count_if(F.col("transaction_type") == t))
                for t in _TX_TYPES
            ],
            Term("unique_interchanges", "distinct", F.col("interchange_control_number"),
                 "interchange_sketch"),
            Term("first_transaction", "min", ts),
            Term("last_transaction", "max", ts),
            Term("trading_partner_id", "derived",
                 lambda c: F.concat(c("sender_id"), F.lit("-"), c("receiver_id"))),
        ),
    )


def eligibility_mart() -> Mart:
    """Eligibility mart (270/271) — promised by README.md:256 but never
    built in the reference (U4 registered, never applied). Wired here."""
    tt = F.col("transaction_type")
    return Mart(
        ("processing_date", "sender_id", "receiver_id"),
        F.col("is_valid") & tt.isin("270", "271"),
        (
            Term("inquiries", "sum", _count_if(tt == "270")),
            Term("responses", "sum", _count_if(tt == "271")),
            Term("total_inquiry_items", "sum",
                 F.coalesce(F.col(f"{P}.inquiry_count"), F.lit(0))),
            Term("total_benefits", "sum", F.coalesce(F.col(f"{P}.benefit_count"), F.lit(0))),
            Term("active_coverage_count", "sum",
                 _count_if(F.coalesce(F.col(f"{P}.active_coverage"), F.lit(False)))),
            Term("average_quality_score", "avg", F.col("quality_score")),
            Term("n_rows", "state"),
        ),
    )


def quality_mart() -> Mart:
    """gold_data_quality_metrics (gold_x12_analytics.py:737-761):
    note — no is_valid filter; quality reporting covers invalid rows."""
    qs = F.col("quality_score")

    def pct(band: str):
        return lambda c: c(band) * 100.0 / c("transaction_count")

    return Mart(
        ("processing_date", "transaction_type"),
        None,
        (
            Term("transaction_count", "count"),
            Term("average_quality_score", "avg", qs),
            Term("min_quality_score", "min", qs),
            Term("max_quality_score", "max", qs),
            Term("high_quality_count", "sum", _count_if(qs >= 90)),
            Term("medium_quality_count", "sum", _count_if((qs >= 70) & (qs < 90))),
            Term("low_quality_count", "sum", _count_if(qs < 70)),
            Term("high_quality_percentage", "derived", pct("high_quality_count")),
            Term("medium_quality_percentage", "derived", pct("medium_quality_count")),
            Term("low_quality_percentage", "derived", pct("low_quality_count")),
            Term("unique_files", "distinct", F.col("file_name"), "file_sketch"),
            Term("unique_senders", "distinct", F.col("sender_id"), "sender_sketch"),
            Term("unique_receivers", "distinct", F.col("receiver_id"), "receiver_sketch"),
        ),
    )


def kpi_mart() -> Mart:
    """gold_business_kpis (gold_x12_analytics.py:773-796) with the
    :778 bug fixed: countDistinct over the concat *expression*. A global
    aggregate: no keys."""
    combo = F.concat(F.col("sender_id"), F.lit("-"), F.col("receiver_id"))
    return Mart(
        (),
        F.col("is_valid"),
        (
            Term("total_transactions", "count"),
            Term("unique_files", "distinct", F.col("file_name"), "file_sketch"),
            Term("unique_transaction_types", "distinct", F.col("transaction_type"), "type_set"),
            Term("unique_senders", "distinct", F.col("sender_id"), "sender_sketch"),
            Term("unique_receivers", "distinct", F.col("receiver_id"), "receiver_sketch"),
            Term("unique_trading_partnerships", "distinct", combo, "combo_sketch"),
            Term("average_quality_score", "avg", F.col("quality_score")),
            Term("last_processed", "max", F.col("processing_timestamp")),
        ),
    )


def transaction_summary(silver: DataFrame) -> DataFrame:
    """gold_transaction_summary (gold_x12_analytics.py:443-461)."""
    return aggregate(silver, summary_mart())


def claim_analytics(silver: DataFrame) -> DataFrame:
    """gold_healthcare_claim_analytics (gold_x12_analytics.py:477-502).

    calculated_total comes from exploding service lines — the
    distributed replacement for U1's Python loop.
    """
    base = _base(silver).filter(F.col("transaction_type") == "837")
    # per-transaction line rollup via explode (claims -> service_lines).
    # Transaction identity includes functional_group_number: ST02
    # control numbers are unique only within a GS group, so keying on
    # (file, set_control_number) alone can merge two transactions
    # (ADVICE r1).
    lines = base.select(
        *_TXN_KEYS,
        F.explode(F.col(f"{P}.claims")).alias("claim"),
    ).select(
        *_TXN_KEYS,
        F.explode_outer(F.col("claim.service_lines")).alias("line"),
    )
    calc = lines.groupBy(*_TXN_KEYS).agg(
        F.sum(F.coalesce(F.col("line.line_amount"), F.lit(0.0))).alias("calculated_total"),
        F.countDistinct("line.procedure").alias("unique_service_count"),
    )
    out = base.select(
        "processing_date",
        *_TXN_KEYS,
        "sender_id",
        "receiver_id",
        "quality_score",
        F.col(f"{P}.service_line_count").cast("int").alias("total_service_lines"),
        F.col(f"{P}.total_claim_amount").cast("double").alias("total_claim_amount"),
        F.col(f"{P}.provider.identifier").alias("provider_npi"),
    ).join(calc, list(_TXN_KEYS), "left")
    var = F.abs(F.col("total_claim_amount") - F.coalesce(F.col("calculated_total"), F.lit(0.0)))
    return (
        out.withColumn("calculated_total", F.coalesce(F.col("calculated_total"), F.lit(0.0)))
        .withColumn("unique_service_count", F.coalesce(F.col("unique_service_count"), F.lit(0)))
        .withColumn("amount_variance", var)
        .withColumn(
            "variance_percentage",
            F.when(
                F.col("calculated_total") > 0,
                var / F.col("calculated_total") * 100.0,
            ).otherwise(F.lit(0.0)),
        )
    )


def payment_analytics(silver: DataFrame) -> DataFrame:
    """gold_healthcare_payment_analytics (gold_x12_analytics.py:518-545)."""
    base = _base(silver).filter(F.col("transaction_type") == "835")
    df = base.select(
        "processing_date",
        *_TXN_KEYS,
        "sender_id",
        "receiver_id",
        F.col(f"{P}.claim_count").cast("int").alias("total_claims"),
        F.col(f"{P}.payment_amount").cast("double").alias("total_payment_amount"),
        F.col(f"{P}.total_charge_amount").cast("double").alias("total_charge_amount"),
        F.col(f"{P}.total_paid_amount").cast("double").alias("total_paid_amount"),
        F.col(f"{P}.total_patient_responsibility").cast("double").alias(
            "total_patient_responsibility"
        ),
        F.col(f"{P}.payer.name").alias("payer_name"),
        F.col(f"{P}.payer.id").alias("payer_id"),
    )
    return df.withColumn(
        "payment_variance",
        F.abs(F.col("total_payment_amount") - F.col("total_paid_amount")),
    ).withColumn(
        "payment_ratio",
        F.when(
            F.col("total_charge_amount") > 0,
            F.col("total_paid_amount") / F.col("total_charge_amount") * 100.0,
        ).otherwise(F.lit(0.0)),
    )


def enrollment_analytics(silver: DataFrame) -> DataFrame:
    """gold_healthcare_enrollment_analytics (gold_x12_analytics.py:561-588)."""
    base = _base(silver).filter(F.col("transaction_type") == "834")
    cov = (
        base.select(
            *_TXN_KEYS,
            F.explode(F.col(f"{P}.members")).alias("m"),
        )
        .select(
            *_TXN_KEYS,
            F.explode_outer(F.col("m.coverages")).alias("c"),
        )
        .groupBy(*_TXN_KEYS)
        .agg(F.countDistinct("c.coverage_type").alias("unique_coverage_types"))
    )
    df = base.select(
        "processing_date",
        *_TXN_KEYS,
        "sender_id",
        "receiver_id",
        F.col(f"{P}.member_count").cast("int").alias("total_members"),
        F.col(f"{P}.new_enrollments").cast("int").alias("new_enrollments"),
        F.col(f"{P}.terminations").cast("int").alias("terminations"),
        F.col(f"{P}.changes").cast("int").alias("changes"),
        F.col(f"{P}.sponsor.name").alias("sponsor_name"),
        F.col(f"{P}.sponsor.id").alias("sponsor_id"),
    ).join(cov, list(_TXN_KEYS), "left")
    return (
        df.withColumn("unique_coverage_types", F.coalesce(F.col("unique_coverage_types"), F.lit(0)))
        .withColumn(
            "enrollment_ratio",
            F.when(
                F.col("total_members") > 0,
                F.col("new_enrollments") * 100.0 / F.col("total_members"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "termination_ratio",
            F.when(
                F.col("total_members") > 0,
                F.col("terminations") * 100.0 / F.col("total_members"),
            ).otherwise(F.lit(0.0)),
        )
    )


def trading_partner_analytics(silver: DataFrame) -> DataFrame:
    """gold_trading_partner_analytics (gold_x12_analytics.py:600-628)."""
    return aggregate(silver, partner_mart())


def eligibility_analytics(silver: DataFrame) -> DataFrame:
    """Eligibility mart (270/271), README.md:256."""
    return aggregate(silver, eligibility_mart())


def claim_status_analytics(silver: DataFrame) -> DataFrame:
    """Claim-status mart (276/277) — promised by README.md:257, never
    built in the reference (U5 registered, never applied). Wired here.

    Grain is explicit (r4 self-review): requests AND responses are
    counted at TRANSACTION grain (one 276 = one request, one 277 = one
    response — comparable for request/response ratios), while
    ``status_responses`` counts the 277s' individual STC status lines
    and the amount sums aggregate over those lines. The old shape
    counted 276s per exploded row and responses per line, mixing
    grains in one ratio."""
    keys = ["processing_date", "sender_id", "receiver_id"]
    base = _base(silver).filter(F.col("transaction_type").isin("276", "277"))
    tx = base.groupBy(*keys).agg(
        F.sum(F.when(F.col("transaction_type") == "276", 1).otherwise(0)).alias(
            "status_requests"
        ),
        F.sum(F.when(F.col("transaction_type") == "277", 1).otherwise(0)).alias(
            "response_transactions"
        ),
    )
    st = base.filter(F.col("transaction_type") == "277").select(
        *keys, F.explode_outer(F.col(f"{P}.claim_status")).alias("s")
    )
    ln = st.groupBy(*keys).agg(
        F.sum(F.when(F.col("s").isNotNull(), 1).otherwise(0)).alias("status_responses"),
        F.sum(F.coalesce(F.col("s.charge_amount"), F.lit(0.0))).alias("total_charge_amount"),
        F.sum(F.coalesce(F.col("s.paid_amount"), F.lit(0.0))).alias("total_paid_amount"),
    )
    return tx.join(ln, keys, "left").select(
        *keys,
        "status_requests",
        "response_transactions",
        F.coalesce(F.col("status_responses"), F.lit(0)).alias("status_responses"),
        F.coalesce(F.col("total_charge_amount"), F.lit(0.0)).alias("total_charge_amount"),
        F.coalesce(F.col("total_paid_amount"), F.lit(0.0)).alias("total_paid_amount"),
    )


def preauth_request_analytics(silver: DataFrame) -> DataFrame:
    """gold_healthcare_preauth_request_analytics (gold_x12_analytics.py:644-671)."""
    base = _base(silver).filter(F.col("transaction_type") == "278")
    return base.select(
        "processing_date",
        *_TXN_KEYS,
        "sender_id",
        "receiver_id",
        F.col(f"{P}.service_count").cast("int").alias("service_count"),
        F.col(f"{P}.total_requested_amount").cast("double").alias("total_requested_amount"),
        F.col(f"{P}.um.request_category").alias("request_category"),
    )


def preauth_response_analytics(silver: DataFrame) -> DataFrame:
    """gold_healthcare_preauth_response_analytics
    (gold_x12_analytics.py:689-723): A1-A4/A6,CT,DJ/PA,PN buckets."""
    base = _base(silver).filter(F.col("transaction_type") == "279")
    df = base.select(
        "processing_date",
        *_TXN_KEYS,
        "sender_id",
        "receiver_id",
        F.col(f"{P}.review_count").cast("int").alias("review_count"),
        F.col(f"{P}.approved_count").cast("int").alias("approved_count"),
        F.col(f"{P}.denied_count").cast("int").alias("denied_count"),
        F.col(f"{P}.pending_count").cast("int").alias("pending_count"),
    )
    return df.withColumn(
        "approval_rate",
        F.when(
            F.col("review_count") > 0,
            F.col("approved_count") * 100.0 / F.col("review_count"),
        ).otherwise(F.lit(0.0)),
    ).withColumn(
        "denial_rate",
        F.when(
            F.col("review_count") > 0,
            F.col("denied_count") * 100.0 / F.col("review_count"),
        ).otherwise(F.lit(0.0)),
    )


def data_quality_metrics(silver: DataFrame) -> DataFrame:
    """gold_data_quality_metrics (gold_x12_analytics.py:737-761)."""
    return aggregate(silver, quality_mart())


def business_kpis(silver: DataFrame) -> DataFrame:
    """gold_business_kpis (gold_x12_analytics.py:773-796)."""
    return aggregate(silver, kpi_mart())


ALL_MARTS = {
    "gold_transaction_summary": transaction_summary,
    "gold_healthcare_claim_analytics": claim_analytics,
    "gold_healthcare_payment_analytics": payment_analytics,
    "gold_healthcare_enrollment_analytics": enrollment_analytics,
    "gold_trading_partner_analytics": trading_partner_analytics,
    "gold_eligibility_analytics": eligibility_analytics,
    "gold_claim_status_analytics": claim_status_analytics,
    "gold_healthcare_preauth_request_analytics": preauth_request_analytics,
    "gold_healthcare_preauth_response_analytics": preauth_response_analytics,
    "gold_data_quality_metrics": data_quality_metrics,
    "gold_business_kpis": business_kpis,
}


def build_all_marts(silver_with_parsed_df: DataFrame) -> dict[str, DataFrame]:
    """Build every mart's plan over one silver frame.

    The reference re-reads silver 9+ times (eleven .count() actions,
    SURVEY §3.1 step 4). Here the caller owns caching: persist the
    frame before writing the marts so they share one scan, and
    unpersist it after ``write_marts`` returns (``run._cmd_run``
    persists the parsed silver once for silver, gold and acks)."""
    return {name: fn(silver_with_parsed_df) for name, fn in ALL_MARTS.items()}


def _write_mart(df: DataFrame, path: str) -> None:
    writer = df.write.mode("overwrite")
    if "processing_date" in df.columns:
        writer = writer.partitionBy("processing_date")
    writer.parquet(path)


def write_marts(marts: dict[str, DataFrame], out_dir: str) -> None:
    """S7: partitioned-overwrite mart sinks
    (gold_x12_analytics.py:458-461 et al. — mode("overwrite") +
    partitionBy("processing_date")). Marts without a processing_date
    column (global KPIs) are written unpartitioned.

    The marts are independent, so every write is submitted at once on
    one thread per mart and Spark schedules their jobs side by side.
    The first failure re-raises after every write has finished."""
    with ThreadPoolExecutor(max_workers=max(1, len(marts))) as pool:
        jobs = [
            pool.submit(_write_mart, df, f"{out_dir}/{name}")
            for name, df in marts.items()
        ]
    for job in jobs:
        job.result()
