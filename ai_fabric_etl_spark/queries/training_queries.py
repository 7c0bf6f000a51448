"""Training-data pipeline query entries, part 2: temporal joins,
deterministic splits/sampling, token-budget packing.

These extend the reference's surface (SURVEY §2.3 notes its entire
join family is one left equi-join) with the operators a 100 TB
training-data pipeline needs. All hash logic is md5-prefix based so
DuckDB computes bit-identical buckets (full value oracles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators.sampling import (
    fraction_cutoff_hex,
    hash_split,
    pack_greedy_firstfit,
    pack_token_bins,
    priority_sample,
    priority_sample_sql,
    split_case_sql,
    stratified_hash_sample,
)
from ai_fabric_etl_spark.operators.temporal import asof_join, range_join
from ai_fabric_etl_spark.operators.timeutil import ts_micros
from ai_fabric_etl_spark.queries.catalog import _t, register

_N_TOKENS = "len(string_split_regex(trim(text), '\\s+'))"


@register(
    "asof_click_before_purchase",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.click_ts,
           epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
)
def asof_click_before_purchase(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    prior click (union + one window pass — single shuffle on user_id,
    no range cross-product). Oracle: DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, by=["user_id"], right_cols=[])
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("matched_ts").alias("click_ts"),
        (ts_micros("ts") - ts_micros("matched_ts")).alias("gap_us"),
    )


@register(
    "range_recent_activity",
    oracle="""
    SELECT e.event_id, e.user_id,
           CAST(SUM(CASE WHEN r.event_id <> e.event_id THEN 1 ELSE 0 END) AS BIGINT) AS n_recent
    FROM events e
    JOIN events r
      ON e.user_id = r.user_id
     AND r.ts BETWEEN e.ts - INTERVAL 600 SECOND AND e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id
    """,
)
def range_recent_activity(spark, sf_dir):
    """Range join: per error event, how many same-user events landed
    in the preceding 10 minutes. Bucketed equi-join + exact interval
    filter replaces the nested-loop inequality join Spark would
    otherwise pick. Every error self-matches (its own ts is in its
    window) so inner join semantics lose no groups."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    activity = ev.select(
        "user_id",
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    pairs = range_join(
        errors, activity, by=["user_id"], left_ts="ts", right_ts="r_ts",
        before_seconds=600.0,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.sum(
            F.when(F.col("r_event_id") != F.col("event_id"), 1).otherwise(0)
        ).alias("n_recent")
    )


@register(
    "sample_hash_split",
    oracle=f"""
    SELECT {split_case_sql('doc_id')} AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM documents
    GROUP BY 1, 2
    """,
)
def sample_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (80/10/10 by md5 of doc_id):
    pure projection, no shuffle, stable when the corpus grows — a doc
    can never migrate between splits across refreshes."""
    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, key="doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )


_STRATA = {"en": 0.5, "de": 1.0, "fr": 0.25}
_STRATA_DEFAULT = 0.1


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || '-sample'), 1, 8) <
          CASE {' '.join(f"WHEN lang = '{v}' THEN '{fraction_cutoff_hex(p)}'"
                         for v, p in _STRATA.items())}
               ELSE '{fraction_cutoff_hex(_STRATA_DEFAULT)}' END
    """,
)
def sample_stratified(spark, sf_dir):
    """Hash-stratified sampling (training-mix rebalancing): keep 50%
    of en, all of de, 25% of fr, 10% of everything else — exact
    row-level oracle, so the kept set matches DuckDB doc-for-doc."""
    docs = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, strata_col="lang", fractions=_STRATA, key="doc_id",
        default_fraction=_STRATA_DEFAULT,
    ).select("doc_id", "lang")


@register(
    "pack_token_bins",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_N_TOKENS} AS n_tokens FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2000.0) AS BIGINT) AS bin_id
    FROM t
    """,
)
def pack_token_bins_q(spark, sf_dir):
    """Token-budget binning for sequence packing: per language, docs
    ordered by doc_id fill contiguous 2000-token bins (one window
    shuffle; bins close once full, docs straddle boundaries)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_token_bins(
        docs, tokens_col="n_tokens", budget=2000, by=["lang"], order_col="doc_id"
    )


@register("pack_greedy_firstfit")
def pack_greedy_firstfit_q(spark, sf_dir):
    """Strict first-fit greedy packing (no bin exceeds the budget):
    sequential within a language → applyInPandas per stratum (sharded
    at max_group_rows). Bin ids are not SQL-expressible without
    recursion, so rows-only here; exactness is asserted against a
    pure-Python reference in tests and the packing INVARIANTS are
    driver-gated by pack_firstfit_invariants."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_greedy_firstfit(
        docs, tokens_col="n_tokens", budget=2000, by=["lang"], order_col="doc_id"
    )


@register(
    "pack_firstfit_invariants",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, TRUE AS bins_within_budget
    FROM documents
    GROUP BY lang
    """,
)
def pack_firstfit_invariants_q(spark, sf_dir):
    """Driver-gated invariants of the greedy packer: every document
    lands in exactly one bin (per-language counts match the corpus)
    and no multi-document bin exceeds the 2000-token budget (a row
    larger than the budget legitimately sits alone). An algorithm
    regression breaks either the counts or the boolean."""
    packed = pack_greedy_firstfit_q(spark, sf_dir)
    bins = packed.groupBy("lang", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("bin_docs"),
    )
    return bins.groupBy("lang").agg(
        F.sum("bin_docs").alias("n_docs"),
        F.every(
            (F.col("bin_tokens") <= 2000) | (F.col("bin_docs") == 1)
        ).alias("bins_within_budget"),
    )


@register(
    "sample_global_shuffle",
    oracle="""
    SELECT doc_id, source,
           ROW_NUMBER() OVER (ORDER BY md5('shuffle' || CAST(doc_id AS VARCHAR)))
             AS shuffle_pos
    FROM documents
    """,
)
def q_sample_global_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle: total order by salted md5,
    1-based position — per-epoch reshuffles via the salt, identical
    permutation on replay. Range-partitioned sort + broadcast offset
    join: no single-task bottleneck at any corpus size."""
    from ai_fabric_etl_spark.operators.sampling import global_shuffle

    return global_shuffle(
        _t(spark, sf_dir, "documents").select("doc_id", "source"), key="doc_id"
    )


@register(
    "variant_props_profile",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS n_with_k,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_max,
           CAST(COUNT(CASE WHEN props IS NOT NULL
                            AND CAST(props ->> '$.k' AS BIGINT) IS NULL
                           THEN 1 END) AS BIGINT) AS k_missing
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_props_profile(spark, sf_dir):
    """Semi-structured payloads via Spark 4 VARIANT: parse the
    open-schema ``props`` JSON ONCE into the binary field-indexed
    encoding (try_parse_json), then every field access is a typed
    variant_get — no re-tokenizing per consumer, and parquet
    shredding can push extraction into the scan at 100 TB. The
    reference re-parses its JSON payload strings in every mart
    (gold_x12_analytics.py json-decodes parsed_data per query);
    this is the engine-level fix for payloads too open for a struct.
    """
    from ai_fabric_etl_spark.operators.semistructured import vfield, with_variant

    ev = with_variant(_t(spark, sf_dir, "events"), "props")
    k = vfield("_variant", "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"), F.col("props"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count(
                F.when(F.col("props").isNotNull() & F.col("k").isNull(), 1)
            ).alias("k_missing"),
        )
    )


_PRIO_K = 7
_PRIO_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
QUALIFY {priority_sample_sql("doc_id", _PRIO_K, ["lang", "source"], salt="prio")}
"""


@register("sample_priority_bottomk", oracle=_PRIO_ORACLE)
def q_sample_priority_bottomk(spark, sf_dir):
    """Exact-size deterministic per-group sampling: bottom-k hash
    priorities per (lang, source) — the mergeable bottom-k sample.
    Unlike fraction sampling this yields EXACTLY min(k, group size)
    rows per group, reproducibly, independent of partitioning; the
    prereduce path bounds the shuffle at k rows per (group, input
    partition), so the sample of a 100 TB corpus moves megabytes.
    The oracle replays the identical md5 priorities with one QUALIFY
    window."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return priority_sample(
        docs, key="doc_id", k=_PRIO_K, by=["lang", "source"], salt="prio"
    )


from ai_fabric_etl_spark.operators.sampling import (  # noqa: E402
    weighted_priority_sample,
    weighted_priority_sample_sql,
)

_WPRIO_K = 9
_WPRIO_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE n_chars IS NOT NULL AND n_chars > 0
QUALIFY {weighted_priority_sample_sql(
    "doc_id", "CAST(n_chars AS DOUBLE)", _WPRIO_K, ["lang"], salt="wprio")}
"""


@register("sample_weighted_priority", oracle=_WPRIO_ORACLE)
def q_sample_weighted_priority(spark, sf_dir):
    """Weighted sampling without replacement, length-biased: per
    language, 9 documents drawn with probability proportional to
    n_chars via the deterministic exponential race — the sampler
    behind importance-weighted training mixes. The oracle replays the
    identical md5→uniform→−ln(u)/w priorities in SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_priority_sample(
        docs, key="doc_id", weight_col="n_chars", k=_WPRIO_K, by=["lang"],
        salt="wprio",
    )


_KFOLD_ORACLE = """
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-kfold'), 1, 8))::BIGINT
         % 5 AS fold,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM documents
GROUP BY 1, 2
"""


@register("sample_kfold", oracle=_KFOLD_ORACLE)
def q_sample_kfold(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment: fold =
    md5-derived uniform mod k — every document keeps its fold across
    runs, engines, and corpus growth (the same stability contract as
    hash_split). Pure projection, no shuffle beyond the audit
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit("-kfold")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    return (
        docs.withColumn("fold", fold)
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )


_GROUP_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT user_id, event_type,
         {split_case_sql('user_id', salt='gsplit')} AS split
  FROM events
)
SELECT split, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM assigned
GROUP BY 1, 2
"""


@register("sample_group_split", oracle=_GROUP_SPLIT_ORACLE)
def q_sample_group_split(spark, sf_dir):
    """LEAKAGE-SAFE splitting: the split key is the GROUP (user), not
    the row — every event of a user lands in the same split, so
    train/test never share a user's behavior (the contamination mode
    row-level splitting silently causes). Same md5 thresholds as
    hash_split, keyed on user_id; the invariant 'no user spans
    splits' is pytest-asserted, the distribution here is
    value-oracled."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return (
        hash_split(ev, key="user_id", salt="gsplit")
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_MIX_TARGET = 60
_MIX_ORACLE = f"""
WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
wts AS (SELECT source, n, CAST(CEIL(SQRT(n)) AS BIGINT) AS w FROM counts),
tot AS (SELECT SUM(w) AS tw FROM wts),
quota AS (
  SELECT source, n, w, LEAST(n, (CAST({_MIX_TARGET} AS BIGINT) * w) // tw) AS q
  FROM wts CROSS JOIN tot
)
SELECT d.doc_id, d.source, d.lang, d.n_chars
FROM documents d JOIN quota ON d.source IS NOT DISTINCT FROM quota.source
QUALIFY row_number() OVER (
    PARTITION BY COALESCE(d.source, '__NULL_SOURCE__')
    ORDER BY md5(COALESCE(CAST(doc_id AS VARCHAR), '__NULL__') || '-mix'),
             doc_id) <= q
"""


@register("sample_temperature_mixture", oracle=_MIX_ORACLE)
def q_sample_temperature_mixture(spark, sf_dir):
    """Temperature-flattened source mixture (the multilingual-LLM
    pretraining recipe, p_s ∝ n_s^0.5): per-source quotas from
    EXACT integer arithmetic (w = ceil(sqrt(n)), quota = target*w div
    Σw — no float share crosses a rounding boundary), winners by
    growth-stable md5 bottom-k within each source. The oracle replays
    quota computation and priorities relationally."""
    from ai_fabric_etl_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return temperature_mixture_sample(
        docs, by="source", key="doc_id", target=_MIX_TARGET, salt="mix"
    ).select("doc_id", "source", "lang", "n_chars")


_PURGE_DAYS = 30
_PURGED_ORACLE = f"""
WITH folds AS (
  SELECT o_orderkey, o_orderdate,
         CASE WHEN o_orderdate < DATE '1997-01-01' THEN 0
              WHEN o_orderdate < DATE '1999-01-01' THEN 1
              ELSE 2 END AS fold
  FROM orders
),
purged AS (
  SELECT *,
         (ABS(date_diff('day', o_orderdate, DATE '1997-01-01'))
            < {_PURGE_DAYS}
          OR ABS(date_diff('day', o_orderdate, DATE '1999-01-01'))
            < {_PURGE_DAYS}) AS embargoed
  FROM folds
)
SELECT fold,
       CAST(SUM(CASE WHEN embargoed THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN embargoed THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       MIN(CASE WHEN NOT embargoed THEN o_orderdate END) AS first_kept,
       MAX(CASE WHEN NOT embargoed THEN o_orderdate END) AS last_kept
FROM purged
GROUP BY fold
"""


@register("sample_purged_time_split", oracle=_PURGED_ORACLE)
def q_sample_purged_time_split(spark, sf_dir):
    """Purged (embargoed) time-series split — the leakage-safe
    temporal CV scheme from financial ML (López de Prado): folds cut
    at fixed dates, and every row within ±30 days of a boundary is
    PURGED so nearby-in-time rows can never sit in both a train and a
    validation fold (label/feature windows straddling the cut are the
    classic temporal leak that hash/group splits don't protect
    against). Pure date arithmetic on the scan — no shuffle beyond
    the audit aggregate."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    b1, b2 = F.lit("1997-01-01").cast("date"), F.lit("1999-01-01").cast("date")
    fold = (
        F.when(F.col("o_orderdate") < b1, 0)
        .when(F.col("o_orderdate") < b2, 1)
        .otherwise(2)
    )
    embargoed = (
        F.abs(F.datediff(F.col("o_orderdate"), b1)) < _PURGE_DAYS
    ) | (F.abs(F.datediff(F.col("o_orderdate"), b2)) < _PURGE_DAYS)
    return (
        orders.withColumn("fold", fold)
        .withColumn("embargoed", embargoed)
        .groupBy("fold")
        .agg(
            F.sum(F.when(F.col("embargoed"), 0).otherwise(1))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("embargoed"), 1).otherwise(0))
            .cast("long")
            .alias("n_purged"),
            F.min(F.when(~F.col("embargoed"), F.col("o_orderdate"))).alias(
                "first_kept"
            ),
            F.max(F.when(~F.col("embargoed"), F.col("o_orderdate"))).alias(
                "last_kept"
            ),
        )
    )


_NEG_K = 3
_NEG_ORACLE = f"""
WITH ring AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '-ring'), doc_id
         ) AS pos,
         COUNT(*) OVER () AS n
  FROM documents
),
anchors AS (
  SELECT r.doc_id AS anchor_id, r.pos, r.n, j.j
  FROM ring r CROSS JOIN (
    SELECT unnest(generate_series(1, {_NEG_K})) AS j
  ) j
)
SELECT a.anchor_id, CAST(a.j AS INT) AS neg_rank, t.doc_id AS negative_id
FROM anchors a
JOIN ring t
  ON t.pos = 1 + ((a.pos - 1 + a.j * (a.n // ({_NEG_K} + 1))) % a.n)
WHERE t.doc_id <> a.anchor_id
"""


@register("contrastive_negatives", oracle=_NEG_ORACLE)
def q_contrastive_negatives(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: every
    document is placed on a hash ring (md5 order — a reproducible
    pseudo-random permutation), and each anchor's k negatives are the
    documents at fixed strides around the ring. Uniform-ish, collision
    -free by construction, and growth-stable in distribution — with
    ZERO per-pair randomness to store. The plan is the distributed
    ring ranking (ranking.global_row_number, no one-task window) plus
    k equi-joins on ring position — never an n×n candidate space.
    Self-pairs (possible only when n <= k·stride wraps) are filtered
    identically on both sides."""
    from ai_fabric_etl_spark.operators.ranking import global_row_number

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("-ring")))
    ring = global_row_number(
        docs.withColumn("_h", h), [F.col("_h"), F.col("doc_id")], "pos"
    ).drop("_h")
    n = ring.agg(F.count(F.lit(1)).alias("n"))
    anchors = (
        ring.crossJoin(F.broadcast(n))
        .withColumn(
            "j", F.explode(F.sequence(F.lit(1), F.lit(_NEG_K)))
        )
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("j").cast("int").alias("neg_rank"),
            (
                F.lit(1)
                + F.pmod(
                    F.col("pos")
                    - 1
                    + F.col("j") * F.expr(f"n div ({_NEG_K} + 1)"),
                    F.col("n"),
                )
            ).alias("_tpos"),
        )
    )
    targets = ring.select(
        F.col("pos").alias("_tpos"), F.col("doc_id").alias("negative_id")
    )
    return (
        anchors.join(targets, "_tpos")
        .filter(F.col("negative_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_rank", "negative_id")
    )


_TENC_M = 10  # smoothing pseudo-count
_TENC_ORACLE = f"""
WITH base AS (
  SELECT o_orderpriority AS cat,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-kfold'), 1, 8))
           ::BIGINT % 5 AS fold,
         CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders
),
cell AS (
  SELECT cat, fold, COUNT(*) AS n_cf, SUM(y) AS s_cf
  FROM base GROUP BY cat, fold
),
cat_tot AS (
  SELECT cat, SUM(n_cf) AS n_c, SUM(s_cf) AS s_c FROM cell GROUP BY cat
),
prior AS (
  SELECT ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS p FROM base
)
SELECT c.cat AS category, CAST(c.fold AS INT) AS fold,
       CAST(c.n_cf AS BIGINT) AS n_in_fold,
       CAST(t.n_c - c.n_cf AS BIGINT) AS n_out_of_fold,
       ROUND((CAST(t.s_c - c.s_cf AS DOUBLE) + {_TENC_M} * pr.p)
             / (t.n_c - c.n_cf + {_TENC_M}), 6) AS encoding
FROM cell c JOIN cat_tot t USING (cat) CROSS JOIN prior pr
"""


@register("feature_target_encoding", oracle=_TENC_ORACLE)
def q_feature_target_encoding(spark, sf_dir):
    """Leakage-safe K-fold target encoding — the categorical feature
    trick (mean of the target per category) done WITHOUT letting a
    row see its own fold's labels: each (category, fold) cell's
    encoding averages only OUT-of-fold rows, smoothed toward the
    global prior with m=10 pseudo-counts so rare categories
    shrink to the prior instead of memorizing noise.

    Determinism: fold = the kfold md5 assignment; per-cell sums are
    exact DECIMAL(18,2); the prior is pinned to 6 dp BEFORE entering
    the smoothing formula, whose remaining ops are one multiply, two
    adds, one division — identical IEEE sequences on both engines,
    rounded at 6 dp. Scale: two aggregates (cell grain = categories ×
    folds — tiny); the per-row application is a broadcast join of
    this output against the scan."""
    orders = _t(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"), F.lit("-kfold")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 5
    )
    base = orders.select(
        F.col("o_orderpriority").alias("cat"),
        fold.alias("fold"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    cell = base.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).alias("n_cf"), F.sum("y").alias("s_cf")
    )
    cat_tot = cell.groupBy("cat").agg(
        F.sum("n_cf").alias("n_c"), F.sum("s_cf").alias("s_c")
    )
    prior = base.agg(
        F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias("p")
    )
    return (
        cell.join(cat_tot, "cat")
        .crossJoin(F.broadcast(prior))
        .select(
            F.col("cat").alias("category"),
            F.col("fold").cast("int").alias("fold"),
            F.col("n_cf").cast("long").alias("n_in_fold"),
            (F.col("n_c") - F.col("n_cf")).cast("long").alias("n_out_of_fold"),
            F.round(
                (
                    (F.col("s_c") - F.col("s_cf")).cast("double")
                    + F.lit(_TENC_M) * F.col("p")
                )
                / (F.col("n_c") - F.col("n_cf") + F.lit(_TENC_M)),
                6,
            ).alias("encoding"),
        )
    )


_DSIR_B = 4096

_DSIR_ORACLE = f"""
WITH base AS (
  SELECT doc_id, (source = 'src1') AS tgt,
         string_split_regex(trim(text), '\\s+') AS t,
         len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents
),
idx AS (SELECT doc_id, tgt, unnest(generate_series(1, n - 1)) AS i, t
        FROM base WHERE n >= 2),
grams AS (
  SELECT doc_id, tgt,
         ('0x' || substr(md5(t[i] || ' ' || t[i + 1]), 1, 15))::BIGINT
             % {_DSIR_B} AS b
  FROM idx
),
model AS (
  SELECT b,
         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
  FROM grams GROUP BY 1
),
tot AS (
  SELECT SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS nt,
         SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS nr
  FROM grams
),
rawc AS (SELECT doc_id, b, COUNT(*) AS m
         FROM grams WHERE NOT tgt GROUP BY 1, 2),
hit AS (
  SELECT rawc.doc_id,
         CAST(SUM(rawc.m * (CAST(ROUND(ln(model.ct + 1), 6) AS DECIMAL(18,6))
                            - CAST(ROUND(ln(model.cr + 1), 6) AS DECIMAL(18,6))))
              AS DECIMAL(38,6)) AS hs
  FROM rawc JOIN model USING (b) GROUP BY 1
),
sc AS (
  SELECT base.doc_id,
         GREATEST(n - 1, 0) AS n_bigrams,
         CAST((COALESCE(hit.hs, CAST(0 AS DECIMAL(38,6)))
               - GREATEST(n - 1, 0)
                 * (CAST(ROUND(ln(tot.nt + {_DSIR_B}), 6) AS DECIMAL(18,6))
                    - CAST(ROUND(ln(tot.nr + {_DSIR_B}), 6) AS DECIMAL(18,6))))
              * 1000000 AS BIGINT) AS logratio_micro
  FROM base CROSS JOIN tot LEFT JOIN hit USING (doc_id)
  WHERE NOT tgt
)
SELECT * FROM sc ORDER BY logratio_micro DESC, doc_id LIMIT 100
"""


@register("sample_dsir_topk", oracle=_DSIR_ORACLE)
def sample_dsir_topk(spark, sf_dir):
    """DSIR data selection (sampling.dsir_select_topk, Xie et al.
    NeurIPS 2023): the 100 non-src1 documents whose hashed-bigram bags
    look most like the src1 "target domain" under the importance
    ratio of two add-one-smoothed bag models — the domain-targeted
    crawl-selection step of modern pretraining pipelines.

    The model table is bounded at 4096 rows BY CONSTRUCTION (hash
    buckets are the key), so scoring the raw corpus is one broadcast
    join + per-doc fold: at 100 TB the selection is a single map-side
    pass over the crawl. md5 buckets and quantized-ln DECIMAL
    arithmetic make DuckDB replay the exact integer micro-nat scores;
    ranking behavior is pinned by the planted-corpus pytest."""
    from ai_fabric_etl_spark.operators.sampling import dsir_select_topk

    return dsir_select_topk(
        _t(spark, sf_dir, "documents"),
        is_target=F.col("source") == "src1",
        k=100,
        n_buckets=_DSIR_B,
    )


_TOKBUDGET = {"src3": 900, "src7": 500, "src11": 1200, "src16": 700}
_TOKBUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         md5(COALESCE(CAST(doc_id AS VARCHAR), '__NULL__')
             || '-tokbudget') AS pr
  FROM documents
  WHERE source IN ('src3', 'src7', 'src11', 'src16')
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY pr, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c
WHERE cum_tokens <= CASE source
    WHEN 'src3' THEN 900 WHEN 'src7' THEN 500
    WHEN 'src11' THEN 1200 WHEN 'src16' THEN 700 END
"""


@register("sample_token_budget", oracle=_TOKBUDGET_ORACLE)
def q_sample_token_budget(spark, sf_dir):
    """Per-domain TOKEN-budget cut (the unit a pretraining mix is
    actually specified in — "N tokens of domain X", not N documents):
    deterministic md5-priority prefix per domain whose inclusive
    cumulative token count fits the budget. The engine computes the
    global running sum as a DISTRIBUTED prefix sum (per-(domain,
    md5-prefix-bucket) sums rolled up on the driver into bucket
    offsets + a 256-way-parallel in-bucket window) — never a one-task
    per-domain window; the oracle replays the identical total order
    (the bucket is a PREFIX of the priority, so ordering by priority
    alone is the same order) with a plain SQL window."""
    from ai_fabric_etl_spark.operators.sampling import sample_token_budget

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return sample_token_budget(docs, _TOKBUDGET)
