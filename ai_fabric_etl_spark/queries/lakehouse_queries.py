"""Lakehouse-semantics contract queries: MERGE / DELETE / sink
round-trips made driver-visible with full DuckDB value oracles.

The reference upserts running aggregates through Postgres ``ON
CONFLICT DO UPDATE`` (local-development/process_test_data.py:112-148)
and reads/writes lakehouse tables (generate_x12_acknowledgments.py:61);
this engine's stand-in is :class:`ParquetMergeTable` (versioned parquet
+ atomically swapped pointer). These entries prove the MERGE semantics
— update-on-match, insert-on-miss, matched-delete, and the partitioned
sink write path — against an independent SQL oracle, not just pytest.

Each query materializes into a fresh per-process temp dir, so driver
re-runs are idempotent.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
from ai_fabric_etl_spark.queries.catalog import _t, register

_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_custkey
  FROM orders WHERE o_orderkey % 4 <> 3
),
src AS (
  SELECT o_orderkey,
         'U' AS o_orderstatus,
         o_custkey + 1000000 AS o_custkey,
         ((o_custkey + 1000000) % 10 = 7) AS tomb
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(b.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE b.o_orderstatus END AS o_orderstatus,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
            ELSE b.o_custkey END AS o_custkey
FROM base b FULL OUTER JOIN src s ON b.o_orderkey = s.o_orderkey
WHERE NOT (b.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND s.tomb)
"""


@register("lakehouse_merge_orders", oracle=_MERGE_ORACLE)
def lakehouse_merge_orders(spark, sf_dir):
    """MERGE INTO semantics end-to-end through the versioned table:
    update-on-match, insert-on-miss, WHEN MATCHED AND tomb THEN DELETE
    — the oracle replays the same merge as one relational expression.

    Replaces the reference's row-at-a-time ON CONFLICT DO UPDATE loop
    (process_test_data.py:112-148) with one key-partitioned full-outer
    join; at 100 TB the join touches only affected partitions when the
    table is partitioned by the merge key (Delta file pruning does the
    same automatically)."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 != 3).select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    src = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
    )
    t = ParquetMergeTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakehouse_merge_"), "t")
    )
    t.overwrite(base)
    t.merge(src, keys=["o_orderkey"], delete_condition="o_custkey % 10 = 7")
    return t.read()


_SINK_ORACLE = """
SELECT o_orderstatus,
       CAST(strftime(o_orderdate, '%Y') AS INTEGER) AS order_year,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
WHERE CAST(strftime(o_orderdate, '%Y') AS INTEGER) = 1995
GROUP BY o_orderstatus, order_year
"""


@register("sink_partitioned_roundtrip", oracle=_SINK_ORACLE)
def sink_partitioned_roundtrip(spark, sf_dir):
    """Partitioned-sink round trip (SURVEY S6/S7): write orders
    partitioned by (o_orderstatus, order_year) — the reference's
    year/month/day landing layout, silver_x12_parsing.py:1450 — then
    read the directory back with a partition filter and aggregate.
    The read's partition pruning is what makes the sink layout matter
    at 100 TB: the 1995 filter must scan only 1995 directories (plan
    asserted in test_plans; here the VALUES prove write→read
    fidelity)."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_roundtrip_"), "orders_part")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy(
        "o_orderstatus", "order_year"
    ).parquet(out)
    back = spark.read.parquet(out).filter(F.col("order_year") == 1995)
    return back.groupBy("o_orderstatus", "order_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


_CSV_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM lineitem
WHERE l_orderkey % 10 = 0
GROUP BY l_returnflag
"""


@register("source_csv_roundtrip", oracle=_CSV_ORACLE)
def source_csv_roundtrip(spark, sf_dir):
    """CSV connector round trip (SURVEY §2.1 format breadth): write a
    lineitem slice as headered CSV, read it back with an EXPLICIT
    schema (schema inference is a full extra pass at 100 TB — never in
    production paths), aggregate, and match the oracle computed over
    the original parquet. Proves the text codec loses nothing on
    longs/doubles/strings."""
    out = os.path.join(tempfile.mkdtemp(prefix="csv_rt_"), "lineitem_csv")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    li.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema(
            "l_orderkey long, l_returnflag string, l_quantity double, "
            "l_extendedprice double"
        )
        .option("header", True)
        .csv(out)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


_JSONL_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events
WHERE event_id % 7 = 0
GROUP BY event_type
"""


@register("source_jsonl_roundtrip", oracle=_JSONL_ORACLE)
def source_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines connector round trip + semi-structured access: write
    an events slice as JSONL, read back with explicit schema, and pull
    a field out of the nested JSON props string (get_json_object) —
    the common landing format for event streams."""
    from ai_fabric_etl_spark.queries.catalog import load_events

    out = os.path.join(tempfile.mkdtemp(prefix="jsonl_rt_"), "events_jsonl")
    ev = load_events(spark, sf_dir).filter(F.col("event_id") % 7 == 0).select(
        "event_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, event_type string, value double, props string"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_value"),
        F.sum(
            F.get_json_object("props", "$.k").cast("long")
        ).alias("k_sum"),
    )


_ORC_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@register("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark, sf_dir):
    """ORC connector round trip: columnar-to-columnar fidelity plus
    predicate-pushdown-capable storage as the second lakehouse file
    format Spark ships natively."""
    out = os.path.join(tempfile.mkdtemp(prefix="orc_rt_"), "orders_orc")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


_SQLITE_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
       COUNT(DISTINCT o_custkey) AS n_customers,
       MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_order_date
FROM orders
WHERE o_totalprice > 50000
GROUP BY o_orderstatus
"""


@register("source_sqlite_roundtrip", oracle=_SQLITE_ORACLE)
def source_sqlite_roundtrip(spark, sf_dir):
    """REAL-database connector round trip (SURVEY S13): bulk-write
    orders into a SQLite database through the two-phase-commit sqlite
    sink, read it back as a JDBC-style range-partitioned scan (4 rowid
    partitions) with the o_totalprice predicate pushed down INTO the
    database, and aggregate — values verified against DuckDB over the
    original parquet. The reference runs this edge against Postgres
    over JDBC (local-development/process_test_data.py:53-153); the
    source semantics here (partition planning, predicate pushdown,
    exact logical-type restoration for decimals/dates/timestamps) are
    the same, only the DB-API driver differs because the sandbox ships
    no JDBC jar (sources/sqlite_datasource.py)."""
    from ai_fabric_etl_spark.sources import sqlite_datasource

    sqlite_datasource.register(spark)
    db = os.path.join(tempfile.mkdtemp(prefix="sqlite_rt_"), "edge.db")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )
    orders.write.format("sqlite").option("dbpath", db).option(
        "dbtable", "orders"
    ).mode("overwrite").save()
    back = (
        spark.read.format("sqlite")
        .option("dbpath", db)
        .option("dbtable", "orders")
        .option("numpartitions", "4")
        .load()
        .filter(F.col("o_totalprice") > 50000.0)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias(
            "first_order_date"
        ),
    )


# ---------------------------------------------------------------------------
# 100 TB read-path extensions: mergeable HLL sketch rollups and
# Z-order (Morton) clustering
# ---------------------------------------------------------------------------


@register(
    "sketch_distinct_rollup",
    oracle="""
    SELECT COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS estimate_within_5pct
    FROM events
    """,
)
def sketch_distinct_rollup(spark, sf_dir):
    """Mergeable-sketch distinct count (operators/sketches.py): one
    HLL partial per day, merged day -> week (sketch_merge keeps the
    mergeable sketch) -> global estimate WITHOUT re-reading base data
    — the only distinct-count pattern that holds at 100 TB (the exact
    twin here is the test gate, not the prod plan). The two-level
    chain is deliberate: it drives the day→week→total rollup path the
    API promises. Driver contract: the DataSketches estimate must
    land within 5% of exact (lg_k=12 ≈ 1.6% RSE)."""
    from ai_fabric_etl_spark.operators.sketches import (
        relative_error_ok,
        sketch_merge,
        sketch_partials,
        sketch_rollup,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    partials = sketch_partials(ev, key="user_id", by=["day"], lg_k=12)
    weekly = sketch_merge(
        partials.withColumn("week", F.weekofyear("day")), by=["week"]
    )
    total = sketch_rollup(weekly, by=[])
    exact = ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return exact.crossJoin(total).select(
        "n_events",
        "exact_users",
        relative_error_ok(
            F.col("distinct_estimate"), F.col("exact_users"), 0.05
        ).alias("estimate_within_5pct"),
    )


_PROFILE_COLS = [
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
    "o_custkey",
    "o_totalprice",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM (SELECT * REPLACE (CAST(o_totalprice AS DECIMAL(15,2)) AS o_totalprice)
          FROM orders) _p
    """
    for c in _PROFILE_COLS
)


@register("profile_orders", oracle=_PROFILE_ORACLE)
def profile_orders(spark, sf_dir):
    """Single-pass column profiler (operators/profile.py): per-column
    null/distinct/min/max in ONE agg over a pruned scan — the
    source-admission statistics pass generalizing the reference's
    fixed-column data-quality mart (gold_x12_analytics.py:773-787).
    Exact countDistinct here (oracle-matched); ``approx=True`` is the
    one-traversal HLL path for 100 TB (error-bound pytest-gated).
    o_totalprice rides as DECIMAL(15,2) so both engines render the
    same min/max strings."""
    from ai_fabric_etl_spark.operators.profile import profile_columns

    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(15,2)").alias("o_totalprice"),
    )
    return profile_columns(o)


_SCD2_ORACLE = """
WITH v AS (
  SELECT c_custkey, c_mktsegment, TIMESTAMP '2024-01-01 00:00:00' AS ts
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_A', TIMESTAMP '2024-02-01 00:00:00'
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey,
         (CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_A'
               ELSE c_mktsegment END) || '_B',
         TIMESTAMP '2024-03-01 00:00:00'
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT c_custkey, c_mktsegment,
       ts AS effective_from,
       LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS effective_to,
       LEAD(ts) OVER (PARTITION BY c_custkey ORDER BY ts) IS NULL AS is_current
FROM v
"""


@register("scd2_customer_history", oracle=_SCD2_ORACLE)
def scd2_customer_history(spark, sf_dir):
    """SCD type-2 dimension history (operators/scd.py): three update
    batches replayed through ``scd2_apply`` on the versioned table —
    initial load, a segment change for keys %3, a second change for
    keys %5 (some keys change twice, closing two versions). The final
    history must equal the window-SQL reconstruction: effective_to =
    LEAD(effective_from) per key, open row is current. Change
    suppression, as-of snapshots, and no-op batches are pytest-gated
    (tests/test_scd.py)."""
    from ai_fabric_etl_spark.operators.scd import scd2_apply

    t = ParquetMergeTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="scd2_"), "dim")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def at(ts: str):
        return F.lit(ts).cast("timestamp")

    scd2_apply(
        t,
        c.withColumn("effective_from", at("2024-01-01 00:00:00")),
        ["c_custkey"],
        ["c_mktsegment"],
    )
    u1 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit("_A")).alias("c_mktsegment"),
        )
        .withColumn("effective_from", at("2024-02-01 00:00:00"))
    )
    scd2_apply(t, u1, ["c_custkey"], ["c_mktsegment"])
    u2 = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            F.concat(
                F.when(
                    F.col("c_custkey") % 3 == 0,
                    F.concat(F.col("c_mktsegment"), F.lit("_A")),
                ).otherwise(F.col("c_mktsegment")),
                F.lit("_B"),
            ).alias("c_mktsegment"),
        )
        .withColumn("effective_from", at("2024-03-01 00:00:00"))
    )
    scd2_apply(t, u2, ["c_custkey"], ["c_mktsegment"])
    return t.read()


@register(
    "heavy_hitters_langs",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS hh_count FROM documents GROUP BY lang),
         t AS (SELECT COUNT(lang) AS n FROM documents)
    SELECT lang, hh_count, ROUND(hh_count / n, 6) AS hh_share
    FROM c, t
    WHERE hh_count >= (0.1 - 1.0 / 33) * n
    ORDER BY hh_count DESC, lang
    """,
)
def heavy_hitters_langs(spark, sf_dir):
    """Distributed Misra–Gries heavy hitters (operators/sketches.py):
    per-partition frequency summaries with O(k) memory and at most k
    output rows per partition, merged by summation — the shuffle never
    carries per-value rows, so the pattern holds when
    ``groupBy(col).count()`` itself (one shuffled row per distinct
    value) is the bottleneck at 100 TB.

    Driver contract exploits the MG exactness guarantee: with at most
    k distinct values no compression ever fires, so over the 5-value
    ``lang`` column the summary equals the exact GROUP BY — DuckDB
    computes it directly. The compression regime (cardinality ≫ k:
    lower-bound counts, total undercount ≤ n/(k+1), guaranteed recall
    of every value above that band) is pytest-gated in
    test_scale_ops.py."""
    from ai_fabric_etl_spark.operators.sketches import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "documents"), "lang", min_share=0.1, k=32
    )


_CMS_W, _CMS_D = 256, 4

_CMS_ORACLE = f"""
WITH v AS (
  SELECT user_id, CAST(user_id AS VARCHAR) AS s, COUNT(*) AS exact_count
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
pos AS (
  SELECT v.user_id, v.exact_count, t.i AS cms_row,
         ('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || v.s), 1, 15))::BIGINT
             % {_CMS_W} AS cms_bucket
  FROM v CROSS JOIN (SELECT i FROM range({_CMS_D}) t(i)) t
),
cms AS (
  SELECT cms_row, cms_bucket, CAST(SUM(exact_count) AS BIGINT) AS cms_count
  FROM pos GROUP BY 1, 2
)
SELECT p.user_id,
       MIN(c.cms_count) AS cms_estimate,
       p.exact_count
FROM pos p JOIN cms c USING (cms_row, cms_bucket)
GROUP BY 1, 3
ORDER BY 1
"""


@register("sketch_cms_events", oracle=_CMS_ORACLE)
def sketch_cms_events(spark, sf_dir):
    """Count-min sketch point-frequency estimates
    (operators/sketches.cms_table/cms_estimate): the whole sketch is
    depth·width = 1024 counters built by one codegen aggregation whose
    map-side combine bounds the shuffle at 1024 rows per partition —
    the point-query sibling of the MG top-k sketch, for when even one
    shuffled row per distinct value is too many (100 TB user-grain
    frequency lookups).

    FULL value oracle, not just an exact-regime gate: the bucket ids
    are md5-derived (seedless), so DuckDB rebuilds the identical
    counter table relationally — each value adds its exact count into
    its four buckets, which equals counting colliding events directly
    — and replays min-over-rows estimation. Collisions and their
    overestimates must match bit-for-bit, pinning the hash layout, the
    merge arithmetic, and the estimator; the ε·n/e^-depth error bound
    and bucket-wise mergeability (day → week rollup without rescans)
    are pytest-gated in test_scale_ops.py."""
    from ai_fabric_etl_spark.operators.sketches import cms_estimate, cms_table

    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .filter(F.col("user_id").isNotNull())
    )
    sk = cms_table(ev, "user_id", width=_CMS_W, depth=_CMS_D)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(
        sk, exact.select("user_id"), "user_id", width=_CMS_W, depth=_CMS_D
    )
    return (
        est.join(exact, "user_id")
        .select("user_id", "cms_estimate", "exact_count")
        .orderBy("user_id")
    )


def _morton_sql_interleave(b0: str, b1: str, bits: int = 16) -> str:
    terms = [
        f"((({b0} >> {k}) & 1) << {2 * k}) | ((({b1} >> {k}) & 1) << {2 * k + 1})"
        for k in range(bits)
    ]
    return "(" + " | ".join(f"({t})" for t in terms) + ")"


@register(
    "zorder_curve_keys",
    oracle=f"""
    WITH b AS (
        SELECT event_id,
               LEAST(CAST(FLOOR(percent_rank() OVER (ORDER BY user_id) * 65536)
                          AS BIGINT), 65535) AS b0,
               LEAST(CAST(FLOOR(percent_rank() OVER (ORDER BY value) * 65536)
                          AS BIGINT), 65535) AS b1
        FROM events
    )
    SELECT event_id, {_morton_sql_interleave('b0', 'b1')} AS zkey
    FROM b
    """,
)
def zorder_curve_keys(spark, sf_dir):
    """Z-order clustering key (operators/zorder.py): rank-bucket each
    column to 16 bits, interleave the bits JVM-side. Value-oracled:
    DuckDB reproduces the exact Morton key via the same percent_rank
    buckets and bit ops, pinning both the curve definition and the
    bucket math. ``ParquetMergeTable.compact(zorder_by=...)`` sorts
    files along this key so footer stats skip on every interleaved
    column (the multi-column data-skipping story at 100 TB)."""
    from ai_fabric_etl_spark.operators.zorder import morton_key

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # method="exact" deliberately: this entry value-pins the rank-exact
    # curve definition against DuckDB; production compaction defaults
    # to the windowless method="auto"/"approx" path.
    return morton_key(
        ev, ["user_id", "value"], key_col="zkey", method="exact"
    ).select("event_id", "zkey")


_CDF_ORACLE = """
WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status, o_custkey AS cust
           FROM orders)
SELECT k, 'U' AS status, cust + 1000000 AS cust, 'insert' AS change_type,
       2 AS commit_version
FROM o WHERE k % 3 = 2 AND k % 5 = 0 AND k % 7 <> 3
UNION ALL
SELECT k, status, cust, 'delete', 2
FROM o WHERE k % 3 <> 2 AND k % 7 = 3
UNION ALL
SELECT k, status, cust, 'update_preimage', 2
FROM o WHERE k % 3 <> 2 AND k % 5 = 0 AND k % 7 <> 3
UNION ALL
SELECT k, 'U', cust + 1000000, 'update_postimage', 2
FROM o WHERE k % 3 <> 2 AND k % 5 = 0 AND k % 7 <> 3
"""


@register("lakehouse_change_feed", oracle=_CDF_ORACLE)
def lakehouse_change_feed(spark, sf_dir):
    """CHANGE DATA FEED (Delta ``table_changes`` analogue) across a
    MERGE + DELETE transaction pair: the feed must tag net inserts,
    deletes, and preimage/postimage update pairs, and stamp the commit
    version. The oracle derives the same change set relationally from
    the update rules. Downstream marts fold THIS feed instead of
    rescanning the table (the reference refreshes by re-reading whole
    tables, generate_x12_acknowledgments.py:61) — at 100 TB the feed
    is the only scan-free path to incremental maintenance."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_custkey").alias("cust"),
    )
    t = ParquetMergeTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakehouse_cdf_"), "t")
    )
    t.overwrite(orders.filter(F.col("k") % 3 != 2))
    v0 = t._version()
    src = orders.filter(F.col("k") % 5 == 0).select(
        "k", F.lit("U").alias("status"), (F.col("cust") + 1000000).alias("cust")
    )
    t.merge(src, keys=["k"])
    t.delete(F.col("k") % 7 == 3)
    return t.changes(keys=["k"], from_version=v0).select(
        "k",
        "status",
        "cust",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    )


_SKIP_ORACLE = """
SELECT o_orderdate,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
GROUP BY o_orderdate
"""


@register("lakehouse_skipping_scan", oracle=_SKIP_ORACLE)
def lakehouse_skipping_scan(spark, sf_dir):
    """File-level min/max data skipping (Delta/Iceberg manifest
    pruning): OPTIMIZE clusters orders by o_orderdate, then a
    one-month ``read_where`` must (a) consult only footer stats to
    drop files — asserted: strictly fewer files survive than exist —
    and (b) return exactly what a full scan + filter returns. At
    100 TB this is the difference between listing metadata and
    reading the table."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    t = ParquetMergeTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakehouse_skip_"), "t")
    )
    t.overwrite(orders)
    t.compact(target_files=16, sort_by=["o_orderdate"])
    import datetime

    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 3, 31)
    files, total = t._skip_files({"o_orderdate": (lo, hi)})
    if not files or len(files) >= total:
        raise AssertionError(
            f"data skipping ineffective: {len(files)}/{total} files survive"
        )
    return (
        t.read_where({"o_orderdate": (lo, hi)})
        .groupBy("o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_price"),
        )
    )


_DQ_ORACLE = """
WITH corrupted AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate,
         CASE WHEN o_orderkey % 17 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
         o_orderstatus,
         o_orderpriority,
         CASE WHEN o_orderkey % 23 = 0 THEN o_custkey + 5000000 ELSE o_custkey END AS o_custkey
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus,
         o_orderpriority, o_custkey
  FROM orders WHERE o_orderkey % 19 = 0
),
stats AS (
  SELECT COUNT(*) AS n,
    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn,
    SUM(CASE WHEN NOT COALESCE(o_totalprice >= 0 AND o_totalprice <= 1000000, FALSE) THEN 1 ELSE 0 END) AS btw,
    SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 1 ELSE 0 END) AS ins,
    SUM(CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE) THEN 1 ELSE 0 END) AS rex,
    COUNT(*) - COUNT(DISTINCT o_orderkey)
      - SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS uq
  FROM corrupted
),
refmiss AS (
  SELECT COUNT(*) AS miss FROM corrupted c
  WHERE o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.o_custkey)
)
SELECT rule,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST((n_violations * 1000000) // n_rows AS BIGINT) AS violation_ppm
FROM (
  SELECT 'o_orderdate_not_null' AS rule, nn AS n_violations, n AS n_rows FROM stats
  UNION ALL SELECT 'o_totalprice_between', btw, n FROM stats
  UNION ALL SELECT 'o_orderstatus_in_set', ins, n FROM stats
  UNION ALL SELECT 'o_orderpriority_regex', rex, n FROM stats
  UNION ALL SELECT 'unique_o_orderkey', uq, n FROM stats
  UNION ALL SELECT 'o_custkey_ref_c_custkey', miss, n FROM refmiss, stats
)
"""


@register("dq_expectations_orders", oracle=_DQ_ORACLE)
def dq_expectations_orders(spark, sf_dir):
    """Declarative data-quality contract over a deterministically
    corrupted orders feed: nulled dates, negated totals, dangling
    customer keys, duplicated keys. Six rules — four row predicates
    compiled into ONE aggregate pass, a uniqueness check, and a
    broadcast-anti referential check — produce the violation report
    the oracle recomputes relationally. Generalizes the reference's
    hand-rolled X12 validators (silver_x12_parsing.py required-segment
    checks) into the reusable expectations layer."""
    from ai_fabric_etl_spark.operators import expectations as X

    orders = _t(spark, sf_dir, "orders")
    cols = [
        "o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus",
        "o_orderpriority", "o_custkey",
    ]
    corrupted = orders.select(
        F.col("o_orderkey"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None))
        .otherwise(F.col("o_orderdate")).alias("o_orderdate"),
        F.when(F.col("o_orderkey") % 17 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.when(F.col("o_orderkey") % 23 == 0, F.col("o_custkey") + 5000000)
        .otherwise(F.col("o_custkey")).alias("o_custkey"),
    ).unionByName(orders.filter(F.col("o_orderkey") % 19 == 0).select(cols))
    rules = [
        X.expect_not_null("o_orderdate"),
        X.expect_between("o_totalprice", 0, 1000000),
        X.expect_in("o_orderstatus", ["O", "F", "P"]),
        X.expect_regex("o_orderpriority", "^[1-5]-"),
    ]
    customer = _t(spark, sf_dir, "customer")
    return X.report(
        corrupted,
        rules,
        unique_keys=[["o_orderkey"]],
        references=[("o_custkey", customer, "c_custkey")],
    )


_QSKETCH_ORACLE = """
SELECT o_orderpriority,
       quantile_disc(o_totalprice, 0.5) AS p50,
       quantile_disc(o_totalprice, 0.95) AS p95,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY o_orderpriority
"""


@register("quantile_sketch_prices", oracle=_QSKETCH_ORACLE)
def quantile_sketch_prices(spark, sf_dir):
    """Mergeable quantile summaries (Munro–Paterson levels) driven in
    the exact regime: per-priority p50/p95 of order totals from the
    persisted partials must equal DuckDB's quantile_disc — the same
    exact-at-small-cardinality gate pattern as heavy_hitters_langs.
    The compressed regime (k ≪ n, the 100 TB path where the state per
    group is kilobytes) is rank-bound-gated in tests; rollups chain
    via quantile_compress without rescanning base data."""
    from ai_fabric_etl_spark.operators.sketches import (
        quantile_partials,
        quantile_values,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_totalprice").cast("double").alias("price")
    )
    parts = quantile_partials(orders, "price", by=["o_orderpriority"], k=32768)
    est = quantile_values(parts, ["o_orderpriority"], {"p50": 0.5, "p95": 0.95})
    counts = parts.groupBy("o_orderpriority").agg(
        F.sum("weight").alias("n_rows")
    )
    return est.join(counts, "o_orderpriority")


_FW_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@register("source_fixedwidth_roundtrip", oracle=_FW_ORACLE)
def source_fixedwidth_roundtrip(spark, sf_dir):
    """Fixed-width text connector round trip (mainframe/EDI-adjacent
    layout, the format family the reference's X12 fixed-element ISA
    segment lives in — envelope.py slices the same way): write orders
    as 40-char records via format_string (zero-padded numerics,
    space-padded status, price scaled to implied 2-decimal cents, the
    COBOL convention), read back with pure substring/cast projections
    — both directions stay whole-stage-codegen expressions, no UDF.
    The aggregate matching the parquet-side oracle proves the text
    codec loses nothing, including the implied-decimal scaling."""
    out = os.path.join(tempfile.mkdtemp(prefix="fw_rt_"), "orders_fw")
    o = _t(spark, sf_dir, "orders").select(
        F.format_string(
            "%012d%-1s%015d",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
        ).alias("value")
    )
    o.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.substring("value", 1, 12).cast("long").alias("o_orderkey"),
        F.trim(F.substring("value", 13, 1)).alias("o_orderstatus"),
        (F.substring("value", 14, 15).cast("long") / 100)
        .cast("decimal(18,2)")
        .alias("o_totalprice"),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum("o_totalprice").cast("double").alias("total_price"),
    )


_IVM_ORACLE = """
WITH final AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
  FROM orders WHERE o_orderkey % 11 <> 3
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM final
GROUP BY o_orderstatus
"""


@register("lakehouse_incremental_mart", oracle=_IVM_ORACLE)
def lakehouse_incremental_mart(spark, sf_dir):
    """Incremental view maintenance driven by the CHANGE FEED: a
    per-status (count, sum) mart is first built from the v0 snapshot,
    then UPDATEs (price doubled on keys %5=0) and DELETEs (keys
    %11=3) hit the base table — and the mart is folded forward from
    ``changes()`` alone: +postimage −preimage −delete, NEVER
    rescanning the base table. The oracle recomputes the mart from
    the final state relationally; equality proves feed-driven
    maintenance is exact. At 100 TB this is the only affordable mart
    refresh (the reference rescans whole tables,
    generate_x12_acknowledgments.py:61)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    t = ParquetMergeTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakehouse_ivm_"), "t")
    )
    t.overwrite(orders)
    v0 = t._version()
    mart0 = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").alias("total_price"),
    )
    t.update(
        F.col("o_orderkey") % 5 == 0,
        {"price": (F.col("price") * 2).cast("decimal(18,2)")},
    )
    t.delete(F.col("o_orderkey") % 11 == 3)
    feed = t.changes(keys=["o_orderkey"], from_version=v0)
    deltas = feed.select(
        "o_orderstatus",
        F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
        .otherwise(-1)
        .alias("_sign"),
        "price",
    ).groupBy("o_orderstatus").agg(
        F.sum("_sign").alias("d_n"),
        F.sum(F.col("_sign") * F.col("price")).alias("d_price"),
    )
    return (
        mart0.join(deltas, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce(F.col("n_orders"), F.lit(0))
             + F.coalesce(F.col("d_n"), F.lit(0))).alias("n_orders"),
            (
                F.coalesce(F.col("total_price"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("d_price"), F.lit(0).cast("decimal(18,2)"))
            ).cast("double").alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )


_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT o_orderstatus, MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
         MAX(CAST(o_totalprice AS DOUBLE)) AS hi
  FROM orders GROUP BY 1
),
counts AS (
  SELECT o.o_orderstatus,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE LEAST(11, CAST(FLOOR(
                (CAST(o.o_totalprice AS DOUBLE) - b.lo)
                / ((b.hi - b.lo) / 12.0)) AS INTEGER)) END AS bin,
         COUNT(*) AS n
  FROM orders o JOIN b USING (o_orderstatus)
  WHERE o.o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
grid AS (
  SELECT o_orderstatus, lo, hi, unnest(generate_series(0, 11)) AS bin FROM b
)
SELECT g.o_orderstatus, g.bin AS bin_id,
       ROUND(g.lo + g.bin * ((g.hi - g.lo) / 12.0), 6) AS bin_lo,
       ROUND(g.lo + (g.bin + 1) * ((g.hi - g.lo) / 12.0), 6) AS bin_hi,
       COALESCE(c.n, 0) AS n_rows
FROM grid g LEFT JOIN counts c
  ON c.o_orderstatus = g.o_orderstatus AND c.bin = g.bin
"""


@register("profile_histogram_prices", oracle=_HISTOGRAM_ORACLE)
def profile_histogram_prices(spark, sf_dir):
    """Equi-width histogram of order totals per status (12 bins,
    empty bins included): one scan + one codegen bin assignment + a
    generated bins-sized grid join — the distribution profiler that
    complements profile_orders' scalar stats."""
    from ai_fabric_etl_spark.operators.profile import histogram

    return histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", bins=12,
        by=["o_orderstatus"],
    )


_EQUIDEPTH_ORACLE = """
WITH b AS (
  SELECT o_orderstatus, o_totalprice, o_orderkey,
         ntile(8) OVER (PARTITION BY o_orderstatus
                        ORDER BY o_totalprice, o_orderkey) AS bin_id
  FROM orders
)
SELECT o_orderstatus, CAST(bin_id AS INT) AS bin_id,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
       COUNT(*) AS n_rows
FROM b GROUP BY 1, 2
"""


@register("profile_histogram_equidepth", oracle=_EQUIDEPTH_ORACLE)
def profile_histogram_equidepth(spark, sf_dir):
    """Equi-depth (quantile) histogram of order totals per status —
    8 near-equal-population buckets with their genuine value ranges
    (optimizer-style equi-height column stats; informative under the
    skew that collapses an equi-width histogram into one hot bin).
    Pure rank semantics: no float edge arithmetic anywhere, so no
    rounding convention is even needed."""
    from ai_fabric_etl_spark.operators.profile import histogram_equidepth

    return histogram_equidepth(
        _t(spark, sf_dir, "orders").select(
            "o_orderstatus", "o_totalprice", "o_orderkey"
        ),
        col="o_totalprice",
        tiebreak="o_orderkey",
        bins=8,
        by=["o_orderstatus"],
    )


_XML_ORACLE = """
SELECT n_name, r.r_name AS region_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


@register("source_xml_roundtrip", oracle=_XML_ORACLE)
def source_xml_roundtrip(spark, sf_dir):
    """XML connector round trip (Spark 4's NATIVE xml data source —
    no external spark-xml package): write the nation⋈region dim as
    row-tagged XML, read it back with an explicit schema (inference
    is an extra full pass — never at 100 TB), and aggregate. XML is
    the interchange format healthcare/EDI partners actually mandate
    alongside X12, so format breadth here mirrors the reference's
    partner-integration surface (SURVEY §2.1)."""
    out = os.path.join(tempfile.mkdtemp(prefix="xml_rt_"), "nations_xml")
    dims = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_name", F.col("r_name").alias("region_name"))
    )
    dims.write.format("xml").mode("overwrite").option(
        "rootTag", "nations"
    ).option("rowTag", "nation").save(out)
    back = (
        spark.read.format("xml")
        .schema("n_name string, region_name string")
        .option("rowTag", "nation")
        .load(out)
    )
    return back.groupBy("n_name", "region_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


_IJV_ORACLE = """
WITH off AS (SELECT MAX(o_orderkey) + 1 AS o FROM orders),
base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
),
-- replay: UPDATE %5=0 doubles price; DELETE %11=3; INSERT mirrors of
-- %13=1 rows at key+off with price 100.00
updated AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(price * 2 AS DECIMAL(18,2)) ELSE price END AS price
  FROM base WHERE o_orderkey % 11 <> 3
),
final AS (
  SELECT * FROM updated
  UNION ALL
  SELECT b.o_orderkey + off.o, b.o_custkey, b.o_orderstatus,
         CAST(100.00 AS DECIMAL(18,2))
  FROM base b CROSS JOIN off WHERE b.o_orderkey % 13 = 1
)
SELECT c.c_nationkey,
       COUNT(*) AS n_orders,
       CAST(SUM(f.price) AS DOUBLE) AS total_price
FROM final f JOIN customer c ON f.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@register("lakehouse_incremental_join_view", oracle=_IJV_ORACLE)
def lakehouse_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view from the change feed:
    the materialized per-nation order rollup joins the fact to the
    customer dim, and after UPDATE + DELETE + MERGE-INSERT hit the
    fact table, the view folds forward from Δfact ⋈ dim alone —
    Δ(A⋈B) = ΔA⋈B when only A changes. The delta (feed rows only)
    joins the dim and applies signed: +insert +postimage −preimage
    −delete; the fact table is NEVER rescanned, and the dim join runs
    on feed-sized input (broadcastable at any fact scale). Equality
    with the final-state relational recompute (the oracle) proves the
    fold exact through all three DML classes."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    t = ParquetMergeTable(
        spark, os.path.join(tempfile.mkdtemp(prefix="lakehouse_ijv_"), "t")
    )
    t.overwrite(orders)
    v0 = t._version()
    view0 = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").alias("total_price"),
        )
    )
    # three DML classes against the fact
    t.update(
        F.col("o_orderkey") % 5 == 0,
        {"price": (F.col("price") * 2).cast("decimal(18,2)")},
    )
    t.delete(F.col("o_orderkey") % 11 == 3)
    off = orders.agg((F.max("o_orderkey") + 1).alias("_off"))
    inserts = (
        orders.crossJoin(F.broadcast(off))
        .filter(F.col("o_orderkey") % 13 == 1)
        .select(
            (F.col("o_orderkey") + F.col("_off")).alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            F.lit("100.00").cast("decimal(18,2)").alias("price"),
        )
    )
    t.merge(inserts, keys=["o_orderkey"])
    # the fold: feed ⋈ dim, signed — never the fact table
    feed = t.changes(keys=["o_orderkey"], from_version=v0)
    deltas = (
        feed.join(F.broadcast(cust), feed.o_custkey == cust.c_custkey)
        .select(
            "c_nationkey",
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"), 1
            )
            .otherwise(-1)
            .alias("_sign"),
            "price",
        )
        .groupBy("c_nationkey")
        .agg(
            F.sum("_sign").alias("d_n"),
            F.sum(F.col("_sign") * F.col("price")).alias("d_price"),
        )
    )
    return (
        view0.join(deltas, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            (
                F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("total_price"), F.lit(0).cast("decimal(18,2)"))
                + F.coalesce(F.col("d_price"), F.lit(0).cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )


_GINI_ORACLE = """
WITH counts AS (
  SELECT o_custkey AS k, COUNT(*) AS x FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, k) AS i FROM counts
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(x) AS BIGINT) AS n_rows,
       ROUND(CAST(MAX(x) AS DOUBLE) / CAST(SUM(x) AS DOUBLE), 6)
         AS max_key_share,
       ROUND(CAST(2 * SUM(CAST(i AS DECIMAL(38,0)) * x) AS DOUBLE)
             / CAST(COUNT(*) * SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)
             - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS gini
FROM ranked
"""


@register("profile_skew_gini", oracle=_GINI_ORACLE)
def profile_skew_gini(spark, sf_dir):
    """Key-skew diagnostic on the orders fact: Gini coefficient of
    per-customer order counts + the heaviest key's share — the
    pre-flight number that predicts whether a groupBy/join on this
    key straggles. Exact integer Σ i·x / n·Σx arithmetic; ranking via
    the distributed range shuffle (no one-task window even at
    customer-grain cardinality)."""
    from ai_fabric_etl_spark.operators.profile import skew_gini

    return skew_gini(_t(spark, sf_dir, "orders"), key="o_custkey")


_PSI_BINS = 10
_PSI_ORACLE = f"""
WITH ref AS (
  SELECT o_totalprice AS v, o_orderkey AS tb FROM orders
  WHERE o_orderdate < DATE '1997-01-01'
),
cur AS (
  SELECT o_totalprice AS v FROM orders
  WHERE o_orderdate >= DATE '1997-01-01'
),
ranked AS (
  SELECT v, ntile({_PSI_BINS}) OVER (ORDER BY v, tb) AS b FROM ref
),
edges AS (
  SELECT b AS bin_id, MAX(v) AS hi FROM ranked GROUP BY b
  HAVING b < {_PSI_BINS}
),
rv AS (SELECT v, COUNT(*) AS n FROM ref GROUP BY v),
cv AS (SELECT v, COUNT(*) AS n FROM cur GROUP BY v),
rb AS (
  SELECT r.v, r.n, 1 + COUNT(e.hi) AS bin_id
  FROM rv r LEFT JOIN edges e ON r.v > e.hi GROUP BY r.v, r.n
),
cb AS (
  SELECT c.v, c.n, 1 + COUNT(e.hi) AS bin_id
  FROM cv c LEFT JOIN edges e ON c.v > e.hi GROUP BY c.v, c.n
),
rbin AS (SELECT bin_id, CAST(SUM(n) AS BIGINT) AS ref_n FROM rb GROUP BY bin_id),
cbin AS (SELECT bin_id, CAST(SUM(n) AS BIGINT) AS cur_n FROM cb GROUP BY bin_id),
grid AS (SELECT unnest(generate_series(1, {_PSI_BINS})) AS bin_id),
bt AS (
  SELECT g.bin_id,
         COALESCE(rbin.ref_n, 0) AS ref_n,
         COALESCE(cbin.cur_n, 0) AS cur_n
  FROM grid g LEFT JOIN rbin USING (bin_id) LEFT JOIN cbin USING (bin_id)
),
tot AS (SELECT SUM(ref_n) AS tr, SUM(cur_n) AS tc FROM bt)
SELECT CAST(bin_id AS INT) AS bin_id, ref_n, cur_n,
       CAST(ROUND(
         ((cur_n + 1.0) / (tc + {_PSI_BINS})
          - (ref_n + 1.0) / (tr + {_PSI_BINS}))
         * ln(((cur_n + 1.0) / (tc + {_PSI_BINS}))
              / ((ref_n + 1.0) / (tr + {_PSI_BINS})))
         * 1000000) AS BIGINT) AS psi_term_micro
FROM bt CROSS JOIN tot
"""


@register("drift_psi_prices", oracle=_PSI_ORACLE)
def drift_psi_prices(spark, sf_dir):
    """Population stability index of order prices, pre-1997 reference
    vs 1997+ current — the standard ML-ops drift gate (PSI < 0.1
    stable). Bin edges are the reference sample's equi-depth
    boundaries (actual data values, distributed ntile), both samples
    bucket against the broadcast edge list on the DISTINCT value
    grain, Laplace smoothing keeps empty bins finite, and each bin's
    term is integer-quantized before any summation (zipf-slope
    convention)."""
    from ai_fabric_etl_spark.operators.profile import drift_psi

    orders = _t(spark, sf_dir, "orders")
    ref = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    cur = orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
    return drift_psi(
        ref, cur, col="o_totalprice", tiebreak="o_orderkey", bins=_PSI_BINS
    )


_PSEUDO_ORACLE = """
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       COUNT(DISTINCT sha256('cust-v1-' || CAST(c_custkey AS VARCHAR)))
         AS n_tokens,
       COUNT(DISTINCT sha256('cust-v1-' || CAST(c_custkey AS VARCHAR)))
         = COUNT(DISTINCT c_custkey) AS tokens_injective,
       MIN(sha256('cust-v1-' || CAST(c_custkey AS VARCHAR))) AS min_token
FROM customer
GROUP BY c_nationkey
"""


@register("privacy_pseudonymize", oracle=_PSEUDO_ORACLE)
def privacy_pseudonymize(spark, sf_dir):
    """Governance: deterministic salted-SHA256 pseudonymization of a
    key column — the standard GDPR-grade tokenization that keeps
    referential JOINs working across tables (same input -> same token
    everywhere) while removing the raw identifier. The contract
    value-verifies the token bytes themselves (min per group) plus
    injectivity (distinct tokens == distinct keys) against DuckDB's
    sha256 — both engines emit identical lowercase hex. Pure codegen;
    at 100 TB this is a map-only projection, no shuffle beyond the
    audit aggregate."""
    c = _t(spark, sf_dir, "customer")
    token = F.sha2(
        F.concat(F.lit("cust-v1-"), F.col("c_custkey").cast("string")), 256
    )
    return (
        c.select("c_nationkey", token.alias("_tok"), "c_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("_tok").alias("n_tokens"),
            (F.countDistinct("_tok") == F.countDistinct("c_custkey")).alias(
                "tokens_injective"
            ),
            F.min("_tok").alias("min_token"),
        )
    )


_KANON_ORACLE = """
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS group_size,
       COUNT(*) < 5 AS violates_k5
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""


@register("privacy_k_anonymity", oracle=_KANON_ORACLE)
def privacy_k_anonymity(spark, sf_dir):
    """Governance: k-anonymity audit over a quasi-identifier tuple
    (nation, market segment) — equivalence classes smaller than k are
    re-identification risks and must be generalized or suppressed
    before release. One hash aggregate; the flag column makes the
    release gate a WHERE clause."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) < 5).alias("violates_k5"),
    )


_AVRO_ORACLE = """
WITH s AS (
  SELECT label, vec_id,
         ROUND((SELECT SUM(x::DOUBLE)
                FROM (SELECT unnest(embedding) AS x)), 6) AS es
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(es AS DECIMAL(18,6))) AS DOUBLE) AS sum_components,
       MIN(vec_id) AS first_vec,
       MAX(vec_id) AS last_vec
FROM s GROUP BY label
"""


@register("source_avro_roundtrip", oracle=_AVRO_ORACLE)
def source_avro_roundtrip(spark, sf_dir):
    """Avro connector round trip (SURVEY §2.1 connector family): the
    embeddings table — bigints, an array<float> column, ints — is
    written as REAL Avro container files (pure-stdlib binary codec,
    deflate blocks; sources/avro_datasource.py, byte-format pinned
    against the Avro 1.11 spec in tests/test_avro_source.py), read
    back through the per-file-partitioned scan, and aggregated per
    label with the repo's decimal-sum discipline — values verified
    against DuckDB over the original parquet. Neither the spark-avro
    jar nor any avro library exists in this environment; the format
    implementation itself is part of the surface."""
    from ai_fabric_etl_spark.sources import avro_datasource

    avro_datasource.register(spark)
    out = os.path.join(tempfile.mkdtemp(prefix="avro_rt_"), "emb")
    emb = _t(spark, sf_dir, "embeddings")
    emb.repartition(4).write.format("pyavro").mode("overwrite").save(out)
    back = spark.read.format("pyavro").load(out)
    elem_sum = F.round(
        F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x.cast("double")
        ),
        6,
    )
    return back.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(elem_sum.cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_components"),
        F.min("vec_id").alias("first_vec"),
        F.max("vec_id").alias("last_vec"),
    )


def _wds_oracle() -> str:
    from ai_fabric_etl_spark.sources.webdataset import shard_of_sql

    return f"""
WITH s AS (
  SELECT {shard_of_sql('doc_id', 8)} AS shard,
         CAST(doc_id AS VARCHAR) AS k,
         strlen(COALESCE(text, '')) AS nb
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS txt_bytes,
       MIN(k) AS first_key, MAX(k) AS last_key
FROM s GROUP BY shard
"""


@register("export_wds_roundtrip", oracle=_wds_oracle())
def export_wds_roundtrip(spark, sf_dir):
    """WebDataset tar-shard export round trip (the standard
    training-corpus layout PyTorch/NeMo loaders stream): documents
    write as 8 deterministic tar shards (sample = {key}.txt payload +
    {key}.json metadata; md5-mod shard assignment, byte-reproducible
    tars), then the REAL tars are read back member-by-member and the
    per-shard manifest (counts, utf-8 payload bytes, key range) is
    recomputed from what is on disk — verified against DuckDB
    computing the same manifest from the source parquet
    (sources/webdataset.py)."""
    from ai_fabric_etl_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    out = os.path.join(tempfile.mkdtemp(prefix="wds_rt_"), "shards")
    docs = _t(spark, sf_dir, "documents")
    write_webdataset(
        docs, out, n_shards=8, meta_cols=["lang", "source"]
    ).count()  # materialize the export
    back = read_webdataset(spark, out)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("text")).alias("txt_bytes"),
        F.min("key").alias("first_key"),
        F.max("key").alias("last_key"),
    )


_AES_ORACLE = """
SELECT c_custkey,
       CAST(16 * (length(c_name) // 16) + 16 AS INTEGER) AS enc_len,
       TRUE AS roundtrip_ok,
       TRUE AS deterministic_ok
FROM customer
ORDER BY c_custkey
"""


@register("privacy_aes_roundtrip", oracle=_AES_ORACLE)
def privacy_aes_roundtrip(spark, sf_dir):
    """Column-level encryption for governed columns: JVM-native
    ``aes_encrypt``/``aes_decrypt`` in ECB mode — the DETERMINISTIC
    variant used when pseudonymized values must stay joinable across
    tables (GCM's random IV breaks equality; the salted-SHA256 entry
    covers the non-reversible path). Everything stays inside
    whole-stage codegen; no keys or plaintext leave the JVM.

    DuckDB has no AES, so the oracle pins what IS independently
    checkable about AES-128-ECB with PKCS7 padding: the ciphertext
    length is exactly 16·⌊len/16⌋ + 16 bytes, the decrypt must invert
    the encrypt byte-for-byte (roundtrip_ok computed BY the engine,
    hashed by the driver), and encrypting twice yields identical
    bytes (determinism — the joinability property this mode exists
    for). A wrong mode (GCM default), wrong padding, or
    non-determinism flips a column and fails the value hash.

    SECURITY NOTE (bench recipe, not production guidance): this entry
    uses a source-literal demo key and raw ECB for oracle
    determinism. Deterministic ECB leaks equality and frequency
    patterns of the plaintext — on a low-entropy / low-cardinality
    PII column that is a practical break (pair it with the
    privacy_k_anonymity entry's equivalence-class analysis to see how
    small those classes get). Production pseudonymization that must
    stay joinable should use AES-SIV or a keyed HMAC/SHA-256 (see
    privacy_pseudonymize) with a key from a managed secret store —
    never a literal key in source. When joinability is NOT required,
    use randomized AEAD instead: privacy_aes_gcm below."""
    key = F.lit("0123456789abcdef")  # 16-byte demo key: AES-128
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    enc = c.select(
        "c_custkey",
        "c_name",
        F.aes_encrypt(F.col("c_name").cast("binary"), key,
                      F.lit("ECB")).alias("ct1"),
        F.aes_encrypt(F.col("c_name").cast("binary"), key,
                      F.lit("ECB")).alias("ct2"),
    )
    return enc.select(
        "c_custkey",
        F.length("ct1").cast("int").alias("enc_len"),
        (
            F.aes_decrypt(F.col("ct1"), key, F.lit("ECB")).cast("string")
            == F.col("c_name")
        ).alias("roundtrip_ok"),
        (F.col("ct1") == F.col("ct2")).alias("deterministic_ok"),
    ).orderBy("c_custkey")


_AES_GCM_ORACLE = """
SELECT c_custkey,
       CAST(length(c_name) + 28 AS INTEGER) AS enc_len,
       TRUE AS roundtrip_ok,
       FALSE AS deterministic
FROM customer
ORDER BY c_custkey
"""


@register("privacy_aes_gcm", oracle=_AES_GCM_ORACLE)
def privacy_aes_gcm(spark, sf_dir):
    """Randomized authenticated encryption for governed columns:
    ``aes_encrypt``/``aes_decrypt`` in GCM (AEAD) mode — the variant
    to use whenever joinability on the ciphertext is NOT required
    (the deterministic twin is privacy_aes_roundtrip; the security
    tradeoff between them is documented there).

    What the oracle pins, engine-computed and driver-hashed:

    - ``enc_len``: Spark lays GCM out as IV(12) ‖ ciphertext ‖
      tag(16), and GCM is a stream mode (no padding), so the length
      is exactly ``len(plaintext) + 28`` — a wrong mode (ECB pads to
      block multiples) or wrong layout flips every row;
    - ``roundtrip_ok``: decrypt inverts encrypt byte-for-byte,
      including tag verification (GCM authenticates; a corrupted
      ciphertext would raise, not decrypt);
    - ``deterministic``: asserted **FALSE** — each call draws a fresh
      random IV, so two encryptions of the same plaintext differ.
      The two encrypt calls use structurally different (semantically
      equal) input expressions because Catalyst CSE collapses
      IDENTICAL nondeterministic-in-effect subtrees into one
      evaluation, which would fake determinism.

    The randomness lives only in discarded ciphertext bytes; every
    asserted column is deterministic, so the value hash is stable."""
    key = F.lit("0123456789abcdef")  # 16-byte demo key: AES-128
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    enc = c.select(
        "c_custkey",
        "c_name",
        F.aes_encrypt(F.col("c_name").cast("binary"), key,
                      F.lit("GCM")).alias("ct1"),
        # concat(name, '') != name structurally -> defeats CSE
        F.aes_encrypt(F.concat(F.col("c_name"), F.lit("")).cast("binary"),
                      key, F.lit("GCM")).alias("ct2"),
    )
    return enc.select(
        "c_custkey",
        F.length("ct1").cast("int").alias("enc_len"),
        (
            F.aes_decrypt(F.col("ct1"), key, F.lit("GCM")).cast("string")
            == F.col("c_name")
        ).alias("roundtrip_ok"),
        (F.col("ct1") == F.col("ct2")).alias("deterministic"),
    ).orderBy("c_custkey")


_DP_EPS = 0.5
_DP_SALT = "dp-counts-v1"


def _dp_noise_sql(key_expr: str) -> str:
    from ai_fabric_etl_spark.operators.privacy import laplace_noise_sql

    return laplace_noise_sql(key_expr, _DP_EPS, _DP_SALT)


@register(
    "privacy_dp_counts",
    oracle=f"""
    SELECT o_orderpriority,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 + {_dp_noise_sql('o_orderpriority')}, 6) AS noisy_count
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_privacy_dp_counts(spark, sf_dir):
    """Governance: epsilon-differentially-private COUNT release
    (operators/privacy.dp_noisy_counts) — per-priority order counts
    with Laplace(1/eps) noise, eps=0.5, the textbook sensitivity-1
    count mechanism. The Laplace draw is a keyed md5 PRG over the
    group key so the release is REPRODUCIBLE and the oracle replays
    the identical inverse-CDF expression chain bit-for-bit (fresh
    randomness per release = rotate the salt, documented in the
    operator). Completes the privacy family: pseudonymize /
    k-anonymity / AEAD / DP release."""
    from ai_fabric_etl_spark.operators.privacy import dp_noisy_counts

    return dp_noisy_counts(
        _t(spark, sf_dir, "orders"),
        "o_orderpriority",
        epsilon=_DP_EPS,
        salt=_DP_SALT,
    )


_DPS_SALT = "dp-sums-v1"
_DPS_CLIP = 100000.0


def _dps_noise_sql(key_expr: str) -> str:
    from ai_fabric_etl_spark.operators.privacy import laplace_noise_sql

    return laplace_noise_sql(key_expr, _DP_EPS, _DPS_SALT)


@register(
    "privacy_dp_sum",
    oracle=f"""
    WITH rel AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(LEAST(GREATEST(CAST(o_totalprice AS DOUBLE),
                                          0.0), {_DPS_CLIP!r})
                          AS DECIMAL(18,4))) * 1000000 AS BIGINT)
             + CAST(ROUND({_DPS_CLIP!r} * {_dps_noise_sql('o_orderpriority')}
                          * 1000000.0, 0) AS BIGINT) AS m
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST((m - ((m % 1000000 + 1000000) % 1000000)) / 1000000
                AS BIGINT) AS noisy_units,
           CAST((m % 1000000 + 1000000) % 1000000 AS BIGINT)
             AS noisy_rem_micro
    FROM rel
    """,
)
def q_privacy_dp_sum(spark, sf_dir):
    """Bounded-contribution DP SUM release
    (operators/privacy.dp_noisy_sum): per-priority revenue totals
    with each order's contribution CLIPPED to [0, 100000] — an
    unclipped sum has unbounded sensitivity, so no finite noise is
    private — then Laplace(clip/eps) noise, eps=0.5, released in
    integer MICRO-units: at billion-scale sums one ulp of the
    decimal->double cast equals the 6-dp quantum (found at sf0.1 —
    spark/duck diverged in the 6th decimal), so the exact decimal sum
    converts to a long and the one float product rounds to a long
    once. The noise is the same keyed-PRG inverse-CDF chain as
    privacy_dp_counts under its own salt, so the oracle replays the
    release bit-for-bit."""
    from ai_fabric_etl_spark.operators.privacy import dp_noisy_sum

    rel = dp_noisy_sum(
        _t(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        clip=_DPS_CLIP,
        epsilon=_DP_EPS,
        salt=_DPS_SALT,
    )
    # decomposed into (whole units, micro remainder) for the
    # fingerprint gate: its cross-engine ROUND(double, 6) summary is
    # only exact for per-value magnitudes < ~9e9 (2^53 / 1e6), and
    # micro totals here reach ~2.7e15; floor-mod keeps both columns
    # in range and exactly reassemblable on both engines
    m = F.col("noisy_sum_micro")
    rem = F.pmod(m, F.lit(1000000))
    return rel.select(
        "o_orderpriority",
        ((m - rem) / 1000000).cast("long").alias("noisy_units"),
        rem.cast("long").alias("noisy_rem_micro"),
    )
