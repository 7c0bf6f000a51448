"""Physical-plan hygiene tests: the scale properties the engine
promises are asserted against actual plans, not assumed.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ai_fabric_etl_spark.plans import (
    broadcast_join_count,
    bucketize,
    exchange_count,
    is_shuffle_free_join,
    pushed_filters,
    salted_aggregate,
    scan_columns,
)
from ai_fabric_etl_spark.queries import catalog


def test_p6_pushdown_and_pruning(spark, sf_dir):
    df = catalog.p6_projection_casts(spark, sf_dir)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), f"no pushdown: {pf}"
    cols = scan_columns(df, "lineitem.parquet")
    assert cols and "l_comment" not in cols, "column pruning lost"


def test_dimension_joins_broadcast(spark, sf_dir):
    df = catalog.o1_topk_nations(spark, sf_dir)
    assert broadcast_join_count(df) >= 1, "nation dim not broadcast"


def test_salted_aggregate_matches_plain(spark, sf_dir):
    e = catalog.load_events(spark, sf_dir)
    salted = salted_aggregate(
        e,
        ["event_type"],
        {"cnt": F.count(F.lit(1)), "val": F.sum(F.col("value").cast("decimal(18,4)"))},
        {"cnt": F.sum("cnt"), "val": F.sum("val")},
    )
    plain = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("val"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_bucketized_join_is_shuffle_free(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    # below the broadcast threshold a bucketed join would be planned as
    # broadcast anyway; disable to observe the bucketing effect
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketize(orders, "orders_b", "o_orderkey", n_buckets=4)
        bucketize(lineitem, "lineitem_b", "l_orderkey", n_buckets=4)
        joined_plain = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        assert exchange_count(joined_plain) >= 1, "plain join should shuffle"
        joined_bucketed = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        assert exchange_count(joined_bucketed) == 0, "bucketed join shuffled"
        assert joined_bucketed.count() == joined_plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_x12_claim_mart_prunes_nested_schema(spark, tmp_path):
    """On a parquet-backed silver table, the 837 claim mart's SCAN must
    read only the parsed sub-fields it uses (nested schema pruning) —
    the 835-only payment branch of the union payload must not be read
    (keeps the 100 TB scan narrow)."""
    import re

    from ai_fabric_etl_spark.pipeline.gold import claim_analytics
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.x12_queries import _silver

    path = str(tmp_path / "silver_pq")
    _silver(spark).write.mode("overwrite").parquet(path)
    plan = plan_string(claim_analytics(spark.read.parquet(path)))
    schemas = re.findall(r"ReadSchema: (.*)", plan)
    assert schemas, "no parquet scan in plan"
    for rs in schemas:
        assert "total_patient_responsibility" not in rs
        assert "members" not in rs  # 834-only branch also pruned


def test_q17_decorrelated_no_cartesian(spark, sf_dir):
    """The correlated-subquery rewrite must stay a pair of hash joins:
    no CartesianProduct / BroadcastNestedLoop anywhere."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import tpch_q17_small_quantity_revenue

    plan = plan_string(tpch_q17_small_quantity_revenue(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_semi_join_and_q22_anti_join(spark, sf_dir):
    """EXISTS/NOT EXISTS must plan as semi/anti joins, never as a
    count-based subquery re-scan."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import (
        tpch_q4_order_priority,
        tpch_q22_global_sales_opportunity,
    )

    p4 = plan_string(tpch_q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in p4
    p22 = plan_string(tpch_q22_global_sales_opportunity(spark, sf_dir))
    assert "LeftAnti" in p22


def test_q19_disjunctive_pushdown(spark, sf_dir):
    """The OR-of-ANDs must leave per-side residues at the scans:
    quantity range union on lineitem, brand/size union on part —
    Catalyst's CNF extraction, not a post-join filter-only plan."""
    from ai_fabric_etl_spark.plans.inspect import plan_string, pushed_filters
    from ai_fabric_etl_spark.queries.catalog import tpch_q19_disjunctive_revenue

    df = tpch_q19_disjunctive_revenue(spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    plan = plan_string(df)
    assert "Or" in pushed or "Or" in plan.split("Filter")[1][:400], plan[:2000]
    # both scans must carry *some* pushed predicate from the disjunction
    assert "l_quantity" in plan and "p_brand" in plan


def test_q2_q15_scalar_joins_stay_hash(spark, sf_dir):
    """Q2's min-cost equality join and Q15's broadcast MAX scalar must
    plan as hash joins — no nested-loop fallback from the scalar
    comparison — and the single-row scalar side must broadcast."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import (
        tpch_q2_min_cost_supplier,
        tpch_q15_top_supplier,
    )

    p2 = plan_string(tpch_q2_min_cost_supplier(spark, sf_dir))
    assert "CartesianProduct" not in p2
    p15 = plan_string(tpch_q15_top_supplier(spark, sf_dir))
    assert "BroadcastExchange" in p15


def test_q16_not_in_plans_as_anti_join(spark, sf_dir):
    """The NOT IN supplier exclusion must decorrelate to a left-anti
    join with the tiny exclusion list broadcast."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import tpch_q16_supplier_part_counts

    p16 = plan_string(tpch_q16_supplier_part_counts(spark, sf_dir))
    assert "LeftAnti" in p16
    assert "BroadcastExchange" in p16


def test_q20_semi_join_chain(spark, sf_dir):
    """Q20's nested IN chain must plan as semi joins (part filter into
    lineitem, heavy-shipper list into supplier), and the shipped
    aggregate that feeds BOTH the threshold scalar and the filter must
    be deduplicated by the exchange-reuse rule, so the fact table is
    shuffled (and scanned below that exchange) once at runtime."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import (
        tpch_q20_part_promotion_suppliers,
    )

    df = tpch_q20_part_promotion_suppliers(spark, sf_dir)
    assert "LeftSemi" in plan_string(df)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:2000]


def test_w7_range_frame_single_shuffle(spark, sf_dir):
    """The value-axis RANGE frame is one keyed shuffle + one sorted
    window scan — no extra exchange, no join."""
    from ai_fabric_etl_spark.plans.inspect import exchange_count, plan_string
    from ai_fabric_etl_spark.queries.catalog import w7_time_range_frame

    df = w7_time_range_frame(spark, sf_dir)
    assert exchange_count(df) == 1
    assert "Join" not in plan_string(df)


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    """GROUPING SETS must plan as ONE Expand + aggregation over a
    single scan — not one scan per grouping set unioned together."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import grouping_sets_mixed

    plan = plan_string(grouping_sets_mixed(spark, sf_dir), mode="simple")
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan


def test_unpivot_is_expand_not_union(spark, sf_dir):
    """UNPIVOT melts via a single Expand projection, never a per-column
    union of scans."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.catalog import a14_unpivot_daily

    plan = plan_string(a14_unpivot_daily(spark, sf_dir), mode="simple")
    assert "Expand" in plan
    assert "Union" not in plan
    assert plan.count("FileScan parquet") == 1


def test_ivf_index_scan_is_dynamically_pruned(spark, sf_dir, tmp_path):
    """The on-disk IVF index must be queried with dynamic partition
    pruning: the cells scan carries a dynamicpruning PartitionFilter
    on centroid_id, and results match the in-memory IVF path."""
    from ai_fabric_etl_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from ai_fabric_etl_spark.plans.inspect import plan_string

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.limit(400)
    queries = emb.limit(8)
    path = str(tmp_path / "ivf")
    ivf_write_index(corpus, path, n_centroids=8, seed=13)

    out = ivf_topk_indexed(spark, path, queries, k=3, n_probe=3)
    plan = plan_string(out, mode="formatted")
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    got = {
        (r.query_id, r.rank): r.neighbor_id for r in out.collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(corpus, queries, k=3, n_centroids=8, n_probe=3, seed=13).collect()
    }
    assert got == want


def test_new_analytics_plans_broadcast_small_sides(spark, sf_dir):
    """Round-4 operators: the small side (quantile bounds, part dim,
    cohort sizes) must broadcast, and every join is a hash join —
    never shuffle the fact side for a dimension-sized frame."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries.behavior_queries import (
        affinity_brand_pairs,
        cohort_retention_weekly,
        winsorize_prices,
    )

    for fn, label in [
        (winsorize_prices, "winsorize"),
        (affinity_brand_pairs, "affinity"),
        (cohort_retention_weekly, "cohort"),
    ]:
        plan = plan_string(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, label
        assert "CartesianProduct" not in plan, label
        assert "BroadcastNestedLoopJoin" not in plan, label


def test_histogram_and_chunker_stay_codegen(spark, sf_dir):
    """chunk_documents must be a single whole-stage-codegen projection
    chain (explode included, no exchanges before the output);
    histogram's only exchanges are the bounds aggregate + count."""
    from ai_fabric_etl_spark.operators.profile import histogram
    from ai_fabric_etl_spark.operators.text import chunk_documents
    from ai_fabric_etl_spark.plans.inspect import plan_string

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunk_plan = plan_string(chunk_documents(docs))
    assert "Exchange" not in chunk_plan  # map-only: no shuffle at all
    hist_plan = plan_string(
        histogram(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            "o_totalprice",
            bins=8,
            by=["o_orderstatus"],
        )
    )
    assert "BroadcastHashJoin" in hist_plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """session.get_spark turns on runtime bloom-filter join pruning —
    the 100 TB lever that filters fact rows BEFORE the shuffle when
    the dim side carries a selective predicate. Prove the rule
    actually fires: with the application-side size floor lowered to
    test scale, a selective dim -> fact shuffle join must inject
    might_contain onto the probe side."""
    from ai_fabric_etl_spark.plans.inspect import plan_string

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # force a shuffle join (no broadcast) and admit small scans
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = plan_string(joined, "simple").lower()
        assert "might_contain" in plan or "bloomfilter" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_session_entries_have_no_cartesian_blowups(spark, sf_dir):
    """Eighth-pass entries: no CartesianProduct anywhere; nested-loop
    joins only where they are 1-row scalar broadcasts by construction
    (mixture totals, attribution's credit divisor carrier). The
    pair-producing entry (triangles) must pair through hash joins on
    its blocking keys, never the cross space."""
    from ai_fabric_etl_spark.plans.inspect import plan_string
    from ai_fabric_etl_spark.queries import catalog

    qs = catalog.queries()
    scalar_bnl_ok = {
        # these cross-join a single aggregate row (broadcast) into the
        # projection — BroadcastNestedLoopJoin over 1 row is the plan
        "sample_temperature_mixture",
        "lakehouse_incremental_join_view",
    }
    for name in [
        "sample_temperature_mixture",
        "attribution_linear_touch",
        "profile_histogram_equidepth",
        "graph_triangle_counts",
        "rfm_customer_segments",
    ]:
        plan = plan_string(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        if name not in scalar_bnl_ok:
            assert "BroadcastNestedLoopJoin" not in plan, name
