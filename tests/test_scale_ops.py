"""Z-order clustering and mergeable HLL sketches — the 100 TB
read-path extensions (operators/zorder.py, operators/sketches.py)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ai_fabric_etl_spark.operators.merge import ParquetMergeTable
from ai_fabric_etl_spark.operators.sketches import (
    heavy_hitters,
    misra_gries_partials,
    sketch_merge,
    sketch_partials,
    sketch_rollup,
)
from ai_fabric_etl_spark.operators.zorder import morton_key, zorder_sort


def _grid(spark, n=64):
    # n x n grid: x and y independent, the adversarial case for
    # single-column sort (sorting by x leaves y unclustered)
    rows = [(i * n + j, i, j) for i in range(n) for j in range(n)]
    return spark.createDataFrame(rows, "id long, x long, y long")


def _file_ranges(path, col):
    """(min, max) of ``col`` per parquet data file, from footer stats."""
    out = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = md.schema.to_arrow_schema().get_field_index(col)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((min(mins), max(maxs)))
    return out


def test_zorder_files_skip_on_both_columns(spark, tmp_path):
    df = _grid(spark)
    n_files = 16

    zpath = str(tmp_path / "z")
    zorder_sort(df, ["x", "y"], num_files=n_files).write.parquet(zpath)
    xpath = str(tmp_path / "xsort")
    df.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(
        xpath
    )

    def hit_fraction(path, col, lo, hi):
        ranges = _file_ranges(path, col)
        hits = sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))
        return hits / len(ranges)

    # a narrow y-slice: x-sorted layout must open (almost) every file,
    # the z-ordered layout skips most
    z_y = hit_fraction(zpath, "y", 0, 7)
    x_y = hit_fraction(xpath, "y", 0, 7)
    assert x_y > 0.9, f"x-sorted layout unexpectedly clustered y ({x_y})"
    assert z_y <= 0.5, f"zorder should skip most files on y, hit {z_y}"
    # and x-slices still skip well under zorder (the price of
    # interleaving is bounded, not catastrophic)
    z_x = hit_fraction(zpath, "x", 0, 7)
    assert z_x <= 0.5, f"zorder should still skip on x, hit {z_x}"


def test_zorder_key_deterministic_and_complete(spark):
    df = _grid(spark, n=16)
    k1 = {r["id"]: r["_zorder"] for r in morton_key(df, ["x", "y"]).collect()}
    k2 = {r["id"]: r["_zorder"] for r in morton_key(df, ["x", "y"]).collect()}
    assert k1 == k2
    assert len(k1) == 16 * 16


def test_compact_zorder_preserves_content(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
    df = _grid(spark, n=16)
    t.overwrite(df)
    before = sorted(map(tuple, t.read().collect()))
    t.compact(target_files=4, zorder_by=["x", "y"])
    after = sorted(map(tuple, t.read().collect()))
    assert before == after
    assert [h["op"] for h in t.history()][-1] == "OPTIMIZE"


def test_zorder_approx_skips_without_global_window(spark, tmp_path):
    # the approx (percentile_approx breakpoint) path must deliver the
    # same both-column file skipping as the exact rank path, and its
    # plan must contain no Window operator (the single-partition
    # funnel it exists to remove)
    df = _grid(spark)
    keyed = zorder_sort(df, ["x", "y"], num_files=16, method="approx")
    assert "Window" not in keyed._jdf.queryExecution().executedPlan().toString()

    zpath = str(tmp_path / "za")
    keyed.write.parquet(zpath)

    def hit_fraction(col, lo, hi):
        ranges = _file_ranges(zpath, col)
        hits = sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))
        return hits / len(ranges)

    assert hit_fraction("y", 0, 7) <= 0.5
    assert hit_fraction("x", 0, 7) <= 0.5


def test_zorder_auto_defaults_to_windowless_for_numeric(spark):
    # method defaults to "auto": numeric curve columns take the approx
    # (no-global-window) path; a string column falls back to exact.
    df = _grid(spark, n=16)
    plan = (
        morton_key(df, ["x", "y"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, "auto should pick the windowless path"
    sdf = df.withColumn("s", F.format_string("k%03d", F.col("x")))
    plan_s = (
        morton_key(sdf, ["s", "y"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan_s, "non-numeric curve must fall back to exact"
    # ADVICE r5: an interval dtype must NOT be treated as numeric (the
    # old startswith("int") prefix test matched it, routing to the
    # approx path where cast("double") fails analysis)
    idf = df.withColumn(
        "iv", F.expr("make_dt_interval(0, 0, 0, x)")
    )
    assert dict(idf.dtypes)["iv"].startswith("interval")
    plan_iv = (
        morton_key(idf, ["iv", "y"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan_iv, "interval curve must fall back to exact"


def test_zorder_many_columns_fit_long_sign_bit(spark):
    # 4+ interleaved columns must shrink bits-per-column so the key
    # stays in the 63 value bits of a long: no negative keys (sign-bit
    # hit) and no shift-mask collisions collapsing the curve.
    n = 8
    rows = [
        (i, i % n, (i // n) % n, (i * 3) % n, (i * 5) % n, (i * 7) % n)
        for i in range(n * n)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long, c long, d long, e long")
    for cols in (["a", "b", "c", "d"], ["a", "b", "c", "d", "e"]):
        keys = [r["_zorder"] for r in morton_key(df, cols).collect()]
        assert all(k >= 0 for k in keys), f"negative morton key for {cols}"
        # distinct buckets survive: collisions would collapse most keys
        assert len(set(keys)) > n * n // 2, f"morton collisions for {cols}"


def test_sketch_rollup_accuracy_and_merge(spark):
    # 5k rows, 500 distinct users over 10 days
    df = (
        spark.range(5000)
        .select(
            (F.col("id") % 500).alias("user_id"),
            F.to_date(
                F.concat(F.lit("2024-01-"), F.lpad((F.col("id") % 10) + 1, 2, "0"))
            ).alias("day"),
        )
    )
    partials = sketch_partials(df, key="user_id", by=["day"], lg_k=12)
    assert partials.count() == 10

    total = sketch_rollup(partials, by=[]).collect()[0]
    est = total["distinct_estimate"]
    assert abs(est - 500) / 500.0 < 0.05, est
    assert total["row_count"] == 5000

    # two-level merge (day -> pentad -> global): the intermediate
    # level keeps the mergeable sketch (sketch_merge) so rollups
    # chain. Union is semantically associative but not bit-identical
    # to the one-pass sketch (DataSketches mode transitions), so gate
    # on the same accuracy bound as the flat rollup plus closeness.
    pent = partials.withColumn("pentad", F.dayofmonth("day") <= 5)
    mid = sketch_merge(pent, by=["pentad"])
    assert mid.count() == 2
    two_level = sketch_rollup(mid, by=[]).collect()[0]
    assert abs(two_level["distinct_estimate"] - 500) / 500.0 < 0.05
    assert abs(two_level["distinct_estimate"] - est) / est < 0.02
    assert two_level["row_count"] == 5000


def test_misra_gries_bounds_and_recall(spark):
    """Compression regime (cardinality >> k): every merged MG count is
    a lower bound on the truth, per-value undercount stays within the
    n/(k+1) budget, and the planted heavy value survives with its
    share intact."""
    n_hot, n_tail, k = 6000, 14000, 50
    n = n_hot + n_tail
    # 6k rows of 'hot' (30%) + 14k rows spread over 7000 distinct tails
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") < n_hot, F.lit("hot"))
            .otherwise(F.concat(F.lit("tail_"), (F.col("id") % 7000)))
            .alias("v")
        )
        .repartition(8)  # multiple partitions: the merge path is real
    )
    merged = (
        misra_gries_partials(df, "v", k=k)
        .groupBy("v")
        .agg(F.sum("mg_count").alias("est"))
    )
    exact = df.groupBy("v").agg(F.count(F.lit(1)).alias("true_n"))
    joined = merged.join(exact, "v").collect()
    budget = n / (k + 1)
    for r in joined:
        assert r["est"] <= r["true_n"], (r["v"], r["est"], r["true_n"])
        assert r["true_n"] - r["est"] <= budget, (r["v"], r["est"], r["true_n"])
    hot = {r["v"]: r for r in joined}["hot"]
    assert hot["true_n"] == n_hot

    hh = heavy_hitters(df, "v", min_share=0.2, k=k).collect()
    assert [r["v"] for r in hh] == ["hot"]
    # reported share is within the MG undercount band
    assert n_hot / n >= hh[0]["hh_share"] >= (n_hot - budget) / n


def test_heavy_hitters_exact_at_low_cardinality(spark, sf_dir):
    """With distinct(col) <= k no compression fires: the MG summary
    IS the exact GROUP BY (the property the driver entry gates)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("lang").alias("n")).collect()
    }
    got = {
        r["lang"]: r["hh_count"]
        for r in heavy_hitters(docs, "lang", min_share=0.05, k=32).collect()
    }
    assert got == exact


def test_misra_gries_rejects_non_string_and_ignores_nulls(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "v string"
    )
    rows = (
        misra_gries_partials(df, "v", k=8)
        .groupBy("v").agg(F.sum("mg_count").alias("c")).collect()
    )
    assert {r["v"]: r["c"] for r in rows} == {"a": 2, "b": 1}
    with _pytest.raises(ValueError):
        misra_gries_partials(spark.range(3), "id", k=8)


def test_expectations_annotate_and_quarantine(spark):
    from ai_fabric_etl_spark.operators import expectations as X

    df = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, None, 5.0),          # null name
            (3, "c", -1.0),          # out of range
            (4, None, 2000.0),       # null name AND out of range
            (5, "e", 50.0),
        ],
        "id long, name string, amount double",
    )
    rules = [
        X.expect_not_null("name"),
        X.expect_between("amount", 0.0, 1000.0),
    ]
    ann = X.annotate(df, rules)
    viol = {r["id"]: sorted(r["_violations"]) for r in ann.collect()}
    assert viol == {
        1: [], 5: [],
        2: ["name_not_null"],
        3: ["amount_between"],
        4: ["amount_between", "name_not_null"],
    }
    clean, bad = X.quarantine_split(df, rules)
    assert sorted(r["id"] for r in clean.collect()) == [1, 5]
    assert "_violations" in bad.columns and bad.count() == 3


def test_expectations_report_unique_and_ref(spark):
    from ai_fabric_etl_spark.operators import expectations as X

    df = spark.createDataFrame(
        [(1, 100), (2, 100), (2, 200), (3, 999), (None, 100)],
        "k int, fk int",
    )
    dim = spark.createDataFrame([(100,), (200,)], "d int")
    rep = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in X.report(
            df, [X.expect_not_null("k")],
            unique_keys=[["k"]],
            references=[("fk", dim, "d")],
        ).collect()
    }
    # k=2 appears twice -> 1 dup violation; null k is not a dup
    assert rep["unique_k"] == (1, 5)
    assert rep["k_not_null"] == (1, 5)
    # fk=999 dangles
    assert rep["fk_ref_d"] == (1, 5)


def test_quantile_sketch_exact_regime_and_chaining(spark):
    from ai_fabric_etl_spark.operators.sketches import (
        quantile_compress,
        quantile_partials,
        quantile_values,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 37) % 1009).cast("double").alias("x"),
    ).repartition(8)
    parts = quantile_partials(df, "x", by=["g"], k=10000)
    # exact regime: weights sum to the true count
    n = parts.groupBy("g").agg(F.sum("weight").alias("w")).collect()
    assert all(r["w"] == 1000 for r in n)
    got = {
        r["g"]: (r["p50"], r["p95"])
        for r in quantile_values(parts, ["g"], {"p50": 0.5, "p95": 0.95}).collect()
    }
    import math

    for g in ("0", "1", "2"):
        vals = sorted(
            float((i * 37) % 1009) for i in range(3000) if i % 3 == int(g)
        )
        want = (
            vals[max(1, math.ceil(0.5 * len(vals))) - 1],
            vals[max(1, math.ceil(0.95 * len(vals))) - 1],
        )
        assert got[g] == want
    # chaining: compress keeps estimates within the rank bound
    packed = quantile_compress(parts, ["g"], k=64)
    assert packed.count() < parts.count()
    est = {
        r["g"]: r["p50"]
        for r in quantile_values(packed, ["g"], {"p50": 0.5}).collect()
    }
    for g in ("0", "1", "2"):
        vals = sorted(
            float((i * 37) % 1009) for i in range(3000) if i % 3 == int(g)
        )
        true_rank = sum(v <= est[g] for v in vals)
        assert abs(true_rank - 500) <= 150, (g, est[g], true_rank)


def test_quantile_sketch_compressed_rank_bound(spark):
    from ai_fabric_etl_spark.operators.sketches import (
        quantile_partials,
        quantile_values,
    )

    n, k = 100_000, 256
    df = spark.range(0, n).select(
        F.lit("all").alias("g"),
        ((F.col("id") * 2654435761) % 999983).cast("double").alias("x"),
    ).repartition(16)
    parts = quantile_partials(df, "x", by=["g"], k=k)
    qs = {f"q{int(q*100)}": q for q in (0.01, 0.25, 0.5, 0.75, 0.99)}
    est = quantile_values(parts, ["g"], qs).collect()[0]
    vals = sorted(float((i * 2654435761) % 999983) for i in range(n))
    # generous multiple of the MRL bound (log2(n/k)/2 + 1) * n/k
    import math

    bound = 3 * (math.log2(n / k) / 2 + 1) * (n / k)
    for name, q in qs.items():
        true_rank = q * n
        got_rank = sum(v <= est[name] for v in vals)
        assert abs(got_rank - true_rank) <= bound, (name, got_rank, true_rank)


def test_cms_upper_bound_and_error_band(spark):
    """Every CMS estimate is >= the true count (structural: min over
    rows of sums that each include the value's own count), and with
    width=64, depth=4 the overestimate stays within the Cormode-
    Muthukrishnan e/width * n band for this deterministic corpus —
    zipfian-ish counts over 500 distinct keys hashed into 64 buckets,
    so collisions genuinely fire."""
    import math

    from ai_fabric_etl_spark.operators.sketches import (
        cms_estimate,
        cms_table,
    )

    n_keys, width, depth = 500, 64, 4
    df = spark.range(0, 20_000).select(
        (F.col("id") % n_keys).alias("k")
    ).filter((F.col("id") % (F.col("id") % n_keys + 1)) < 50)
    truth = {
        r["k"]: r["c"]
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n = sum(truth.values())
    sk = cms_table(df, "k", width=width, depth=depth)
    assert sk.count() <= width * depth
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(
            sk,
            df.select("k").distinct(),
            "k",
            width=width,
            depth=depth,
        ).collect()
    }
    assert set(est) == set(truth)
    band = math.e / width * n
    over = [est[k] - truth[k] for k in truth]
    assert all(o >= 0 for o in over), "CMS must never underestimate"
    # e^-4 ~ 1.8% of keys may exceed the band; allow a small tail
    assert sum(o > band for o in over) <= 0.05 * n_keys, max(over)


def test_cms_merge_equals_single_pass(spark):
    """Bucket-wise summation of two half-corpus sketches must equal
    the one-pass sketch bit-for-bit (mergeable-summary contract), and
    an unseen value estimates its collision floor, never NULL."""
    from ai_fabric_etl_spark.operators.sketches import (
        cms_estimate,
        cms_merge,
        cms_table,
    )

    df = spark.range(0, 3000).select((F.col("id") % 97).alias("k"))
    a = df.filter(F.col("k") % 2 == 0)
    b = df.filter(F.col("k") % 2 == 1)
    merged = cms_merge(
        cms_table(a, "k", width=128, depth=4),
        cms_table(b, "k", width=128, depth=4),
    )
    single = cms_table(df, "k", width=128, depth=4)
    sm = {(r["cms_row"], r["cms_bucket"]): r["cms_count"]
          for r in merged.collect()}
    ss = {(r["cms_row"], r["cms_bucket"]): r["cms_count"]
          for r in single.collect()}
    assert sm == ss
    unseen = spark.createDataFrame([(999999,)], "k long")
    got = cms_estimate(single, unseen, "k", width=128, depth=4).collect()
    assert len(got) == 1 and got[0]["cms_estimate"] >= 0


def test_pagerank_sink_collects_mass(spark):
    from ai_fabric_etl_spark.operators.graph import pagerank

    # star: 1..4 -> 5; 5 has no out-edges (dangling, simplified variant)
    edges = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5)], "src long, dst long"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iterations=2).collect()}
    assert len(r) == 5
    # sources keep only teleport mass; the sink accumulates theirs
    teleport = 0.15 / 5
    assert all(abs(r[i] - round(teleport, 6)) < 1e-9 for i in (1, 2, 3, 4))
    assert r[5] == round(teleport + 0.85 * 4 * teleport, 6)


def test_broadcast_threshold_reads_every_spark_byte_form(spark):
    from ai_fabric_etl_spark.operators.graph import _broadcast_threshold_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    forms = {
        "10mb": 10 * 1024**2, "512kb": 512 * 1024, "1gb": 1024**3,
        "10m": 10 * 1024**2, "64k": 64 * 1024, "2048": 2048,
        "100b": 100, "-1": -1,
    }
    try:
        for form, want in forms.items():
            spark.conf.set(key, form)
            assert _broadcast_threshold_bytes(spark) == want, form
    finally:
        spark.conf.set(key, before)


def test_resolve_roots_depth_and_doubling(spark):
    from ai_fabric_etl_spark.operators.graph import resolve_roots

    # chain 1 <- 2 <- 3 ... <- 40 (depth 39) plus a second tree
    rows = [(1, None)] + [(i, i - 1) for i in range(2, 41)]
    rows += [(100, None), (101, 100), (102, 100)]
    df = spark.createDataFrame(rows, "id long, parent long")
    got = {r["id"]: (r["root"], r["depth"]) for r in
           resolve_roots(df, max_rounds=7).collect()}
    assert got[40] == (1, 39) and got[1] == (1, 0)
    assert got[101] == (100, 1) and got[102] == (100, 1)
    # depth 39 must resolve in <= 6 doubling rounds; 7 rounds suffice,
    # a per-level loop would need 39
    import pytest

    with pytest.raises(RuntimeError):
        resolve_roots(df, max_rounds=3)  # 2^3 = 8 < 39: must raise


def test_resolve_roots_cycle_raises(spark):
    from ai_fabric_etl_spark.operators.graph import resolve_roots

    df = spark.createDataFrame(
        [(1, 2), (2, 1)], "id long, parent long"
    )
    import pytest

    with pytest.raises(RuntimeError):
        resolve_roots(df, max_rounds=5)


def test_histogram_grid_and_degenerate_group(spark):
    from ai_fabric_etl_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 5.0), ("a", 10.0), ("b", 7.0), ("b", 7.0),
         ("a", None)],
        "g string, v double",
    )
    out = histogram(df, "v", bins=5, by=["g"]).collect()
    a = sorted((r["bin_id"], r["n_rows"]) for r in out if r["g"] == "a")
    # width 2: 0 -> bin0, 5 -> bin2, 10 (max) closed into last bin 4
    assert a == [(0, 1), (1, 0), (2, 1), (3, 0), (4, 1)]
    b = [r for r in out if r["g"] == "b"]
    # degenerate min == max: everything in bin 0, grid still complete
    assert sorted((r["bin_id"], r["n_rows"]) for r in b) == [
        (0, 2), (1, 0), (2, 0), (3, 0), (4, 0)]
    assert sum(r["n_rows"] for r in out) == 5  # null v excluded


def test_histogram_null_group_counted_and_bins_validated(spark):
    from ai_fabric_etl_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(None, 5.0), (None, 7.0), ("a", 1.0)], "g string, v double"
    )
    out = histogram(df, "v", bins=2, by=["g"]).collect()
    null_rows = sum(r["n_rows"] for r in out if r["g"] is None)
    assert null_rows == 2  # NULL group key rows must be counted
    import pytest

    with pytest.raises(ValueError):
        histogram(df, "v", bins=0)


# ---------------------------------------------------------------------------
# skew stress (VERDICT r4 item 2): zipfian hot key = 20% of rows
# ---------------------------------------------------------------------------


def _hotkey_fact(spark, n=400_000, n_keys=10_000, hot_mod=5):
    """Synthetic zipfian-ish fact: key 0 owns 1/hot_mod of all rows
    (20% by default), the rest spread uniformly over ``n_keys``
    distinct keys — the partner-skew shape of the reference's gold
    marts (big trading partners, gold_x12_analytics.py:600-619) at
    adversarial intensity."""
    return spark.range(n).select(
        F.when(F.col("id") % hot_mod == 0, F.lit(0))
        .otherwise((F.col("id") % n_keys) + 1)
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def _partition_spread(df):
    """(max, median) rows per partition of an already-partitioned df."""
    sizes = (
        df.withColumn("_p", F.spark_partition_id())
        .groupBy("_p")
        .count()
        .collect()
    )
    rows = sorted(r["count"] for r in sizes)
    return rows[-1], rows[len(rows) // 2]


def test_salted_shuffle_balances_hot_key(spark):
    """The naive hash shuffle on the hot key explodes (max/median
    partition rows >> 4); the salted layout the two-phase aggregate
    shuffles by stays balanced (< 4). This is the structural gate:
    partition row spread is the deterministic cause of the straggler
    wall-clock VERDICT item 2 asks about."""
    from ai_fabric_etl_spark.plans.skew import salted_aggregate

    df = _hotkey_fact(spark)
    n_part = 32
    naive_max, naive_med = _partition_spread(df.repartition(n_part, "k"))
    assert naive_max / naive_med > 4, (
        f"hot key did not skew the naive shuffle ({naive_max}/{naive_med})"
    )

    salt = (F.rand(seed=7) * 16).cast("int")
    salted_max, salted_med = _partition_spread(
        df.withColumn("_s", salt).repartition(n_part, "k", "_s")
    )
    assert salted_max / salted_med < 4, (
        f"salted shuffle still skewed ({salted_max}/{salted_med})"
    )

    # and the two-phase result is exactly the plain groupBy (v values
    # are small integers as doubles — sums are exact)
    got = {
        r["k"]: (r["cnt"], r["s"])
        for r in salted_aggregate(
            df,
            ["k"],
            {"cnt": F.count(F.lit(1)), "s": F.sum("v")},
            {"cnt": F.sum("cnt"), "s": F.sum("s")},
        ).collect()
    }
    want = {
        r["k"]: (r["cnt"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_aqe_splits_skewed_join(spark):
    """With broadcast disabled (big-big shape) and local-scale skew
    thresholds, AQE must mark the sort-merge join skew=true and split
    the hot partition; the result must equal the broadcast plan's."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # hot key = 50% of rows: with the 4-partition test session the
        # hot reduce partition must clear the skewedPartitionFactor
        # against the median (at 20% it lands exactly at 2x — border)
        fact = _hotkey_fact(spark, n=200_000, hot_mod=2)
        dim = spark.range(10_001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").select(
            F.sum(F.col("v") + F.col("w")).alias("s")
        )
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skew join:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # parity with the broadcast plan (default confs restored)
    fact = _hotkey_fact(spark, n=200_000, hot_mod=2)
    dim = spark.range(10_001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    [want] = (
        fact.join(F.broadcast(dim), "k")
        .select(F.sum(F.col("v") + F.col("w")).alias("s"))
        .collect()
    )
    assert row["s"] == want["s"]
