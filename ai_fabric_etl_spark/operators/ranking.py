"""Distributed global ranking — total-order row numbers and ntile
buckets WITHOUT a single-partition window.

``F.row_number().over(Window.orderBy(...))`` collapses the whole
DataFrame into one task (Spark warns "No Partition Defined for Window
operation") — fine on a 150k-row dimension, fatal on the 100 TB path
where even the *aggregated* grain (customers, vocabulary terms) runs
to hundreds of millions of rows. These helpers compute the identical
values with the classic two-phase scheme the repo's
``sampling.global_shuffle`` already uses:

1. ``repartitionByRange`` on the order keys (Spark samples split
   points, so partitions are balanced and ranges are disjoint and
   ordered by partition id);
2. a per-partition ``row_number`` (parallel) plus a cumulative offset
   computed from the per-partition counts — a frame of at most
   ``spark.sql.shuffle.partitions`` rows, the only place a global
   window runs.

The order columns must define a TOTAL order (include a unique
tie-breaker column): ranks of a totally-ordered frame are independent
of where the range boundaries fall, which is what makes the two-phase
result exactly equal to the single-window one.

Reference parity: the reference has no distributed ranking (its
single-node engines sort in memory); this backs the ntile scoring in
``rfm_customer_segments`` and the Gini skew rank in ``profile``, both
oracled against DuckDB's ``ntile``/``row_number`` semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "__gr_pid"
_LOCAL = "__gr_local"
_OFFSET = "__gr_offset"
_TOTAL = "__gr_total"


def _with_rank_and_total(df: DataFrame, order_by: list[Column]) -> DataFrame:
    """df + ``_RANK`` (1-based global position) + ``_TOTAL`` (row count),
    both derived from one range shuffle. Internal: callers drop the
    helper columns after deriving their output."""
    ranked = df.repartitionByRange(*order_by)
    local = ranked.withColumn(_PID, F.spark_partition_id())
    wlocal = Window.partitionBy(_PID).orderBy(*order_by)
    local = local.withColumn(_LOCAL, F.row_number().over(wlocal))
    # Pin the lineage: the offsets aggregate and the join probe both
    # read `local`; without pinning each re-runs the range sort and two
    # evaluations of spark_partition_id() on resampled boundaries could
    # disagree (gaps/duplicate ranks) — same hazard global_shuffle
    # documents.
    local = local.localCheckpoint(eager=False)
    counts = local.groupBy(_PID).agg(F.count(F.lit(1)).alias("_n"))
    # tiny frame: one row per shuffle partition. The cumulative
    # offsets come from ONE global aggregate — collect the (pid, n)
    # pairs into a sorted array, scan it with the JVM `aggregate`
    # higher-order function, explode back. The plan is a standard
    # Exchange SinglePartition -> HashAggregate over <= shuffle-
    # partition-count rows (the shape the plan tests whitelist), with
    # NO WindowExec: nothing can emit the no-partition warning, so
    # log audits flag only real single-partition hazards. (An
    # unpartitioned window warns regardless of input size; a constant
    # partition key gets optimizer-folded back to empty; a theta-join
    # prefix sum plans as BroadcastNestedLoopJoin — all rejected, r5.)
    # The O(p^2) array-append scan is trivial at any realistic
    # shuffle-partition count (p=10^4 -> 10^8 long copies, <1s once).
    packed = counts.agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col(_PID).alias("p"), F.col("_n").alias("n"))
            )
        ).alias("arr")
    )
    scanned = packed.select(
        F.aggregate(
            F.col("arr"),
            F.struct(
                F.lit(0).cast("long").alias("acc"),
                F.expr(
                    "cast(array() as array<struct<p:int,o:bigint>>)"
                ).alias("out"),
            ),
            lambda s, x: F.struct(
                (s.acc + x.n).alias("acc"),
                F.concat(
                    s.out,
                    F.array(F.struct(x.p.alias("p"), s.acc.alias("o"))),
                ).alias("out"),
            ),
        ).alias("st")
    )
    offsets = scanned.select(
        F.explode("st.out").alias("po"), F.col("st.acc").alias(_TOTAL)
    ).select(
        F.col("po.p").alias(_PID),
        F.col("po.o").alias(_OFFSET),
        F.col(_TOTAL),
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn("_RANK", (F.col(_OFFSET) + F.col(_LOCAL)).cast("long"))
        .drop(_PID, _LOCAL, _OFFSET)
    )


def global_row_number(
    df: DataFrame, order_by: list[Column], out_col: str = "rn"
) -> DataFrame:
    """1-based global row number by ``order_by`` (must be a total
    order), computed with a range shuffle instead of a one-task window.
    Exactly ``F.row_number().over(Window.orderBy(*order_by))``."""
    return (
        _with_rank_and_total(df, order_by)
        .withColumn(out_col, F.col("_RANK"))
        .drop("_RANK", _TOTAL)
    )


def global_ntile(
    df: DataFrame, buckets: int, order_by: list[Column], out_col: str = "bucket"
) -> DataFrame:
    """SQL-standard NTILE(buckets) over a global ordering, distributed.

    With n rows and k buckets: q = n div k, r = n mod k; the first r
    buckets get q+1 rows, the rest q — derived arithmetically from the
    global rank, bit-equal to ``F.ntile``/DuckDB ``ntile``. Rank/count
    arithmetic is exact for n < 2^53 (double-division bound; 100 TB is
    ~1e12 rows, three orders of magnitude under it).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    out = _with_rank_and_total(df, order_by)
    k = F.lit(buckets)
    n = F.col(_TOTAL)
    q = F.floor(n / k).cast("long")
    r = (n - q * k).cast("long")
    gr = F.col("_RANK")
    big = r * (q + F.lit(1))  # rows living in the q+1-sized buckets
    # greatest(q, 1): when n < k every row falls in the WHEN branch, but
    # ANSI-mode Spark must still see a non-zero literal denominator
    bucket = F.when(
        gr <= big, F.ceil(gr / (q + F.lit(1)))
    ).otherwise(r + F.ceil((gr - big) / F.greatest(q, F.lit(1))))
    return (
        out.withColumn(out_col, bucket.cast("int"))
        .drop("_RANK", _TOTAL)
    )
