"""Distributed dense ranking — global row_number without the
single-partition Window bottleneck.

A plain `row_number() OVER (ORDER BY ...)` forces every row through ONE
task (Spark warns "No Partition Defined for Window operation"), which is
fatal at crawl scale where the url dictionary is ~10^12 rows. The
classic fix (zipWithIndex semantics, done in DataFrame ops):

  1. `repartitionByRange` on the order columns — a distributed sort into
     P contiguous, ordered buckets (sampling picks boundaries);
  2. rank within each bucket (`row_number` partitioned by bucket — P
     parallel sorts);
  3. add per-bucket offsets = driver-side prefix sum of the P bucket
     counts (P scalars, not rows) broadcast-joined back.

Because the order columns form a total order with unique keys, the
result is the unique global dense rank — deterministic regardless of
where the sampled range boundaries fall. Used by the url→id dictionary
(extract.build_url_ids) and degree relabeling (LinkGraph.relabel_by_degree),
mirroring what GraphIt's single-node `RelabelByDegree` (builder.h:250)
does with an in-memory sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from graphit_spark.graph import local_frame
from graphit_spark.plans.state import bind_release


def ordered_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Append `<v>_cum` = inclusive prefix sum of each value column under
    the global `order_cols` order — same two-phase shape as
    dense_rank_ids (range shuffle → P parallel within-bucket window
    sums → broadcast per-bucket offsets), so no single-partition Window
    ever sees the full table. `order_cols` must form a total order.
    The result's unpersist() releases the internally persisted range
    table: call it once what reads the result is materialized."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(num_partitions, *order_cols).persist()
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    totals = {
        r["__pid"]: r
        for r in with_pid.groupBy("__pid")
        .agg(*[F.sum(v).alias(v) for v in value_cols])
        .collect()
    }
    offsets, acc = [], {v: 0 for v in value_cols}
    for pid in range(num_partitions):
        offsets.append((pid, *[acc[v] for v in value_cols]))
        if pid in totals:
            for v in value_cols:
                acc[v] += totals[pid][v] or 0
    off_schema = "__pid int, " + ", ".join(
        f"__off_{v} long" for v in value_cols
    )
    off_df = local_frame(spark, offsets, off_schema)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = with_pid.join(F.broadcast(off_df), "__pid")
    for v in value_cols:
        out = out.withColumn(
            f"{v}_cum", F.sum(v).over(w) + F.col(f"__off_{v}")
        )
    return bind_release(
        out.drop("__pid", *[f"__off_{v}" for v in value_cols]), ranged
    )


def dense_rank_ids(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "id",
    num_partitions: int | None = None,
    release: list | None = None,
) -> DataFrame:
    """Append `out_col` = 0-based global rank of each row under
    `order_cols` (must be a total order: include a unique tiebreaker).
    All original columns are preserved. `release`, if given, collects
    the internally persisted DataFrame for caller-side unpersist."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Materialize the range shuffle ONCE: the counts action and the
    # returned plan must observe the SAME partitioning (range boundaries
    # come from sampling — re-executing could re-sample, and then the
    # prefix-sum offsets would not match partition contents), and a
    # second global sort of a crawl-scale table would double the cost.
    ranged = df.repartitionByRange(num_partitions, *order_cols).persist()
    if release is not None:
        release.append(ranged)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["n"]
        for r in with_pid.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in range(num_partitions):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off_df = local_frame(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col,
            (F.row_number().over(w) - 1 + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__off")
    )
