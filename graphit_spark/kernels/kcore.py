"""k-core decomposition by iterative peeling.

Reference: apps/k_core.gt drives k-core with a priority queue (Julienne
buckets, SURVEY.md §2 priority_queue row). The Spark-native formulation
is synchronous peeling — repeatedly drop vertices whose degree in the
induced subgraph is < k until a fixpoint — which needs no distributed
priority queue: each round is one aggregation + semi-joins, and the
number of rounds is the peeling depth (small on web-like graphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import counted_checkpoint, fresh_checkpoint


def k_core(graph: LinkGraph, k: int, *, max_rounds: int = 100) -> DataFrame:
    """Vertices of the k-core of the symmetrized graph: (id), every vertex
    with >= k neighbors inside the core."""
    g = graph.symmetrize()
    own_cache = g.ensure_persisted()
    keep = graph.vertices()
    keep = keep.transform(fresh_checkpoint)
    n_old = keep.count()

    for _ in range(max_rounds):
        alive = g.edges.join(
            keep.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
        deg = alive.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("d")
        )
        new_keep = (
            keep.join(deg, "id", "left")
            .filter(F.coalesce("d", F.lit(0)) >= k)
            .select("id")
            .transform(fresh_checkpoint)
        )
        n_new = new_keep.count()
        keep.unpersist()
        keep = new_keep
        if n_new == n_old:
            break
        n_old = n_new
    if own_cache:
        g.unpersist()
    return keep


def core_decomposition(
    graph: LinkGraph, *, max_rounds: int = 100_000
) -> DataFrame:
    """Full coreness per vertex — reference apps/k_core.gt (Julienne lazy
    bucket queue: dequeue the lowest-degree bucket k, decrement neighbor
    priorities clamped at k via `pq.updatePrioritySum(dst, -1, k)`; a
    vertex's priority when dequeued IS its core number).

    Spark realization (SURVEY §2.3 `applyUpdatePriority`): the bucket
    index k is a driver scalar; "dequeue" is a filter on the residual
    degree column; the decrement is a join of the peeled frontier's
    edges against the remaining set — only the peeled vertices' edges
    are touched per round (the Julienne work bound), never a full
    rescan. Returns (id, core).
    """
    g = graph.symmetrize()
    own_cache = g.ensure_persisted()
    spark = g.spark

    # universe from the ORIGINAL graph: the symmetrized copy re-derives
    # num_vertices from its squished edges, which loses isolated ids
    # whose only raw edges were self-loops (FindMaxNodeID runs on the
    # RAW list, builder.h:210)
    sym_deg = g.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("sd")
    )
    state = (
        graph.vertices()
        .join(sym_deg, "id", "left")
        .select("id", F.coalesce("sd", F.lit(0)).cast("long").alias("d"))
        .transform(fresh_checkpoint)
    )
    cores: list[DataFrame] = []
    prev = state

    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        k_row = state.agg(F.min("d").alias("k")).collect()[0]
        if k_row["k"] is None:
            break  # pq.finished(): everything dequeued
        k = int(k_row["k"])
        # inner loop: peel at priority k until the bucket drains
        # (removing a vertex can pull others down INTO bucket k —
        # never below, that's the clamp)
        while True:
            peeled, seen = counted_checkpoint(
                state.filter(F.col("d") <= k).select("id")
            )
            if seen["rows"] == 0:
                break
            cores.append(peeled.select("id", F.lit(k).alias("core")))
            remaining = state.join(peeled, "id", "left_anti")
            dec = (
                g.edges.join(
                    peeled.select(F.col("id").alias("src")), "src", "left_semi"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count("*").alias("dec"))
            )
            state = (
                remaining.join(dec, "id", "left")
                .select(
                    "id",
                    (F.col("d") - F.coalesce("dec", F.lit(0))).alias("d"),
                )
                .transform(fresh_checkpoint)
            )
            prev.unpersist()
            prev = state

    if own_cache:
        g.unpersist()
    if not cores:
        return spark.createDataFrame([], "id long, core long")
    out = cores[0]
    for part in cores[1:]:
        out = out.unionByName(part)
    return out.select("id", F.col("core").cast("long").alias("core"))
