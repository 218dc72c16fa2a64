"""k-core decomposition by iterative peeling.

Reference: apps/k_core.gt drives k-core with a priority queue (Julienne
buckets, SURVEY.md §2 priority_queue row). The Spark-native formulation
is synchronous peeling — repeatedly drop vertices whose degree in the
induced subgraph is < k until a fixpoint — which needs no distributed
priority queue: each round is one aggregation + semi-joins, and the
number of rounds is the peeling depth (small on web-like graphs).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import (
    bind_release, fresh_checkpoint, observe, release_on_raise, superstep,
)


def k_core(graph: LinkGraph, k: int, *, max_rounds: int = 100) -> DataFrame:
    """Vertices of the k-core of the symmetrized graph: (id), every vertex
    with >= k neighbors inside the core. ``max_rounds`` is a safety net:
    a peel still dropping vertices when it runs out raises."""
    g = graph.symmetrize()
    with g.persisted():
        def step(keep: DataFrame, rnd) -> DataFrame:
            alive = g.edges.join(
                keep.select(F.col("id").alias("src")), "src", "left_semi"
            ).join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
            deg = alive.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("d")
            )
            # the dropped vertices are counted before the filter drops them
            scored = rnd.observe(
                keep.join(deg, "id", "left")
                .select("id", F.coalesce("d", F.lit(0)).alias("d"))
            )
            return scored.filter(F.col("d") >= k).select("id")

        keep = superstep(
            graph.vertices(), step, max_rounds=max_rounds, changed=F.col("d") < k
        )
    return keep


def core_decomposition(
    graph: LinkGraph, *, max_rounds: int = 100_000
) -> DataFrame:
    """Full coreness per vertex — reference apps/k_core.gt (Julienne lazy
    bucket queue: dequeue the lowest-degree bucket k, decrement neighbor
    priorities clamped at k via `pq.updatePrioritySum(dst, -1, k)`; a
    vertex's priority when dequeued IS its core number).

    Spark realization (SURVEY §2.3 `applyUpdatePriority`): the state is
    the remaining (id, d); each round dequeues the bucket k = min(d),
    observed on the previous round's materialization, as a filter on
    the residual degree column; the decrement is a join of the peeled
    frontier's edges against the remaining set — only the peeled
    vertices' edges are touched per round (the Julienne work bound),
    never a full rescan. Decrements clamp at k, so min(d) never falls
    below the bucket being drained (removing a vertex can pull others
    down INTO bucket k, never below) and one flat loop peels k until it
    drains, then moves to the next bucket. Returns (id, core).
    """
    g = graph.symmetrize()
    with g.persisted():
        # universe from the ORIGINAL graph: the symmetrized copy re-derives
        # num_vertices from its squished edges, which loses isolated ids
        # whose only raw edges were self-loops (FindMaxNodeID runs on the
        # RAW list, builder.h:210)
        sym_deg = g.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("sd")
        )
        # the first bucket rides the starting checkpoint job
        state, first = observe(
            graph.vertices()
            .join(sym_deg, "id", "left")
            .select("id", F.coalesce("sd", F.lit(0)).cast("long").alias("d")),
            k=F.min("d"),
        )
        state = fresh_checkpoint(state)
        cores: list[DataFrame] = []

        def step(state: DataFrame, rnd) -> DataFrame:
            k = (first if rnd.seen is None else rnd.seen)["k"]
            peeled = (
                state.filter(F.col("d") <= k)
                .select("id", F.lit(k).cast("long").alias("core"))
                .transform(fresh_checkpoint)
            )
            cores.append(peeled)
            dec = (
                g.edges.join(
                    peeled.select(F.col("id").alias("src")), "src", "left_semi"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count("*").alias("dec"))
            )
            return (
                state.join(peeled, "id", "left_anti")
                .join(dec, "id", "left")
                .select(
                    "id",
                    F.greatest(
                        F.col("d") - F.coalesce("dec", F.lit(0)), F.lit(k)
                    ).alias("d"),
                )
            )

        # pq.finished(): everything dequeued (an empty graph peels nothing)
        with release_on_raise(cores):
            superstep(
                state, step, max_rounds=max_rounds, checkpoint_start=False,
                until=lambda seen: seen["rows"] == 0,
                rows=F.count(F.lit(1)), k=F.min("d"),
            ).unpersist()
    return bind_release(reduce(DataFrame.unionByName, cores), *cores)
