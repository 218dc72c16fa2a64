"""A* point-to-point shortest path over priority buckets.

Reference: apps/astar.gt — `f_score` is the tentative distance from the
source, the priority is `f_score[dst] + h(dst, target)` (g_score), and
the bucket queue dequeues lowest-priority vertices until the target's
bucket is finished (`pq.finishedNode(dst_vertex)`).

Spark realization: the bucket-relaxation superstep of
kernels/delta_stepping.py, bucketed on priority = dist + h instead of
dist. The heuristic is a
caller-supplied `(id, h)` DataFrame of admissible lower bounds on the
remaining distance to `target` (the reference computes haversine from
loaded coordinates via an extern func — coordinates are input data, not
engine logic). h = 0 everywhere degenerates to Dijkstra/delta-stepping.

Termination: once the current bucket's lower bound exceeds the target's
tentative distance, no remaining path can improve it (priority is an
admissible lower bound on any completion through that vertex), so
dist[target] is exact — vertices beyond the goal region are never
relaxed, which is the entire point of A*. The target's distance and
the next bucket are observed on each round's checkpoint job, so a
round runs no action of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.kernels.delta_stepping import bucket_relaxation
from graphit_spark.plans.state import bind_release, counted_checkpoint, superstep


def astar(
    graph: LinkGraph,
    source: int,
    target: int,
    heuristic: DataFrame | None = None,
    *,
    delta: int = 4,
    max_rounds: int = 10_000,
) -> DataFrame:
    """(id, dist) tentative distances when the target settled; exact for
    `target` (NULL everywhere unreached/pruned). `heuristic` is (id, h)
    with admissible long lower bounds; missing ids get h = 0.
    ``max_rounds`` is a safety net: running out of relaxation rounds
    before the target settles raises."""
    if not graph.weighted:
        raise ValueError("astar requires a weighted graph")
    with graph.persisted():
        verts = graph.vertices()
        if heuristic is None:
            h = verts.select("id", F.lit(0).cast("long").alias("h"))
        else:
            h = (
                verts.join(heuristic.select("id", "h"), "id", "left")
                .select("id", F.coalesce(F.col("h").cast("long"), F.lit(0)).alias("h"))
            )
        prio = F.col("dist") + F.col("h")
        at_target = F.col("id") == target
        # the target's tentative distance, observed with every round's state
        tgt = {
            "hit": F.count(F.when(at_target, F.col("dist"))),
            "tgt": F.max(F.when(at_target, F.col("dist"))),
        }

        def settled(bucket: int | None, seen) -> bool:
            # queue exhausted (target unreachable), or finishedNode(target):
            # no remaining priority can beat its tentative distance
            return bucket is None or (seen["hit"] > 0 and bucket * delta > seen["tgt"])

        # the first bucket (the source's) rides the starting checkpoint job
        state, seen = counted_checkpoint(
            h.select(
                "id", "h",
                F.when(F.col("id") == source, F.lit(0).cast("long")).alias("dist"),
            ),
            first=F.min(F.floor(prio / delta)),
            reached=F.count("dist"),
            **tgt,
        )
        first = seen["first"] if seen["reached"] else None
        if not settled(first, seen):
            step, next_bucket, aggs = bucket_relaxation(
                graph.edges, delta, prio, first
            )
            state = superstep(
                state, step, max_rounds=max_rounds, checkpoint_start=False,
                until=lambda seen: settled(next_bucket(seen), seen),
                **aggs, **tgt,
            )
    return bind_release(state.select("id", "dist"), state)


def ppsp(
    graph: LinkGraph,
    source: int,
    target: int,
    *,
    delta: int = 2,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Point-to-point shortest path (reference apps/ppsp_delta_stepping.gt):
    delta-stepping that stops as soon as `pq.finishedNode(end_vertex)` —
    exactly the A* bucket loop with h = 0, so this is that kernel with
    the reference's default bucket width (the pq constructor's delta=2,
    ppsp_delta_stepping.gt:26)."""
    return astar(
        graph, source, target, heuristic=None,
        delta=delta, max_rounds=max_rounds,
    )
