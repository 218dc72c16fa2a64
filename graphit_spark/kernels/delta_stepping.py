"""SSSP by delta-stepping — GraphIt's ordered-processing operator mapped
to driver-side priority buckets.

Reference: apps/sssp_delta_stepping.gt — a lazy bucket priority queue
(`pq.updatePriorityMin`, runtime infra_julienne/bucket.h; lowering
src/midend/priority_features_lowering.cpp:242-265). Each outer round
dequeues the lowest non-empty bucket as the frontier
(`pq.dequeue_ready_set`) and relaxes its out-edges
(`edges.from(frontier).applyUpdatePriority(updateEdge)`), re-inserting
improved vertices into their new buckets, until the queue is exhausted.

Spark realization (SURVEY §2.3 row `applyUpdatePriority`): there is no
distributed priority queue — the bucket structure lives in the driver as
a scalar `current bucket index`; membership is a `filter` on the distance
column (`dist div delta == k`). Each superstep relaxes the current
bucket's out-edges; the next bucket is the same one if the round
improved a distance inside it (light-edge re-relaxation), else the
lowest non-empty higher bucket — both observed on the round's own
materialization, so advancing costs no job. The fixpoint equals
Bellman-Ford's exact distances — the ordered schedule only changes
*work order*, which is the reference's claim too (CGO 2020). Every
relaxation round is the same partition-pruned join + groupBy(min)
superstep as kernels/paths.py, so scale behavior is identical; the win
is touching each edge O(1) expected times instead of O(rounds).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import Observed, superstep


def bucket_relaxation(
    edges: DataFrame, delta: int, prio: Column, first: int
) -> tuple[Callable, Callable[[Observed], int | None], dict[str, Column]]:
    """``(step, next_bucket, aggs)`` of the Julienne lazy bucket queue as
    a superstep over a state ``(id, ..., dist)``, bucketed on
    floor(prio / delta) — shared by delta-stepping (prio = dist) and A*
    (prio = dist + h).

    ``step`` relaxes the out-edges of one bucket: ``first`` in a call's
    first round, then ``next_bucket(seen)`` of the previous round —
    that bucket again if the round improved a distance inside it, else
    the lowest non-empty higher bucket, ``None`` once the queue is
    exhausted. ``aggs`` (observed on each round's materialization, to
    be passed to ``superstep``) are what ``next_bucket`` reads."""
    bucket_of = F.floor(prio / delta)
    improved = F.col("old").isNull() | (F.col("dist") < F.col("old"))
    above = bucket_of > F.col("b")
    aggs = {
        "cur": F.max("b"),
        "imp": F.count(F.when(improved & (bucket_of == F.col("b")), 1)),
        "more": F.count(F.when(above, 1)),
        "nxt": F.min(F.when(above, bucket_of)),
    }

    def next_bucket(seen: Observed) -> int | None:
        if seen["imp"]:
            return seen["cur"]
        return seen["nxt"] if seen["more"] else None

    def step(state: DataFrame, rnd) -> DataFrame:
        b = first if rnd.seen is None else next_bucket(rnd.seen)
        # frontier = current bucket's members (dequeue_ready_set)
        frontier = state.filter(bucket_of == b).select(
            F.col("id").alias("src"), F.col("dist").alias("sdist")
        )
        cand = (
            edges.join(frontier, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("sdist") + F.col("weight")).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        relaxed = state.join(cand, "id", "left").select(
            *[c for c in state.columns if c != "dist"],
            F.when(
                F.col("cand").isNotNull()
                & (F.col("dist").isNull() | (F.col("cand") < F.col("dist"))),
                F.col("cand"),
            )
            .otherwise(F.col("dist"))
            .alias("dist"),
            F.col("dist").alias("old"),
            F.lit(b).alias("b"),
        )
        # the round's aggregates read old and b; the state drops them
        return rnd.observe(relaxed).select(*state.columns)

    return step, next_bucket, aggs


def sssp_delta_stepping(
    graph: LinkGraph,
    source: int = 0,
    *,
    delta: int = 4,
    max_rounds: int = 10_000,
    store=None,
    resume: bool = False,
) -> DataFrame:
    """(id, dist) exact shortest paths; NULL = unreachable.

    delta: bucket width in weight units (reference default set per-graph
    by schedule; weights here are small ints so a few weight-units wide
    is a good default).

    max_rounds: a fixed-iteration budget of relaxation rounds — the run
    stops early when the queue is exhausted and never raises.

    store/resume: the north-rule checkpoint contract extended to the
    Julienne priority-bucket layer — each relaxation round's (id, dist)
    is materialized by its snapshot write, with the NEXT scalar bucket
    cursor in the manifest metrics (``None`` once the queue is
    exhausted), so a killed run restarts inside the correct bucket.
    Distances are integers and the relaxation is a min-fixpoint, so the
    resumed run is byte-identical to an uninterrupted one (same
    argument as BFS/SSSP)."""
    if not graph.weighted:
        raise ValueError("delta-stepping requires a weighted graph")
    with graph.persisted():
        bucket, start = 0, 0
        if resume and store is not None and store.latest() is not None:
            it = store.latest()
            dist = store.read(graph.spark, it).select("id", "dist")
            bucket = (store.manifest(it).get("metrics") or {}).get("bucket", 0)
            start = it + 1
        else:
            dist = graph.vertices().select(
                "id",
                F.when(F.col("id") == source, F.lit(0).cast("long")).alias(
                    "dist"
                ),
            )
        if bucket is not None:  # else the snapshot's queue was exhausted
            step, next_bucket, aggs = bucket_relaxation(
                graph.edges, delta, F.col("dist"), bucket
            )
            dist = superstep(
                dist, step, rounds=max_rounds, start=start,
                until=lambda seen: next_bucket(seen) is None,
                materialize=None if store is None else (
                    lambda df, rnd, seen: store.write(df, rnd.index, {
                        "kernel": "sssp_delta_stepping",
                        "bucket": lambda: next_bucket(seen),
                    })
                ),
                **aggs,
            )
    return dist
