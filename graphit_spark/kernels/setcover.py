"""Parallel (1+eps)-approximate greedy set cover — GraphIt's
`set_cover.gt` priority-bucket application mapped to Spark supersteps.

Reference: apps/set_cover.gt (log-bucketed degrees via
`priority_queue{Vertex}` + `applyUpdatePriorityExtern`) whose extern body
is test/input_with_schedules/set_cover_extern.cpp:25-75 (Julienne's
MaxCover): sets = vertices, elements = out-neighbors. Each round
dequeues the highest-degree bucket; member sets with residual degree
>= (1+eps)^p compete for their uncovered elements via writeMin(set id);
a set that wins >= max(ceil((1+eps)^(p-1)), 1) elements joins the cover
and marks its won elements covered; everything else is re-bucketed by
residual degree. This yields the standard (1+eps)-factor-of-greedy
approximation while exposing bucket-level parallelism.

Spark realization (SURVEY §2.3 `applyUpdatePriority` row): no
distributed PQ — the superstep state is the uncovered (set, element)
pairs with each set's residual degree, and the next top bucket is the
max bucket observed on the round's own checkpoint job, so the current
priority reaches the driver with no action; "dequeue the top bucket" is
a filter on residual degree, the writeMin competition is
`groupBy(element).agg(min(set))`, and win-counting is one more groupBy.
All shuffles key on element id or set id (the same gather-scatter shape
as PageRank), so hub elements are absorbed by map-side partial
aggregation. Deterministic: min-set-id wins every race, so results are
reproducible across cluster sizes (the reference's CAS races are not).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import (
    bind_release,
    counted_checkpoint,
    release_on_raise,
    superstep,
)

EPSILON = 0.01


def set_cover(
    graph: LinkGraph,
    *,
    epsilon: float = EPSILON,
    max_rounds: int = 10_000,
) -> DataFrame:
    """Greedy-bucketed set cover: sets are src vertices, the universe is
    every vertex that appears as a dst. Returns (set_id, round) — the
    chosen cover, with the superstep that admitted each set. Raises if
    elements are still uncovered after ``max_rounds`` rounds.
    """
    x = 1.0 / math.log1p(epsilon)
    bucket = F.floor(F.lit(x) * F.log(F.col("rdeg").cast("double")))
    per_set = Window.partitionBy("s")

    def residual(live: DataFrame) -> DataFrame:
        """Uncovered (s, e) pairs with each set's residual degree."""
        return live.withColumn("rdeg", F.count(F.lit(1)).over(per_set))

    # sets -> elements (out-adjacency after squish, like the reference's
    # packed CSR); the start observes the first top bucket
    live, first = counted_checkpoint(
        residual(
            graph.edges.select(
                F.col("src").alias("s"), F.col("dst").alias("e")
            )
        ),
        top=F.max(bucket),
    )
    cover_parts: list[DataFrame] = []

    def admit(live: DataFrame, rnd) -> DataFrame:
        """Dequeue the top bucket; admitted sets cover the elements they
        win. pq.finished() is an empty state: no set has residual degree."""
        p = int((first if rnd.seen is None else rnd.seen)["top"])
        threshold = math.ceil((1.0 + epsilon) ** p)
        low = max(math.ceil((1.0 + epsilon) ** (p - 1)), 1)
        # writeMin competition: min set id acquires each uncovered element
        winners = (
            live.filter(F.col("rdeg") >= threshold)
            .groupBy("e")
            .agg(F.min("s").alias("s"))
        )
        admitted, seen = counted_checkpoint(
            winners.groupBy("s")
            .agg(F.count("*").alias("won"))
            .filter(F.col("won") >= low)
            .select("s", F.lit(rnd.index + 1).alias("round"))
        )
        cover_parts.append(admitted)
        if seen["rows"] == 0:
            # unreachable given integer degrees: p = floor(x*ln(rdeg))
            # implies ceil((1+eps)^p) <= max rdeg, so the top bucket is
            # never empty, and the globally-smallest active set id wins
            # ALL of its own >= threshold >= low elements. A
            # float-boundary surprise would otherwise livelock.
            raise RuntimeError(f"set_cover: bucket {p} admitted no set")
        newly = winners.join(admitted, "s").select("e")
        return residual(live.select("s", "e").join(newly, "e", "left_anti"))

    if not first["rows"]:  # no edges: the empty cover
        live.unpersist()
        return graph.spark.createDataFrame([], "set_id long, round int")
    with release_on_raise(cover_parts):
        superstep(
            live, admit,
            max_rounds=max_rounds, checkpoint_start=False,
            until=lambda seen: seen["rows"] == 0,
            rows=F.count(F.lit(1)), top=F.max(bucket),
        ).unpersist()
    return bind_release(
        reduce(DataFrame.union, cover_parts).select(
            F.col("s").alias("set_id"), "round"
        ),
        *cover_parts,
    )
