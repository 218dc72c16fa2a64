"""Densest subgraph by parallel greedy peeling.

The densest-subgraph problem (maximize |E(S)| / |S| over vertex subsets
S of the undirected graph) is the classic "find the core community /
spam farm" primitive on web link graphs. Charikar's greedy (remove the
minimum-degree vertex, keep the best prefix) is a 2-approximation but
inherently serial; the MapReduce variant (Bahmani, Kumar, Vassilvitskii,
VLDB 2012 — public literature) peels EVERY vertex whose degree is at
most 2(1+eps) times the current density per round, giving a
2(1+eps)-approximation in O(log_{1+eps} n) rounds — the same
synchronous-peel shape as kernels/kcore.py.

Reference provenance: no GraphIt app covers this; semantically it is
the §2.3 `applyUpdatePriority` bucket pattern (like apps/k_core.gt)
with a global, density-dependent bucket threshold instead of a fixed k.

Scale shape: each round is one degree aggregation over the induced
subgraph (map-side combined) plus a semi-join, on one V-sized state
that records the round each vertex was peeled in — so every prefix
stays readable from the last state, and a round's n and m are observed
on its own checkpoint job: no count, no collect, no driver-side vertex
loop. The threshold test is integer-exact
(``deg * n <= 3 * m`` for eps = 1/2, i.e. deg <= 3·density), so the
peel sequence is bit-reproducible and SQL-twinnable. Every round
removes more than 1/3 of the surviving vertices (sum of degrees = 2m,
so survivors with deg > 3m/n number < 2n/3), bounding rounds at
log_{1.5} n — 19 rounds covers n = 1500, ~47 covers n = 10^12.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, superstep


def densest_subgraph(
    graph: LinkGraph, *, max_rounds: int = 20
) -> DataFrame:
    """Best-density peel prefix of the symmetrized graph.

    Returns (id, best_round, density): the vertices of the densest
    subgraph seen across the peel (density = undirected edges /
    vertices, ties broken toward the earliest round), with the round
    index and the 6-dp-rounded density on every row.
    """
    g = graph.symmetrize()
    with g.persisted():
        def peel(state: DataFrame, rnd) -> DataFrame:
            """Round r: peel with the previous round's n and m (none in
            round 0), then degrees within the survivors; a vertex peeled
            here gets gone = r, so prefix r is {gone is null or gone > r}."""
            if rnd.seen is not None:
                n, m = rnd.seen["n"], rnd.seen["m2"] // 2
                # integer-exact peel: survive iff deg > 3 * density
                peeled = F.col("gone").isNull() & (
                    F.col("d") * F.lit(n) <= F.lit(3 * m)
                )
                state = state.select(
                    "id",
                    F.when(peeled, F.lit(rnd.index)).otherwise(F.col("gone"))
                    .alias("gone"),
                )
            keep = state.filter(F.col("gone").isNull()).select("id")
            deg = (
                g.edges.join(
                    keep.select(F.col("id").alias("src")), "src", "left_semi"
                )
                .join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count("*").alias("d"))
            )
            return state.select("id", "gone").join(deg, "id", "left").select(
                "id", "gone", F.coalesce("d", F.lit(0)).alias("d")
            )

        log: list = []
        alive = F.col("gone").isNull()
        state = superstep(
            graph.vertices().select("id", F.lit(None).cast("long").alias("gone")),
            peel,
            rounds=max_rounds + 1, checkpoint_start=False, log=log,
            until=lambda seen: seen["n"] == 0 or seen["m2"] == 0,
            n=F.count(F.when(alive, 1)),
            m2=F.sum(F.when(alive, F.col("d"))),  # sym holds both directions
        )
    # densest round: compare m/n as exact fractions (no float), ties to
    # the earliest round — a pure driver scalar pass over <= max_rounds
    # observed pairs, never data-sized
    rounds = [
        (r, seen["n"], seen["m2"] // 2)
        for r, seen in enumerate(log) if seen["n"]
    ]
    if not rounds:  # vertexless graph: nothing to peel
        state.unpersist()
        return graph.spark.createDataFrame(
            [], "id long, best_round long, density double"
        )
    best_r, best_n, best_m = rounds[0]
    for r, nn, mm in rounds[1:]:
        if mm * best_n > best_m * nn:
            best_r, best_n, best_m = r, nn, mm
    return bind_release(
        state.filter(alive | (F.col("gone") > best_r)).select(
            "id",
            F.lit(best_r).cast("long").alias("best_round"),
            F.round(
                F.lit(float(best_m)) / F.lit(float(best_n)), 6
            ).alias("density"),
        ),
        state,
    )
