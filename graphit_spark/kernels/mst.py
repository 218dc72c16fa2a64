"""Minimum spanning forest — GraphIt's `serialMinimumSpanningTree`
intrinsic re-expressed as distributed Boruvka.

Reference: src/runtime_lib/intrinsics.h:420-422 exposes
`serialMinimumSpanningTree(WGraph, start)` backed by a serial lazy-Prim
(src/runtime_lib/infra_gapbs/minimum_spanning_tree.h:22-52) that returns
a parent array over the weighted graph. A serial heap walk cannot scale,
so the Spark engine runs Boruvka: every component selects its cheapest
outgoing edge, the selected edges merge components via distributed
pointer jumping, and the loop contracts the component count at least 2x
per round (<= log2(V) supersteps, each the same join + groupBy(min)
gather-scatter shape as every other kernel here).

Determinism / parity contract: edges are compared by the total order
(weight, min(u,v), max(u,v)). Under a strict total order the minimum
spanning forest is UNIQUE, so Boruvka here, Kruskal in the test oracle,
and the reference's Prim (when run with the same tie order) all return
the same edge set, and any correct MST algorithm matches the total
weight of the reference parent array. Tests assert exact edge-set
equality vs a pure-Python Kruskal and total-weight equality vs a
Prim oracle (tests/test_kernels.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import (
    bind_release,
    counted_checkpoint,
    superstep,
)

_MAX_ROUNDS = 64  # > log2(any vertex count a long can index)


def _pointer_jump(ptr: DataFrame) -> DataFrame:
    """Collapse a pseudo-forest (c, p) to roots: p = p[p] until fixpoint.

    Same shortcutting as kernels/components.py (apps/cc_lp_pj.gt:21-28),
    on the component graph (<= one row per component). Returns the
    materialized (c, p, old) state; its ``unpersist()`` releases it."""

    def hop(ptr: DataFrame, rnd) -> DataFrame:
        ptr = ptr.select("c", "p")
        return ptr.join(
            ptr.select(F.col("c").alias("p"), F.col("p").alias("pp")), "p"
        ).select("c", F.col("pp").alias("p"), F.col("p").alias("old"))

    return superstep(
        ptr, hop, max_rounds=_MAX_ROUNDS, changed=F.col("p") != F.col("old")
    )


def minimum_spanning_forest(graph: LinkGraph) -> DataFrame:
    """Boruvka MSF over the symmetrized weighted graph.

    Returns (u, v, weight) with u < v — the forest edges. Unreachable
    (isolated) vertices contribute no rows, mirroring parent[v] == -1
    in the reference's parent array.
    """
    if not graph.weighted:
        raise ValueError("minimum_spanning_forest requires a weighted graph")

    # undirected view with one canonical row per {u,v}: min weight wins,
    # matching Prim on the symmetrized multigraph
    und = (
        graph.edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col("weight").cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .persist()
    )
    forest: list[DataFrame] = []

    def step(comp: DataFrame, rnd) -> DataFrame:
        comp = comp.select("id", "comp")
        cu = comp.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        cross = (
            und.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        # each endpoint component nominates its cheapest incident edge;
        # strict total order (w, u, v) makes the choice (and the MSF) unique
        pick = F.struct("w", "u", "v", "cu", "cv").alias("e")
        nominated = (
            cross.select(F.col("cu").alias("c"), pick)
            .union(cross.select(F.col("cv").alias("c"), pick))
            .groupBy("c")
            .agg(F.min("e").alias("e"))
        )
        picked, seen = counted_checkpoint(
            nominated.select("e.u", "e.v", F.col("e.w").alias("weight"))
            .dropDuplicates(["u", "v"])
        )
        forest.append(picked)
        if seen["rows"] == 0:  # the forest is complete: no component moves
            return comp.withColumn("old", F.col("comp"))

        # contract: every component points along its own nominated edge.
        # The functional graph is a pseudo-forest whose only cycles are
        # 2-cycles (two components nominating the same strictly-minimum
        # edge); break them toward the smaller id, then pointer-jump.
        # No nomination (the forest is complete) moves no component.
        ptr0 = nominated.select(
            "c",
            F.when(F.col("e.cu") == F.col("c"), F.col("e.cv"))
            .otherwise(F.col("e.cu"))
            .alias("p"),
        )
        ptr0 = (
            comp.select(F.col("comp").alias("c"))
            .distinct()
            .join(ptr0, "c", "left")
            .select("c", F.coalesce("p", "c").alias("p"))
        )
        two = ptr0.select(F.col("c").alias("p"), F.col("p").alias("pp"))
        ptr = (
            ptr0.join(two, "p")
            .select(
                "c",
                F.when(
                    (F.col("pp") == F.col("c")) & (F.col("p") > F.col("c")),
                    F.col("c"),
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
        )
        roots = rnd.own(_pointer_jump(ptr)).select("c", "p")
        return comp.join(roots, comp.comp == roots.c).select(
            "id", F.col("p").alias("comp"), F.col("comp").alias("old")
        )

    superstep(
        graph.vertices().select("id", F.col("id").alias("comp")), step,
        max_rounds=_MAX_ROUNDS, changed=F.col("comp") != F.col("old"),
    ).unpersist()
    und.unpersist()
    return bind_release(reduce(DataFrame.union, forest), *forest)
