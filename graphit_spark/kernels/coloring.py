"""Greedy graph coloring — Jones-Plassmann with deterministic priorities.

Jones & Plassmann (1993): give every vertex a fixed pseudo-random
priority; per round, every still-uncolored vertex whose priority is a
strict local minimum among its still-uncolored neighbors picks the
smallest color not used by its already-colored neighbors. The result is
exactly the sequential greedy coloring over the priority order (so at
most max_core+1 colors on any graph), computed in O(log n / log log n)
expected rounds — the standard parallel coloring for scheduling
conflict-free update batches (and the reason MIS/coloring sit next to
each other in every parallel-graph suite).

Reference surface: no coloring app in the reference DSL; like
kernels/mis.py this is pure §2 machinery — frontier-restricted gather,
min= reduction, set subtraction — plus one exact-integer "min free
color" step.

Determinism contract: same string priority as kernels/mis.py
(md5-15-hex || '-' || zero-padded id ⇒ (hash, id) lexicographic order
is plain string order, unique, no float). The min-free-color step is
pure integer joins — candidate colors are {0} ∪ {c+1 : c used by a
colored neighbor}, minus the used set — so the twin is exact with no
arrays, no UDF, no engine-specific list functions. Fixed round budget
shared with the twin; SCC-style refusal if vertices remain uncolored.

Spark plan (per round, uncolored set shrinking geometrically):
  - winner gather: sym edges restricted to uncolored src AND uncolored
    dst, groupBy string-min — map-side combinable (the MIS plan).
  - min free color: winners ⋈ sym ⋈ colored → used (winner, color)
    pairs; candidates = winners×{0} ∪ used.color+1; left-anti the used
    set; groupBy(min). Cost is Σ degree(winner) rows, never V².
  - state: one (id, pri, color) frame over every vertex, color NULL
    while uncolored — the colored set the used-color join reads is the
    same checkpoint as the uncolored set, so a round materializes one
    frame (a union of per-round colored frames would add a scan per
    past round to each round's join). The superstep driver
    (plans/state.py) owns its checkpoints and releases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep
from graphit_spark.kernels.mis import _priority_col

COLOR_ROUNDS = 64


def greedy_coloring(
    graph: LinkGraph, rounds: int = COLOR_ROUNDS
) -> DataFrame:
    """(id, color) for every vertex: the greedy coloring over the
    deterministic priority order on the symmetrized self-loop-free
    graph — adjacent vertices always get distinct colors, and color ids
    are dense smallest-first. Raises if the fixed round budget leaves
    vertices uncolored (see module docstring)."""
    with graph.persisted():
        sym = (
            graph.symmetrize()
            .edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .transform(fresh_checkpoint)
        )
        uncolored = F.col("color").isNull()

        def step(state: DataFrame, rnd) -> DataFrame:
            open_ = state.filter(uncolored)
            nbr_min = (
                sym.join(open_.select(F.col("id").alias("dst"), "pri"), "dst")
                .join(open_.select(F.col("id").alias("src")), "src")
                .groupBy("src")
                .agg(F.min("pri").alias("mn"))
                .withColumnRenamed("src", "id")
            )
            winners = (
                open_.join(nbr_min, "id", "left")
                .filter(F.col("mn").isNull() | (F.col("pri") < F.col("mn")))
                .select("id")
            )
            used = (
                sym.join(winners.withColumnRenamed("id", "src"), "src")
                .join(
                    state.filter(~uncolored).select(
                        F.col("id").alias("dst"), "color"
                    ),
                    "dst",
                )
                .select(F.col("src").alias("id"), "color")
                .distinct()
            )
            cand = winners.select(
                "id", F.lit(0).cast("long").alias("x")
            ).unionByName(used.select("id", (F.col("color") + 1).alias("x")))
            new = (
                cand.join(
                    used,
                    (cand["id"] == used["id"]) & (cand["x"] == used["color"]),
                    "left_anti",
                )
                .groupBy("id")
                .agg(F.min("x").alias("new"))
            )
            return state.join(new, "id", "left").select(
                "id", "pri", F.coalesce("color", "new").alias("color")
            )

        # the uncolored count rides each round's checkpoint job
        state = superstep(
            graph.vertices().select(
                "id", _priority_col().alias("pri"),
                F.lit(None).cast("long").alias("color"),
            ),
            step, max_rounds=rounds, until=lambda seen: seen["left"] == 0,
            left=F.count(F.when(uncolored, 1)),
        )
        sym.unpersist()
    return bind_release(state.select("id", "color"), state)
