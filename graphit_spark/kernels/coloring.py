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
  - colored accumulates into one checkpointed frame (re-checkpointed
    with each round's winners, partition count held fixed);
    superseded uncolored and colored checkpoints released.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import fresh_checkpoint, observe
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
    own_cache = graph.ensure_persisted()
    sym = (
        graph.symmetrize()
        .edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .transform(fresh_checkpoint)
    )
    verts = graph.vertices().select("id").transform(fresh_checkpoint)

    # the uncolored count is observed on the checkpoint job that
    # materializes each round's uncolored set — no isEmpty() action
    uncolored, left = observe(
        verts.select("id", _priority_col().alias("pri")),
        rows=F.count(F.lit(1)),
    )
    uncolored = uncolored.transform(fresh_checkpoint)
    # every vertex colored so far, as ONE checkpointed frame: a union of
    # the per-round frames would add a scan (and its tasks) per past
    # round to each round's used-color join
    colored: DataFrame | None = None
    parts = int(graph.spark.conf.get("spark.sql.shuffle.partitions"))

    for _ in range(rounds):
        if left["rows"] == 0:
            break
        nbr_min = (
            sym.join(
                uncolored.select(F.col("id").alias("dst"), "pri"), "dst"
            )
            .join(uncolored.select(F.col("id").alias("src")), "src")
            .groupBy("src")
            .agg(F.min("pri").alias("mn"))
            .withColumnRenamed("src", "id")
        )
        winners = (
            uncolored.join(nbr_min, "id", "left")
            .filter(F.col("mn").isNull() | (F.col("pri") < F.col("mn")))
            .select("id")
        )
        if colored is None:
            # first round: nothing is colored yet, everyone takes 0
            new_colored = winners.select(
                "id", F.lit(0).cast("long").alias("color")
            )
        else:
            used = (
                sym.join(winners.withColumnRenamed("id", "src"), "src")
                .join(
                    colored.select(F.col("id").alias("dst"), "color"),
                    "dst",
                )
                .select(F.col("src").alias("id"), "color")
                .distinct()
            )
            cand = winners.select(
                "id", F.lit(0).cast("long").alias("x")
            ).unionByName(
                used.select("id", (F.col("color") + 1).alias("x"))
            )
            new_colored = (
                cand.join(
                    used,
                    (cand["id"] == used["id"]) & (cand["x"] == used["color"]),
                    "left_anti",
                )
                .groupBy("id")
                .agg(F.min("x").alias("color"))
            )
        new_colored = new_colored.transform(fresh_checkpoint)
        nxt, left = observe(
            uncolored.join(new_colored, "id", "left_anti"),
            rows=F.count(F.lit(1)),
        )
        nxt = nxt.localCheckpoint(eager=True)
        uncolored.unpersist()
        uncolored = nxt
        if colored is None:
            colored = new_colored
        else:
            merged = (
                colored.unionByName(new_colored)
                .coalesce(parts)
                .transform(fresh_checkpoint)
            )
            colored.unpersist()
            new_colored.unpersist()
            colored = merged
    if left["rows"] > 0:
        raise RuntimeError(
            f"coloring did not settle within rounds={rounds} — the "
            "Jones-Plassmann round count is the longest decreasing-"
            "priority path, O(log n) in expectation; raise the budget"
        )
    uncolored.unpersist()
    out = colored
    if out is None:
        out = verts.select("id", F.lit(0).cast("long").alias("color")).limit(
            0
        )
    if own_cache:
        graph.unpersist()
    return out
