"""Influence maximization — degree-discount greedy seeding (Chen, Wang
& Yang, KDD'09) under the independent-cascade model.

Reference provenance: GraphIt has no IM app, but the op is the same
`applyUpdatePriority` shape as apps/set_cover.gt (a greedy loop whose
priority = a per-vertex score that only the chosen vertex's neighbors
need to refresh each round, cf. set_cover_extern.cpp:25-75 for the
"winner updates its neighborhood" discipline). Like set cover, the
serial greedy is re-expressed as driver-scalar rounds over distributed
V-sized state.

Scale shape (100 TB):
- state is one V-sized DataFrame ``(id, d, t, round, dd)`` (degree,
  chosen-neighbor count, and the round and score of a chosen seed), one
  superstep per seed so lineage stays flat;
- the argmax is one global aggregate (``max(struct(dd, -id))`` — a
  map-side-combinable scalar, never a sort or a Window) observed on the
  checkpoint job that materializes the previous round's state;
- the per-round update touches ONLY the chosen seed's adjacency: a
  filter ``src = seed`` on the cached symmetrized edge table (partition
  pruning on the hash-partitioned edges) joined into the V-sized state;
- k rounds → k checkpoint jobs with small joins and no action of their
  own. No step is O(E) beyond the initial degree aggregation.

Determinism: ties in the discount score break toward the SMALLEST
vertex id on both engines (max over struct(dd, -id) ≡ ORDER BY dd DESC,
id LIMIT 1), so the seed set is reproducible across cluster sizes —
unlike simulation-based IM (CELF/RIS) whose Monte-Carlo draws are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import (
    bind_release,
    counted_checkpoint,
    superstep,
)

IM_SEEDS = 5
IM_PROB = 0.05


def influence_max(
    graph: LinkGraph,
    *,
    k: int = IM_SEEDS,
    p: float = IM_PROB,
) -> DataFrame:
    """Pick ``k`` seeds by degree discount: repeatedly take the vertex
    maximizing ``dd(v) = d(v) - 2 t(v) - (d(v) - t(v)) t(v) p`` (d =
    undirected degree, t = already-chosen neighbors), then bump ``t``
    for the winner's neighbors. Returns ``(seed, round, dd)`` — the
    chosen seed per round with its pre-selection discount score.
    """
    und = graph.symmetrize()
    with und.persisted():
        deg = und.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("d")
        )
        dd_col = (
            F.col("d").cast("double")
            - 2.0 * F.col("t")
            - (F.col("d") - F.col("t")) * F.col("t") * F.lit(float(p))
        )
        # the argmax over unchosen vertices; null (observed as 0) once none
        # is left
        best = F.max(
            F.when(
                F.col("round").isNull(),
                F.struct(dd_col.alias("dd"), (-F.col("id")).alias("nid")),
            )
        )
        state, first = counted_checkpoint(
            und.vertices()
            .join(deg, "id", "left")
            .select(
                "id",
                F.coalesce("d", F.lit(0)).cast("long").alias("d"),
                F.lit(0).cast("long").alias("t"),
                F.lit(None).cast("int").alias("round"),
                F.lit(None).cast("double").alias("dd"),
            ),
            best=best,
        )

        def choose(state: DataFrame, rnd) -> DataFrame:
            """Seed rnd.index + 1 is the observed argmax; bump ``t`` for its
            neighbors."""
            top = (first if rnd.seen is None else rnd.seen)["best"]
            seed = -int(top["nid"])
            nbrs = und.edges.filter(F.col("src") == seed).select(
                F.col("dst").alias("id"), F.lit(1).alias("inc")
            )
            is_seed = F.col("id") == seed
            return state.join(nbrs, "id", "left").select(
                "id",
                "d",
                (F.col("t") + F.coalesce("inc", F.lit(0))).alias("t"),
                F.when(is_seed, F.lit(rnd.index + 1)).otherwise(F.col("round"))
                .alias("round"),
                F.when(is_seed, F.lit(round(float(top["dd"]), 6)))
                .otherwise(F.col("dd"))
                .alias("dd"),
            )

        if first["rows"]:  # an empty graph has no seed to pick
            # fewer than k vertices: stop once none is left unchosen
            state = superstep(
                state, choose,
                rounds=k, checkpoint_start=False,
                until=lambda seen: not seen["best"], best=best,
            )
    return bind_release(
        state.filter(F.col("round").isNotNull()).select(
            F.col("id").alias("seed"), "round", "dd"
        ),
        state,
    )
