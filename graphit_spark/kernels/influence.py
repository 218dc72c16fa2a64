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
- state is one V-sized DataFrame ``(id, d, t)`` (degree, chosen-neighbor
  count), localCheckpointed per round so lineage stays flat;
- the argmax is one global aggregate (``max(struct(dd, -id))`` — a
  map-side-combinable scalar, never a sort or a Window);
- the per-round update touches ONLY the chosen seed's adjacency: a
  filter ``src = seed`` on the cached symmetrized edge table (partition
  pruning on the hash-partitioned edges) joined into the V-sized state;
- k rounds → k scalar actions + k small joins. No step is O(E) beyond
  the initial degree aggregation.

Determinism: ties in the discount score break toward the SMALLEST
vertex id on both engines (max over struct(dd, -id) ≡ ORDER BY dd DESC,
id LIMIT 1), so the seed set is reproducible across cluster sizes —
unlike simulation-based IM (CELF/RIS) whose Monte-Carlo draws are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import fresh_checkpoint

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
    own_cache = und.ensure_persisted()
    spark = und.edges.sparkSession

    deg = und.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("d")
    )
    state = (
        und.vertices()
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("d", F.lit(0)).cast("long").alias("d"),
            F.lit(0).cast("long").alias("t"),
        )
        .transform(fresh_checkpoint)
    )

    dd_col = (
        F.col("d").cast("double")
        - 2.0 * F.col("t")
        - (F.col("d") - F.col("t")) * F.col("t") * F.lit(float(p))
    )
    chosen: list[tuple[int, int, float]] = []  # (seed, round, dd)
    for r in range(1, k + 1):
        cand = state
        if chosen:
            cand = cand.filter(
                ~F.col("id").isin([s for s, _, _ in chosen])
            )
        row = cand.agg(
            F.max(
                F.struct(dd_col.alias("dd"), (-F.col("id")).alias("nid"))
            ).alias("m")
        ).collect()[0]["m"]
        if row is None:
            break  # fewer than k vertices
        seed, dd = -int(row["nid"]), float(row["dd"])
        chosen.append((seed, r, dd))
        if r == k:
            break  # last round: no one consumes the update
        nbrs = und.edges.filter(F.col("src") == seed).select(
            F.col("dst").alias("id"), F.lit(1).alias("inc")
        )
        prev = state
        state = (
            state.join(nbrs, "id", "left")
            .select(
                "id",
                "d",
                (F.col("t") + F.coalesce("inc", F.lit(0))).alias("t"),
            )
            .transform(fresh_checkpoint)
        )
        prev.unpersist()

    state.unpersist()
    if own_cache:
        und.unpersist()
    return local_frame(
        spark,
        [(s, r, round(dd, 6)) for s, r, dd in chosen],
        "seed bigint, round int, dd double",
    )
