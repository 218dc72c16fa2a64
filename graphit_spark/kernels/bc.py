"""Betweenness centrality (single-source Brandes) — reference apps/bc.gt.

The reference keeps a *list of frontiers* (list{vertexset}, SURVEY.md §1)
and walks it backwards using the transposed edge set (bc.gt:74). The
Spark formulation is the same two-phase plan:

  forward:  BFS levels; num_paths σ[v] = Σ σ[u] over same-level-minus-one
            in-neighbors (one join+sum per level; each level DataFrame is
            checkpointed and kept — the driver-side frontier stack);
  backward: dependency δ[v] = Σ (σ[v]/σ[w]) · (1 + δ[w]) over successors
            w one level deeper — the same join against the transposed
            direction, walked from the deepest level.

bc[v] = δ[v] for v ≠ source (unnormalized, like the reference verifier).
Levels are O(diameter) — small on web graphs; every per-level DataFrame
is V-sized or smaller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import counted_checkpoint, fresh_checkpoint


def betweenness_centrality(
    graph: LinkGraph, source: int = 0, *, max_levels: int = 200
) -> DataFrame:
    """(id, bc) for every vertex; 0.0 for vertices off any shortest path."""
    spark = graph.spark
    own_cache = graph.ensure_persisted()
    edges = graph.edges

    # ---- forward phase: levels + path counts --------------------------
    frontier = local_frame(
        spark, [(source, 1.0)], "id long, sigma double"
    ).transform(fresh_checkpoint)
    levels: list[DataFrame] = [frontier]
    visited = frontier.select("id")

    for _ in range(max_levels):
        nxt, seen = counted_checkpoint(
            edges.join(
                frontier.select(F.col("id").alias("src"), "sigma"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, "id", "left_anti")
        )
        if seen["rows"] == 0:
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("id")).localCheckpoint(
            eager=True
        )
        frontier = nxt

    # ---- backward phase: dependency accumulation ----------------------
    # delta of the deepest level = 0
    delta = levels[-1].select("id", "sigma", F.lit(0.0).alias("delta"))
    acc = [delta]
    for lvl in range(len(levels) - 2, -1, -1):
        cur = levels[lvl]
        # successors = next-level vertices reachable by one edge
        succ = delta.select(
            F.col("id").alias("dst"),
            (F.lit(1.0) + F.col("delta")).alias("w_term"),
            F.col("sigma").alias("sigma_w"),
        )
        contrib = (
            edges.join(succ, "dst")
            .join(cur.select(F.col("id").alias("src"), "sigma"), "src")
            .select(
                F.col("src").alias("id"),
                (F.col("sigma") / F.col("sigma_w") * F.col("w_term")).alias(
                    "part"
                ),
            )
            .groupBy("id")
            .agg(F.sum("part").alias("delta"))
        )
        delta = (
            cur.join(contrib, "id", "left")
            .select(
                "id",
                "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .transform(fresh_checkpoint)
        )
        acc.append(delta)

    all_delta = acc[0].select("id", "delta")
    for d in acc[1:]:
        all_delta = all_delta.unionByName(d.select("id", "delta"))
    if own_cache:
        graph.unpersist()
    return (
        graph.vertices()
        .join(all_delta, "id", "left")
        .select(
            "id",
            F.when(F.col("id") == source, F.lit(0.0))
            .otherwise(F.coalesce("delta", F.lit(0.0)))
            .alias("bc"),
        )
    )


def edge_betweenness(
    graph: LinkGraph, source: int = 0, *, max_levels: int = 200
) -> DataFrame:
    """Single-source EDGE betweenness (Brandes credits per edge) — the
    Girvan-Newman primitive: for every shortest-path-DAG edge (v, w)
    with depth(w) = depth(v)+1, credit = sigma_v/sigma_w * (1 + delta_w).
    Summed over pivots this is the edge-removal score community
    detection peels on. Returns the sparse (src, dst, credit) table —
    edges on no shortest path from `source` are absent (credit 0).

    Same two-phase plan as `betweenness_centrality` (reference
    apps/bc.gt forward frontier stack + backward transpose walk); the
    per-edge credit is exactly the backward pass's join term BEFORE its
    groupBy(src), emitted once from a final edge join against the
    assembled (id, sigma, delta, depth) state — one extra E-sized join,
    no extra supersteps."""
    spark = graph.spark
    own_cache = graph.ensure_persisted()
    edges = graph.edges

    frontier = local_frame(
        spark, [(source, 1.0)], "id long, sigma double"
    ).transform(fresh_checkpoint)
    levels: list[DataFrame] = [frontier]
    visited = frontier.select("id")
    for _ in range(max_levels):
        nxt, seen = counted_checkpoint(
            edges.join(
                frontier.select(F.col("id").alias("src"), "sigma"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, "id", "left_anti")
        )
        if seen["rows"] == 0:
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("id")).localCheckpoint(
            eager=True
        )
        frontier = nxt

    delta = levels[-1].select("id", "sigma", F.lit(0.0).alias("delta"))
    tagged = [delta.withColumn("depth", F.lit(len(levels) - 1))]
    for lvl in range(len(levels) - 2, -1, -1):
        cur = levels[lvl]
        succ = delta.select(
            F.col("id").alias("dst"),
            (F.lit(1.0) + F.col("delta")).alias("w_term"),
            F.col("sigma").alias("sigma_w"),
        )
        contrib = (
            edges.join(succ, "dst")
            .join(cur.select(F.col("id").alias("src"), "sigma"), "src")
            .select(
                F.col("src").alias("id"),
                (F.col("sigma") / F.col("sigma_w") * F.col("w_term")).alias(
                    "part"
                ),
            )
            .groupBy("id")
            .agg(F.sum("part").alias("delta"))
        )
        delta = (
            cur.join(contrib, "id", "left")
            .select(
                "id",
                "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .transform(fresh_checkpoint)
        )
        tagged.append(delta.withColumn("depth", F.lit(lvl)))

    state = tagged[0]
    for t in tagged[1:]:
        state = state.unionByName(t)
    state = fresh_checkpoint(state)

    credits = (
        edges.join(
            state.select(
                F.col("id").alias("src"),
                F.col("sigma").alias("sv"),
                F.col("depth").alias("du"),
            ),
            "src",
        )
        .join(
            state.select(
                F.col("id").alias("dst"),
                F.col("sigma").alias("sw"),
                F.col("delta").alias("dw_delta"),
                F.col("depth").alias("dw"),
            ),
            "dst",
        )
        .filter(F.col("dw") == F.col("du") + 1)
        .select(
            "src",
            "dst",
            (
                F.col("sv") / F.col("sw") * (F.lit(1.0) + F.col("dw_delta"))
            ).alias("credit"),
        )
    )
    credits = fresh_checkpoint(credits)
    state.unpersist()
    if own_cache:
        graph.unpersist()
    return credits
