"""Betweenness centrality (single-source Brandes) — reference apps/bc.gt.

The reference keeps a *list of frontiers* (list{vertexset}, SURVEY.md §1)
and walks it backwards using the transposed edge set (bc.gt:74). The
Spark formulation is the same two-phase plan, both phases supersteps on
one V-sized state (id, sigma, depth, ...) that holds the whole frontier
stack: a level is the rows of one depth.

  forward:  BFS levels; num_paths σ[v] = Σ σ[u] over same-level-minus-one
            in-neighbors (one join+sum per level), until a level is
            empty;
  backward: dependency δ[v] = Σ (σ[v]/σ[w]) · (1 + δ[w]) over successors
            w one level deeper — the same join against the transposed
            direction, one level per round from the deepest.

bc[v] = δ[v] for v ≠ source (unnormalized, like the reference verifier);
the per-edge credits of `edge_betweenness` read the same final state.
Levels are O(diameter) — small on web graphs; every state is V-sized or
smaller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep


def _brandes(graph: LinkGraph, source: int, max_levels: int) -> DataFrame:
    """Materialized (id, sigma, depth, delta) for every vertex reachable
    from ``source``; its ``unpersist()`` releases it. The forward BFS is
    a fixpoint under ``max_levels`` (raises if a level is still
    non-empty), the backward walk one exact round per level."""
    edges = graph.edges

    def forward(state: DataFrame, rnd) -> DataFrame:
        """Level rnd.index + 1: path counts into unvisited vertices."""
        nxt = (
            edges.join(
                state.filter("front").select(
                    F.col("id").alias("src"), "sigma"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(state, "id", "left_anti")
        )
        return state.withColumn("front", F.lit(False)).unionByName(
            nxt.select(
                "id", "sigma",
                F.lit(rnd.index + 1).cast("long").alias("depth"),
                F.lit(True).alias("front"),
            )
        )

    log: list = []
    levels = superstep(
        local_frame(
            graph.spark, [(source, 1.0, 0, True)],
            "id long, sigma double, depth long, front boolean",
        ),
        forward,
        max_rounds=max_levels, checkpoint_start=False, log=log,
        changed=F.col("front"), depth=F.max("depth"),
    )
    deepest = int(log[-1]["depth"])

    def backward(state: DataFrame, rnd) -> DataFrame:
        """delta of level deepest - 1 - rnd.index from the level below."""
        lvl = deepest - 1 - rnd.index
        succ = state.filter(F.col("depth") == lvl + 1).select(
            F.col("id").alias("dst"),
            (F.lit(1.0) + F.col("delta")).alias("w_term"),
            F.col("sigma").alias("sigma_w"),
        )
        contrib = (
            edges.join(succ, "dst")
            .join(
                state.filter(F.col("depth") == lvl).select(
                    F.col("id").alias("src"), "sigma"
                ),
                "src",
            )
            .select(
                F.col("src").alias("id"),
                (F.col("sigma") / F.col("sigma_w") * F.col("w_term")).alias(
                    "part"
                ),
            )
            .groupBy("id")
            .agg(F.sum("part").alias("part"))
        )
        return state.join(contrib, "id", "left").select(
            "id", "sigma", "depth", F.coalesce("part", "delta").alias("delta")
        )

    return superstep(
        bind_release(
            levels.select("id", "sigma", "depth", F.lit(0.0).alias("delta")),
            levels,
        ),
        backward,
        rounds=deepest, checkpoint_start=False,
    )


def betweenness_centrality(
    graph: LinkGraph, source: int = 0, *, max_levels: int = 200
) -> DataFrame:
    """(id, bc) for every vertex; 0.0 for vertices off any shortest path.
    Raises if the BFS from ``source`` is deeper than ``max_levels``."""
    with graph.persisted():
        state = _brandes(graph, source, max_levels)
    return bind_release(
        graph.vertices()
        .join(state, "id", "left")
        .select(
            "id",
            F.when(F.col("id") == source, F.lit(0.0))
            .otherwise(F.coalesce("delta", F.lit(0.0)))
            .alias("bc"),
        ),
        state,
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

    Same two-phase Brandes state as `betweenness_centrality`; the
    per-edge credit is exactly the backward pass's join term BEFORE its
    groupBy(src), emitted once from a final edge join against the
    final (id, sigma, depth, delta) state — one extra E-sized join,
    no extra supersteps."""
    with graph.persisted():
        state = _brandes(graph, source, max_levels)
        credits = fresh_checkpoint(
            graph.edges.join(
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
        state.unpersist()
    return credits
