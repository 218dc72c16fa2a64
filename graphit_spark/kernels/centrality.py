"""Eigenvector and closeness centrality.

Reference semantics:

- Eigenvector centrality (test/input/eigenvector_centrality.gt): plain
  un-normalized power iteration —
      new_ec[dst] += old_ec[src]  over ALL edges   (updateEdgeEigenVector)
      old_ec <- new_ec; new_ec <- 0                (updateECVertex)
  run a fixed number of rounds (the reference main loop `for i in 1:10`
  runs 9). No damping, no dangling handling, no normalization — scores
  can grow/shrink geometrically; parity requires the same round count.

- Closeness centrality (apps/closeness_centrality_weighted.gt): SSSP from
  a starting node (`distance_from_start[dst] min= distance_from_start[src]
  + weight` via applyModified); after convergence unreached vertices get
  distance 0 (final_vertex_f) and the score is `distance_from_start.sum()`.
  The unweighted variant (test/input_with_schedules/
  closeness_centrality_unweighted_*.gt) uses hop counts (BFS).

Spark plan: eigenvector is the same one-shuffle-pair gather-scatter as
PageRank (edges ⋈ state on src → groupBy(dst).sum); closeness reuses the
frontier-driven min-distance fixpoint from kernels/paths.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import superstep
from graphit_spark.kernels.paths import bfs, sssp


def eigenvector_centrality(
    graph: LinkGraph, *, rounds: int = 9
) -> DataFrame:
    """Returns (id, ec) after `rounds` un-normalized power iterations,
    init ec = 1/n (eigenvector_centrality.gt:6)."""
    with graph.persisted():
        n = graph.num_vertices

        def step(state: DataFrame, rnd) -> DataFrame:
            sums = (
                graph.edges.join(
                    state.select(F.col("id").alias("src"), "ec"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("ec").alias("s"))
            )
            return (
                graph.vertices()
                .join(sums, "id", "left")
                .select("id", F.coalesce("s", F.lit(0.0)).alias("ec"))
            )

        state = superstep(
            graph.vertices()
            .withColumn("ec", F.lit(1.0 / n)),
            step, rounds=rounds,
        )
    return state


def katz_centrality(
    graph: LinkGraph,
    *,
    alpha: float = 0.1,
    beta: float = 1.0,
    rounds: int = 6,
) -> DataFrame:
    """Katz centrality by fixed-round iteration:
        katz'[dst] = alpha * Σ katz[src] over all edges  +  beta.

    Same updateEdge/updateVertex shape as the reference's eigenvector
    kernel (test/input/eigenvector_centrality.gt) with a damping factor
    and an additive base — the attenuated-paths generalisation of
    in-degree that web-spam literature uses where raw eigenvector
    collapses on dangling-heavy crawl graphs. Init katz = beta.

    Spark plan: identical one-shuffle-pair gather per round as
    `eigenvector_centrality`/pagerank — edges ⋈ state on src (state is
    the V-sized side), map-side-combined groupBy(dst).sum, V-sized
    left join back, one checkpoint. alpha < 1/λ_max keeps the series bounded; with a fixed
    round count the output is a finite polynomial in A, so the DuckDB
    twin reproduces it exactly up to the rounding contract.
    """
    with graph.persisted():
        def step(state: DataFrame, rnd) -> DataFrame:
            sums = (
                graph.edges.join(
                    state.select(F.col("id").alias("src"), "katz"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("katz").alias("s"))
            )
            return (
                graph.vertices()
                .join(sums, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(float(alpha)) * F.coalesce("s", F.lit(0.0))
                        + F.lit(float(beta))
                    ).alias("katz"),
                )
            )

        state = superstep(
            graph.vertices()
            .withColumn("katz", F.lit(float(beta))),
            step, rounds=rounds,
        )
    return state


def closeness_centrality(
    graph: LinkGraph,
    source: int = 0,
    *,
    weighted: bool | None = None,
    max_iters: int = 500,
) -> DataFrame:
    """(id, dist) from `source` with unreached mapped to 0
    (closeness_centrality_weighted.gt final_vertex_f); the scalar
    closeness score is `agg(sum(dist))` — left to the caller so the
    per-vertex vector stays inspectable/verifiable."""
    if weighted is None:
        weighted = graph.weighted
    d = (
        sssp(graph, source, max_iters=max_iters)
        if weighted
        else bfs(graph, source, max_iters=max_iters)
    )
    return d.select("id", F.coalesce("dist", F.lit(0).cast("long")).alias("dist"))


def closeness_score(graph: LinkGraph, source: int = 0, **kw) -> int:
    """The reference's printed scalar: sum of distances from source."""
    row = (
        closeness_centrality(graph, source, **kw)
        .agg(F.sum("dist").alias("score"))
        .collect()[0]
    )
    return int(row["score"])
