"""Landmark distances: one simultaneous BFS from K high-degree seeds.

The distance-oracle primitive for web graphs (Potamias et al., "Fast
shortest path distance estimation in large networks", CIKM'09): pick K
landmark vertices, compute d(landmark, v) for every reachable v, and
answer arbitrary distance queries with the triangle-inequality bound
min_L d(L,u)+d(L,v). The reference expresses each BFS as a frontier
loop (apps/bfs.gt, edges.from(frontier).applyModified); running K of
them as ONE loop over (vertex, landmark) pairs is the natural Spark
re-expression — the frontier is a DataFrame keyed by (id, landmark),
so all K searches share every edge-scan, shuffle, and checkpoint.

Scale shape: state is the SPARSE set of reached (id, landmark, dist)
rows — never a dense V x K matrix — so memory tracks actual reach. Per
round: one equi-join of the cached edge table against the frontier
(src), a map-side-combined groupBy (dst, landmark) min, and a
full-state merge keyed (id, landmark). The state keeps each pair's
previous distance, so the next frontier is a filter on it and the
change count rides the round's checkpoint job; the superstep driver
(plans/state.py) owns the checkpoints and their release. Landmark
selection (top out-degree, ties by id) is a K-row ordered limit inside
the starting checkpoint — no driver action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, superstep


def landmark_distances(
    graph: LinkGraph,
    n_landmarks: int = 4,
    *,
    max_iters: int = 500,
) -> DataFrame:
    """Hop distances from the n_landmarks highest-out-degree vertices
    (ties broken by ascending id) to every vertex they reach.

    Returns (id, landmark, dist) for reached pairs only — unreachable
    pairs are absent, mirroring the sparse frontier contract of
    apps/bfs.gt rather than padding a dense matrix. ``max_iters`` is a
    fixed-iteration budget shared with the twin: the searches stop
    early once no distance changes and never raise.
    """
    with graph.persisted():
        seeds = (
            graph.out_degrees()
            .orderBy(F.desc("out_degree"), F.asc("id"))
            .limit(n_landmarks)
            .select(
                "id", F.col("id").alias("landmark"),
                F.lit(0).cast("long").alias("dist"),
                F.lit(None).cast("long").alias("old"),
            )
        )
        changed = F.col("old").isNull() | (F.col("dist") < F.col("old"))

        def step(state: DataFrame, rnd) -> DataFrame:
            cand = (
                graph.edges.join(
                    state.filter(changed).select(
                        F.col("id").alias("src"), "landmark", "dist"
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"), F.col("landmark"))
                .agg((F.min("dist") + 1).alias("cand"))
            )
            return (
                state.select("id", "landmark", "dist")
                .join(cand, ["id", "landmark"], "full")
                .select(
                    "id",
                    "landmark",
                    F.least(
                        F.coalesce("dist", F.lit(2**62)),
                        F.coalesce("cand", F.lit(2**62)),
                    ).alias("dist"),
                    F.col("dist").alias("old"),
                )
            )

        state = superstep(seeds, step, rounds=max_iters, changed=changed)
    return bind_release(state.select("id", "landmark", "dist"), state)
