"""Louvain community detection — synchronous move phase with
integer-exact modularity gains.

Blondel et al. 2008 greedily moves each vertex to the neighbor
community with the largest modularity gain. The reference has no
community kernel beyond plain LPA (apps/cc.gt's label machinery;
kernels/labelprop.py here); Louvain is the standard upgrade a web-graph
user reaches for when LPA's resolution is too coarse. This kernel is
the MOVE phase (one level) as a synchronous, deterministic fixed-budget
loop — the same contract as label_propagation (rounds-parity makes the
DuckDB twin exact). A full multi-level Louvain is this kernel composed
with ``LinkGraph.contract`` (the host_graph_rollup machinery) per
level.

Integer-exact gains: moving i into community c changes modularity by
(e_ic - k_i * tot_c / 2m) / m + const. Scaling by the positive
constant 2m and dropping per-i constants preserves the argmax, so the
score compared is

    score(i, c) = 2m * e_ic - k_i * tot'_c     (all BIGINTs)

with tot'_c = tot_c - k_i when c is i's current community (i's own
degree must not count against itself), tot_c otherwise. No float ever
enters the loop, so the twin hash-matches bit for bit. (At 10^12 edges
2m * e_ic needs ~90 bits worst-case — the documented escape is the
same computation over DECIMAL(38,0); at any tested scale BIGINT is
exact.)

Determinism: vertices move simultaneously (synchronous — the
sequential visit order of classic Louvain is not reproducible across
partitionings), but only HALF per round: in round r exactly the
vertices with id % 2 == r % 2 are move-eligible. Plain synchronous
moves oscillate (two mutually-best vertices swap communities forever —
the barbell graph demonstrates it); parity-alternation is the standard
deterministic symmetry breaker in distributed Louvain/LPA variants and
costs nothing (the ineligible half keeps its community through the
same select). Argmax ties break to the smaller community id; the
stay option competes as a real candidate (a synthetic zero-edge stay
row guarantees it exists even when i has no intra-community edge, and
a groupBy max folds it away when the real one is present). The fixed
round budget is shared with the twin, so the output is exact either
way.

Spark plan per round (the LPA shape, one extra V-sized join): one
E-sized edge ⋈ community join feeding a map-side-combined
groupBy(dst, c) count, one V-sized community-degree aggregate, V-sized
candidate joins, and a max_by argmax — every aggregate partial and
no driver action: each round is a step on the superstep driver, which
materializes the new state and releases the superseded one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep


def _move_rounds(
    edges: DataFrame,
    comm: DataFrame,
    two_m: int,
    rounds: int,
) -> DataFrame:
    """The move phase over an explicit symmetric weighted edge table
    (src, dst, w — self-loops excluded; self-loop weight belongs in k,
    not in e_ic) and a starting community state (id, c, k), lazy or
    materialized. Returns the final (id, c, k) state, materialized; the
    caller releases it."""

    def step(comm: DataFrame, rnd) -> DataFrame:
        tot = comm.groupBy("c").agg(F.sum("k").alias("tot"))
        # e_ic: total edge weight from i into community c
        e_ic = (
            edges.join(comm.select(F.col("id").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("id"), "c")
            .agg(F.sum("w").alias("cnt"))
        )
        # synthetic stay row (cnt = 0) so every vertex has its current
        # community as a candidate even with no intra-community edge
        stay = comm.select("id", "c", F.lit(0).cast("long").alias("cnt"))
        cand = (
            e_ic.unionByName(stay)
            .groupBy("id", "c")
            .agg(F.max("cnt").alias("cnt"))
            .join(tot, "c")
            .join(comm.select("id", F.col("c").alias("cur"), "k"), "id")
            .select(
                "id",
                "c",
                (
                    F.lit(two_m) * F.col("cnt")
                    - F.col("k")
                    * F.when(
                        F.col("c") == F.col("cur"),
                        F.col("tot") - F.col("k"),
                    ).otherwise(F.col("tot"))
                ).alias("score"),
            )
        )
        best = cand.groupBy("id").agg(
            F.max_by(
                "c", F.struct(F.col("score"), (-F.col("c")).alias("neg"))
            ).alias("new_c")
        )
        # round r = rnd.index + 1 moves the vertices with id % 2 == r % 2
        return comm.join(best, "id", "left").select(
            "id",
            F.when(
                F.col("id") % 2 == F.lit((rnd.index + 1) % 2),
                F.coalesce("new_c", F.col("c")),
            )
            .otherwise(F.col("c"))
            .alias("c"),
            "k",
        )

    return superstep(comm, step, rounds=rounds)


def _level1(graph: LinkGraph, g: LinkGraph, rounds: int):
    """(two_m, lvl1): 2m of ``g``, the traversed (symmetrized) view of
    ``graph`` the caller holds, and the level-1 move phase's final
    (id, c, k) state from singleton communities."""
    two_m = g.num_edges  # sym rows = 2m undirected edges
    # vertex universe from the ORIGINAL graph — symmetrize() keeps
    # num_vertices, but the degree join below must still cover every
    # vertex (isolated ones get k = 0 and stay in their singleton)
    comm0 = (
        graph.vertices()
        .select("id")
        .join(g.out_degrees(), "id", "left")
        .select(
            "id",
            F.col("id").alias("c"),
            F.coalesce(F.col("out_degree"), F.lit(0))
            .cast("long")
            .alias("k"),
        )
    )
    edges_w = g.edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    return two_m, _move_rounds(edges_w, comm0, two_m, rounds)


def louvain_move(
    graph: LinkGraph,
    *,
    rounds: int = 6,
    symmetrize: bool = True,
) -> DataFrame:
    """Returns (id, community) after `rounds` synchronous Louvain move
    rounds over the symmetrized simple graph; community ids are vertex
    ids (each vertex starts in its own singleton)."""
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        _, comm = _level1(graph, g, rounds)
    return bind_release(comm.select("id", F.col("c").alias("community")), comm)


def louvain_communities(
    graph: LinkGraph,
    *,
    rounds_per_level: int = 6,
    symmetrize: bool = True,
) -> DataFrame:
    """Two-level Louvain: the move phase, then the coarsening step of
    Blondel et al. — contract each community to one vertex
    (``LinkGraph.contract``, the host-rollup machinery), re-run the
    move phase on the weighted quotient graph, and compose the two
    assignments. Returns (id, community) where community is the
    level-2 community of i's level-1 community.

    The coarse level reuses the SAME integer score: coarse
    k_a = tot_a from level 1 (the sum of member degrees — this counts
    intra-community edges twice, exactly the self-loop convention
    Louvain's coarse graph needs, so self-loop rows are dropped from
    the quotient edge table rather than special-cased), coarse
    e_ab = the contracted inter-community edge weight, and 2m is
    unchanged — modularity is the same quantity at every level, so the
    argmax stays integer-exact and the DuckDB twin hash-matches.

    Plan: level 1 as louvain_move; the contraction is two
    community-sized joins + one map-side-combined groupBy (the audited
    host_graph_rollup shape); level 2 runs on a |communities|-sized
    table. At crawl scale level 2 is orders of magnitude smaller than
    level 1 — the classic Louvain speedup."""
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        two_m, lvl1 = _level1(graph, g, rounds_per_level)

        # coarsen: communities become vertices, parallel edges sum to
        # weights, intra-community rows dropped (their weight lives in tot)
        mapping = lvl1.select("id", F.col("c").alias("group"))
        coarse_edges = (
            g.contract(mapping)
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst", F.col("weight").cast("long").alias("w"))
            .transform(fresh_checkpoint)
        )
        comm1 = lvl1.groupBy("c").agg(F.sum("k").alias("k")).select(
            F.col("c").alias("id"), "c", "k"
        )
        lvl2 = _move_rounds(coarse_edges, comm1, two_m, rounds_per_level)
        coarse_edges.unpersist()
    out = (
        lvl1.select("id", F.col("c").alias("c1"))
        .join(lvl2.select(F.col("id").alias("c1"), "c"), "c1")
        .select("id", F.col("c").alias("community"))
    )
    return bind_release(out, lvl1, lvl2)
