"""k-truss decomposition — triangle-support edge peeling.

The edge-level analogue of k-core (kernels/kcore.py, reference
apps/kcore.gt Julienne buckets): the k-truss is the maximal subgraph
in which every edge participates in at least k-2 triangles. Denser and
more noise-robust than k-core for community detection on link graphs.
Not in the reference's app set; built from the same two §2 primitives
its TC and k-core kernels use — sorted-adjacency `intersectNeighbor`
(apps/tc.gt) and iterated peel-until-stable (apps/kcore.gt).

Algorithm (hybrid peel — dense recount / sparse decrement, the same
direction-switch idea as the Ligra frontier threshold):
  1. ONE full triangle enumeration scores every edge's support —
     degree-oriented DAG + sorted-array `array_intersect`, the audited
     triangle_count shape (the hub's list is never the intersected
     side, forward degree O(sqrt(E)));
  2. a DENSE peel round (>= 1/DENSE_FRACTION of alive edges below
     threshold — the early avalanche on power-law graphs) drops the
     peeled edges and recounts support on the survivor set: one full
     enumeration of the (much smaller) residual graph, exactly what
     every round of the naive algorithm pays;
  3. a SPARSE peel round (the long tail) only enumerates triangles
     INCIDENT TO THE PEELED EDGES: each peeled edge proposes common
     neighbors from its LOWER-DEGREE endpoint's alive adjacency
     (sum(min-degree) work — never a hub's full list unless both
     endpoints are hubs), one membership join confirms the closing
     edge, triangles found from two peeled edges are deduplicated by
     their sorted vertex triple, and each dead triangle decrements its
     surviving edges' support by exactly 1.
Support only decreases, so the fixpoint is the standard unique
k-truss, identical to recount-from-scratch peeling — but the tail
rounds' triangle work is proportional to the peel frontier's degree
sum, not to the residual subgraph (the full-recount form pays ~6
E-scans plus an E-sized collect_list + intersect EVERY round; at web
scale, with hundreds of peel rounds, that recount is the whole cost).
The scoring pass and the peel rounds are the rounds of one fixpoint on
the superstep driver: each round is one materializing job, which also
observes the alive and peel counts the next round's dense/sparse
choice reads, and the superseded state is released. The pure-decrement
form without the dense branch was measured pathological on the sf0.1
power-law graph: the round-1 avalanche makes candidate generation
quadratic in hub degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, superstep


def _degree_keys(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """``edges`` (u, v, ...) with each endpoint's degree as du, dv."""
    return edges.join(
        deg.select(F.col("id").alias("u"), F.col("out_degree").alias("du")),
        "u",
    ).join(
        deg.select(F.col("id").alias("v"), F.col("out_degree").alias("dv")),
        "v",
    )


def _full_support(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(u, v, support) for every undirected edge (u < v) of ``und`` —
    one degree-oriented sorted-adjacency triangle enumeration, each
    triangle crediting its three edges (map-side combined count).

    ``deg`` (id, out_degree) is the orientation key table; it may be
    STALE (degrees of a supergraph): orientation only needs a fixed
    total order on vertices — (d, id) with any consistent d is acyclic,
    so every triangle is still enumerated exactly once. Passing the
    initial graph's cached degrees lets the peel loop skip an E-scan +
    groupBy per dense round."""
    keyed = _degree_keys(und, deg)
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = keyed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    adj = oriented.groupBy("s").agg(
        F.sort_array(F.collect_list("t")).alias("nbrs")
    )
    a_s = adj.select(F.col("s").alias("es"), F.col("nbrs").alias("nbrs_s"))
    a_t = adj.select(F.col("s").alias("et"), F.col("nbrs").alias("nbrs_t"))
    tris = (
        oriented.join(a_s, oriented["s"] == a_s["es"])
        .join(a_t, oriented["t"] == a_t["et"])
        .select(
            "s",
            "t",
            F.explode(F.array_intersect("nbrs_s", "nbrs_t")).alias("w"),
        )
    )
    tri_edges = None
    for x, y in (("s", "t"), ("s", "w"), ("t", "w")):
        part = tris.select(
            F.least(F.col(x), F.col(y)).alias("u"),
            F.greatest(F.col(x), F.col(y)).alias("v"),
        )
        tri_edges = part if tri_edges is None else tri_edges.unionAll(part)
    sup = tri_edges.groupBy("u", "v").agg(F.count("*").alias("support"))
    return und.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).alias("support")
    )


#: a peel round touching >= 1/8 of the alive edges recounts instead of
#: decrementing (the Ligra-style density switch; see module docstring)
DENSE_FRACTION = 8


def _decrement_round(
    scored: DataFrame, peel: DataFrame, k: int, deg: DataFrame
) -> DataFrame:
    """One sparse peel round: enumerate only the triangles that die
    with ``peel`` and subtract them from the survivors' supports.

    Candidates come from the LOWER-DEGREE endpoint of each peeled edge
    (sum(min-degree(peel)) proposals — the same skew-safety argument as
    the degree-oriented DAG in _full_support: a hub's full adjacency is
    only walked when both endpoints are hubs). The peel side is
    frontier-sized, so AQE plans these joins as broadcasts.

    ``deg`` is the INITIAL graph's cached degree table, not the current
    residual's: the choice of walked endpoint is a cost heuristic only
    (candidates come from the current alive adjacency and are confirmed
    against the current alive closing-edge set either way), so stale
    degrees change constant factors, never the result — and hoisting the
    table out of the loop removes an E-scan + groupBy shuffle from
    every one of the (potentially hundreds of) tail rounds."""
    alive = scored.select("u", "v")  # pre-removal edge set
    both = alive.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionAll(alive.select(F.col("v").alias("a"), F.col("u").alias("b")))
    # orient each peeled edge (p, q) so deg(p) <= deg(q): proposals walk
    # p's adjacency, membership of (q, w) is a hash-join lookup
    keyed = _degree_keys(peel, deg)
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    pq = keyed.select(
        F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("p"),
        F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("q"),
    )
    cand = (
        both.join(pq, F.col("a") == F.col("p"))
        .filter(F.col("b") != F.col("q"))
        .select(
            "p",
            "q",
            F.col("b").alias("w"),
            F.least(F.col("q"), F.col("b")).alias("cu"),
            F.greatest(F.col("q"), F.col("b")).alias("cv"),
        )
    )
    # confirm the closing edge (q, w) is alive -> real triangles;
    # dedupe by sorted triple (a triangle with 2-3 peeled edges is
    # proposed once per peeled edge but must decrement once)
    closing = alive.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    tri = (
        cand.join(closing, ["cu", "cv"])
        .select(F.array_sort(F.array("p", "q", "w")).alias("t"))
        .distinct()
    )
    dead_edges = None
    for i, j in ((0, 1), (0, 2), (1, 2)):
        part = tri.select(
            F.col("t").getItem(i).alias("u"),
            F.col("t").getItem(j).alias("v"),
        )
        dead_edges = part if dead_edges is None else dead_edges.unionAll(part)
    dec = dead_edges.groupBy("u", "v").agg(F.count("*").alias("dec"))
    surv = scored.join(peel, ["u", "v"], "left_anti")
    return surv.join(dec, ["u", "v"], "left").select(
        "u",
        "v",
        (F.col("support") - F.coalesce("dec", F.lit(0))).alias("support"),
    )


def k_truss(
    graph: LinkGraph,
    k: int = 4,
    *,
    max_rounds: int = 24,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Returns (src, dst, support) for the edges of the k-truss of the
    symmetrized simple graph, src < dst, support = triangles per edge
    within the truss (all >= k-2). ``max_rounds`` counts the scoring
    pass as round 1; raises if the peel has not reached its fixpoint
    within it, so a budget below 1 always raises.
    ``metrics_out["rounds"]`` is the number of rounds run, the scoring
    pass included."""
    with graph.persisted():
        sym = graph.symmetrize()
        und = sym.edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        # orientation key table: the initial graph's memoized degrees, reused
        # every round (see _decrement_round/_full_support: any fixed total
        # order is correct; currency only tunes constant factors)
        deg0 = sym.out_degrees()

        def step(scored: DataFrame, rnd) -> DataFrame:
            if rnd.seen is None:
                # round 1, the scoring pass: every edge's support
                return _full_support(und, deg0)
            if rnd.seen["peel"] * DENSE_FRACTION >= rnd.seen["alive"]:
                # dense round: recount on the survivor set (one full
                # enumeration of the residual graph — the avalanche regime)
                surv_edges = scored.filter(F.col("support") >= k - 2).select(
                    "u", "v"
                )
                return _full_support(surv_edges, deg0)
            # peel is a filter over the materialized state — cheap to
            # re-evaluate, no checkpoint needed
            peel = scored.filter(F.col("support") < k - 2).select("u", "v")
            return _decrement_round(scored, peel, k, deg0)

        log: list = []
        # the unscored edge table is only read by round 1: nothing to
        # materialize before it
        scored = superstep(
            und, step, max_rounds=max_rounds, checkpoint_start=False,
            log=log, until=lambda seen: seen["peel"] == 0,
            alive=F.count(F.lit(1)),
            peel=F.count(F.when(F.col("support") < k - 2, 1)),
        )
    if metrics_out is not None:
        metrics_out["rounds"] = len(log)
    return bind_release(
        scored.select(F.col("u").alias("src"), F.col("v").alias("dst"), "support"),
        scored,
    )
