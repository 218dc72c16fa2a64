"""SALSA (Stochastic Approach for Link-Structure Analysis) — Lempel &
Moran, WWW 2000; the degree-normalized sibling of HITS and the engine
behind production "who to follow" recommenders (Twitter WTF, WSDM'13).

Where HITS gathers raw sums (auth += hub), SALSA walks the bipartite
hub/authority graph with STOCHASTIC steps — every edge contribution is
divided by the degree of the vertex being left:

    hub[i]  = Σ_{(i,j) ∈ E} auth[j] / in_deg(j)    (backward step)
    auth[j] = Σ_{(i,j) ∈ E} hub[i]  / out_deg(i)   (forward step)

so hubs don't get credit just for fan-out and spam farms can't
concentrate authority — the fixpoint within a connected bipartite
component is proportional to degree, not to eigenvector mass.

Same engineering contract as kernels/hits.py: per round two gather
joins + map-side-combined groupBy sums, an L1 normalizer per gather
(plain sum — one scalar driver action, no O(V) collect), one
checkpoint. The per-edge 1/degree weights
are attached ONCE up front (two V-sized joins onto the edge table,
localCheckpointed) instead of per round. All divisions are by integer
degrees and the recurrence is linear with no float-conditioned branch,
so the 6-decimal rounding of the driver query absorbs sum-order noise —
the iterated-CTE DuckDB twin is exact under that contract.

Reference provenance: the eigenvector power-iteration shape is
test/input/eigenvector_centrality.gt; the forward/transpose gather pair
is the same plan as apps/bc.gt's two-phase traversal (edges.transpose(),
reference intrinsics.h:525-529).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import fresh_checkpoint, superstep


def salsa(graph: LinkGraph, *, rounds: int = 6) -> DataFrame:
    """Returns (id, hub, auth) after `rounds` L1-normalized SALSA
    iterations from hub = auth = 1.0. Edgeless graphs collapse to zero
    scores after one round (the zero-sum guard only avoids 0/0, same
    as HITS and the SQL twin)."""
    with graph.persisted():
        verts = graph.vertices()
        out_deg = graph.out_degrees().select(
            F.col("id").alias("src"), F.col("out_degree").alias("od")
        )
        in_deg = (
            graph.edges.groupBy(F.col("dst"))
            .agg(F.count("*").alias("idg"))
        )
        # stochastic edge weights, built once: (src, dst, inv_out, inv_in)
        eweights = (
            graph.edges.join(out_deg, "src")
            .join(in_deg, "dst")
            .select(
                "src",
                "dst",
                (F.lit(1.0) / F.col("od")).alias("inv_out"),
                (F.lit(1.0) / F.col("idg")).alias("inv_in"),
            )
            .transform(fresh_checkpoint)
        )

        def step(state: DataFrame, rnd) -> DataFrame:
            # backward step: hub[i] = Σ auth[j]/in_deg(j) over out-edges of i
            hub_raw = rnd.checkpoint(
                verts.join(
                    eweights.join(
                        state.select(F.col("id").alias("dst"), "auth"), "dst"
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.sum(F.col("auth") * F.col("inv_in")).alias("h")),
                    "id",
                    "left",
                ).select("id", F.coalesce("h", F.lit(0.0)).alias("h"))
            )
            s_h = hub_raw.agg(F.sum("h")).collect()[0][0] or 1.0
            hub = hub_raw.select("id", (F.col("h") / F.lit(s_h)).alias("hub"))
            # forward step: auth[j] = Σ hub[i]/out_deg(i) over in-edges of j
            auth_raw = rnd.checkpoint(
                verts.join(
                    eweights.join(
                        hub.select(F.col("id").alias("src"), "hub"), "src"
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum(F.col("hub") * F.col("inv_out")).alias("a")),
                    "id",
                    "left",
                ).select("id", F.coalesce("a", F.lit(0.0)).alias("a"))
            )
            s_a = auth_raw.agg(F.sum("a")).collect()[0][0] or 1.0
            return hub.join(
                auth_raw.select("id", (F.col("a") / F.lit(s_a)).alias("auth")),
                "id",
            ).select("id", "hub", "auth")

        state = superstep(
            verts.select(
                "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
            ),
            step, rounds=rounds,
        )
        eweights.unpersist()
    return state


def who_to_follow(
    graph: LinkGraph,
    seed: int,
    *,
    circle: int = 30,
    k: int = 10,
    ppr_iters: int = 10,
    salsa_rounds: int = 6,
    round_decimals: int = 6,
) -> DataFrame:
    """Twitter's Who-To-Follow pipeline (Gupta et al., WWW'13), composed
    from this engine's kernels: personalized PageRank from `seed`
    builds the circle of trust (top-`circle` by rounded score, seed
    excluded), SALSA runs on the bipartite subgraph of the circle's
    out-edges (circle = hubs, their targets compete for authority), and
    the top-`k` authorities the seed doesn't already link to come back
    as (id, auth).

    Every ranking cut orders on ROUNDED scores with id tiebreak — the
    cross-engine determinism contract — and SALSA's cost is
    proportional to the circle's out-edges, not the graph."""
    from graphit_spark.kernels import personalized_pagerank

    ppr = personalized_pagerank(graph, seed, max_iters=ppr_iters).select(
        "id", F.round("rank", round_decimals).alias("score")
    )
    trust = (
        ppr.filter(F.col("id") != seed)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(circle)
        .select("id")
    )
    sub = graph.edges.join(
        trust.withColumnRenamed("id", "src"), "src", "left_semi"
    )
    scores = salsa(
        LinkGraph(sub, squished=True, persist=False), rounds=salsa_rounds
    )
    followed = graph.edges.filter(F.col("src") == seed).select(
        F.col("dst").alias("id")
    )
    return (
        scores.join(followed, "id", "left_anti")
        .filter(F.col("id") != seed)
        .select("id", F.round("auth", round_decimals).alias("auth"))
        .orderBy(F.desc("auth"), F.asc("id"))
        .limit(k)
    )
