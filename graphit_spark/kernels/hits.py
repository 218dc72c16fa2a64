"""HITS (hubs & authorities) — Kleinberg's link-analysis pair to
PageRank.

Not in the reference's app set (its closest kin is the un-normalized
power iteration of test/input/eigenvector_centrality.gt), but for a web
link graph HITS is the canonical companion to PageRank: authority =
endorsed BY good hubs, hub = points TO good authorities —

    auth[dst] += hub[src]   over all edges, then L1-normalize
    hub[src]  += auth[dst]  over all edges (the transpose gather),
                            then L1-normalize

for a fixed number of rounds. Kleinberg's paper normalizes by L2; any
per-round positive rescaling yields the same vector direction (the
update is linear), and L1 is chosen here because the normalizer is a
plain sum — the same cross-engine float contract as PageRank's error
norm (sum-order noise ~1e-15 relative, absorbed by the 6-decimal
output rounding; no float-conditioned branch anywhere).

Spark plan per round: two gather joins (forward for authorities, the
zero-cost transpose direction for hubs) each followed by a map-side-
combined groupBy sum, two V-sized scalar aggregates for the
normalizers (one driver action each, like PageRank's error norm —
never an O(V) collect), one checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import superstep


def hits(graph: LinkGraph, *, rounds: int = 6) -> DataFrame:
    """Returns (id, hub, auth) after `rounds` L1-normalized HITS
    iterations from hub = auth = 1.0. An edgeless graph collapses to
    all-zero scores after one round (the zero-sum guard only prevents
    division by zero; the SQL twin does the same)."""
    with graph.persisted():
        verts = graph.vertices()

        def step(state: DataFrame, rnd) -> DataFrame:
            auth_raw = rnd.checkpoint(
                verts.join(
                    graph.edges.join(
                        state.select(F.col("id").alias("src"), "hub"), "src"
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("hub").alias("a")),
                    "id",
                    "left",
                ).select("id", F.coalesce("a", F.lit(0.0)).alias("a"))
            )
            s_a = auth_raw.agg(F.sum("a")).collect()[0][0] or 1.0
            auth = auth_raw.select("id", (F.col("a") / F.lit(s_a)).alias("auth"))
            hub_raw = rnd.checkpoint(
                verts.join(
                    graph.edges.join(
                        auth.select(F.col("id").alias("dst"), "auth"), "dst"
                    )
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.sum("auth").alias("h")),
                    "id",
                    "left",
                ).select("id", F.coalesce("h", F.lit(0.0)).alias("h"))
            )
            s_h = hub_raw.agg(F.sum("h")).collect()[0][0] or 1.0
            return (
                hub_raw.select("id", (F.col("h") / F.lit(s_h)).alias("hub"))
                .join(auth, "id")
                .select("id", "hub", "auth")
            )

        state = superstep(
            verts.select(
                "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
            ),
            step, rounds=rounds,
        )
    return state
