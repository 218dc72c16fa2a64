"""Link prediction — common-neighbor scores over the undirected graph.

The reference's neighbor-intersection machinery (intersectNeighbor,
reference intrinsics.h:302-350, apps/tc.gt:12-16) computes |N(u) ∩ N(v)|
for EXISTING edges; link prediction asks the same question for
NON-adjacent pairs — "which pages should link but don't" — the classic
web/social recommendation primitive (Liben-Nowell & Kleinberg, CIKM'03).
Scores per candidate pair (u < v, not adjacent, ≥ min_cn shared
neighbors) on the symmetrized simple graph:

    cn      = |N(u) ∩ N(v)|                       (common neighbors)
    jaccard = cn / (deg(u) + deg(v) - cn)
    ra      = Σ_{w ∈ N(u)∩N(v)} 1 / deg(w)        (resource allocation,
                                                   Zhou/Lü/Zhang 2009)

Adamic-Adar (1/ln deg) is deliberately replaced by resource allocation:
same intuition (rare shared neighbors weigh more), but RA needs no
transcendental function, so the score is reproducible bit-for-bit across
engines (ln differs across libm builds; the repo's determinism contract
— every float built from integer ratios — is the same one doc_tfidf and
clustering_coeff follow).

Spark plan (wedge enumeration, NOT pairwise):
    1. symmetrize + squish → simple undirected edge set, cached
    2. attach 1/deg(w) to each edge (V-sized degree join)
    3. self-join on the wedge center w: (w,u) ⋈ (w,v), u < v —
       one shuffle keyed on w; map-side combine collapses each
       center's wedges before the pair-keyed aggregation
    4. groupBy (u,v): count → cn, sum(1/deg(w)) → ra
    5. left_anti against the edge set drops already-linked pairs
    6. optional per-source top-k (row_number over an INTEGER sort key —
       cn desc, v asc — so ranking never depends on float ties)

Scale notes (100 TB): wedge count is Σ_w deg(w)², so hubs dominate —
exactly the skew TC's degree orientation kills, but orientation is NOT
available here (a wedge must be observed from its center regardless of
order). The published mitigation is a center-degree cap: wedges through
centers above `max_center_degree` contribute near-zero RA weight
(1/deg ≈ 0) and astronomically many candidate pairs, so production
systems drop them (Twitter WTF does the same for its SALSA hub fan-out).
The cap is exposed and OFF by default — the driver query's blocked graph
bounds degrees by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import fresh_checkpoint


def link_prediction(
    graph: LinkGraph,
    *,
    min_cn: int = 1,
    topk: int | None = None,
    max_center_degree: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Score non-adjacent vertex pairs by shared neighborhood.

    Returns (u, v, cn, jaccard, ra), u < v, cn ≥ min_cn; jaccard/ra
    rounded to 6 decimals (sum order across partitions is the only
    nondeterminism — rounding absorbs it, same contract as pagerank's
    rank rounding). With ``topk``, keeps the k best candidates per u by
    (cn desc, v asc) — an integer sort key, so the cut is exact.

    ``materialize=False`` skips the eager checkpoint and returns the
    lazy plan — for plan inspection only (the symmetrize
    shuffle then re-runs per downstream action).
    """
    # persist the symmetrized graph: sym feeds the wedge self-join
    # (both sides), the adjacency anti-join, AND the degree table —
    # without the cache the E∪Eᵀ squish shuffle re-runs ~4×. The result
    # is checkpointed inside the block, so a cache the block made is
    # released on return (a persisted graph's own view stays cached).
    und = graph.symmetrize()
    with und.persisted():
        sym = und.edges.select("src", "dst")
        deg = und.out_degrees().select(
            F.col("id").alias("w"), F.col("out_degree").alias("w_deg")
        )

        centers = sym.select(F.col("src").alias("w"), F.col("dst").alias("nbr"))
        if max_center_degree is not None:
            centers = centers.join(
                deg.filter(F.col("w_deg") <= max_center_degree), "w", "left_semi"
            )
        # 1/deg(w) attached BEFORE the wedge self-join: one V-sized join on
        # the edge table instead of a wedge-sized join afterwards.
        weighted = centers.join(deg, "w").select(
            "w", "nbr", (F.lit(1.0) / F.col("w_deg")).alias("inv_w")
        )
        left = weighted.select("w", F.col("nbr").alias("u"), "inv_w")
        right = weighted.select("w", F.col("nbr").alias("v"))
        cand = (
            left.join(right, "w")
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(
                F.count("*").cast("long").alias("cn"),
                F.sum("inv_w").alias("ra_raw"),
            )
            .filter(F.col("cn") >= min_cn)
        )
        # drop pairs that are already edges: sym holds both directions, so
        # the (u,v) orientation alone decides adjacency
        cand = cand.join(
            sym,
            (cand["u"] == sym["src"]) & (cand["v"] == sym["dst"]),
            "left_anti",
        )
        du = und.out_degrees().select(
            F.col("id").alias("u"), F.col("out_degree").alias("du")
        )
        dv = und.out_degrees().select(
            F.col("id").alias("v"), F.col("out_degree").alias("dv")
        )
        scored = (
            cand.join(du, "u")
            .join(dv, "v")
            .select(
                "u",
                "v",
                "cn",
                F.round(
                    F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")), 6
                ).alias("jaccard"),
                F.round(F.col("ra_raw"), 6).alias("ra"),
            )
        )
        if topk is not None:
            w = Window.partitionBy("u").orderBy(F.desc("cn"), F.asc("v"))
            scored = (
                scored.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= topk)
                .drop("rk")
            )
        if not materialize:
            return scored
        return scored.transform(fresh_checkpoint)
