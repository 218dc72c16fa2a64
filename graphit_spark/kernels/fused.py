"""Fused PageRank + eigenvector centrality — one traversal, two kernels.

Reference: test/input_with_schedules/eigenvector_pr_fusion.gt fuses the
two edge functors (PageRank's ``contrib[src]/out_degree → new_rank[dst]``
and eigenvector's ``ec[src] → new_ec[dst]``) into one generated edge loop
via ``fuseApplyFunctions`` (include/graphit/frontend/
high_level_schedule.h:67-81). Same semantics as running
kernels/pagerank.py and kernels/centrality.py separately — PR per
apps/pagerank.gt (beta shift, no dangling redistribution), EC per
test/input/eigenvector_centrality.gt (un-normalized power iteration) —
but each superstep pays ONE edges ⋈ state join and ONE groupBy(dst)
producing both accumulator columns (plans/fusion.py), where the separate
kernels pay two of each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, superstep
from graphit_spark.plans.fusion import fused_gather


def fused_pr_eigenvector(
    graph: LinkGraph, *, damp: float = 0.85, rounds: int = 9
) -> DataFrame:
    """Returns (id, rank, ec) after ``rounds`` fused supersteps.

    rank follows PageRank's recurrence (init 1/n, beta=(1-damp)/n), ec
    follows the un-normalized power iteration (init 1/n). Per superstep
    both gathers ride the same shuffle: sum(rank/out_degree) and sum(ec)
    come out of a single groupBy(dst). Division is safe for the same
    reason as kernels/pagerank.py — messages are only evaluated through
    the edge join, and every edge src has out_degree ≥ 1.
    """
    with graph.persisted():
        n = graph.num_vertices
        beta = (1.0 - damp) / n

        hint = "shuffle_hash" if graph.num_vertices > 500_000 else None

        def step(state: DataFrame, rnd) -> DataFrame:
            gathered = fused_gather(
                graph.edges,
                state,
                {
                    "pr_acc": F.col("rank") / F.col("out_degree"),
                    "ec_acc": F.col("ec"),
                },
                hint=hint,
            )
            return state.join(gathered, "id", "left").select(
                "id",
                "out_degree",
                (
                    F.lit(beta)
                    + F.lit(damp) * F.coalesce("pr_acc", F.lit(0.0))
                ).alias("rank"),
                F.coalesce("ec_acc", F.lit(0.0)).alias("ec"),
            )

        state = superstep(
            graph.out_degrees()
            .withColumn("rank", F.lit(1.0 / n))
            .withColumn("ec", F.lit(1.0 / n)),
            step, rounds=rounds,
        )
        result = bind_release(state.select("id", "rank", "ec"), state)
    return result


def fused_trust_spam(
    graph: LinkGraph,
    seeds: list[int],
    *,
    damp: float = 0.85,
    rounds: int = 10,
) -> DataFrame:
    """Fused weighted PageRank + TrustRank + spam mass — one traversal,
    two recurrences, three signals.

    The web-spam pipeline (Gyöngyi et al., VLDB'04) needs BOTH vectors
    on the same host graph: raw authority (PageRank) and seeded trust
    (TrustRank); spam mass is their normalized gap
    ``(rank - trust) / rank`` — high when a host's authority comes from
    outside the trust neighborhood. The two recurrences share the edge
    relation, direction, and reducer, so they fuse exactly like
    eigenvector_pr_fusion.gt (fuseApplyFunctions,
    high_level_schedule.h:67-81): per superstep ONE edges ⋈ state join
    and ONE groupBy(dst) emit both weighted gathers, where separate
    kernels would pay two E-sized shuffles.

    Returns (id, rank, trust, spam_mass), unrounded — callers round per
    the engine's cross-engine float contract.
    """
    if not seeds:
        raise ValueError("fused_trust_spam requires a non-empty seed set")
    if not graph.weighted:
        raise ValueError("fused_trust_spam runs on the weighted host graph")
    seed_ids = sorted({int(s) for s in seeds})
    seed_mass = 1.0 / len(seed_ids)
    seed = (
        F.when(F.col("id").isin(seed_ids), F.lit(seed_mass))
        .otherwise(F.lit(0.0))
    )
    with graph.persisted():
        n = graph.num_vertices
        pr_beta = (1.0 - damp) / n
        tr_beta = 1.0 - damp

        wdeg = (
            graph.vertices()
            .join(
                graph.edges.groupBy(F.col("src").alias("id")).agg(
                    F.sum("weight").alias("out_w")
                ),
                "id",
                "left",
            )
            .select("id", F.coalesce("out_w", F.lit(0)).alias("out_w"))
        )
        hint = "shuffle_hash" if n > 500_000 else None

        def step(state: DataFrame, rnd) -> DataFrame:
            gathered = fused_gather(
                graph.edges,
                state.filter(F.col("out_w") > 0),
                {
                    "pr_acc": F.col("rank") / F.col("out_w") * F.col("weight"),
                    "tr_acc": F.col("trust") / F.col("out_w") * F.col("weight"),
                },
                hint=hint,
            )
            return state.join(gathered, "id", "left").select(
                "id",
                "out_w",
                (
                    F.lit(pr_beta)
                    + F.lit(damp) * F.coalesce("pr_acc", F.lit(0.0))
                ).alias("rank"),
                (
                    F.lit(tr_beta) * seed
                    + F.lit(damp) * F.coalesce("tr_acc", F.lit(0.0))
                ).alias("trust"),
            )

        state = superstep(
            wdeg.withColumn("rank", F.lit(1.0 / n))
            .withColumn("trust", seed),
            step, rounds=rounds,
        )
        result = bind_release(
            state.select(
                "id",
                "rank",
                "trust",
                ((F.col("rank") - F.col("trust")) / F.col("rank")).alias(
                    "spam_mass"
                ),
            ),
            state,
        )
    return result
