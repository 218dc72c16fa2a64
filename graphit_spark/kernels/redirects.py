"""Redirect-chain resolution — pointer doubling over a functional graph.

A crawl's redirect table (HTTP 3xx, rel=canonical, URL aliases) is a
functional graph: each source url has at most one outgoing pointer.
Resolving every url to its terminal target is the same path-shortcut
primitive the reference's connected-components kernel uses for its
pointer-jumping phase (apps/cc_lp_pj.gt; kernels/components.py here) —
but run to FULL resolution, with hop counts, and with cycle detection
(redirect loops are real on the web and must not hang the job).

Spark plan per doubling round: one self-equi-join of the pointer table
on (ptr = src) — the classic f <- f∘f halving, so a chain of length L
resolves in ceil(log2 L) rounds — run as a superstep whose convergence
count (rows still pointing into the redirect domain) is observed on the
round's own checkpoint job: each row carries whether its pointer is a
redirect source, so the count needs no join and no action of its own.
No driver-side iteration over rows; cycles are detected distributively
(a row whose accumulated hop count exceeds the table size can only be
looping) rather than by driver walks.

At 100 TB: the table shuffles on hashed url ids only (never strings —
callers map urls through the engine's url dictionary first), each round
is one hash join of two same-keyed tables, and rounds are logarithmic
in the longest chain (real redirect chains are < 32 hops, so ~5 rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.plans.state import (
    bind_release,
    counted_checkpoint,
    superstep,
)


def resolve_redirects(
    redirects: DataFrame,
    *,
    max_rounds: int = 64,
) -> DataFrame:
    """Resolve each redirect source to its terminal target.

    `redirects`: (src, dst) — at most one row per src; if duplicates
    exist the minimum dst wins (deterministic tie rule, same contract
    as the engine's min-label reductions).

    Returns (src, target, hops, cycle):
      - terminal rows: target = the first node reached that is not
        itself a redirect source, hops = exact chain length,
        cycle = false;
      - rows trapped in a redirect loop: target/hops NULL, cycle = true.

    Raises if ``max_rounds`` doubling rounds leave rows unresolved
    (a chain longer than 2^max_rounds).
    """
    r = (
        redirects.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
    )
    # live: the pointer is itself a redirect source (not yet terminal);
    # the starting checkpoint observes the table size n, the hop bound
    # past which a live row can only be looping
    state, seen = counted_checkpoint(
        r.join(
            r.select(F.col("src").alias("dst"), F.lit(True).alias("live")),
            "dst", "left",
        ).select(
            "src",
            F.col("dst").alias("ptr"),
            F.lit(1).cast("long").alias("hops"),
            F.coalesce("live", F.lit(False)).alias("live"),
        )
    )

    def double(state: DataFrame, rnd) -> DataFrame:
        jump = state.select(
            F.col("src").alias("j_src"),
            F.col("ptr").alias("j_ptr"),
            F.col("hops").alias("j_hops"),
            F.col("live").alias("j_live"),
        )
        return state.join(jump, state["ptr"] == jump["j_src"], "left").select(
            "src",
            F.coalesce("j_ptr", "ptr").alias("ptr"),
            (F.col("hops") + F.coalesce("j_hops", F.lit(0))).alias("hops"),
            F.coalesce("j_live", F.lit(False)).alias("live"),
        )

    # unresolved = rows still pointing INTO the redirect domain that
    # cannot yet be written off as loops (any genuine chain has at most
    # n hops)
    state = superstep(
        state, double,
        max_rounds=max_rounds, checkpoint_start=False,
        until=lambda seen: seen["unresolved"] == 0,
        unresolved=F.count(
            F.when(F.col("live") & (F.col("hops") <= seen["rows"]), 1)
        ),
    )
    return bind_release(
        state.select(
            "src",
            F.when(F.col("live"), F.lit(None)).otherwise(F.col("ptr")).alias(
                "target"
            ),
            F.when(F.col("live"), F.lit(None)).otherwise(F.col("hops")).alias(
                "hops"
            ),
            F.col("live").alias("cycle"),
        ),
        state,
    )
