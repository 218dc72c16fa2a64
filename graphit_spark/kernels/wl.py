"""Weisfeiler-Leman color refinement — structural vertex fingerprints.

Reference provenance: WL refinement is the canonical structural-role
labeling (1-WL, the graph-isomorphism heuristic); on a link graph it
fingerprints crawl STRUCTURE — template/farm detection (link farms are
large same-color classes), role features for ranking models, and
cheap candidate pruning for subgraph-match queries. It composes the
engine's §2 machinery exactly like LPA: init from degree, one gather +
grouped aggregate per round.

Scale shape — the textbook WL round hashes the SORTED neighbor-color
multiset, which at web scale means collecting a hub's 10^8 colors into
one array. This kernel replaces the sort with an ORDER-INDEPENDENT
exact multiset digest: per destination it aggregates
    (count, bit_xor(color), sum(color % 1000003))
— three BIGINT aggregates that are map-side combinable and skew-safe
(the hub's multiset digest is reduced inside each partition; no array,
no sort, no single wide row). Two multisets that differ agree on all
three digests only under md5-collision-level coincidence, which is the
same failure mode hashing the sorted multiset already accepts. The sum
term is taken mod 1000003 so even a 10^12-degree hub cannot overflow
BIGINT (1e6 · 1e12 < 2^63).

Determinism/parity: colors are 60-bit md5 integers of decimal-string
signatures (the repo's hash convention), so the DuckDB twin matches bit
for bit; vertices with no in-neighbors digest as (0, 0, 0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import superstep

WL_ROUNDS = 3
WL_SUM_MOD = 1000003  # prime; keeps the sum digest overflow-free


def _h60(col: Column) -> Column:
    """60-bit md5 of a string column (decimal BIGINT), the engine's
    hash convention: DuckDB ('0x' || substr(md5(x), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10
    ).cast("long")


def wl_refinement(
    graph: LinkGraph, *, rounds: int = WL_ROUNDS, symmetrize: bool = True
) -> DataFrame:
    """Returns (id, color): the 1-WL color after ``rounds`` refinement
    rounds, starting from the (symmetric) degree. Vertices with equal
    color are structurally indistinguishable at radius ``rounds``."""
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        def step(colors: DataFrame, rnd) -> DataFrame:
            digest = (
                g.edges.join(
                    colors.select(F.col("id").alias("src"),
                                  F.col("color").alias("c")),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(
                    F.count("*").alias("cnt"),
                    F.expr("bit_xor(c)").alias("x"),
                    F.sum(F.col("c") % WL_SUM_MOD).alias("s"),
                )
            )
            return colors.join(digest, "id", "left").select(
                "id",
                _h60(
                    F.concat_ws(
                        "|",
                        F.col("color").cast("string"),
                        F.coalesce("cnt", F.lit(0)).cast("string"),
                        F.coalesce("x", F.lit(0)).cast("string"),
                        F.coalesce("s", F.lit(0)).cast("string"),
                    )
                ).alias("color"),
            )

        colors = superstep(
            g.out_degrees()
            .select(
                "id",
                _h60(F.col("out_degree").cast("string")).alias("color"),
            ),
            step, rounds=rounds,
        )
    return colors
