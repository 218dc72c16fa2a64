"""Spectral bisection — Fiedler-vector approximation by deflated power
iteration on the graph Laplacian.

Reference provenance: GraphIt's eigenvector kernel
(test/input/eigenvector_centrality.gt) is a plain power iteration; the
Fiedler vector needs the same edge-gather recurrence applied to
M = cI - L (L = D - A on the symmetrized graph, c >= lambda_max(L) so M
is PSD) plus a per-round deflation against L's trivial null vector
(the all-ones vector) — i.e. subtract the mean each round. The sign of
the converged vector bisects the graph (Fiedler 1973), the classic
seed for graph partitioning — the same partitioning question this
engine answers for 100 TB edge tables.

Scale shape: per round one edge gather (join + map-side-combined
groupBy(dst) sum — identical to the PageRank superstep), one COMBINED
scalar aggregate (sum, sum of squares, count in a single action; the
mean-centering and normalization reuse it via
norm = sqrt(s2 - s1^2/n)), then a V-sized projection with the two
driver scalars folded in as literals. localCheckpoint per round keeps
lineage flat. No sort, no Window, no O(V) collect.

Determinism/parity: init is integer hash arithmetic
((id*2654435761) mod 2048)/2048 - 0.5, c = 2*max_degree (exact
integers), and every float expression is written identically in the
DuckDB twin — the only nondeterminism is float summation order, which
the ROUND_RANK rounding absorbs (same argument as the eigenvector /
collaborative-filtering twins).

Semantics on disconnected graphs (including the isolated vertices the
id-universe model makes common): L's kernel is spanned by ALL component
indicators, and deflating only the global all-ones vector leaves the
other indicators as dominant modes — so the sign cut first separates
connected components. That is the correct spectral answer (a component
boundary is a zero-conductance cut, exactly what recursive partitioning
should cut first); callers wanting the Fiedler vector OF one component
should restrict the graph to it first (e.g. via connected_components).

Rounds-vs-gap contract: a power method separates λ2 from λ3 at a rate
set by their gap. Fixed small budgets resolve strong cluster structure
(two clusters, hierarchy with distinct gap scales per level — see
tests); near-degenerate structure (a chain/ring of equal clusters has
two comparably small eigenvalues) needs rounds ~ 1/gap at that level.
For conductance-targeted cuts at web scale, `approximate_ppr_push` +
sweep_cut is the budget-friendly alternative.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep

SPECTRAL_ROUNDS = 8
_INIT_MULT = 2654435761  # Knuth multiplicative hash constant
_INIT_MOD = 2048


def spectral_bisection(
    graph: LinkGraph, *, rounds: int = SPECTRAL_ROUNDS
) -> DataFrame:
    """Returns (id, fiedler, side): the approximate Fiedler vector after
    ``rounds`` deflated power iterations on c·I − L, and the bisection
    side (1 iff the rounded coordinate is positive)."""
    und = graph.symmetrize()
    with und.persisted():
        deg = und.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("d")
        )
        base = (
            und.vertices()
            .join(deg, "id", "left")
            .select("id", F.coalesce("d", F.lit(0)).cast("long").alias("d"))
            .transform(fresh_checkpoint)
        )
        c = 2 * int(base.agg(F.max("d")).collect()[0][0] or 0)

        state = base.select(
            "id",
            "d",
            (
                ((F.col("id") * F.lit(_INIT_MULT)) % F.lit(_INIT_MOD)).cast(
                    "double"
                )
                / F.lit(float(_INIT_MOD))
                - F.lit(0.5)
            ).alias("x"),
        )

        def step(state: DataFrame, rnd) -> DataFrame:
            gathered = (
                und.edges.join(
                    state.select(F.col("id").alias("src"), "x"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("x").alias("s"))
            )
            y = state.join(gathered, "id", "left").select(
                "id",
                "d",
                (
                    (F.lit(float(c)) - F.col("d")) * F.col("x")
                    + F.coalesce("s", F.lit(0.0))
                ).alias("y"),
            )
            stats = y.agg(
                F.sum("y").alias("s1"),
                F.sum(F.col("y") * F.col("y")).alias("s2"),
                F.count("*").alias("n"),
            ).collect()[0]
            s1, s2, n = float(stats["s1"]), float(stats["s2"]), int(stats["n"])
            m = s1 / n
            # Centered variance can come out a hair negative in floats when
            # every y is (near-)identical; both engines guard var <= 0 -> 1
            # identically (the SQL twin's CASE mirrors this line for line).
            var = s2 - s1 * s1 / n
            norm = math.sqrt(var) if var > 0 else 1.0
            return y.select(
                "id",
                "d",
                ((F.col("y") - F.lit(m)) / F.lit(norm)).alias("x"),
            )

        state = superstep(state, step, rounds=rounds)
        base.unpersist()
        out = bind_release(
            state.select(
                "id",
                (F.round(F.col("x"), 6) + F.lit(0.0)).alias("fiedler"),
                F.when(F.round(F.col("x"), 6) > 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("int")
                .alias("side"),
            ),
            state,
        )
    return out


def spectral_partition(
    graph: LinkGraph, *, levels: int = 2, rounds: int = SPECTRAL_ROUNDS
) -> DataFrame:
    """Recursive spectral partitioning into 2^levels parts — the
    bisection above generalized so EVERY per-round statistic is a
    grouped aggregation instead of a driver scalar: all 2^l parts at
    level l run their deflated power iteration simultaneously (one edge
    gather + one groupBy(part) stats agg + one join per round, whatever
    the part count), which is the shape a 1000-executor partitioner
    needs — no driver round-trip per part.

    Per level: the within-part edge table is materialized once (two
    V-sized label joins + equality filter) and reused by every round;
    c is per-part (2·max within-part degree, exact integers via grouped
    max). Returns (id, part) with part in [0, 2^levels).

    Parity: identical float operation order as the SQL twin
    (m = s1/n, var = s2 − (s1·s1)/n, var ≤ 0 → norm 1); the level
    boundary quantizes at round(x, 6) > 0 exactly like the bisection's
    side bit."""
    und = graph.symmetrize()
    with und.persisted():
        def level(part: DataFrame, rnd) -> DataFrame:
            """One level: every part's deflated power iteration at once, then
            each part split by the sign of its vector."""
            pe = rnd.checkpoint(
                und.edges.join(
                    part.select(
                        F.col("id").alias("src"), F.col("part").alias("psrc")
                    ),
                    "src",
                )
                .join(
                    part.select(
                        F.col("id").alias("dst"), F.col("part").alias("pdst")
                    ),
                    "dst",
                )
                .filter(F.col("psrc") == F.col("pdst"))
                .select("src", "dst", F.col("psrc").alias("part"))
            )
            deg = pe.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("dd")
            )
            base = (
                part.join(deg, "id", "left")
                .select(
                    "id",
                    "part",
                    F.coalesce("dd", F.lit(0)).cast("long").alias("d"),
                )
            )
            cmax = base.groupBy("part").agg(
                (F.lit(2) * F.max("d")).cast("long").alias("c")
            )
            state = base.join(cmax, "part").select(
                "id",
                "part",
                "d",
                "c",
                (
                    ((F.col("id") * F.lit(_INIT_MULT)) % F.lit(_INIT_MOD))
                    .cast("double")
                    / F.lit(float(_INIT_MOD))
                    - F.lit(0.5)
                ).alias("x"),
            )

            def step(state: DataFrame, rnd) -> DataFrame:
                gathered = (
                    pe.join(
                        state.select(
                            F.col("id").alias("src"), F.col("x").alias("xs")
                        ),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("xs").alias("s"))
                )
                y = state.join(gathered, "id", "left").select(
                    "id",
                    "part",
                    "d",
                    "c",
                    (
                        (F.col("c") - F.col("d")) * F.col("x")
                        + F.coalesce("s", F.lit(0.0))
                    ).alias("y"),
                )
                st = y.groupBy("part").agg(
                    F.sum("y").alias("s1"),
                    F.sum(F.col("y") * F.col("y")).alias("s2"),
                    F.count("*").alias("n"),
                )
                var = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")
                return y.join(st, "part").select(
                    "id",
                    "part",
                    "d",
                    "c",
                    (
                        (F.col("y") - F.col("s1") / F.col("n"))
                        / F.when(var > 0, F.sqrt(var)).otherwise(F.lit(1.0))
                    ).alias("x"),
                )

            state = rnd.own(superstep(state, step, rounds=rounds))
            return part.join(
                state.select(
                    "id",
                    F.when(F.round(F.col("x"), 6) > 0, F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("side"),
                ),
                "id",
            ).select(
                "id",
                (F.col("part") * 2 + F.col("side")).cast("long").alias("part"),
            )

        part = superstep(
            und.vertices().select("id", F.lit(0).cast("long").alias("part")),
            level, rounds=levels,
        )
    return part
