"""Approximate personalized PageRank by local push (Andersen, Chung,
Lang FOCS'06) — the algorithm ``serialSweepCut`` exists to pair with.

Reference provenance: the reference ships sweep-cut local clustering
(apps/*, serialSweepCut intrinsics) whose input score vector the ACL
paper computes with this push process; our `personalized_pagerank`
kernel (kernels/pagerank.py) is the power-iteration variant that touches
all V vertices per round. This kernel is the LOCAL path: state holds
only touched vertices, and the touched set is O(1/(eps·alpha))
*independent of graph size* — on a 100 TB edge table a seed query costs
a handful of frontier-sized joins, not V-sized supersteps.

Batch-synchronous push: each round, every vertex with
r(v) > eps·d(v) pushes simultaneously —
    p(v) += alpha·r(v)
    r(v) <- (1-alpha)·r(v)/2  (plus the integer floor remainders)
    each undirected neighbor u receives (1-alpha)·r(v) / (2·d(v)).
Total residual mass is non-increasing and the active threshold is
monotone, so the batch schedule converges to the same eps-approximation
guarantee as ACL's sequential queue (any push order is admissible,
ACL §3).

Determinism discipline (the repo's nano-unit contract, cf.
textops.dsir_weights / quality_probe): p and r are BIGINT nano-units
(SCALE = 1e9), every division is an integer floor-div with positive
operands (Spark `div` == DuckDB `//`), floor remainders stay ON the
pushing vertex, and the per-destination receive is a BIGINT sum — all
shuffle-order-independent, so the DuckDB twin is bit-exact, threshold
knife-edges included.

Scale shape per round: one scan of the cached symmetrized edge table
joined against the (small) active set, one map-side-combined
groupBy(dst) BIGINT sum, three small joins to merge state; the next
round's active count is observed on the state's checkpoint job, so a
round runs no action of its own. State is sparse: rows exist only for
vertices that ever held mass (all kept rows provably have r >= 1, see
`_r_stays_positive` note in the twin builder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import bind_release, superstep

PUSH_SCALE = 10**9  # nano-units of probability mass
PUSH_ALPHA_NUM = 15  # alpha = 0.15, as a rational for integer math
PUSH_ALPHA_DEN = 100
PUSH_EPS_UNITS = 1000  # eps = 1e-6 in nano-units: active iff r > eps·d
PUSH_MAX_ROUNDS = 12


def approximate_ppr_push(
    graph: LinkGraph,
    source: int,
    *,
    alpha_num: int = PUSH_ALPHA_NUM,
    alpha_den: int = PUSH_ALPHA_DEN,
    eps_units: int = PUSH_EPS_UNITS,
    max_rounds: int = PUSH_MAX_ROUNDS,
) -> DataFrame:
    """Returns the sparse touched set ``(id, ppr_units, r_units, ppr)``:
    settled mass p and residual r in integer nano-units (exact), plus
    ppr = p / 1e9 as a convenience double (exact integer / exact power
    of ten — deterministic). Rows are exactly the vertices with r > 0;
    every returned row has r >= 1 by the floor arithmetic.
    ``max_rounds`` is a fixed-iteration budget shared with the twin: the
    push stops early once no vertex is active and never raises."""
    und = graph.symmetrize()
    with und.persisted():
        degs = und.out_degrees()  # persisted V-sized (id, out_degree)
        active = (F.col("r") > F.lit(eps_units) * F.col("d")) & (F.col("d") > 0)

        def step(state: DataFrame, rnd) -> DataFrame:
            act = rnd.checkpoint(
                state.filter(active).select(
                    "id",
                    "d",
                    "r",
                    F.expr(f"(r * {alpha_num}) div {alpha_den}").alias("gain"),
                ).select(
                    "id",
                    "d",
                    "gain",
                    F.expr("(r - gain) div 2").alias("push_total"),
                ).select(
                    "id",
                    "gain",
                    "push_total",
                    F.expr("push_total div d").alias("per_nbr"),
                )
            )
            recv = (
                und.edges.join(
                    act.filter(F.col("per_nbr") > 0).select(
                        F.col("id").alias("src"), "per_nbr"
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("per_nbr").alias("recv"))
            )
            merged = (
                state.join(act, "id", "left")
                .join(recv, "id", "full_outer")
                .join(degs, "id", "left")
            )
            return merged.select(
                "id",
                F.coalesce("d", "out_degree", F.lit(0)).cast("long").alias("d"),
                (F.coalesce("p", F.lit(0)) + F.coalesce("gain", F.lit(0)))
                .cast("long")
                .alias("p"),
                (
                    F.when(
                        F.col("gain").isNotNull(),
                        # keep + remainder = r - gain - per_nbr·d
                        F.col("r") - F.col("gain")
                        - F.col("per_nbr") * F.coalesce("d", F.lit(0)),
                    ).otherwise(F.coalesce("r", F.lit(0)))
                    + F.coalesce("recv", F.lit(0))
                )
                .cast("long")
                .alias("r"),
            )

        seed = local_frame(
            und.spark,
            [(int(source), 0, int(PUSH_SCALE))],
            "id long, p long, r long",
        ).join(degs, "id", "left")
        state = superstep(
            seed.select(
                "id", F.coalesce("out_degree", F.lit(0)).cast("long").alias("d"),
                "p", "r",
            ),
            step, rounds=max_rounds, until=lambda seen: seen["active"] == 0,
            active=F.count(F.when(active, 1)),
        )
    out = state.filter(F.col("r") > 0).select(
        "id",
        F.col("p").alias("ppr_units"),
        F.col("r").alias("r_units"),
        (F.col("p") / F.lit(float(PUSH_SCALE))).alias("ppr"),
    )
    return bind_release(out, state)
