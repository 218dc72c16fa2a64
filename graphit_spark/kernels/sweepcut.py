"""Sweep cut — local-clustering conductance sweep.

Reference: `serialSweepCut` (src/runtime_lib/intrinsics.h:358-410):
sort the input vertex set by score descending, insert one vertex at a
time, maintain vol(S) = Σ out_degree and the directed crossing count
(each vertex's out-edges: +1 to a not-yet-member / out-of-subset
neighbor, −1 to an existing member), take conductance =
crossing / min(vol, |E| − vol) (defined as 1 when crossing or the
denominator is 0), and return the prefix BEFORE the best index
(`output->num_vertices_ = best_cut` keeps indices 0..best_cut−1 —
mirrored faithfully, off-by-one and all).

Distributed realization: the serial loop is a prefix-sum in disguise.
Rank vertices with the distributed range sort (dense_rank_ids, no
single-task Window); each edge row contributes a ±1 *difference* at its
source's rank (sign decided by whether dst ranks earlier), so
crossing(k) is the running sum of per-rank deltas and vol(k) the
running sum of degrees — both computed by ordered_prefix_sum (range
shuffle + P parallel window sums + broadcast offsets). The argmin is
one tiny orderBy-limit. Total cost: one edge scan + two V-sized
shuffles, fully parallel.

Determinism: the reference's std::sort leaves equal-score order
unspecified; this engine fixes the total order (score desc, id asc),
which is also what the DuckDB twin uses. Conductance is a ratio of two
exact integers, so cross-engine double division is bit-identical.

Returned-set note: the reference copies the vertex set BEFORE sorting,
so ITS returned member array is the original-order prefix — an
implementation artifact (the sorted array is local to the function);
only `best_cut` is meaningful output. This engine returns the sorted
best-conductance prefix (the intended semantics) and matches the
reference's best_cut exactly (tests/test_reference_parity.py
::test_sweepcut_best_cut_matches_reference, fixture generated from the
compiled reference runtime with unique scores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import fresh_checkpoint
from graphit_spark.plans.ranking import dense_rank_ids, ordered_prefix_sum


def sweep_cut(
    graph: LinkGraph,
    values: DataFrame,
    *,
    val_col: str = "val",
    metrics_out: dict | None = None,
) -> DataFrame:
    """Best-conductance prefix of `values` (id, val) sorted by
    (val desc, id asc). Returns the member ids (may be empty when the
    best prefix is the first index, matching the reference's exclusive
    cut). metrics_out, if given, receives best_cut / best_conductance /
    best_vol / best_crossing."""
    with graph.persisted():
        m = graph.num_edges
        release: list = []

        ranks = dense_rank_ids(
            values.select("id", F.col(val_col).alias("val")),
            [F.desc("val"), F.asc("id")],
            out_col="r",
            release=release,
        ).select("id", "r").transform(fresh_checkpoint)

        deg = graph.out_degrees()
        base = ranks.join(deg, "id", "left").select(
            "id", "r", F.coalesce("out_degree", F.lit(0)).alias("d")
        )

        ru = ranks.select(F.col("id").alias("src"), F.col("r").alias("ru"))
        rv = ranks.select(F.col("id").alias("dst"), F.col("r").alias("rv"))
        # each edge row scanned once, at its source's insertion rank:
        # +1 toward a later-ranked or out-of-subset dst, -1 toward an
        # already-inserted one (intrinsics.h:387-390)
        deltas = (
            graph.edges.join(ru, "src")
            .join(rv, "dst", "left")
            .select(
                F.col("ru").alias("r"),
                F.when(
                    F.col("rv").isNull() | (F.col("rv") > F.col("ru")), 1
                ).otherwise(-1).alias("delta"),
            )
            .groupBy("r")
            .agg(F.sum("delta").alias("delta"))
        )

        cum = ordered_prefix_sum(
            base.join(deltas, "r", "left")
            .select("id", "r", "d", F.coalesce("delta", F.lit(0)).alias("delta")),
            [F.asc("r")],
            ["d", "delta"],
        )
        swept = cum.select(
            "id", "r",
            F.col("d_cum").alias("vol"),
            F.col("delta_cum").alias("crossing"),
        )
        denom = F.least(F.col("vol"), F.lit(m) - F.col("vol"))
        cond = F.when(
            (F.col("crossing") == 0) | (denom == 0), F.lit(1.0)
        ).otherwise(F.col("crossing") / denom)
        top = (
            swept.select("r", "vol", "crossing", cond.alias("cond"))
            .orderBy(F.asc("cond"), F.asc("r"))
            .limit(1)
            .collect()
        )
        for cached in (*release, cum):
            cached.unpersist()
        if not top:
            return ranks.select("id").limit(0)
        best = top[0]
        if metrics_out is not None:
            metrics_out.update(
                best_cut=int(best["r"]),
                best_conductance=float(best["cond"]),
                best_vol=int(best["vol"]),
                best_crossing=int(best["crossing"]),
            )
        out = ranks.filter(F.col("r") < best["r"]).select("id")
    return out
