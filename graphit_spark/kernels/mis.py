"""Maximal independent set — deterministic parallel greedy (Luby-style).

Luby (1986) / Blelloch-Fineman-Shun (2012) greedy-by-random-permutation
MIS: give every vertex a fixed pseudo-random priority; per round, every
still-active vertex whose priority is a strict local minimum among its
still-active neighbors enters the MIS, and its neighbors drop out. The
result is exactly the sequential greedy MIS over the priority order,
computed in O(log n) expected rounds — the classic parallel-graph
kernel for scheduling/coloring seeds, and (on a link graph) a spam-farm
-robust way to pick a maximal set of pairwise non-adjacent pages.

Reference surface: the reference DSL has no MIS app, but the kernel is
pure §2 machinery — frontier-restricted edge gather (edges.from(active)
.to(active)), a min= reduction, and set subtraction (SURVEY.md §2.3,
§2.4, §2.6) — composed the same way cc/kcore are.

Determinism contract: the priority is the STRING
    substr(md5(decimal_string(id)), 1, 15) || '-' || lpad(id, 12, '0')
so (hash, id) lexicographic order IS plain string order, priorities are
unique (the id suffix breaks any md5 collision), and min(priority) is
an ordinary string min — identical in Spark and DuckDB, no float, no
libm. Budget parity with the twin: `rounds` is fixed on both sides;
once the active set empties every further round is a no-op, and the
kernel raises if actives remain after the budget (the SCC discipline —
a truncated run would mark active vertices as non-members, which is not
a maximal set).

Spark plan (per round, active set shrinking geometrically):
  - gather: sym edges restricted to active src AND active dst (two
    V-side semi-ish joins), groupBy(src) string-min of the neighbor
    priority — map-side combinable.
  - winners: active left-join the gathered min; win when no active
    neighbor or own priority < min.
  - eliminate: winners' neighbors via one more edge join; active(r+1) =
    active(r) minus winners minus eliminated (two left-anti joins).
  - winners are checkpointed per round (they outlive the round's
    state) and unioned once at the end; the result's ``unpersist()``
    releases them. The superstep driver (plans/state.py) owns the
    active set's checkpoints and releases.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep

MIS_ROUNDS = 24


def _priority_col() -> F.Column:
    return F.concat(
        F.substring(F.md5(F.col("id").cast("string").cast("binary")), 1, 15),
        F.lit("-"),
        F.lpad(F.col("id").cast("string"), 12, "0"),
    )


def maximal_independent_set(
    graph: LinkGraph, rounds: int = MIS_ROUNDS
) -> DataFrame:
    """(id, in_mis) for every vertex: the greedy MIS over the
    deterministic priority order, on the symmetrized self-loop-free
    graph. Raises if the fixed round budget is exhausted with vertices
    still undecided (see module docstring)."""
    with graph.persisted():
        sym = (
            graph.symmetrize()
            .edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .transform(fresh_checkpoint)
        )
        verts = graph.vertices()
        winners: list[DataFrame] = []

        def step(active: DataFrame, rnd) -> DataFrame:
            # min active-neighbor priority per active vertex (both edge
            # endpoints restricted to the active set, as in the twin)
            nbr_min = (
                sym.join(active.select(F.col("id").alias("dst"), "pri"), "dst")
                .join(active.select(F.col("id").alias("src")), "src")
                .groupBy("src")
                .agg(F.min("pri").alias("mn"))
                .withColumnRenamed("src", "id")
            )
            won = (
                active.join(nbr_min, "id", "left")
                .filter(F.col("mn").isNull() | (F.col("pri") < F.col("mn")))
                .select("id")
                .transform(fresh_checkpoint)
            )
            winners.append(won)
            eliminated = (
                sym.join(won.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            return active.join(won, "id", "left_anti").join(
                eliminated, "id", "left_anti"
            )

        # the active count rides each round's checkpoint job
        superstep(
            verts.select("id", _priority_col().alias("pri")), step,
            max_rounds=rounds, until=lambda seen: seen["rows"] == 0,
            rows=F.count(F.lit(1)),
        ).unpersist()
        sym.unpersist()
    mis = reduce(DataFrame.unionByName, winners).withColumn("w", F.lit(True))
    out = verts.join(mis, "id", "left").select(
        "id", F.coalesce(F.col("w"), F.lit(False)).alias("in_mis")
    )
    return bind_release(out, *winners)
