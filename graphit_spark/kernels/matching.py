"""Maximal matching — deterministic parallel greedy (local-min edges).

Israeli-Itai-style parallel greedy matching: give every undirected edge
a fixed pseudo-random priority; per round, an edge whose priority is
the strict minimum among ALL alive edges incident to either endpoint
enters the matching, and both endpoints (with every edge touching
them) drop out. The globally minimum alive edge is always a local
minimum at both endpoints, so each round makes the same choices the
sequential greedy scan makes next — the result is EXACTLY the
sequential greedy matching over the priority order (the MIS/coloring
equivalence argument, kernels/mis.py), computed in O(log E) expected
rounds. Greedy maximal matching is a 2-approximation of maximum
matching — the standard one-pass dedup/pairing primitive (e.g.
pairing near-duplicate documents so each survivor absorbs at most one
partner, or coarsening a graph by edge contraction, the first step of
every multilevel partitioner).

Reference surface: no matching app in the reference; pure §2 machinery
— the both-endpoints-restricted gather (edges.from(active).to(active)),
a min= reduction per VERTEX over EDGE priorities, and set subtraction —
composed exactly like cc/kcore/mis (SURVEY.md §2.3, §2.4, §2.6).

Determinism contract (the mis.py discipline): the edge priority is the
STRING
    substr(md5(u || '_' || v), 1, 15) || '-'
        || lpad(u, 12, '0') || lpad(v, 12, '0')
over the canonical u < v form, so min() is a plain string min, the
suffix makes priorities unique (md5 collisions cannot tie), and the
value is bit-identical in DuckDB (md5(CAST(u AS VARCHAR) || '_' ||
...)). Budget parity: `rounds` is fixed on both sides; once no alive
edge remains every further round is a no-op, and the kernel raises if
alive edges survive the budget (a truncated run would report a
non-maximal matching).

Spark plan (per round, alive edge set shrinking geometrically):
  - vertex-min gather: alive ∪ swap(alive) keyed by endpoint,
    groupBy(endpoint) string-min of the edge priority — map-side
    combinable (the MIS partial_min shape).
  - matched: alive edges joined to BOTH endpoints' mins, kept when the
    edge priority equals both (strict local minimum; equality is
    unambiguous because priorities are unique).
  - eliminate: alive(r+1) = alive(r) minus any edge sharing an
    endpoint with a matched edge (two left-anti joins on the matched
    vertex set).
  - matched frames are checkpointed per round (they outlive the
    round's state) and unioned once; the result's ``unpersist()``
    releases them. The superstep driver (plans/state.py) owns the alive
    set's checkpoints and releases.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep

MATCH_ROUNDS = 24


def _edge_priority() -> F.Column:
    u, v = F.col("u").cast("string"), F.col("v").cast("string")
    return F.concat(
        F.substring(
            F.md5(F.concat(u, F.lit("_"), v).cast("binary")), 1, 15
        ),
        F.lit("-"),
        F.lpad(u, 12, "0"),
        F.lpad(v, 12, "0"),
    )


def maximal_matching(
    graph: LinkGraph, rounds: int = MATCH_ROUNDS
) -> DataFrame:
    """(id, mate) for every vertex: the greedy maximal matching over
    the deterministic edge-priority order on the symmetrized
    self-loop-free graph — mate = matched partner id, or -1 for
    unmatched vertices. Raises if the fixed round budget is exhausted
    with alive edges remaining (see module docstring)."""
    with graph.persisted():
        matched: list[DataFrame] = []

        def step(alive: DataFrame, rnd) -> DataFrame:
            ends = alive.select(F.col("u").alias("x"), "epri").unionAll(
                alive.select(F.col("v").alias("x"), "epri")
            )
            vmin = ends.groupBy("x").agg(F.min("epri").alias("mn"))
            pairs = (
                alive.join(
                    vmin.select(F.col("x").alias("u"), F.col("mn").alias("mu")),
                    "u",
                )
                .join(
                    vmin.select(F.col("x").alias("v"), F.col("mn").alias("mv")),
                    "v",
                )
                .filter((F.col("epri") == F.col("mu")) & (F.col("epri") == F.col("mv")))
                .select("u", "v")
                .transform(fresh_checkpoint)
            )
            matched.append(pairs)
            mverts = (
                pairs.select(F.col("u").alias("x"))
                .unionAll(pairs.select(F.col("v").alias("x")))
                .distinct()
            )
            return alive.join(
                mverts.withColumnRenamed("x", "u"), "u", "left_anti"
            ).join(mverts.withColumnRenamed("x", "v"), "v", "left_anti")

        # the alive-edge count rides each round's checkpoint job
        superstep(
            graph.symmetrize()
            .edges.filter(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .withColumn("epri", _edge_priority()),
            step, max_rounds=rounds, until=lambda seen: seen["rows"] == 0,
            rows=F.count(F.lit(1)),
        ).unpersist()
    m = reduce(DataFrame.unionByName, matched)
    pairs = m.select(F.col("u").alias("id"), F.col("v").alias("mate")).unionAll(
        m.select(F.col("v").alias("id"), F.col("u").alias("mate"))
    )
    out = graph.vertices().join(pairs, "id", "left").select(
        "id", F.coalesce(F.col("mate"), F.lit(-1)).cast("long").alias("mate")
    )
    return bind_release(out, *matched)
