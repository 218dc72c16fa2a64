"""SimRank: structural "related pages" similarity (Jeh & Widom KDD'02).

S(a,a) = 1; S(a,b) = C/(|I(a)||I(b)|) · Σ_{i∈I(a), j∈I(b)} S(i,j) over
in-neighbor sets, iterated from S₀ = identity — two objects are similar
when they are referenced by similar objects. On a web link graph this
is the classic "related hosts/pages" query; GraphIt itself has no
all-pairs kernel (its surface is per-vertex vectors, SURVEY.md §2.10),
so this extends the engine along the same edge-gather plan family.

Scale contract: the pair-space is quadratic in the worst case, so the
supported deployment is the CONTRACTED graph (host rollup — V bounded
by the host universe, the standard SimRank setting for web graphs) or
any graph whose similarity support stays sparse. The iteration itself
is pure equi-joins: S_prev is a sparse (i, j, s) table; each round
expands it through the in-edge table twice (narrow rows), re-aggregates
with map-side combine, and never materializes a dense V×V matrix —
pairs with score 0 are simply absent. No cartesian product, no
collect(); the diagonal is re-attached as a V-sized union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import fresh_checkpoint, superstep


def simrank(
    graph: LinkGraph,
    *,
    c: float = 0.8,
    rounds: int = 3,
) -> DataFrame:
    """Sparse SimRank after ``rounds`` synchronous iterations.

    Returns (a, b, s) for unordered off-diagonal pairs a < b whose
    score is nonzero (the diagonal is identically 1 and omitted).
    In-neighbor sets are unweighted and self-loop-free (LinkGraph edge
    contract); vertices with no in-links have similarity 0 to
    everything, exactly as the recurrence prescribes.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    with graph.persisted():
        edges = graph.edges.select("src", "dst")

        indeg = (
            edges.groupBy(F.col("dst").alias("id"))
            .agg(F.count("*").alias("din"))
            .transform(fresh_checkpoint)
        )

        diag = graph.vertices().select(
            F.col("id").alias("a"), F.col("id").alias("b"),
            F.lit(1.0).alias("s"),
        )
        ea = edges.select(F.col("src").alias("a"), F.col("dst").alias("na"))
        eb = edges.select(F.col("src").alias("b"), F.col("dst").alias("nb"))

        def step(sim: DataFrame, rnd) -> DataFrame:
            acc = (
                sim.join(ea, "a")
                .join(eb, "b")
                .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
                .agg(F.sum("s").alias("acc"))
            )
            off = (
                acc.filter(F.col("a") != F.col("b"))
                .join(indeg.select(F.col("id").alias("a"),
                                   F.col("din").alias("da")), "a")
                .join(indeg.select(F.col("id").alias("b"),
                                   F.col("din").alias("db")), "b")
                .select(
                    "a", "b",
                    (F.lit(float(c)) * F.col("acc")
                     / (F.col("da") * F.col("db"))).alias("s"),
                )
            )
            return off.unionByName(diag)

        s_last = superstep(diag, step, rounds=rounds)
        out = (
            s_last.filter(F.col("a") < F.col("b"))
            .transform(fresh_checkpoint)
        )
        s_last.unpersist()
        indeg.unpersist()
    return out
