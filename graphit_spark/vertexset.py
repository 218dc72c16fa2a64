"""Vertexset operators — GraphIt's `vertexset{Vertex}` surface.

Reference: VertexSubset (src/runtime_lib/vertexsubset.h:17-100) is a
polymorphic frontier (sparse id array / dense bool map / bitmap) with
lazy conversion; the DSL surface is `new vertexset(n)`, `addVertex`,
`getVertexSetSize`, `where/filter` (intrinsics.h:589-621),
`intersection(A, B)` cardinality (mir.h:844,
src/midend/intersection_expr_lower.cpp). Here a vertexset is just a
single-column DataFrame `(id: long)`; the sparse↔dense duality becomes
the broadcast-vs-shuffle join choice made in plans/traversal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphit_spark.graph import local_frame


def empty_vertexset(spark: SparkSession) -> DataFrame:
    return spark.range(0).select(F.col("id").cast("long").alias("id"))


def full_vertexset(spark: SparkSession, n: int) -> DataFrame:
    """`new vertexset{Vertex}(n)` with all n vertices active."""
    return spark.range(n).select(F.col("id").cast("long").alias("id"))


def add_vertex(vset: DataFrame, v: int) -> DataFrame:
    """frontier.addVertex(v) (intrinsics.h:474-477); idempotent."""
    one = local_frame(vset.sparkSession, [(int(v),)], "id long")
    return vset.unionByName(one).dropDuplicates(["id"])


def vertexset_size(vset: DataFrame) -> int:
    """getVertexSetSize (intrinsics.h:466-472)."""
    return vset.count()


def vertexset_filter(vertices: DataFrame, pred) -> DataFrame:
    """vertices.where(f) → new vertexset of ids passing the predicate
    (intrinsics.h:589-621). `vertices` carries property columns; the
    result is id-only (sparse representation)."""
    return vertices.filter(pred).select("id")


def intersection_size(a: DataFrame, b: DataFrame) -> int:
    """|A ∩ B| (mir.h:844 IntersectionExpr). Broadcast the smaller side
    if tiny; Catalyst/AQE decides from size stats."""
    return (
        a.select("id").join(b.select("id"), "id", "left_semi").distinct().count()
    )


def union_vertexsets(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.select("id").unionByName(b.select("id")).dropDuplicates(["id"])


def difference_vertexsets(a: DataFrame, b: DataFrame) -> DataFrame:
    """A \\ B — the `to(unvisited)` anti-join pattern (BFS parent==-1
    check, gen_edge_apply_func_decl.cpp:248-259)."""
    return a.select("id").join(b.select("id"), "id", "left_anti")
