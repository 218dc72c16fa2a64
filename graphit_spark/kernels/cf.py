"""Collaborative filtering (matrix-factorization gradient descent) —
reference apps/cf.gt:1-49.

Per iteration, for every weighted edge (src, dst, rating):
    est  = <latent[src], latent[dst]>
    err  = rating - est
    errv[dst] += latent[src] * err            (updateEdge)
then per vertex:
    latent[v] += step * (-lambda * latent[v] + errv[v])   (updateVertex)

latent init 0.5^K, step 3.5e-7, lambda 1e-3, K=20, 10 iterations — the
reference constants. The K-dim vector per vertex is an array<double>
column (GraphIt's vector[20](double), SURVEY.md §1); the elementwise
vector-sum aggregation is K native sum() columns re-assembled into an
array — no explode, no UDF, one shuffle per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import superstep

K = 20
STEP = 0.00000035
LAMBDA = 0.001


def collaborative_filtering(
    graph: LinkGraph, *, iters: int = 10, k: int = K,
    step: float = STEP, lam: float = LAMBDA,
) -> DataFrame:
    """(id, latent: array<double>) after `iters` synchronous GD rounds."""
    if not graph.weighted:
        raise ValueError("cf requires a weighted (rating) edge table")
    with graph.persisted():
        edges = graph.edges  # (src, dst, weight)

        def gd_round(latent: DataFrame, rnd) -> DataFrame:
            src_l = latent.select(
                F.col("id").alias("src"), F.col("latent").alias("l_src")
            )
            dst_l = latent.select(
                F.col("id").alias("dst"), F.col("latent").alias("l_dst")
            )
            est = F.aggregate(
                F.zip_with("l_src", "l_dst", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            msgs = (
                edges.join(src_l, "src")
                .join(dst_l, "dst")
                .withColumn("err", F.col("weight") - est)
                .select(
                    F.col("dst").alias("id"),
                    F.transform("l_src", lambda x: x * F.col("err")).alias("ev"),
                )
            )
            errv = msgs.groupBy("id").agg(
                F.array(
                    *[F.sum(F.element_at("ev", i + 1)) for i in range(k)]
                ).alias("errv")
            )
            return latent.join(errv, "id", "left").select(
                "id",
                F.when(
                    F.col("errv").isNull(),
                    F.transform(
                        "latent", lambda x: x + F.lit(step) * (-F.lit(lam) * x)
                    ),
                )
                .otherwise(
                    F.zip_with(
                        "latent",
                        "errv",
                        lambda x, e: x + F.lit(step) * (-F.lit(lam) * x + e),
                    )
                )
                .alias("latent"),
            )

        latent = superstep(
            graph.vertices().select(
                "id", F.array(*[F.lit(0.5) for _ in range(k)]).alias("latent")
            ),
            gd_round, rounds=iters,
        )
    return latent
