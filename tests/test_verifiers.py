"""Distributed verifier tests (graphit_spark/verifiers.py — the
reference test/verifiers/*.cpp layer).

Two properties per certificate, both on the golden small graph:
ACCEPTANCE — the real kernel output produces 0 violations on every
probe (PR's probe reports its convergence count, asserted against the
known value); DISCRIMINATION — a corrupted output is caught by the
probe that guards against that corruption class (the whole point of a
verifier: the reference's cc_verifier exists to catch wrong schedules,
not to re-prove right ones).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.kernels import (
    bfs,
    connected_components,
    pagerank,
    sssp,
    triangle_count,
)
from graphit_spark.verifiers import (
    cc_certificate,
    distance_certificate,
    pr_certificate,
    tc_certificate,
)


def _counts(df) -> dict[str, int]:
    return {r["probe"]: r["violations"] for r in df.collect()}


@pytest.fixture(scope="module")
def golden(spark, golden_edges):
    g = LinkGraph(spark.createDataFrame(golden_edges, "src long, dst long"))
    yield g
    g.unpersist()


@pytest.fixture(scope="module")
def golden_weighted(spark, golden_edges):
    rows = [(s, d, 1 + (s * 7 + d) % 5) for s, d in golden_edges]
    g = LinkGraph(
        spark.createDataFrame(rows, "src long, dst long, weight long")
    )
    yield g
    g.unpersist()


class TestPrCertificate:
    def test_converged_ranks_pass(self, golden):
        ranks = pagerank(golden, tol=1e-9, max_iters=200)
        assert _counts(pr_certificate(golden, ranks, eps=1e-6)) == {
            "unconverged_after_budget": 0
        }

    def test_perturbed_rank_caught(self, golden):
        ranks = pagerank(golden, tol=1e-9, max_iters=200)
        bad = ranks.withColumn(
            "rank",
            F.when(F.col("id") == 3, F.col("rank") + 0.01).otherwise(
                F.col("rank")
            ),
        )
        # vertex 3 itself moves back, and its out-neighbors move too
        assert (
            _counts(pr_certificate(golden, bad))["unconverged_after_budget"]
            > 0
        )


class TestCcCertificate:
    def test_kernel_labels_pass(self, golden):
        labels = connected_components(golden)
        assert _counts(cc_certificate(golden, labels)) == {
            "edge_label_mismatch": 0,
            "non_canonical_label": 0,
        }

    def test_split_component_caught(self, golden):
        labels = connected_components(golden).withColumn(
            "comp", F.when(F.col("id") == 5, F.col("id")).otherwise(
                F.col("comp")
            )
        )
        c = _counts(cc_certificate(golden, labels))
        assert c["edge_label_mismatch"] > 0

    def test_non_canonical_caught(self, golden):
        labels = connected_components(golden).withColumn(
            "comp", F.col("comp") + 1
        )
        c = _counts(cc_certificate(golden, labels))
        assert c["non_canonical_label"] > 0


class TestDistanceCertificate:
    def test_bfs_passes(self, golden):
        d = bfs(golden, 0, max_iters=20)
        assert set(_counts(
            distance_certificate(golden, d, 0, budget=20)
        ).values()) == {0}

    def test_too_large_dist_caught(self, golden):
        d = bfs(golden, 0, max_iters=20).withColumn(
            "dist",
            F.when(F.col("id") == 7, F.col("dist") + 5).otherwise(
                F.col("dist")
            ),
        )
        c = _counts(distance_certificate(golden, d, 0, budget=20))
        assert c["relaxable_edge"] > 0

    def test_fabricated_small_dist_caught(self, golden):
        # from the hub everything is 1 hop, so run from ring vertex 5:
        # some vertex is genuinely 2 hops out; claiming dist 1 for it
        # has no witness in-edge from a dist-0 vertex — relaxation
        # alone cannot catch a too-SMALL label, the witness probe can
        d = bfs(golden, 5, max_iters=20)
        two_hops = [
            r["id"]
            for r in d.filter(F.col("dist") == 2).limit(1).collect()
        ]
        assert two_hops, "expected a 2-hop vertex from ring source 5"
        vid = two_hops[0]
        bad = d.withColumn(
            "dist",
            F.when(F.col("id") == vid, F.lit(1)).otherwise(F.col("dist")),
        )
        c = _counts(distance_certificate(golden, bad, 5, budget=20))
        assert c["missing_witness"] > 0

    def test_wrong_source_caught(self, golden):
        d = bfs(golden, 0, max_iters=20).withColumn(
            "dist",
            F.when(F.col("id") == 0, F.lit(3)).otherwise(F.col("dist")),
        )
        c = _counts(distance_certificate(golden, d, 0, budget=20))
        assert c["source_dist_nonzero"] == 1

    def test_sssp_passes(self, golden_weighted):
        d = sssp(golden_weighted, 0, max_iters=40)
        assert set(_counts(
            distance_certificate(golden_weighted, d, 0)
        ).values()) == {0}

    def test_sssp_relaxable_caught(self, golden_weighted):
        d = sssp(golden_weighted, 0, max_iters=40).withColumn(
            "dist",
            F.when(F.col("id") == 9, F.col("dist") + 100).otherwise(
                F.col("dist")
            ),
        )
        c = _counts(distance_certificate(golden_weighted, d, 0))
        assert c["relaxable_edge"] > 0


class TestTcCertificate:
    def test_kernel_count_passes(self, golden):
        total = triangle_count(golden)
        assert _counts(tc_certificate(golden, total)) == {
            "recount_mismatch": 0
        }

    def test_wrong_count_caught(self, golden):
        total = triangle_count(golden).withColumn(
            "triangles", F.col("triangles") + 3
        )
        assert _counts(tc_certificate(golden, total)) == {
            "recount_mismatch": 3
        }
