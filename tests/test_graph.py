import numpy as np
from pyspark.sql import functions as F

from graphit_spark import LinkGraph
from tests.oracles import squish, num_vertices


def test_squish_semantics(spark, golden_edges):
    g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
    got = sorted((r["src"], r["dst"]) for r in g.edges.collect())
    assert got == squish(golden_edges)


def test_num_vertices_includes_isolated(spark):
    # max id defines the universe (builder.h:210-211 FindMaxNodeID+1)
    g = LinkGraph.from_pairs(spark, [(0, 9)], persist=False)
    assert g.num_vertices == 10
    assert g.vertices().count() == 10


def test_out_degrees_post_squish(spark, golden_edges):
    g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
    es = squish(golden_edges)
    n = num_vertices(es)
    exp = np.zeros(n, dtype=np.int64)
    for s, _ in es:
        exp[s] += 1
    got = {r["id"]: r["out_degree"] for r in g.out_degrees().collect()}
    assert len(got) == n
    for v in range(n):
        assert got[v] == exp[v], v


def test_adjacency_sorted_dedup(spark, golden_edges):
    g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
    adj = {r["src"]: r["nbrs"] for r in g.adjacency().collect()}
    es = squish(golden_edges)
    exp = {}
    for s, d in es:
        exp.setdefault(s, []).append(d)
    for s in exp:
        assert adj[s] == sorted(exp[s])


def test_transpose_and_symmetrize(spark):
    g = LinkGraph.from_pairs(spark, [(0, 1), (1, 2)], persist=False)
    t = sorted((r["src"], r["dst"]) for r in g.transpose().edges.collect())
    assert t == [(1, 0), (2, 1)]
    s = sorted((r["src"], r["dst"]) for r in g.symmetrize().edges.collect())
    assert s == [(0, 1), (1, 0), (1, 2), (2, 1)]


def test_transforms_preserve_vertex_universe(spark):
    """transpose()/symmetrize()/relabel_by_degree() must forward the
    vertex universe: a caller-supplied num_vertices (serialized header
    with trailing isolated vertices) and a max id that survives only in
    the RAW edges (self-loop-only top vertex) both outrank re-deriving
    max-id+1 from the transformed (already-squished) edge table."""
    # caller-supplied universe larger than max-id+1
    g = LinkGraph.from_pairs(
        spark, [(0, 1), (1, 2)], persist=False, num_vertices=7
    )
    assert g.transpose().num_vertices == 7
    assert g.symmetrize().num_vertices == 7
    assert g.relabel_by_degree().num_vertices == 7
    # self-loop-only max id: universe defined by RAW edges (builder.h:210)
    h = LinkGraph.from_pairs(spark, [(0, 1), (5, 5)], persist=False)
    assert h.num_vertices == 6
    assert h.transpose().num_vertices == 6
    assert h.symmetrize().num_vertices == 6
    assert h.symmetrize().vertices().count() == 6


def _cached_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_symmetrize_is_memoized_on_persisted_graph(spark):
    """A persisted graph owns one persisted undirected view: every call
    returns it, and the graph's unpersist() releases it with its degree
    table."""
    before = _cached_ids(spark)
    g = LinkGraph.from_pairs(spark, [(0, 1), (1, 2), (5, 5)])
    und = g.symmetrize()
    assert g.symmetrize() is und
    assert und.num_vertices == 6
    assert und.num_edges == 4 and und.out_degrees().count() == 6
    assert len(_cached_ids(spark) - before) == 3  # edges, view, degrees
    g.unpersist()
    assert _cached_ids(spark) <= before


def test_symmetrize_is_fresh_on_unpersisted_graph(spark):
    """An unpersisted graph returns a new, unpersisted view per call,
    each forwarding the vertex universe."""
    g = LinkGraph.from_pairs(
        spark, [(0, 1), (1, 2)], persist=False, num_vertices=7
    )
    a, b = g.symmetrize(), g.symmetrize()
    assert a is not b
    assert not a._persisted and not b._persisted
    assert a.num_vertices == b.num_vertices == 7


def test_view_is_its_own_symmetrization(spark):
    """E ∪ Eᵀ is symmetric, so a view's symmetrize() returns the view,
    persisted or not; label propagation on a persisted view (which
    symmetrizes its input) caches no second undirected copy."""
    g = LinkGraph.from_pairs(spark, [(0, 1), (1, 2), (2, 0), (2, 3)])
    v = g.symmetrize()
    assert v.symmetrize() is v
    free = LinkGraph.from_pairs(spark, [(0, 1)], persist=False).symmetrize()
    assert free.symmetrize() is free
    from graphit_spark.kernels import label_propagation

    assert v.num_edges == 8  # the view's edge cache is materialized
    before = _cached_ids(spark)
    labels = label_propagation(v, rounds=2)
    assert labels.count() == 4
    labels.unpersist()
    assert _cached_ids(spark) <= before
    g.unpersist()


def test_relabel_by_degree(spark):
    # vertex 2 has out-degree 3 -> new id 0; ties broken by old id asc
    g = LinkGraph.from_pairs(
        spark, [(2, 0), (2, 1), (2, 3), (0, 1), (1, 0)], persist=False
    )
    before = _cached_ids(spark)
    rl = g.relabel_by_degree()
    # degrees: v2:3, v0:1, v1:1, v3:0 -> new ids: 2->0, 0->1, 1->2, 3->3
    got = sorted((r["src"], r["dst"]) for r in rl.edges.collect())
    assert got == sorted([(0, 1), (0, 2), (0, 3), (1, 2), (2, 1)])
    # the range sort's persisted frame goes with the relabelled graph
    rl.unpersist()
    g.unpersist()
    assert _cached_ids(spark) <= before


def test_weighted_squish_min_weight(spark):
    g = LinkGraph.from_pairs(
        spark, [(0, 1, 5), (0, 1, 3), (1, 1, 9), (1, 2, 7)], persist=False
    )
    got = sorted(tuple(r) for r in g.edges.select("src", "dst", "weight").collect())
    assert got == [(0, 1, 3), (1, 2, 7)]


def test_vertex_universe_from_raw_edges(spark):
    # FindMaxNodeID runs on the RAW edge list before squish
    # (builder.h:210): a self-loop at the max id defines the universe.
    g = LinkGraph.from_pairs(spark, [(5, 5), (3, 3), (0, 1)], persist=False)
    assert g.num_vertices == 6
    assert g.num_edges == 1  # only (0,1) survives squish


class TestBucketedEdges:
    def test_bucketed_join_skips_edge_exchange(self, spark, tmp_path):
        """save_bucketed → load_bucketed: the edge-side scan reports its
        bucketing to Catalyst, so a src join shuffles ONLY the state
        side (one src exchange, none above the edge scan) and results
        match the in-session graph exactly."""
        import random

        from pyspark.sql import functions as F

        random.seed(3)
        pairs = [(random.randrange(200), random.randrange(200))
                 for _ in range(2000)]
        g = LinkGraph.from_pairs(spark, pairs, persist=False)
        g.save_bucketed("edges_bucketed_t", buckets=4,
                        path=str(tmp_path / "edges_b"))
        try:
            g2 = LinkGraph.load_bucketed(
                spark, "edges_bucketed_t", persist=False
            )
            state = spark.range(200).select(
                F.col("id").alias("src"), F.lit(1.0).alias("contrib")
            )
            j = (
                g2.edges.join(state.hint("shuffle_hash"), "src")
                .groupBy("dst")
                .agg(F.sum("contrib").alias("s"))
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert plan.count("Exchange hashpartitioning(src") == 1
            got = sorted(map(tuple, j.collect()))
            exp = sorted(map(tuple,
                g.edges.join(state, "src").groupBy("dst")
                .agg(F.sum("contrib").alias("s")).collect()))
            assert got == exp
            assert g2.num_vertices == g.num_vertices
        finally:
            spark.sql("DROP TABLE IF EXISTS edges_bucketed_t")


class TestFromCSR:
    def test_raw_arrays_roundtrip(self, spark):
        """set_graph(csr) analogue: 3 rows, trailing isolated vertex
        preserved via the CSR row count."""
        import numpy as np

        from graphit_spark.kernels import pagerank

        # vertex 0 -> {1, 2}, vertex 1 -> {2}, vertices 2, 3 isolated
        indptr = np.array([0, 2, 3, 3, 3])
        indices = np.array([1, 2, 2])
        g = LinkGraph.from_csr(
            spark, indptr=indptr, indices=indices, persist=False
        )
        assert g.num_vertices == 4
        assert sorted(map(tuple, g.edges.collect())) == [(0, 1), (0, 2), (1, 2)]
        assert pagerank(g, max_iters=3).count() == 4

    def test_weighted_and_ducktyped_matrix(self, spark):
        import numpy as np

        class FakeCSR:  # scipy-free stand-in with the csr attributes
            def __init__(self):
                self.indptr = np.array([0, 1, 2])
                self.indices = np.array([1, 0])
                self.data = np.array([7, 3])
                self.shape = (2, 2)

            def tocsr(self):
                return self

        g = LinkGraph.from_csr(spark, FakeCSR(), weighted=True, persist=False)
        assert g.weighted
        assert sorted(map(tuple, g.edges.collect())) == [(0, 1, 7), (1, 0, 3)]

    def test_weighted_requires_data(self, spark):
        import numpy as np

        import pytest

        with pytest.raises(ValueError):
            LinkGraph.from_csr(
                spark, indptr=np.array([0, 1]), indices=np.array([0]),
                weighted=True, persist=False,
            )


def test_contract_rolls_up_with_self_loops(spark):
    """Host-rollup semantics: endpoints map through the group column,
    parallel page links become counts, intra-group links stay as
    self-loop rows (the Common-Crawl host-webgraph shape)."""
    e = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (3, 1)]
    g = LinkGraph.from_pairs(spark, e, persist=False)
    m = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 11), (3, 11)], ["id", "group"]
    )
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in g.contract(m).collect()
    }
    # 0->1 intra(10,10); 0->2,1->2 (10,11)x2; 2->3 intra(11,11);
    # 3->0,3->1 (11,10)x2
    assert got == {(10, 10): 1, (10, 11): 2, (11, 11): 1, (11, 10): 2}


def test_weighted_pagerank_matches_unweighted_on_unit_weights(spark):
    """With all weights 1 the weight-proportional recurrence IS the
    reference recurrence — both kernels must agree to float noise."""
    from graphit_spark.kernels import pagerank, weighted_pagerank

    e = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 3)]
    g = LinkGraph.from_pairs(spark, e, persist=False)
    gw = LinkGraph(
        g.edges.withColumn("weight", F.lit(1)), squished=True, persist=False
    )
    pr = {r["id"]: r["rank"] for r in pagerank(g, max_iters=8).collect()}
    wpr = {
        r["id"]: r["rank"]
        for r in weighted_pagerank(gw, max_iters=8).collect()
    }
    assert set(pr) == set(wpr)
    assert all(abs(pr[i] - wpr[i]) < 1e-12 for i in pr)


def test_weighted_pagerank_follows_weight_mass(spark):
    """Rank must flow with the weights: from a single source splitting
    3:1, the heavy destination ends up with exactly 3x the gathered
    share (one iteration, hand-checkable)."""
    from graphit_spark.kernels import weighted_pagerank

    ew = [(0, 1, 3), (0, 2, 1)]
    g = LinkGraph(
        spark.createDataFrame(ew, ["src", "dst", "weight"]), persist=False
    )
    r = {x["id"]: x["rank"] for x in weighted_pagerank(g, max_iters=1).collect()}
    n, damp = 3, 0.85
    beta = (1 - damp) / n
    assert abs(r[1] - (beta + damp * (1 / n) * 0.75)) < 1e-12
    assert abs(r[2] - (beta + damp * (1 / n) * 0.25)) < 1e-12
    assert abs(r[0] - beta) < 1e-12


def test_relabel_worth_it_matches_reference_rule(spark):
    """GAPBS builtin_relabel gate (intrinsics.h:239-256): dense-average
    gate first, then mean/1.3 > median over sampled nonzero degrees."""
    # avg degree < 10: never worth it, even though skew is extreme
    hub = [(0, v) for v in range(1, 40)] + [(v, 0) for v in range(1, 40)]
    g1 = LinkGraph.from_pairs(spark, hub, persist=False)
    assert g1.relabel_worth_it() is False  # m/n ≈ 2 < 10

    # avg degree ≥ 10, uniform degrees: mean ≈ median -> not worth it
    n, d = 60, 12
    uni = [(s, (s + k) % n) for s in range(n) for k in range(1, d + 1)]
    g2 = LinkGraph.from_pairs(spark, uni, persist=False)
    assert g2.relabel_worth_it() is False
    assert g2.relabel_if_worth_it() is g2  # unchanged graph, like the ref

    # avg degree ≥ 10 with hub skew: 7 hubs of degree 43 over a
    # degree-7 background -> mean 12.04, median 7; 12.04/1.3 = 9.26 > 7
    n = 50
    hubs = [(h, v) for h in range(7) for v in range(7, n) if v != h]
    tail = [(v, (v + 1) % n) for v in range(7, n)]
    body = [(v, (v + k) % n) for v in range(7, n) for k in range(2, 8)]
    g3 = LinkGraph.from_pairs(spark, hubs + tail + body, persist=False)
    assert g3.relabel_worth_it() is True
    relabeled = g3.relabel_if_worth_it()
    assert relabeled is not g3
    assert relabeled.num_vertices == g3.num_vertices
    assert relabeled.num_edges == g3.num_edges


class TestSynthRmat:
    """RMAT/Kronecker generator (reference infra_gapbs generator.h via
    builder.h:239-241 `-g`): Graph500 quadrant probabilities, pure-JVM
    expressions, deterministic per (scale, avg_degree, seed)."""

    def test_shape_determinism_and_skew(self, spark):
        from pyspark.sql import functions as F

        from graphit_spark.synth import synth_rmat

        e = synth_rmat(spark, 12, avg_degree=8)
        assert e.count() == (1 << 12) * 8
        agg = e.agg(
            F.min("src").alias("mns"), F.max("src").alias("mxs"),
            F.min("dst").alias("mnd"), F.max("dst").alias("mxd"),
        ).collect()[0]
        assert agg["mns"] >= 0 and agg["mxs"] < (1 << 12)
        assert agg["mnd"] >= 0 and agg["mxd"] < (1 << 12)
        # self-similar skew: the heaviest in-degree dwarfs the average
        deg = e.groupBy("dst").count().agg(
            F.max("count").alias("mx"), F.avg("count").alias("avg")
        ).collect()[0]
        assert deg["mx"] > 20 * deg["avg"]
        # deterministic: identical params -> identical edge multiset
        h = lambda df: df.agg(  # noqa: E731
            F.sum(F.hash("src", "dst"))
        ).collect()[0][0]
        assert h(e) == h(synth_rmat(spark, 12, avg_degree=8))
        # seed changes the graph
        assert h(e) != h(synth_rmat(spark, 12, avg_degree=8, seed=7))

    def test_no_python_in_plan(self, spark):
        from graphit_spark.synth import synth_rmat

        plan = synth_rmat(spark, 10)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan  # no shuffle: range -> project
