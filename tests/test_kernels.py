import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphit_spark import LinkGraph
from graphit_spark.kernels import (
    bfs,
    connected_components,
    label_propagation,
    pagerank,
    pagerank_delta,
    sssp,
    triangle_count,
    triangle_count_approx,
    triangle_count_per_vertex,
    worth_relabelling,
)
from tests.oracles import (
    bfs_oracle,
    cc_oracle,
    lpa_oracle,
    pagerank_oracle,
    sssp_oracle,
    triangle_oracle,
)


def _rand_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def _multi_component_graph():
    """Two components + isolated vertices + hub skew."""
    edges = [(0, v) for v in range(1, 20)]  # hub component
    edges += [(v, v + 1) for v in range(1, 19)]
    edges += [(30, 31), (31, 32), (32, 30)]  # triangle component
    edges += [(40, 40)]  # isolated with self loop -> squished away but id 40 exists
    return edges


def _ranks_array(df, n):
    got = np.zeros(n)
    for r in df.collect():
        got[r["id"]] = r["rank"]
    return got


class TestPageRank:
    @pytest.mark.parametrize("seed", [1, 7])
    def test_matches_numpy_oracle(self, spark, seed):
        edges = _rand_graph(50, 300, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        res = _ranks_array(pagerank(g, max_iters=20), g.num_vertices)
        exp = pagerank_oracle(edges, iters=20)
        assert np.allclose(res, exp, atol=1e-6)

    def test_golden_graph(self, spark, golden_edges):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        res = _ranks_array(pagerank(g, max_iters=20), g.num_vertices)
        exp = pagerank_oracle(golden_edges, iters=20)
        assert np.allclose(res, exp, atol=1e-6)

    def test_adjacency_plan_identical(self, spark, golden_edges):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        a = _ranks_array(pagerank(g, max_iters=5), g.num_vertices)
        b = _ranks_array(pagerank(g, max_iters=5, use_adjacency=True), g.num_vertices)
        assert np.allclose(a, b, atol=1e-12)

    def test_dangling_mass_not_redistributed(self, spark):
        # 0->1, 1 is a sink: reference formula lets rank mass vanish
        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        res = _ranks_array(pagerank(g, max_iters=20), 2)
        exp = pagerank_oracle([(0, 1)], iters=20)
        assert np.allclose(res, exp, atol=1e-9)
        assert res.sum() < 1.0  # mass leaked — matches reference, not textbook

    def test_convergence_tol(self, spark, golden_edges):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        res = _ranks_array(
            pagerank(g, max_iters=100, tol=1e-10), g.num_vertices
        )
        exp = pagerank_oracle(golden_edges, iters=100)
        assert np.allclose(res, exp, atol=1e-6)

    def test_warm_start_incremental(self, spark, golden_edges):
        """init_ranks = previous run's output: same fixpoint (the Jacobi
        limit is start-independent), fewer iterations after a small
        graph delta — the incremental re-rank path for crawl updates."""
        g1 = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        prev = pagerank(g1, max_iters=200, tol=1e-9)

        delta_edges = golden_edges + [(2, 9), (9, 4)]  # small crawl delta
        g2 = LinkGraph.from_pairs(spark, delta_edges, persist=False)
        cold_m, warm_m = {}, {}
        cold = _ranks_array(
            pagerank(g2, max_iters=200, tol=1e-9, metrics_out=cold_m),
            g2.num_vertices,
        )
        warm = _ranks_array(
            pagerank(g2, max_iters=200, tol=1e-9, init_ranks=prev,
                     metrics_out=warm_m),
            g2.num_vertices,
        )
        assert np.allclose(warm, cold, atol=1e-7)  # same fixpoint
        assert warm_m["iterations"] < cold_m["iterations"]

    def test_warm_start_new_vertices_default(self, spark):
        """Vertices absent from init_ranks start at 1/n, present ones at
        their given rank — checked via a single fixed-iteration step."""
        g = LinkGraph.from_pairs(spark, [(0, 1), (1, 2), (2, 0), (3, 0)],
                                 persist=False)
        n = g.num_vertices
        init = spark.createDataFrame(
            [(0, 0.5), (1, 0.25)], "id long, rank double"
        )
        res = _ranks_array(
            pagerank(g, max_iters=1, init_ranks=init), n
        )
        # one manual Jacobi step from [0.5, 0.25, 1/n, 1/n]
        start = np.array([0.5, 0.25, 1.0 / n, 1.0 / n])
        out_deg = np.array([1, 1, 1, 1])
        exp = np.full(n, 0.15 / n)
        for s, d in [(0, 1), (1, 2), (2, 0), (3, 0)]:
            exp[d] += 0.85 * start[s] / out_deg[s]
        assert np.allclose(res, exp, atol=1e-12)


class TestPageRankDelta:
    def test_close_to_plain_pagerank(self, spark, golden_edges):
        # PRDelta approximates PR (it prunes small deltas); with epsilon2
        # tiny it reproduces plain PR after the same number of rounds.
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        prd = _ranks_array(
            pagerank_delta(g, max_iters=20, epsilon2=0.0), g.num_vertices
        )
        exp = pagerank_oracle(golden_edges, iters=20)
        assert np.allclose(prd, exp, atol=1e-6)


class TestConnectedComponents:
    @pytest.mark.parametrize("pj", [True, False])
    def test_multi_component(self, spark, pj):
        edges = _multi_component_graph()
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["comp"] for r in connected_components(g, pointer_jump=pj).collect()}
        exp = cc_oracle(edges)
        assert len(got) == len(exp)
        for v, c in enumerate(exp):
            assert got[v] == c, f"vertex {v}"

    @pytest.mark.parametrize("seed", [3, 11])
    def test_random(self, spark, seed):
        edges = _rand_graph(80, 120, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["comp"] for r in connected_components(g).collect()}
        exp = cc_oracle(edges)
        for v, c in enumerate(exp):
            assert got[v] == c

    def test_long_chain_pointer_jump(self, spark):
        # path graph: diameter 199; pointer jumping must converge fast
        edges = [(v, v + 1) for v in range(199)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = connected_components(g, max_iters=30).collect()
        assert all(r["comp"] == 0 for r in got)

    def test_warm_start_edge_additions(self, spark):
        """init_labels from a previous run + edge-ADDITION delta: exact
        cold-run answer (min-label propagation from per-component minima
        converges to the merged component's min id). The delta merges
        two separate components and grows the vertex universe."""
        old_edges = [(0, 1), (1, 2), (5, 6), (6, 7), (10, 11)]
        g1 = LinkGraph.from_pairs(spark, old_edges, persist=False)
        prev = connected_components(g1)

        new_edges = old_edges + [(2, 5), (11, 13)]  # merge + new vertex
        g2 = LinkGraph.from_pairs(spark, new_edges, persist=False)
        warm = {
            r["id"]: r["comp"]
            for r in connected_components(g2, init_labels=prev).collect()
        }
        exp = cc_oracle(new_edges)
        assert len(warm) == len(exp)
        for v, c in enumerate(exp):
            assert warm[v] == c, f"vertex {v}"


def test_undirected_kernels_twice_on_persisted_graph(spark):
    """CC, LPA and TC on one persisted graph share its memoized
    undirected view; called twice in a row they still match the
    oracles."""
    edges = _multi_component_graph()
    g = LinkGraph.from_pairs(spark, edges)
    for _ in range(2):
        cc = {r["id"]: r["comp"] for r in connected_components(g).collect()}
        assert [cc[v] for v in range(len(cc))] == list(cc_oracle(edges))
        lpa = {r["id"]: r["label"] for r in label_propagation(g, rounds=3).collect()}
        assert [lpa[v] for v in range(len(lpa))] == list(lpa_oracle(edges, rounds=3))
        for relabel in (True, "auto", False):
            got = triangle_count(g, relabel=relabel).first()["triangles"]
            assert got == triangle_oracle(edges), relabel
    g.unpersist()


class TestLabelPropagation:
    @pytest.mark.parametrize("seed", [5])
    def test_fixed_rounds_match_oracle(self, spark, seed):
        edges = _rand_graph(40, 100, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["label"] for r in label_propagation(g, rounds=4).collect()}
        exp = lpa_oracle(edges, rounds=4)
        for v, l in enumerate(exp):
            assert got[v] == l, f"vertex {v}"

    def test_golden(self, spark, golden_edges):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        got = {r["id"]: r["label"] for r in label_propagation(g, rounds=3).collect()}
        exp = lpa_oracle(golden_edges, rounds=3)
        for v, l in enumerate(exp):
            assert got[v] == l


class TestTriangles:
    @pytest.mark.parametrize("seed,n,m", [(2, 30, 150), (9, 60, 400)])
    def test_count_matches_bruteforce(self, spark, seed, n, m):
        edges = _rand_graph(n, m, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = triangle_count(g).collect()[0]["triangles"]
        assert got == triangle_oracle(edges)

    @pytest.mark.parametrize("relabel", [True, False])
    def test_golden(self, spark, golden_edges, relabel):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        got = triangle_count(g, relabel=relabel).collect()[0]["triangles"]
        assert got == triangle_oracle(golden_edges)

    def test_worth_relabelling_flat_vs_skewed(self, spark):
        """The reference's builtin_relabel guard (intrinsics.h:239-258):
        a flat degree distribution (mean ≈ median) declines the relabel,
        a hub-skewed one (mean/1.3 > median) takes it, and any graph
        with average degree < 10 declines regardless of shape."""
        # k-regular-ish: every vertex has out-degree 12 → mean == median
        flat = [(u, (u + d) % 40) for u in range(40) for d in range(1, 13)]
        g_flat = LinkGraph.from_pairs(spark, flat, persist=False)
        assert worth_relabelling(g_flat) is False
        # 8 hubs of out-degree 39; the other 32 vertices have degree 4
        # → m=440, n=40, avg=11, mean=11, upper median=4, 11/1.3 > 4
        skew = [(h, v) for h in range(8) for v in range(40) if v != h]
        skew += [(u, (u + d) % 40) for u in range(8, 40) for d in (1, 2, 3, 4)]
        g_skew = LinkGraph.from_pairs(spark, skew, persist=False)
        assert worth_relabelling(g_skew) is True
        # sparse: average degree < 10 short-circuits to False even w/ hubs
        sparse = [(0, v) for v in range(1, 30)] + [(1, 2), (3, 4)]
        g_sparse = LinkGraph.from_pairs(spark, sparse, persist=False)
        assert worth_relabelling(g_sparse) is False

    def test_approx_matches_independent_md5_sample(self, spark):
        """DOULION: the deterministic md5 edge draw and the count on the
        kept set must equal an independent Python re-derivation, and the
        estimate is exactly sampled * 8**sample_exp."""
        import hashlib
        from itertools import combinations

        edges = _rand_graph(80, 900, seed=7)
        und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
        kept = {
            (a, b) for a, b in und
            if int(hashlib.md5(f"{a}_{b}_1".encode()).hexdigest()[:8], 16)
            < 2 ** 30
        }
        nbrs = {}
        for a, b in kept:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        expected = sum(
            1 for v in nbrs for a, b in combinations(sorted(nbrs[v]), 2)
            if (min(a, b), max(a, b)) in kept and v < a and v < b
        )
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        row = triangle_count_approx(g, sample_exp=2, seed=1).collect()[0]
        assert row["sampled_triangles"] == expected
        assert row["triangles_est"] == expected * 64

    def test_count_relabel_auto_invariant(self, spark, golden_edges):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        got = triangle_count(g, relabel="auto").collect()[0]["triangles"]
        assert got == triangle_oracle(golden_edges)

    def test_per_vertex_sums_to_3x(self, spark, golden_edges):
        g = LinkGraph.from_pairs(spark, golden_edges, persist=False)
        pv = triangle_count_per_vertex(g)
        total = pv.agg(F.sum("tri_count")).collect()[0][0]
        assert total == 3 * triangle_oracle(golden_edges)


class TestPaths:
    @pytest.mark.parametrize("seed", [4])
    def test_bfs(self, spark, seed):
        edges = _rand_graph(60, 150, seed) + [(0, 1)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["dist"] for r in bfs(g, 0).collect()}
        exp = bfs_oracle(edges, 0)
        for v, d in enumerate(exp):
            assert (got[v] if got[v] is not None else -1) == d, f"vertex {v}"

    def test_landmark_distances(self, spark):
        from graphit_spark.kernels import landmark_distances

        edges = _rand_graph(60, 200, seed=11) + [(0, 1)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        out = landmark_distances(g, 3).collect()
        # landmark set = top-3 out-degree (ties id asc), per oracle BFS
        from collections import Counter

        from tests.oracles import num_vertices, squish

        deg = Counter(s for s, _ in squish(edges))
        n = num_vertices(edges)
        seeds = sorted(range(n), key=lambda v: (-deg.get(v, 0), v))[:3]
        got = {(r["landmark"], r["id"]): r["dist"] for r in out}
        for s in seeds:
            exp = bfs_oracle(edges, s)
            for v, d in enumerate(exp):
                assert got.get((s, v), -1) == d, f"landmark {s} vertex {v}"
        # sparse contract: no unreached pairs materialized
        assert all(d >= 0 for d in got.values())

    def test_sssp(self, spark):
        rng = random.Random(8)
        wedges = [
            (rng.randrange(40), rng.randrange(40), rng.randrange(1, 10))
            for _ in range(200)
        ] + [(0, 1, 1)]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = {r["id"]: r["dist"] for r in sssp(g, 0).collect()}
        exp = sssp_oracle(wedges, 0)
        for v, d in enumerate(exp):
            assert (got[v] if got[v] is not None else -1) == d, f"vertex {v}"


class TestKCore:
    def test_matches_bruteforce_peeling(self, spark):
        edges = _rand_graph(50, 260, seed=13)
        from graphit_spark.kernels import k_core
        from tests.oracles import squish

        g = LinkGraph.from_pairs(spark, edges, persist=False)
        for k in (2, 4):
            got = sorted(r["id"] for r in k_core(g, k).collect())
            # oracle: iterative peeling on python sets
            es = squish(edges)
            sym = {}
            for a, b in es:
                sym.setdefault(a, set()).add(b)
                sym.setdefault(b, set()).add(a)
            n = max(max(a, b) for a, b in es) + 1
            keep = set(range(n))
            while True:
                drop = {v for v in keep if len(sym.get(v, set()) & keep) < k}
                if not drop:
                    break
                keep -= drop
            assert got == sorted(keep), f"k={k}"

    def test_budget_short_of_peel_depth_raises(self, spark):
        """At k = 2 a triangle with a 5-vertex tail peels one tail vertex
        per round: 6 rounds, the last observing no drop. A 1-round
        budget raises instead of returning the part-peeled tail; with
        the default budget the core is the triangle."""
        from graphit_spark.kernels import k_core

        edges = [(0, 1), (1, 2), (2, 0)] + [(v, v + 1) for v in range(2, 7)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        with pytest.raises(RuntimeError, match="did not converge"):
            k_core(g, 2, max_rounds=1)
        assert sorted(r["id"] for r in k_core(g, 2).collect()) == [0, 1, 2]

    def test_zero_budget_raises(self, spark):
        """A budget of 0 runs no peel round, so nothing shows the
        vertex set is the core: it raises instead of returning all 8."""
        from graphit_spark.kernels import k_core

        edges = [(0, 1), (1, 2), (2, 0)] + [(v, v + 1) for v in range(2, 7)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        with pytest.raises(RuntimeError, match="did not converge"):
            k_core(g, 2, max_rounds=0)


class TestBetweenness:
    def test_budget_short_of_bfs_depth_raises(self, spark):
        """The forward BFS of the path 0→1→2→3→4 needs 4 levels. A
        1-level budget raises instead of returning the dependencies of
        a truncated level stack (all zeros); the default budget walks
        every level."""
        from graphit_spark.kernels.bc import betweenness_centrality

        g = LinkGraph.from_pairs(
            spark, [(v, v + 1) for v in range(4)], persist=False
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            betweenness_centrality(g, 0, max_levels=1)
        got = {
            r["id"]: r["bc"] for r in betweenness_centrality(g, 0).collect()
        }
        assert {v: b for v, b in got.items() if b} == {1: 3.0, 2: 2.0, 3: 1.0}

    @pytest.mark.parametrize("seed", [6, 21])
    def test_matches_brandes_oracle(self, spark, seed):
        from graphit_spark.kernels.bc import betweenness_centrality
        from tests.oracles import bc_oracle

        edges = _rand_graph(40, 110, seed) + [(0, 1)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["bc"] for r in betweenness_centrality(g, 0).collect()}
        exp = bc_oracle(edges, 0)
        assert len(got) == len(exp)
        for v in range(len(exp)):
            assert abs(got[v] - exp[v]) < 1e-9, f"vertex {v}"

    def test_star_graph(self, spark):
        from graphit_spark.kernels.bc import betweenness_centrality

        # 0 -> 1 -> {2,3,4}: all paths from 0 go through 1
        g = LinkGraph.from_pairs(
            spark, [(0, 1), (1, 2), (1, 3), (1, 4)], persist=False
        )
        got = {r["id"]: r["bc"] for r in betweenness_centrality(g, 0).collect()}
        assert got[1] == 3.0 and got[0] == 0.0
        assert got[2] == got[3] == got[4] == 0.0


class TestCollaborativeFiltering:
    def test_matches_numpy_gd(self, spark):
        from graphit_spark.kernels.cf import collaborative_filtering
        from tests.oracles import cf_oracle

        rng = random.Random(12)
        wedges = [
            (rng.randrange(30), rng.randrange(30), rng.randrange(1, 6))
            for _ in range(150)
        ]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = {
            r["id"]: list(r["latent"])
            for r in collaborative_filtering(g, iters=5).collect()
        }
        exp = cf_oracle(wedges, iters=5)
        for v in range(len(exp)):
            assert np.allclose(got[v], exp[v], atol=1e-9), f"vertex {v}"


class TestCentrality:
    @pytest.mark.parametrize("seed", [2])
    def test_eigenvector_matches_power_iteration(self, spark, seed):
        from graphit_spark.kernels import eigenvector_centrality
        from tests.oracles import eigenvector_oracle

        edges = _rand_graph(40, 160, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["ec"] for r in eigenvector_centrality(g, rounds=9).collect()}
        exp = eigenvector_oracle(edges, rounds=9)
        assert len(got) == len(exp)
        for v in range(len(exp)):
            assert abs(got[v] - exp[v]) < 1e-9, f"vertex {v}"

    def test_katz_matches_recurrence(self, spark, seed=7):
        from graphit_spark.kernels import katz_centrality
        from tests.oracles import katz_oracle

        edges = _rand_graph(40, 160, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            r["id"]: r["katz"]
            for r in katz_centrality(g, alpha=0.1, beta=1.0, rounds=6).collect()
        }
        exp = katz_oracle(edges, alpha=0.1, beta=1.0, rounds=6)
        assert len(got) == len(exp)
        for v in range(len(exp)):
            assert abs(got[v] - exp[v]) < 1e-9, f"vertex {v}"

    def test_closeness_weighted(self, spark):
        from graphit_spark.kernels import closeness_centrality, closeness_score
        from tests.oracles import closeness_oracle

        rng = random.Random(9)
        wedges = [
            (rng.randrange(30), rng.randrange(30), rng.randrange(1, 8))
            for _ in range(90)
        ]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = {r["id"]: r["dist"] for r in closeness_centrality(g, 0).collect()}
        exp = closeness_oracle(wedges, 0)
        for v in range(len(exp)):
            assert got[v] == exp[v], f"vertex {v}"
        assert closeness_score(g, 0) == int(exp.sum())


class TestDeltaStepping:
    @pytest.mark.parametrize("seed,delta", [(4, 1), (4, 4), (13, 3)])
    def test_matches_bellman_ford_fixpoint(self, spark, seed, delta):
        from graphit_spark.kernels import sssp_delta_stepping
        from tests.oracles import sssp_oracle

        rng = random.Random(seed)
        wedges = [
            (rng.randrange(40), rng.randrange(40), rng.randrange(1, 10))
            for _ in range(140)
        ]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = {r["id"]: r["dist"] for r in sssp_delta_stepping(g, 0, delta=delta).collect()}
        exp = sssp_oracle(wedges, 0)
        for v in range(len(exp)):
            want = None if exp[v] == -1 else exp[v]
            assert got[v] == want, f"vertex {v}"


class TestAStar:
    def test_zero_heuristic_equals_dijkstra(self, spark):
        from graphit_spark.kernels import astar
        from tests.oracles import sssp_oracle

        rng = random.Random(21)
        wedges = [
            (rng.randrange(30), rng.randrange(30), rng.randrange(1, 9))
            for _ in range(100)
        ]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        exp = sssp_oracle(wedges, 0)
        target = 17
        got = {r["id"]: r["dist"] for r in astar(g, 0, target, delta=3).collect()}
        want = None if exp[target] == -1 else exp[target]
        assert got[target] == want

    def test_admissible_heuristic_prunes_but_exact(self, spark):
        from pyspark.sql import functions as F
        from graphit_spark.kernels import astar

        # path 0-1-2-...-19 (weight 2 each) plus a decoy branch; heuristic
        # h(v) = 2*(19 - v) for v <= 19 is the exact remaining distance.
        wedges = [(v, v + 1, 2) for v in range(19)]
        wedges += [(0, 25, 1), (25, 26, 1)]  # decoy away from target
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        h = g.spark.createDataFrame(
            [(v, 2 * (19 - v)) for v in range(20)], "id long, h long"
        )
        res = {r["id"]: r["dist"] for r in astar(g, 0, 19, h, delta=4).collect()}
        assert res[19] == 38


class TestMinimumSpanningForest:
    @pytest.mark.parametrize("seed,n,m", [(7, 30, 90), (11, 50, 200)])
    def test_matches_kruskal_unique_msf(self, spark, seed, n, m):
        from graphit_spark.kernels import minimum_spanning_forest
        from tests.oracles import msf_oracle

        rng = random.Random(seed)
        wedges = [
            (rng.randrange(n), rng.randrange(n), rng.randrange(1, 12))
            for _ in range(m)
        ]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = {
            (r["u"], r["v"], r["weight"])
            for r in minimum_spanning_forest(g).collect()
        }
        assert got == msf_oracle(wedges)

    def test_total_weight_matches_reference_prim(self, spark):
        """Cross-algorithm check mirroring the reference intrinsic: the
        forest restricted to one component weighs exactly what lazy Prim
        (minimum_spanning_tree.h) computes from a start in it."""
        from graphit_spark.kernels import minimum_spanning_forest
        from tests.oracles import cc_oracle, prim_total_weight

        rng = random.Random(3)
        # two clusters, no cross edges -> a forest with 2 trees
        wedges = [(rng.randrange(20), rng.randrange(20), rng.randrange(1, 9))
                  for _ in range(70)]
        wedges += [(20 + rng.randrange(15), 20 + rng.randrange(15),
                    rng.randrange(1, 9)) for _ in range(40)]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        rows = minimum_spanning_forest(g).collect()
        comp = cc_oracle([(s, d) for s, d, _ in wedges])
        for start in (0, 20):
            mine = sum(r["weight"] for r in rows if comp[r["u"]] == comp[start])
            assert mine == prim_total_weight(wedges, start)

    def test_disconnected_and_isolated(self, spark):
        from graphit_spark.kernels import minimum_spanning_forest

        wedges = [(0, 1, 5), (1, 0, 3), (2, 2, 9), (3, 4, 1)]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = {(r["u"], r["v"], r["weight"])
               for r in minimum_spanning_forest(g).collect()}
        # (0,1) keeps min weight 3; self-loop at 2 squished; isolated 2 absent
        assert got == {(0, 1, 3), (3, 4, 1)}


class TestSetCover:
    @pytest.mark.parametrize("seed,n,m", [(5, 25, 120), (9, 40, 160)])
    def test_matches_bucketed_greedy_oracle(self, spark, seed, n, m):
        from graphit_spark.kernels import set_cover
        from tests.oracles import set_cover_oracle, squish

        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["set_id"], r["round"]) for r in set_cover(g).collect()
        )
        assert got == sorted(set_cover_oracle(edges))
        # the chosen sets must cover every element (dst) of the universe
        chosen = {s for s, _ in got}
        universe = {d for _, d in squish(edges)}
        covered = {d for s, d in squish(edges) if s in chosen}
        assert covered == universe

    def test_star_picks_hub_first(self, spark):
        from graphit_spark.kernels import set_cover

        edges = [(0, v) for v in range(1, 12)] + [(5, 1), (6, 2)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = sorted((r["set_id"], r["round"]) for r in set_cover(g).collect())
        assert rows[0] == (0, 1)  # hub admitted in round 1, covers all
        assert {s for s, _ in rows} == {0}


class TestCoreDecomposition:
    @pytest.mark.parametrize("seed,n,m", [(3, 25, 90), (8, 40, 220)])
    def test_matches_peeling_oracle(self, spark, seed, n, m):
        from graphit_spark.kernels import core_decomposition
        from tests.oracles import coreness_oracle

        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["core"] for r in core_decomposition(g).collect()}
        assert got == coreness_oracle(edges)

    def test_kcore_membership_consistent(self, spark):
        """k_core(k) must equal {v : core(v) >= k}."""
        from graphit_spark.kernels import core_decomposition, k_core

        rng = random.Random(6)
        edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(150)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        cores = {r["id"]: r["core"] for r in core_decomposition(g).collect()}
        for k in (1, 2, 3):
            member = {r["id"] for r in k_core(g, k).collect()}
            assert member == {v for v, c in cores.items() if c >= k}, k

    def test_selfloop_max_id_universe(self, spark):
        """A self-loop at the max raw id still defines the vertex
        universe (FindMaxNodeID pre-squish); isolated ids get core 0."""
        from graphit_spark.kernels import core_decomposition

        edges = [(0, 1), (1, 2), (2, 0), (7, 7)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: r["core"] for r in core_decomposition(g).collect()}
        assert got == {0: 2, 1: 2, 2: 2, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0}


class TestRandomWalks:
    def test_matches_python_mirror(self, spark):
        from graphit_spark.kernels import random_walks
        from tests.oracles import random_walks_oracle

        edges = _rand_graph(40, 200, seed=3)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in random_walks(g, 5, seed=11).collect()
        )
        assert got == random_walks_oracle(edges, 5, seed=11)

    def test_deterministic_and_seed_sensitive(self, spark):
        from graphit_spark.kernels import random_walks

        edges = _rand_graph(30, 150, seed=4)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        a = sorted(map(tuple, random_walks(g, 3, seed=1).collect()))
        b = sorted(map(tuple, random_walks(g, 3, seed=1).collect()))
        c = sorted(map(tuple, random_walks(g, 3, seed=2).collect()))
        assert a == b
        assert a != c

    def test_sink_terminates_walk(self, spark):
        from graphit_spark.kernels import random_walks

        # 0 -> 1 -> 2 (sink); walks stop at 2
        g = LinkGraph.from_pairs(spark, [(0, 1), (1, 2)], persist=False)
        rows = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in random_walks(g, 4, seed=0).collect()
        )
        assert rows == [
            (0, 0, 0), (0, 1, 1), (0, 2, 2),
            (1, 0, 1), (1, 1, 2),
            (2, 0, 2),
        ]

    def test_random_neighbor_in_adjacency(self, spark):
        from graphit_spark.kernels import random_out_neighbor

        edges = _rand_graph(25, 120, seed=5)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        adj = {}
        for s, d in {(s, d) for s, d in edges if s != d}:
            adj.setdefault(s, set()).add(d)
        picked = {r["id"]: r["nbr"] for r in random_out_neighbor(g, seed=2).collect()}
        assert set(picked) == set(adj)
        for v, n in picked.items():
            assert n in adj[v]
        # a different step draws a different sample somewhere
        other = {
            r["id"]: r["nbr"]
            for r in random_out_neighbor(g, seed=2, step=1).collect()
        }
        assert picked != other


class TestMonteCarloPageRank:
    def test_estimates_track_exact_pagerank(self, spark):
        """The MC complete-path estimator must rank-correlate with the
        exact power iteration: with R=20 walks/vertex on a 60-vertex
        graph, Spearman rho of the two rankings should clear 0.7 (seeded
        draws make this deterministic, not flaky)."""
        from graphit_spark.kernels import montecarlo_pagerank, pagerank

        edges = _rand_graph(60, 600, seed=9)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        exact = {
            r["id"]: r["rank"] for r in pagerank(g, max_iters=20).collect()
        }
        est = {
            r["id"]: r["visits"]
            for r in montecarlo_pagerank(
                g, walks_per_vertex=20, walk_len=12, seed=5
            ).collect()
        }
        assert set(exact) == set(est)
        ids = sorted(exact)

        def ranks(d):
            order = sorted(ids, key=lambda i: (d[i], i))
            return {v: pos for pos, v in enumerate(order)}

        ra, rb = ranks(exact), ranks(est)
        n = len(ids)
        d2 = sum((ra[i] - rb[i]) ** 2 for i in ids)
        rho = 1 - 6 * d2 / (n * (n * n - 1))
        assert rho > 0.7, rho

    def test_deterministic_and_mass_bounds(self, spark):
        from graphit_spark.kernels import montecarlo_pagerank

        edges = _rand_graph(30, 150, seed=2)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        a = sorted(map(tuple, montecarlo_pagerank(g, seed=1).collect()))
        b = sorted(map(tuple, montecarlo_pagerank(g, seed=1).collect()))
        c = sorted(map(tuple, montecarlo_pagerank(g, seed=2).collect()))
        assert a == b
        assert a != c
        # every vertex starts R walks, so visits >= R at every vertex
        assert min(r[1] for r in a) >= 3


class TestSweepCut:
    @pytest.mark.parametrize("seed", [2, 9])
    def test_matches_reference_transliteration(self, spark, seed):
        from graphit_spark.kernels import sweep_cut
        from tests.oracles import sweep_cut_oracle

        edges = _rand_graph(60, 400, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        # score = out-degree (integer => no cross-engine float ties)
        vals = g.out_degrees().select(
            "id", F.col("out_degree").alias("val")
        )
        metrics = {}
        got = sorted(
            r["id"] for r in sweep_cut(g, vals, metrics_out=metrics).collect()
        )
        deg = {r["id"]: r["out_degree"] for r in g.out_degrees().collect()}
        exp_ids, exp_cond = sweep_cut_oracle(edges, deg)
        assert got == exp_ids
        assert abs(metrics["best_conductance"] - exp_cond) < 1e-12

    def test_two_cliques_bridge(self, spark):
        """Two 5-cliques joined by one edge: the sweep by degree finds a
        cut whose conductance the transliteration agrees with exactly."""
        from graphit_spark.kernels import sweep_cut
        from tests.oracles import sweep_cut_oracle

        edges = []
        for base in (0, 5):
            for i in range(5):
                for j in range(5):
                    if i != j:
                        edges.append((base + i, base + j))
        edges += [(4, 5), (5, 4)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        vals = g.out_degrees().select("id", F.col("out_degree").alias("val"))
        got = sorted(r["id"] for r in sweep_cut(g, vals).collect())
        deg = {r["id"]: r["out_degree"] for r in g.out_degrees().collect()}
        exp_ids, _ = sweep_cut_oracle(edges, deg)
        assert got == exp_ids


class TestWeightedRandomWalks:
    def test_matches_python_mirror(self, spark):
        from graphit_spark.kernels import weighted_random_walks
        from tests.oracles import weighted_random_walks_oracle

        rng = random.Random(12)
        edges = [
            (rng.randrange(30), rng.randrange(30), 1 + rng.randrange(9))
            for _ in range(200)
        ]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in weighted_random_walks(g, 4, seed=3).collect()
        )
        assert got == weighted_random_walks_oracle(edges, 4, seed=3)

    def test_heavy_edge_dominates(self, spark):
        from graphit_spark.kernels import weighted_random_walks

        # from 0: weight 999 to 1, weight 1 to 2 — across many seeds the
        # draw lands on 1 almost always
        g = LinkGraph.from_pairs(
            spark, [(0, 1, 999), (0, 2, 1)], persist=False
        )
        hits = 0
        for seed in range(10):
            rows = {
                (r["walk_id"], r["step"]): r["vertex"]
                for r in weighted_random_walks(g, 1, seed=seed).collect()
            }
            if rows[(0, 1)] == 1:
                hits += 1
        assert hits >= 9

    def test_requires_weights(self, spark):
        import pytest

        from graphit_spark.kernels import weighted_random_walks

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        with pytest.raises(ValueError):
            weighted_random_walks(g, 2)


class TestNode2vecWalks:
    def test_matches_python_mirror(self, spark):
        from graphit_spark.kernels import node2vec_walks
        from tests.oracles import node2vec_walks_oracle

        edges = _rand_graph(30, 200, seed=8)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in node2vec_walks(g, 4, seed=5).collect()
        )
        assert got == node2vec_walks_oracle(edges, 4, seed=5)

    def test_return_bias(self, spark):
        """p tiny => return steps dominate: on a path 0-1 with a side
        branch, step 2 goes straight back to the start for most seeds."""
        from graphit_spark.kernels import node2vec_walks

        edges = [(0, 1), (1, 0), (1, 2), (2, 1), (1, 3), (3, 1)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        returns = 0
        for seed in range(10):
            rows = {
                (r["walk_id"], r["step"]): r["vertex"]
                for r in node2vec_walks(
                    g, 2, p=0.01, q=1.0, seed=seed
                ).collect()
            }
            if rows.get((0, 2)) == 0:
                returns += 1
        assert returns >= 9


class TestNode2vecAliasWalks:
    def test_matches_python_mirror(self, spark):
        from graphit_spark.kernels import node2vec_walks_alias
        from tests.oracles import node2vec_alias_walks_oracle

        edges = _rand_graph(30, 200, seed=8)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in node2vec_walks_alias(g, 4, seed=5).collect()
        )
        assert got == node2vec_alias_walks_oracle(edges, 4, seed=5)

    def test_prebuilt_tables_match_lazy(self, spark):
        """Passing the FULL precomputed (prev, cur) alias table yields
        the same walks as the lazy per-frontier build."""
        from graphit_spark.kernels import (
            build_node2vec_alias_tables, node2vec_walks_alias,
        )

        edges = _rand_graph(20, 120, seed=3)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        all_pairs = g.edges.select(
            F.col("src").alias("prev"), F.col("dst").alias("cur")
        )
        full = build_node2vec_alias_tables(g, all_pairs).localCheckpoint()
        lazy = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in node2vec_walks_alias(g, 3, seed=2).collect()
        )
        pre = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in node2vec_walks_alias(
                g, 3, seed=2, alias_tables=full
            ).collect()
        )
        assert lazy == pre

    def test_return_bias(self, spark):
        """Same distributional sanity as node2vec_walks: p tiny makes
        step 2 a return for most seeds."""
        from graphit_spark.kernels import node2vec_walks_alias

        edges = [(0, 1), (1, 0), (1, 2), (2, 1), (1, 3), (3, 1)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        returns = 0
        for seed in range(10):
            rows = {
                (r["walk_id"], r["step"]): r["vertex"]
                for r in node2vec_walks_alias(
                    g, 2, p=0.01, q=1.0, seed=seed
                ).collect()
            }
            if rows.get((0, 2)) == 0:
                returns += 1
        assert returns >= 9


class TestAliasWalks:
    @pytest.mark.parametrize("weighted", [False, True])
    def test_matches_python_mirror(self, spark, weighted):
        from graphit_spark.kernels import random_walks_alias
        from tests.oracles import alias_walks_oracle

        rng = random.Random(21)
        if weighted:
            edges = [
                (rng.randrange(25), rng.randrange(25), 1 + rng.randrange(9))
                for _ in range(150)
            ]
        else:
            edges = [(rng.randrange(25), rng.randrange(25))
                     for _ in range(150)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["walk_id"], r["step"], r["vertex"])
            for r in random_walks_alias(g, 4, seed=6).collect()
        )
        assert got == alias_walks_oracle(edges, 4, seed=6)

    def test_alias_tables_are_valid_distribution(self, spark):
        """prob in [0,1], aliases in range, and slot masses reproduce
        the edge-weight distribution exactly: w_i/W == (prob_i +
        sum of (1-prob_j) over j aliasing i) / n."""
        from graphit_spark.kernels import build_alias_tables

        g = LinkGraph.from_pairs(
            spark, [(0, 1, 6), (0, 2, 3), (0, 3, 1)], persist=False
        )
        row = build_alias_tables(g).filter("src = 0").collect()[0]
        n = len(row["nbrs"])
        assert sorted(row["nbrs"]) == [1, 2, 3]
        mass = {d: row["prob"][i] for i, d in enumerate(row["nbrs"])}
        for i, d in enumerate(row["nbrs"]):
            assert 0.0 <= row["prob"][i] <= 1.0
            assert 0 <= row["alias"][i] < n
            if row["prob"][i] < 1.0:
                mass[row["nbrs"][row["alias"][i]]] += 1.0 - row["prob"][i]
        total = sum(mass.values())
        for d, w in [(1, 6), (2, 3), (3, 1)]:
            assert abs(mass[d] / total - w / 10.0) < 1e-12


class TestStronglyConnectedComponents:
    def test_dag_of_cycles(self, spark):
        # 3-cycle -> 2-cycle -> tail vertex; plus an isolated id via a
        # squished self loop (the universe keeps max id + 1)
        edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5),
                 (7, 7)]
        from graphit_spark.kernels import strongly_connected_components
        from tests.oracles import scc_oracle

        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            r["id"]: r["scc"]
            for r in strongly_connected_components(g).collect()
        }
        exp = scc_oracle(edges)
        assert len(got) == len(exp) == 8
        for v, c in enumerate(exp):
            assert got[v] == c, f"vertex {v}"

    @pytest.mark.parametrize("seed", [3, 11, 42])
    def test_random_directed(self, spark, seed):
        from graphit_spark.kernels import strongly_connected_components
        from tests.oracles import scc_oracle

        edges = _rand_graph(60, 150, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        metrics = {}
        got = {
            r["id"]: r["scc"]
            for r in strongly_connected_components(
                g, metrics_out=metrics
            ).collect()
        }
        exp = scc_oracle(edges)
        for v, c in enumerate(exp):
            assert got[v] == c
        assert metrics["outer_rounds"] >= 1

    def test_acyclic_is_all_trivial(self, spark):
        from graphit_spark.kernels import strongly_connected_components

        edges = [(v, v + 1) for v in range(10)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = strongly_connected_components(g).collect()
        assert all(r["scc"] == r["id"] for r in got) and len(got) == 11


class TestHits:
    @staticmethod
    def _hits_numpy(edges, rounds=6):
        from tests.oracles import num_vertices, squish

        es = squish(edges)
        n = num_vertices(edges)
        hub = np.ones(n)
        auth = np.ones(n)
        for _ in range(rounds):
            a = np.zeros(n)
            for s, d in es:
                a[d] += hub[s]
            a /= a.sum() or 1.0
            h = np.zeros(n)
            for s, d in es:
                h[s] += a[d]
            h /= h.sum() or 1.0
            hub, auth = h, a
        return hub, auth

    @pytest.mark.parametrize("seed", [3, 11])
    def test_matches_numpy(self, spark, seed):
        from graphit_spark.kernels import hits

        edges = _rand_graph(50, 120, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: (r["hub"], r["auth"]) for r in hits(g).collect()}
        ehub, eauth = self._hits_numpy(edges)
        for v in range(len(ehub)):
            assert got[v][0] == pytest.approx(ehub[v], abs=1e-9)
            assert got[v][1] == pytest.approx(eauth[v], abs=1e-9)

    def test_star_graph_semantics(self, spark):
        from graphit_spark.kernels import hits

        # hub 0 points at 1..4: vertex 0 is the only hub, 1..4 equal
        # authorities, and authority mass sums to 1 (L1 contract)
        edges = [(0, v) for v in range(1, 5)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = {r["id"]: r for r in hits(g, rounds=3).collect()}
        assert rows[0]["hub"] == pytest.approx(1.0)
        assert rows[0]["auth"] == pytest.approx(0.0)
        for v in range(1, 5):
            assert rows[v]["auth"] == pytest.approx(0.25)
            assert rows[v]["hub"] == pytest.approx(0.0)


class TestKTruss:
    def test_two_cliques_and_a_bridge(self, spark):
        from graphit_spark.kernels import k_truss
        from tests.oracles import truss_oracle

        # K4 on {0..3}, K4 on {10..13}, bridge 3-10, pendant 13-20
        k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        edges = k4a + k4b + [(3, 10), (13, 20)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            (r["src"], r["dst"]): r["support"]
            for r in k_truss(g, k=4).collect()
        }
        exp = truss_oracle(edges, 4)
        assert got == exp
        # the 4-truss is exactly the two cliques (support 2 everywhere)
        assert set(got) == set(k4a) | set(k4b)
        assert all(s == 2 for s in got.values())

    @pytest.mark.parametrize("seed,k", [(3, 3), (11, 4)])
    def test_random_matches_peel_oracle(self, spark, seed, k):
        from graphit_spark.kernels import k_truss
        from tests.oracles import truss_oracle

        edges = _rand_graph(40, 180, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        m = {}
        got = {
            (r["src"], r["dst"]): r["support"]
            for r in k_truss(g, k=k, metrics_out=m).collect()
        }
        assert got == truss_oracle(edges, k)
        assert m["rounds"] >= 1

    def test_budget_short_of_peel_depth_raises(self, spark):
        """Two 4-cliques joined by a bridge, with a pendant edge, at
        k = 4: the scoring pass (round 1) finds the bridge and the
        pendant without support, and one peel round (round 2) removes
        them and observes nothing left to peel. The budget counts the
        scoring pass, so 1 round raises and 2 rounds return the
        cliques."""
        from graphit_spark.kernels import k_truss

        k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        k4b = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
        g = LinkGraph.from_pairs(
            spark, k4a + k4b + [(3, 10), (13, 20)], persist=False
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            k_truss(g, k=4, max_rounds=1)
        m = {}
        got = k_truss(g, k=4, max_rounds=2, metrics_out=m).collect()
        assert m["rounds"] == 2
        assert {(r["src"], r["dst"]) for r in got} == set(k4a) | set(k4b)

    def test_triangle_free_truss_is_empty(self, spark):
        from graphit_spark.kernels import k_truss

        edges = [(v, v + 1) for v in range(8)]  # path: no triangles
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        assert k_truss(g, k=3).count() == 0


def test_clustering_coeff_semantics(spark):
    """Triangle 0-1-2 with pendant 2-3: lcc 1.0 / 1.0 / 1/3 / 0."""
    from graphit_spark.kernels import triangle_count_per_vertex

    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    und = g.symmetrize()
    tri = triangle_count_per_vertex(g)
    deg = und.out_degrees().select("id", F.col("out_degree").alias("degree"))
    got = {
        r["id"]: round(
            (2.0 * r["tri_count"] / (r["degree"] * (r["degree"] - 1)))
            if r["degree"] >= 2
            else 0.0,
            6,
        )
        for r in tri.join(deg, "id").collect()
    }
    assert got == {0: 1.0, 1: 1.0, 2: 0.333333, 3: 0.0}


def test_scc_refuses_unconverged_peel(spark):
    """A 16-cycle's fixpoint needs ~16 propagation rounds; with
    max_prop=5 the kernel must REFUSE rather than peel the partial
    SCC it matched (removing part of an SCC would cut its remaining
    members apart and assign them wrong ids). With an adequate budget
    the same cycle resolves to a single SCC 0."""
    from graphit_spark.kernels import strongly_connected_components

    n = 16
    edges = [(v, (v + 1) % n) for v in range(n)]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    with pytest.raises(RuntimeError, match="did not converge"):
        strongly_connected_components(g, max_prop=5)
    got = strongly_connected_components(g, max_prop=20).collect()
    assert len(got) == n and all(r["scc"] == 0 for r in got)


def test_mis_semantics(spark):
    """Independence (no two MIS members adjacent) and maximality (every
    non-member has a MIS neighbor) on a graph where the hash order
    decides the winners; plus the isolated-vertex and empty-graph
    edges."""
    from graphit_spark.kernels import maximal_independent_set

    # path 0-1-2-3-4 plus isolated vertex 6 (universe via max id 6)
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    got = {r["id"]: r["in_mis"] for r in maximal_independent_set(g).collect()}
    assert set(got) == set(range(7))
    members = {v for v, m in got.items() if m}
    und = set()
    for u, v in edges:
        und.add((u, v))
        und.add((v, u))
    assert not any((u, v) in und for u in members for v in members)
    for v in set(got) - members:
        assert any((v, u) in und for u in members), f"{v} not maximal"


def test_coloring_semantics(spark):
    """Proper coloring (adjacent vertices differ), dense colors
    (0..max used), and exact agreement with the sequential greedy
    coloring over the same priority order — the Jones-Plassmann
    invariant."""
    import hashlib

    from graphit_spark.kernels import greedy_coloring

    edges = _rand_graph(40, 120, seed=9)
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    n = g.num_vertices
    got = {r["id"]: r["color"] for r in greedy_coloring(g).collect()}
    assert set(got) == set(range(n))

    und = {}
    for u, v in edges:
        if u != v:
            und.setdefault(u, set()).add(v)
            und.setdefault(v, set()).add(u)
    for u, nbrs in und.items():
        for v in nbrs:
            assert got[u] != got[v], f"edge {u}-{v} same color"

    # sequential greedy over the identical (md5-hex || id) priority
    def pri(v):
        return (
            hashlib.md5(str(v).encode()).hexdigest()[:15]
            + "-"
            + str(v).zfill(12)
        )

    exp = {}
    for v in sorted(range(n), key=pri):
        used = {exp[u] for u in und.get(v, ()) if u in exp}
        c = 0
        while c in used:
            c += 1
        exp[v] = c
    assert got == exp


def test_bowtie_hand_graph(spark):
    """Hand-built Broder bow-tie: 1<->2 core, 0 -> core (IN),
    core -> 3 (OUT), 4 on an IN->OUT path bypassing core (TUBE),
    5 reachable from IN only / 6 reaching OUT only (TENDRILs),
    7 -> 8 off in their own island (DISCONNECTED)."""
    from graphit_spark.kernels import bowtie_classes

    edges = [
        (1, 2), (2, 1),          # core SCC (the unique largest)
        (0, 1),                  # IN
        (2, 3),                  # OUT
        (0, 4), (4, 3),          # TUBE
        (0, 5),                  # TENDRIL (hangs off IN)
        (6, 3),                  # TENDRIL (feeds OUT)
        (7, 8),                  # DISCONNECTED island
    ]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    got = {r["id"]: r["bowtie"] for r in bowtie_classes(g).collect()}
    assert got == {
        0: "IN", 1: "CORE", 2: "CORE", 3: "OUT", 4: "TUBE",
        5: "TENDRIL", 6: "TENDRIL", 7: "DISCONNECTED", 8: "DISCONNECTED",
    }


def test_bowtie_edgeless(spark):
    from graphit_spark.kernels import bowtie_classes

    g = LinkGraph.from_pairs(spark, [(0, 0), (3, 3)], persist=False)
    got = {r["id"]: r["bowtie"] for r in bowtie_classes(g).collect()}
    # no edges survive squish: core = min-id trivial SCC, rest disconnected
    assert got[0] == "CORE"
    assert all(v == "DISCONNECTED" for k, v in got.items() if k != 0)


def test_louvain_move_barbell(spark):
    """Two triangles joined by one bridge: the move phase must collapse
    each triangle into one community and keep the two apart. Expected
    labels come from an independent Python mirror of the same
    synchronous integer-score argmax."""
    from graphit_spark.kernels import louvain_move

    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)]
    rounds = 6

    # independent sequential mirror of the synchronous round
    und = set()
    for u, v in edges:
        und.add((u, v))
        und.add((v, u))
    n = 6
    k = {v: sum(1 for (a, _b) in und if a == v) for v in range(n)}
    two_m = len(und)
    comm = {v: v for v in range(n)}
    for r in range(1, rounds + 1):
        tot = {}
        for v in range(n):
            tot[comm[v]] = tot.get(comm[v], 0) + k[v]
        new = {}
        for v in range(n):
            if v % 2 != r % 2:  # parity-alternating movers
                new[v] = comm[v]
                continue
            cnt = {comm[v]: 0}  # synthetic stay row
            for (a, b) in und:
                if a == v:
                    cnt[comm[b]] = cnt.get(comm[b], 0) + 1
            best = None
            for c, e in cnt.items():
                t = tot[c] - k[v] if c == comm[v] else tot[c]
                score = two_m * e - k[v] * t
                if best is None or (score, -c) > best[0]:
                    best = ((score, -c), c)
            new[v] = best[1]
        comm = new

    g = LinkGraph.from_pairs(spark, edges, persist=False)
    got = {
        r["id"]: r["community"]
        for r in louvain_move(g, rounds=rounds).collect()
    }
    assert got == comm
    # structural sanity: each triangle one community, clusters apart
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]


class TestHyperballSystolic:
    """The systolic (changed-sketch-only) gather must be a pure
    optimization: bit-identical output to the full gather, including
    the early-stop rounds (which add exactly 0 to harm / repeat N(r))."""

    @pytest.mark.parametrize("seed", [5, 21])
    def test_harmonic_equals_full_gather(self, spark, seed):
        from graphit_spark.kernels.hyperball import hyperball_harmonic

        g = LinkGraph.from_pairs(spark, _rand_graph(60, 200, seed), persist=False)
        # generous budget so the systolic path early-stops before it
        sys_rows = {
            r["id"]: (r["ball"], r["harmonic"])
            for r in hyperball_harmonic(g, p=4, rounds=12).collect()
        }
        full_rows = {
            r["id"]: (r["ball"], r["harmonic"])
            for r in hyperball_harmonic(
                g, p=4, rounds=12, systolic=False
            ).collect()
        }
        assert sys_rows == full_rows  # bit-exact, no tolerance

    def test_neighborhood_function_pads_early_stop(self, spark):
        from graphit_spark.kernels.hyperball import neighborhood_function

        # path graph: directed diameter 5, budget 9 -> early stop pads
        g = LinkGraph.from_pairs(
            spark, [(v, v + 1) for v in range(5)], persist=False
        )
        sys_nf = {
            r["r"]: r["pairs"]
            for r in neighborhood_function(g, p=4, rounds=9).collect()
        }
        full_nf = {
            r["r"]: r["pairs"]
            for r in neighborhood_function(
                g, p=4, rounds=9, systolic=False
            ).collect()
        }
        assert sys_nf == full_nf
        assert sorted(sys_nf) == list(range(10))
        # fixpoint reached at the diameter: padded rounds repeat it
        assert sys_nf[9] == sys_nf[5]


class TestMaximalMatching:
    @staticmethod
    def _matching_oracle(edges):
        """Sequential greedy matching over the kernel's exact priority
        order — the parallel local-min rule must equal this."""
        import hashlib

        und = set()
        for a, b in edges:
            if a != b:
                und.add((min(a, b), max(a, b)))

        def pri(e):
            u, v = e
            h = hashlib.md5(f"{u}_{v}".encode()).hexdigest()[:15]
            return f"{h}-{u:012d}-{v:012d}"  # '-' sep < digits in ASCII

        mate = {}
        for u, v in sorted(und, key=pri):
            if u not in mate and v not in mate:
                mate[u] = v
                mate[v] = u
        return mate

    def test_path_and_triangle(self, spark):
        from graphit_spark.kernels import maximal_matching

        edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            r["id"]: r["mate"] for r in maximal_matching(g).collect()
        }
        exp = self._matching_oracle(edges)
        n = max(max(a, b) for a, b in edges) + 1
        assert got == {v: exp.get(v, -1) for v in range(n)}
        # structure: a matching (symmetric, degree <= 1)
        for v, m in got.items():
            if m != -1:
                assert got[m] == v

    @pytest.mark.parametrize("seed", [2, 9, 17])
    def test_random_matches_greedy_oracle(self, spark, seed):
        from graphit_spark.kernels import maximal_matching

        edges = _rand_graph(50, 200, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            r["id"]: r["mate"] for r in maximal_matching(g).collect()
        }
        exp = self._matching_oracle(edges)
        n = max(max(a, b) for a, b in edges) + 1
        assert got == {v: exp.get(v, -1) for v in range(n)}

    def test_edgeless_graph(self, spark):
        from graphit_spark.kernels import maximal_matching

        g = LinkGraph.from_pairs(spark, [(0, 0), (3, 3)], persist=False)
        got = {r["id"]: r["mate"] for r in maximal_matching(g).collect()}
        assert got == {v: -1 for v in range(4)}


class TestLinkPrediction:
    @staticmethod
    def _oracle(edges, min_cn=1):
        """Brute-force CN/Jaccard/RA over the squished symmetric graph."""
        nbrs: dict[int, set[int]] = {}
        for a, b in edges:
            if a == b:
                continue
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        out = {}
        ids = sorted(nbrs)
        for i, u in enumerate(ids):
            for v in ids[i + 1:]:
                if v in nbrs[u]:
                    continue
                common = nbrs[u] & nbrs[v]
                if len(common) < min_cn:
                    continue
                cn = len(common)
                jacc = round(cn / (len(nbrs[u]) + len(nbrs[v]) - cn), 6)
                ra = round(sum(1.0 / len(nbrs[w]) for w in common), 6)
                out[(u, v)] = (cn, jacc, ra)
        return out

    @pytest.mark.parametrize("seed,n,m", [(4, 25, 90), (11, 40, 160)])
    def test_scores_match_bruteforce(self, spark, seed, n, m):
        from graphit_spark.kernels import link_prediction

        edges = _rand_graph(n, m, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            (r["u"], r["v"]): (r["cn"], r["jaccard"], r["ra"])
            for r in link_prediction(g, min_cn=1).collect()
        }
        want = self._oracle(edges, min_cn=1)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            assert abs(got[k][1] - want[k][1]) <= 1e-6, k
            assert abs(got[k][2] - want[k][2]) <= 1e-6, k

    def test_topk_keeps_best_by_integer_key(self, spark):
        from graphit_spark.kernels import link_prediction

        # star: center 0 with leaves 1..6 — every leaf pair shares
        # exactly one common neighbor (0); per-u top-2 keeps lowest v
        edges = [(0, v) for v in range(1, 7)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = link_prediction(g, min_cn=1, topk=2).collect()
        per_u = {}
        for r in rows:
            per_u.setdefault(r["u"], []).append(r["v"])
        for u, vs in per_u.items():
            # ties on cn=1 break by v asc: the two smallest ids above u
            expect = [v for v in range(1, 7) if v > u][:2]
            assert sorted(vs) == expect, (u, vs)

    def test_center_degree_cap_drops_hub_wedges(self, spark):
        from graphit_spark.kernels import link_prediction

        # hub 0 (degree 5) + a low-degree wedge 10-1-20
        edges = [(0, v) for v in range(1, 6)] + [(10, 1), (1, 20)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        capped = link_prediction(g, min_cn=1, max_center_degree=4).collect()
        pairs = {(r["u"], r["v"]) for r in capped}
        # wedges through hub 0 are gone; the degree-3 center 1 survives
        assert (10, 20) in pairs
        assert all(not (1 <= u <= 5 and 1 <= v <= 5) for u, v in pairs)


class TestSalsa:
    @staticmethod
    def _salsa_numpy(edges, rounds=6):
        from tests.oracles import num_vertices, squish

        es = squish(edges)
        n = num_vertices(edges)
        od = np.zeros(n)
        idg = np.zeros(n)
        for s, d in es:
            od[s] += 1
            idg[d] += 1
        hub = np.ones(n)
        auth = np.ones(n)
        for _ in range(rounds):
            h = np.zeros(n)
            for s, d in es:
                h[s] += auth[d] / idg[d]
            h /= h.sum() or 1.0
            a = np.zeros(n)
            for s, d in es:
                a[d] += h[s] / od[s]
            a /= a.sum() or 1.0
            hub, auth = h, a
        return hub, auth

    @pytest.mark.parametrize("seed", [5, 13])
    def test_matches_numpy(self, spark, seed):
        from graphit_spark.kernels import salsa

        edges = _rand_graph(50, 120, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {r["id"]: (r["hub"], r["auth"]) for r in salsa(g).collect()}
        ehub, eauth = self._salsa_numpy(edges)
        for v in range(len(ehub)):
            assert got[v][0] == pytest.approx(ehub[v], abs=1e-9)
            assert got[v][1] == pytest.approx(eauth[v], abs=1e-9)

    def test_stochastic_vs_hits_on_fan(self, spark):
        from graphit_spark.kernels import salsa

        # two hubs: 0 points at 1..4, 5 points only at 1. Under HITS
        # hub 0 dominates by raw fan-out; SALSA's stochastic steps give
        # both hubs equal total out-weight, so hub 5's score stays a
        # fixed share: at the fixpoint hub scores are (within the
        # bipartite component) proportional to out-degree — 4/5 vs 1/5.
        # 12 rounds get within ~1e-4 of the fixpoint (geometric mixing);
        # the exact-recurrence parity vs numpy is the test above.
        edges = [(0, v) for v in range(1, 5)] + [(5, 1)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = {r["id"]: r for r in salsa(g, rounds=12).collect()}
        assert rows[0]["hub"] == pytest.approx(0.8, abs=1e-3)
        assert rows[5]["hub"] == pytest.approx(0.2, abs=1e-3)
        # authority fixpoint proportional to in-degree: 1 gets 2/5
        assert rows[1]["auth"] == pytest.approx(0.4, abs=1e-3)
        for v in (2, 3, 4):
            assert rows[v]["auth"] == pytest.approx(0.2, abs=1e-3)


class TestWalkCooccurrence:
    def test_pairs_match_bruteforce(self, spark):
        from graphit_spark.kernels import random_walks
        from graphit_spark.kernels.walks import walk_cooccurrence

        edges = _rand_graph(30, 120, 7)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        walks = random_walks(g, 5, seed=3).collect()
        by_walk: dict[int, dict[int, int]] = {}
        for r in walks:
            by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
        want: dict[tuple[int, int], int] = {}
        W = 2
        for steps in by_walk.values():
            for si, u in steps.items():
                for sj, v in steps.items():
                    if si != sj and abs(si - sj) <= W:
                        want[(u, v)] = want.get((u, v), 0) + 1
        got = {
            (r["u"], r["v"]): r["cnt"]
            for r in walk_cooccurrence(
                random_walks(g, 5, seed=3), window=W
            ).collect()
        }
        assert got == want

    def test_symmetric_total_mass(self, spark):
        from graphit_spark.kernels import random_walks
        from graphit_spark.kernels.walks import walk_cooccurrence

        g = LinkGraph.from_pairs(
            spark, [(i, (i + 1) % 10) for i in range(10)], persist=False
        )
        cooc = walk_cooccurrence(random_walks(g, 4, seed=1), window=2)
        tot_uv = cooc.groupBy().agg(F.sum("cnt")).first()[0]
        # every (u,v) pair has its (v,u) mirror: total mass is even and
        # the table equals its own transpose
        sym = {
            (r["u"], r["v"]): r["cnt"] for r in cooc.collect()
        }
        assert tot_uv % 2 == 0
        for (u, v), c in sym.items():
            assert sym.get((v, u)) == c


class TestCondensationLayers:
    @staticmethod
    def _oracle(edges):
        """Brute force: Tarjan-free SCC via mutual reachability, then
        longest-path layering of the condensation by relaxation."""
        from tests.oracles import num_vertices, squish

        es = squish(edges)
        n = num_vertices(edges)
        adj: dict[int, set[int]] = {v: set() for v in range(n)}
        for s, d in es:
            adj[s].add(d)

        def reach(v):
            seen, stack = {v}, [v]
            while stack:
                x = stack.pop()
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        stack.append(y)
            return seen

        r = {v: reach(v) for v in range(n)}
        scc = {}
        for v in range(n):
            members = [w for w in r[v] if v in r[w]]
            scc[v] = min(members + [v])
        cond = {
            (scc[s], scc[d]) for s, d in es if scc[s] != scc[d]
        }
        layer = {c: 0 for c in set(scc.values())}
        for _ in range(len(layer)):
            for cu, cv in cond:
                layer[cv] = max(layer[cv], layer[cu] + 1)
        return {v: (scc[v], layer[scc[v]]) for v in range(n)}

    def test_chain_of_cycles(self, spark):
        from graphit_spark.kernels.scc import condensation_layers

        # three 3-cycles chained + a tendril: layers 0, 1, 2, 3
        edges = [(0, 1), (1, 2), (2, 0),
                 (2, 10), (10, 11), (11, 12), (12, 10),
                 (12, 20), (20, 21), (21, 22), (22, 20),
                 (22, 30)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            r["id"]: (r["scc"], r["layer"])
            for r in condensation_layers(g).collect()
        }
        assert got == self._oracle(edges)

    @pytest.mark.parametrize("seed,n,m", [(6, 25, 60), (17, 35, 90)])
    def test_random_matches_bruteforce(self, spark, seed, n, m):
        from graphit_spark.kernels.scc import condensation_layers

        edges = _rand_graph(n, m, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {
            r["id"]: (r["scc"], r["layer"])
            for r in condensation_layers(g).collect()
        }
        assert got == self._oracle(edges)

    def test_budget_short_of_depth_raises(self, spark):
        """A chain of 2-cycles 4 components deep needs 5 rounds (the last
        observes no change). A smaller budget raises instead of returning
        truncated layers; enough budget returns the exact ones."""
        from graphit_spark.kernels.scc import (
            condensation_layers, strongly_connected_components,
        )

        edges = [e for c in range(5) for e in
                 ((2 * c, 2 * c + 1), (2 * c + 1, 2 * c))]
        edges += [(2 * c + 1, 2 * c + 2) for c in range(4)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        labels = strongly_connected_components(g)
        with pytest.raises(RuntimeError, match="did not converge"):
            condensation_layers(g, labels, max_rounds=4)
        got = {
            r["id"]: (r["scc"], r["layer"])
            for r in condensation_layers(g, labels, max_rounds=5).collect()
        }
        assert got == self._oracle(edges)
        assert got[9] == (8, 4)



class TestDirectedMotifs:
    @staticmethod
    def _oracle(edges):
        from tests.oracles import squish

        es = set(squish(edges))
        ffl = sum(
            1
            for (u, v) in es
            for (v2, w) in es
            if v2 == v and u != w and (u, w) in es
        )
        cyc = sum(
            1
            for (u, v) in es
            for (v2, w) in es
            if v2 == v and u != w and (w, u) in es and u < v and u < w
        )
        return ffl, cyc

    def test_known_motifs(self, spark):
        from graphit_spark.kernels.triangles import directed_motifs

        # one FFL (0->1->2, 0->2); one 3-cycle (3->4->5->3); one triangle
        # whose path closes BOTH ways (6->7->8, 6->8, 8->6): FFL and cycle
        edges = [(0, 1), (1, 2), (0, 2),
                 (3, 4), (4, 5), (5, 3),
                 (6, 7), (7, 8), (6, 8), (8, 6)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        row = directed_motifs(g).collect()[0]
        assert (row["feed_forward"], row["cycles"]) == self._oracle(edges)
        assert row["feed_forward"] == 2 and row["cycles"] == 2

    @pytest.mark.parametrize("seed,n,m", [(8, 20, 80), (21, 30, 140)])
    def test_random_matches_bruteforce(self, spark, seed, n, m):
        from graphit_spark.kernels.triangles import directed_motifs

        edges = _rand_graph(n, m, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        row = directed_motifs(g).collect()[0]
        assert (row["feed_forward"], row["cycles"]) == self._oracle(edges)


class TestWhoToFollow:
    def test_recommends_friend_of_friends(self, spark):
        from graphit_spark.kernels.salsa import who_to_follow

        # seed 0 follows 1 and 2; both follow 9 (unknown to 0); 1 also
        # follows 3, which follows 4. 9 is endorsed by BOTH trusted
        # hubs, so it must be the top recommendation; 1 and 2 are
        # already followed and must not appear.
        edges = [(0, 1), (0, 2), (1, 9), (1, 3), (2, 9), (3, 4)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        recs = who_to_follow(g, 0, circle=3, k=3, ppr_iters=8,
                             salsa_rounds=8).collect()
        ids = [r["id"] for r in recs]
        assert ids[0] == 9
        assert 1 not in ids and 2 not in ids and 0 not in ids

    def test_seed_with_no_outlinks(self, spark):
        from graphit_spark.kernels.salsa import who_to_follow

        # seed 5 has no out-edges: PPR mass stays on the seed, the
        # circle is score-0 vertices (still a valid cut), and nothing
        # already-followed exists to exclude — must not error
        edges = [(0, 1), (1, 2)]
        g = LinkGraph.from_pairs(spark, edges + [(2, 5)], persist=False)
        recs = who_to_follow(g, 5, circle=2, k=2).collect()
        assert all(r["id"] != 5 for r in recs)


class TestResolveRedirects:
    def test_chains_and_hops(self, spark):
        from graphit_spark.kernels import resolve_redirects

        # 5->4->3->0 (terminal), 9->8 (terminal), dup src 5 keeps min dst
        red = spark.createDataFrame(
            [(5, 4), (4, 3), (3, 0), (9, 8), (5, 7)], ["src", "dst"]
        )
        out = {r["src"]: r for r in resolve_redirects(red).collect()}
        assert (out[5]["target"], out[5]["hops"]) == (0, 3)
        assert (out[4]["target"], out[4]["hops"]) == (0, 2)
        assert (out[3]["target"], out[3]["hops"]) == (0, 1)
        assert (out[9]["target"], out[9]["hops"]) == (8, 1)
        assert not any(r["cycle"] for r in out.values())

    def test_cycle_detection(self, spark):
        from graphit_spark.kernels import resolve_redirects

        # 1<->2 loop, 3 -> into the loop, 7->0 clean
        red = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 1), (7, 0)], ["src", "dst"]
        )
        out = {r["src"]: r for r in resolve_redirects(red).collect()}
        for v in (1, 2, 3):
            assert out[v]["cycle"], v
            assert out[v]["target"] is None and out[v]["hops"] is None
        assert (out[7]["target"], out[7]["hops"], out[7]["cycle"]) == (
            0, 1, False,
        )


class TestTrustRank:
    def test_trust_concentrates_on_seed_side(self, spark):
        """Two chains from a seed: vertices reachable from the seed get
        trust; an isolated spam cluster with high in-links among itself
        gets exactly zero (teleport never lands there)."""
        from graphit_spark.kernels import trustrank

        edges = [(0, 1), (1, 2), (2, 0),          # trusted triangle
                 (3, 4), (4, 5), (5, 3),          # spam triangle
                 (1, 6)]                          # trust leaks to 6
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        out = {r["id"]: r["trust"] for r in
               trustrank(g, [0], max_iters=8).collect()}
        assert out[0] > 0 and out[1] > 0 and out[2] > 0 and out[6] > 0
        for v in (3, 4, 5):
            assert out[v] == 0.0, v

    def test_multi_seed_mass_split(self, spark):
        from graphit_spark.kernels import trustrank

        g = LinkGraph.from_pairs(spark, [(0, 2), (1, 2)], persist=False)
        out = {r["id"]: r["trust"] for r in
               trustrank(g, [0, 1], max_iters=1).collect()}
        # one round: seeds keep beta*0.5; sink gathers damp*(0.5+0.5)
        assert abs(out[0] - 0.075) < 1e-12
        assert abs(out[1] - 0.075) < 1e-12
        assert abs(out[2] - 0.85) < 1e-12

    def test_empty_seeds_rejected(self, spark):
        from graphit_spark.kernels import trustrank

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        try:
            trustrank(g, [])
            assert False, "expected ValueError"
        except ValueError:
            pass


class TestFusedTrustSpam:
    def test_matches_separate_kernels(self, spark):
        """The fused run must equal weighted_pagerank + trustrank run
        separately on the same weighted graph (fusion is a semantic
        no-op), and spam mass must be their normalized gap."""
        from graphit_spark.kernels import (
            fused_trust_spam,
            trustrank,
            weighted_pagerank,
        )

        rng = random.Random(21)
        wedges = [
            (rng.randrange(20), rng.randrange(20), rng.randrange(1, 5))
            for _ in range(60)
        ]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        fused = {r["id"]: r for r in
                 fused_trust_spam(g, [0, 3], rounds=5).collect()}
        pr = {r["id"]: r["rank"] for r in
              weighted_pagerank(g, max_iters=5).collect()}
        tr = {r["id"]: r["trust"] for r in
              trustrank(g, [0, 3], max_iters=5).collect()}
        assert set(fused) == set(pr) == set(tr)
        for v in fused:
            assert abs(fused[v]["rank"] - pr[v]) < 1e-12, v
            assert abs(fused[v]["trust"] - tr[v]) < 1e-12, v
            expect = (pr[v] - tr[v]) / pr[v]
            assert abs(fused[v]["spam_mass"] - expect) < 1e-9, v

    def test_requires_weighted_and_seeds(self, spark):
        from graphit_spark.kernels import fused_trust_spam

        gu = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        for bad in (lambda: fused_trust_spam(gu, [0]),
                    lambda: fused_trust_spam(gu, [])):
            try:
                bad()
                assert False, "expected ValueError"
            except ValueError:
                pass


def test_community_conductance_hand_checked(spark):
    """Hand-checkable cut/volume arithmetic on a FIXED partition (LPA's
    own labels are exercised end-to-end by the driver query; here the
    partition is pinned so the expected numbers are exact): two
    triangles joined by one bridge edge, split down the bridge. Each
    side: cut=1, vol=7 (3 intra edges x2 + the bridge end), 2m=14 →
    conductance = 1/min(7, 14-7) = 1/7."""
    from pyspark.sql import functions as F

    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    und = g.symmetrize()
    labels = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 1), (5, 1)], ["id", "label"]
    )
    m2 = und.edges.count()
    assert m2 == 14
    deg = und.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("deg"))
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
    cut = (und.edges.join(la, "src").join(lb, "dst")
           .filter(F.col("la") != F.col("lb"))
           .groupBy(F.col("la").alias("label"))
           .agg(F.count("*").alias("cut")))
    comm = (labels.join(deg, "id", "left").groupBy("label")
            .agg(F.count("*").alias("n"),
                 F.sum(F.coalesce("deg", F.lit(0))).alias("vol")))
    rows = {r["label"]: r for r in comm.join(cut, "label").collect()}
    assert sorted(r["n"] for r in rows.values()) == [3, 3]
    for r in rows.values():
        assert r["cut"] == 1 and r["vol"] == 7
        assert abs(r["cut"] / min(r["vol"], m2 - r["vol"]) - 1 / 7) < 1e-12


class TestWeightedLPA:
    def test_weight_flips_the_vote(self, spark):
        """Vertex 2 hears label 0 once with weight 5 and labels {1,3}
        once each with weight 1 — weighted LPA picks 0 where unweighted
        LPA would pick the most frequent/minimum label the same way
        only by tie-break."""
        from graphit_spark.kernels import weighted_label_propagation

        wedges = [(0, 2, 5), (1, 2, 1), (3, 2, 1)]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        out = {r["id"]: r["label"] for r in
               weighted_label_propagation(g, rounds=1).collect()}
        assert out[2] == 0

    def test_requires_weights(self, spark):
        from graphit_spark.kernels import weighted_label_propagation

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        try:
            weighted_label_propagation(g)
            assert False, "expected ValueError"
        except ValueError:
            pass


class TestSimRank:
    def test_hand_checked_shared_in_neighbors(self, spark):
        """0,1 -> 2 and 0,1 -> 3: I(2)=I(3)={0,1}, so S(2,3) after one
        round = C/4 * (S00+S01+S10+S11) = C/4 * 2 = 0.4; sources 0,1
        have no in-links so S(0,1) stays 0 and S(2,3) is stable at 0.4
        in later rounds. Pair (0,2) etc. score 0 (absent)."""
        from graphit_spark.kernels import simrank

        g = LinkGraph.from_pairs(
            spark, [(0, 2), (0, 3), (1, 2), (1, 3)], persist=False
        )
        for rounds in (1, 2):
            rows = {(r["a"], r["b"]): r["s"]
                    for r in simrank(g, c=0.8, rounds=rounds).collect()}
            assert abs(rows[(2, 3)] - 0.4) < 1e-12
            assert (0, 1) not in rows and (0, 2) not in rows

    def test_bad_rounds(self, spark):
        from graphit_spark.kernels import simrank

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        try:
            simrank(g, rounds=0)
            assert False, "expected ValueError"
        except ValueError:
            pass


def test_crawl_budget_respects_caps_and_budget(spark):
    """Waterfill invariants on the fixture tables: no host exceeds its
    page-count cap, the total allocation never exceeds the budget, and
    at least one capped-or-positive allocation exists."""
    from graphit_spark.benchqueries import (
        CRAWL_BUDGET_DEN, q_crawl_budget, load,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_crawl_budget(spark, sf).collect()
    budget = load(spark, sf, "customer").count() // CRAWL_BUDGET_DEN
    assert all(r["alloc"] <= r["cap"] for r in rows)
    spent = sum(r["alloc"] for r in rows)
    assert 0 < spent <= budget


class TestEgoSubgraph:
    def _py_oracle(self, edges, seeds, hops):
        """Pure-python reach closure + induced-edge filter."""
        dedup = {(s, d) for (s, d) in edges if s != d}
        reach = set(seeds)
        frontier = set(seeds)
        for _ in range(hops):
            nxt = {d for (s, d) in dedup if s in frontier} - reach
            if not nxt:
                break
            reach |= nxt
            frontier = nxt
        return {(s, d) for (s, d) in dedup if s in reach and d in reach}

    def test_matches_python_oracle(self, spark):
        from graphit_spark.kernels import ego_subgraph

        edges = _rand_graph(60, 250, seed=3)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {(r["src"], r["dst"])
               for r in ego_subgraph(g, [0], hops=2).collect()}
        assert got == self._py_oracle(edges, [0], 2)

    def test_multi_seed_and_early_stop(self, spark):
        from graphit_spark.kernels import ego_subgraph

        # chain 0->1->2->3 plus a detached triangle; hops budget larger
        # than the reachable depth exercises the empty-frontier break
        edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {(r["src"], r["dst"])
               for r in ego_subgraph(g, [0, 10], hops=9).collect()}
        assert got == self._py_oracle(edges, [0, 10], 9)

    def test_zero_hops_is_seed_induced(self, spark):
        from graphit_spark.kernels import ego_subgraph

        edges = [(0, 1), (1, 0), (0, 2)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = {(r["src"], r["dst"])
               for r in ego_subgraph(g, [0, 1], hops=0).collect()}
        assert got == {(0, 1), (1, 0)}

    def test_bad_args(self, spark):
        from graphit_spark.kernels import ego_subgraph

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        with pytest.raises(ValueError):
            ego_subgraph(g, [], hops=2)
        with pytest.raises(ValueError):
            ego_subgraph(g, [0], hops=-1)


class TestCocitation:
    def _oracle(self, edges, cap, min_count, k):
        from collections import Counter, defaultdict

        out = defaultdict(set)
        for s, d in edges:
            if s != d:
                out[s].add(d)
        c = Counter()
        for nbrs in out.values():
            if 2 <= len(nbrs) <= cap:
                ns = sorted(nbrs)
                for i in range(len(ns)):
                    for j in range(i + 1, len(ns)):
                        c[(ns[i], ns[j])] += 1
        rows = [(a, b, n) for (a, b), n in c.items() if n >= min_count]
        rows.sort(key=lambda r: (-r[2], r[0], r[1]))
        return rows[:k]

    def test_matches_python_oracle(self, spark):
        from graphit_spark.kernels import cocitation

        edges = _rand_graph(40, 300, seed=7)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = [(r.page_a, r.page_b, r.n_common)
               for r in cocitation(g, max_degree=8, min_count=2, k=25).collect()]
        assert got == self._oracle(edges, 8, 2, 25)

    def test_hub_cap_excludes_portal(self, spark):
        from graphit_spark.kernels import cocitation

        # vertex 0 cites everything (a portal); 1 and 2 each cite {10, 11}
        edges = [(0, d) for d in range(10, 20)] + [
            (1, 10), (1, 11), (2, 10), (2, 11)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = [(r.page_a, r.page_b, r.n_common)
               for r in cocitation(g, max_degree=5, min_count=2, k=10).collect()]
        assert got == [(10, 11, 2)]  # the portal's pairs are capped out

    def test_bad_args(self, spark):
        from graphit_spark.kernels import cocitation

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        with pytest.raises(ValueError):
            cocitation(g, max_degree=1)


class TestPprBatch:
    def test_each_slice_equals_single_seed_kernel(self, spark):
        from graphit_spark.kernels import (
            personalized_pagerank,
            personalized_pagerank_batch,
        )

        edges = _rand_graph(50, 220, seed=11)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        batch = personalized_pagerank_batch(g, [0, 7], max_iters=4)
        got = {
            (r.seed, r.id): r.rank for r in batch.collect()
        }
        for s in (0, 7):
            single = {
                r.id: r.rank
                for r in personalized_pagerank(g, s, max_iters=4).collect()
            }
            # sparse slice must equal the dense kernel on nonzeros and
            # be absent exactly where the dense kernel is exactly 0.0
            for vid, rank in single.items():
                if rank != 0.0:
                    assert abs(got[(s, vid)] - rank) < 1e-12, (s, vid)
                else:
                    assert (s, vid) not in got
        assert {k[0] for k in got} == {0, 7}

    def test_empty_sources(self, spark):
        from graphit_spark.kernels import personalized_pagerank_batch

        g = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        with pytest.raises(ValueError):
            personalized_pagerank_batch(g, [])


class TestInfluenceMax:
    @pytest.mark.parametrize("seed,n,m", [(7, 25, 120), (11, 40, 200)])
    def test_matches_degree_discount_oracle(self, spark, seed, n, m):
        from graphit_spark.kernels import influence_max
        from tests.oracles import influence_max_oracle

        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["seed"], r["round"], r["dd"])
            for r in influence_max(g, k=4).collect()
        )
        assert got == sorted(influence_max_oracle(edges, k=4))

    def test_hub_then_discounted(self, spark):
        from graphit_spark.kernels import influence_max

        # star 0-(1..10) plus a 3-clique 11-12-13: the hub goes first,
        # then the discount (t=1 for every spoke) must drop the spokes
        # below the untouched clique vertices.
        edges = [(0, v) for v in range(1, 11)] + [
            (11, 12), (12, 13), (11, 13)]
        rows = {r["round"]: r["seed"]
                for r in influence_max(LinkGraph.from_pairs(
                    spark, edges, persist=False), k=2).collect()}
        assert rows[1] == 0
        assert rows[2] == 11  # min-id clique vertex, dd = 2 > spoke dd


class TestSpectralBisection:
    def test_two_cliques_split_by_sign(self, spark):
        from graphit_spark.kernels import spectral_bisection

        # Two 8-cliques joined by a single bridge edge: the Fiedler
        # vector's sign separates them (Fiedler 1973).
        edges = []
        for a in range(8):
            for b in range(8):
                if a != b:
                    edges.append((a, b))
                    edges.append((8 + a, 8 + b))
        edges.append((0, 8))
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = spectral_bisection(g, rounds=12).collect()
        side = {r["id"]: r["side"] for r in rows}
        left = {side[i] for i in range(8)}
        right = {side[i] for i in range(8, 16)}
        assert len(left) == 1 and len(right) == 1 and left != right
        # Fiedler coordinates are mean-centered: both signs present,
        # and the vector is (near) unit-norm.
        vals = np.array([r["fiedler"] for r in rows])
        assert abs(vals.sum()) < 1e-3
        assert 0.9 < np.sqrt((vals ** 2).sum()) < 1.1

    def test_mean_zero_unit_norm_random(self, spark):
        from graphit_spark.kernels import spectral_bisection

        g = LinkGraph.from_pairs(spark, _rand_graph(60, 400, 3),
                                 persist=False)
        rows = spectral_bisection(g, rounds=6).collect()
        vals = np.array([r["fiedler"] for r in rows])
        assert abs(vals.sum()) < 1e-3
        assert 0.9 < np.sqrt((vals ** 2).sum()) < 1.1


class TestPprPush:
    def test_mass_conservation_and_threshold(self, spark):
        from graphit_spark.kernels import approximate_ppr_push
        from graphit_spark.kernels.pprpush import (
            PUSH_EPS_UNITS,
            PUSH_SCALE,
        )

        edges = _rand_graph(80, 400, 11)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = approximate_ppr_push(g, 0, max_rounds=50).collect()
        # Integer mass is conserved exactly: gains move r->p, pushes
        # move r between vertices, floor remainders stay put.
        assert sum(r["ppr_units"] + r["r_units"] for r in rows) == PUSH_SCALE
        # 50 rounds is far beyond convergence on 80 vertices: every
        # touched vertex with degree > 0 is below the push threshold.
        deg = {r["id"]: r["out_degree"]
               for r in g.symmetrize().out_degrees().collect()}
        for r in rows:
            if deg.get(r["id"], 0) > 0:
                assert r["r_units"] <= PUSH_EPS_UNITS * deg[r["id"]]
        # touched set is sparse state: every kept row holds mass
        assert all(r["r_units"] >= 1 for r in rows)

    def test_isolated_source_keeps_all_mass(self, spark):
        from graphit_spark.kernels import approximate_ppr_push
        from graphit_spark.kernels.pprpush import PUSH_SCALE

        # vertex 5 exists (universe max id 5) but has no sym edges
        g = LinkGraph.from_pairs(spark, [(0, 1), (5, 5)], persist=False)
        rows = approximate_ppr_push(g, 5, max_rounds=4).collect()
        assert len(rows) == 1
        assert rows[0]["id"] == 5 and rows[0]["r_units"] == PUSH_SCALE

    def test_touched_set_is_local(self, spark):
        from graphit_spark.kernels import approximate_ppr_push

        # two far-apart components: pushing from one never touches the other
        edges = [(i, i + 1) for i in range(20)]
        edges += [(100 + i, 100 + i + 1) for i in range(20)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        ids = {r["id"] for r in
               approximate_ppr_push(g, 0, max_rounds=30).collect()}
        assert ids and all(i < 100 for i in ids)


class TestSpectralPartition:
    def test_hierarchical_cliques(self, spark):
        from graphit_spark.kernels import spectral_partition

        # Hierarchical structure so each recursion level has a STRONG
        # eigengap (a power method separates modes at a rate set by the
        # lambda_2/lambda_3 gap — a chain/ring of equal cliques has two
        # comparably small eigenvalues and needs rounds ~ 1/gap, which
        # no fixed budget covers): cliques A-B and C-D are coupled by
        # 4 bridges each (one tight pair per side), the two pairs by a
        # single bridge. Level 1 must cut the single bridge
        # ({A,B} vs {C,D}); level 2 splits each pair.
        # contiguous ids: gap ids would be isolated vertices, i.e.
        # extra zero-eigenvalue components that the iteration correctly
        # treats as the best (zero-conductance) cut — see docstring
        edges = []
        for c in range(4):
            base = 6 * c
            for a in range(6):
                for b in range(6):
                    if a != b:
                        edges.append((base + a, base + b))
        for i in range(4):  # A-B and C-D: 4 bridges each
            edges.append((0 + i, 6 + i))
            edges.append((12 + i, 18 + i))
        edges.append((11, 13))  # the single inter-pair bridge
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = spectral_partition(g, levels=2, rounds=30).collect()
        part = {r["id"]: r["part"] for r in rows}
        clique_parts = []
        for c in range(4):
            ps = {part[6 * c + i] for i in range(6)}
            assert len(ps) == 1, f"clique {c} split across parts {ps}"
            clique_parts.append(ps.pop())
        assert len(set(clique_parts)) == 4  # all four separated
        assert all(0 <= p < 4 for p in clique_parts)
        # level-1 bit respects the pair structure: A with B, C with D
        assert clique_parts[0] // 2 == clique_parts[1] // 2
        assert clique_parts[2] // 2 == clique_parts[3] // 2
        assert clique_parts[0] // 2 != clique_parts[2] // 2


class TestLabelSpreading:
    def test_two_cliques_two_classes(self, spark):
        from graphit_spark.kernels import label_spreading

        # two 5-cliques bridged by one edge (majority votes inside a
        # clique are decisive — a degree-2 path would tie 1-1 at every
        # frontier and the min-label tie-break would walk label 7
        # across it, which is correct but tests nothing); plus an
        # unreached isolated pair 10-11.
        edges = [(10, 11)]
        for a in range(5):
            for b in range(5):
                if a != b:
                    edges.append((a, b))
                    edges.append((20 + a, 20 + b))
        edges.append((0, 20))
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        seeds = spark.createDataFrame(
            [(1, 7), (21, 9)], "id long, label long"
        )
        got = {r["id"]: r["label"]
               for r in label_spreading(g, seeds, rounds=6).collect()}
        assert got[1] == 7 and got[21] == 9  # clamped
        assert all(got[i] == 7 for i in range(5))
        assert all(got[20 + i] == 9 for i in range(5))
        assert got[10] is None and got[11] is None  # unreached

    def test_seed_clamped_when_outvoted(self, spark):
        from graphit_spark.kernels import label_spreading

        # star: center 0 seeded class 5; all leaves seeded class 2.
        # center must stay 5 despite unanimous neighbor votes for 2.
        edges = [(0, i) for i in range(1, 6)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        seeds = spark.createDataFrame(
            [(0, 5)] + [(i, 2) for i in range(1, 6)],
            "id long, label long",
        )
        got = {r["id"]: r["label"]
               for r in label_spreading(g, seeds, rounds=4).collect()}
        assert got[0] == 5
        assert all(got[i] == 2 for i in range(1, 6))


class TestWlRefinement:
    def test_structural_classes_on_star_and_path(self, spark):
        from graphit_spark.kernels import wl_refinement

        # star 0-(1..5)  +  path 10-11-12-13-14
        edges = [(0, i) for i in range(1, 6)]
        edges += [(10 + i, 11 + i) for i in range(4)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        col = {r["id"]: r["color"]
               for r in wl_refinement(g, rounds=3).collect()}
        # leaves of the star are mutually indistinguishable
        assert len({col[i] for i in range(1, 6)}) == 1
        # center differs from leaves
        assert col[0] != col[1]
        # path: endpoints equal, first-interior equal, middle unique
        assert col[10] == col[14] and col[11] == col[13]
        assert col[12] not in (col[10], col[11])
        # star classes differ from path classes
        assert {col[0], col[1]}.isdisjoint(
            {col[10], col[11], col[12]})

    def test_isomorphic_components_same_multiset(self, spark):
        from graphit_spark.kernels import wl_refinement

        # two disjoint copies of the same 6-cycle with chord
        def copy(base):
            e = [(base + i, base + (i + 1) % 6) for i in range(6)]
            e.append((base + 0, base + 3))
            return e

        g = LinkGraph.from_pairs(spark, copy(0) + copy(6), persist=False)
        col = {r["id"]: r["color"]
               for r in wl_refinement(g, rounds=3).collect()}
        a = sorted(col[i] for i in range(6))
        b = sorted(col[6 + i] for i in range(6))
        assert a == b


class TestEdgeBetweenness:
    def test_path_credits_by_hand(self, spark):
        from graphit_spark.kernels.bc import edge_betweenness

        g = LinkGraph.from_pairs(spark, [(0, 1), (1, 2), (2, 3)],
                                 persist=False)
        got = {(r["src"], r["dst"]): r["credit"]
               for r in edge_betweenness(g, 0).collect()}
        # Brandes credits on a path: edge (v,w) carries 1 + delta_w
        assert got == {(0, 1): 3.0, (1, 2): 2.0, (2, 3): 1.0}

    def test_credits_sum_to_vertex_delta(self, spark):
        from graphit_spark.kernels.bc import (
            betweenness_centrality,
            edge_betweenness,
        )

        edges = _rand_graph(40, 160, 5)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        bc = {r["id"]: r["bc"]
              for r in betweenness_centrality(g, 0).collect()}
        by_src = {}
        for r in edge_betweenness(g, 0).collect():
            by_src[r["src"]] = by_src.get(r["src"], 0.0) + r["credit"]
        # delta_v == sum of credits over v's DAG out-edges (Brandes)
        for v, s in by_src.items():
            if v != 0:
                assert abs(s - bc[v]) < 1e-9, (v, s, bc[v])


class TestButterflyCount:
    def test_hand_counted(self, spark):
        # sources 10, 11 cite {0,1}; source 12 cites {0,1,2}:
        # wedges = 1 + 1 + 3; pairs (0,1)x3 (0,2)x1 (1,2)x1;
        # butterflies = C(3,2) = 3 (all on the (0,1) pair)
        from graphit_spark.kernels import butterfly_count

        edges = [(10, 0), (10, 1), (11, 0), (11, 1),
                 (12, 0), (12, 1), (12, 2)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        row = butterfly_count(g).first()
        assert (row["wedges"], row["cocited_pairs"], row["butterflies"]) \
            == (5, 3, 3)

    def test_degree_cap_cuts_hub_before_explode(self, spark):
        from graphit_spark.kernels import butterfly_count

        edges = [(10, 0), (10, 1), (11, 0), (11, 1),
                 (12, 0), (12, 1), (12, 2)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        row = butterfly_count(g, max_degree=2).first()
        assert (row["wedges"], row["cocited_pairs"], row["butterflies"]) \
            == (2, 1, 1)

    def test_no_pairs_graph(self, spark):
        # every source has out-degree 1: zero wedges, zero butterflies
        from graphit_spark.kernels import butterfly_count

        g = LinkGraph.from_pairs(spark, [(0, 1), (2, 3)], persist=False)
        row = butterfly_count(g).first()
        assert (row["wedges"], row["cocited_pairs"], row["butterflies"]) \
            == (0, 0, 0)


class TestDensestSubgraph:
    def test_peel_finds_clique_core(self, spark):
        # K6 (density 2.5) + 30-vertex path tail attached at vertex 5:
        # round 0 density 45/36 = 1.25 -> threshold 3.75 peels the path,
        # round 1 is K6 alone (density 2.5) and wins
        from graphit_spark.kernels import densest_subgraph

        edges = [(i, j) for i in range(6) for j in range(i + 1, 6)]
        edges += [(5, 6)] + [(v, v + 1) for v in range(6, 35)]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = densest_subgraph(g).collect()
        assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4, 5]
        assert all(r["best_round"] == 1 for r in rows)
        assert all(r["density"] == 2.5 for r in rows)

    def test_uniform_graph_keeps_round_zero(self, spark):
        # a single triangle: round 0 density 1.0, threshold 3 peels all
        # -> best stays the full graph at round 0
        from graphit_spark.kernels import densest_subgraph

        g = LinkGraph.from_pairs(
            spark, [(0, 1), (1, 2), (2, 0)], persist=False
        )
        rows = densest_subgraph(g).collect()
        assert sorted(r["id"] for r in rows) == [0, 1, 2]
        assert all(r["best_round"] == 0 for r in rows)
        assert all(r["density"] == 1.0 for r in rows)


def _butterfly_brute(edges):
    from collections import defaultdict
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
    pair = defaultdict(int)
    wedges = 0
    for s, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                pair[(ns[i], ns[j])] += 1
                wedges += 1
    bf = sum(c * (c - 1) // 2 for c in pair.values())
    return wedges, len(pair), bf


def _densest_brute(edges, rounds=20):
    und = set()
    verts = set()
    for s, d in edges:
        verts.add(s)
        verts.add(d)
        if s != d:
            und.add((min(s, d), max(s, d)))
    verts = set(range(max(verts) + 1)) if verts else set()
    best = None  # (r, n, m, vertset)
    keep = set(verts)
    for r in range(rounds + 1):
        sub = {(a, b) for a, b in und if a in keep and b in keep}
        n, m = len(keep), len(sub)
        if n == 0:
            break
        if best is None or m * best[1] > best[2] * n:
            best = (r, n, m, set(keep))
        if r == rounds or m == 0:
            break
        deg = {v: 0 for v in keep}
        for a, b in sub:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v in keep if deg[v] * n > 3 * m}
    return best


class TestNewKernelsVsBruteForce:
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_butterfly_random(self, spark, seed):
        from graphit_spark.kernels import butterfly_count

        edges = _rand_graph(25, 120, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        row = butterfly_count(g).first()
        assert (
            row["wedges"], row["cocited_pairs"], row["butterflies"]
        ) == _butterfly_brute(edges)

    @pytest.mark.parametrize("seed", [4, 5])
    def test_densest_random(self, spark, seed):
        from graphit_spark.kernels import densest_subgraph

        edges = _rand_graph(40, 200, seed)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = densest_subgraph(g).collect()
        r, n, m, vs = _densest_brute(edges)
        assert sorted(row["id"] for row in rows) == sorted(vs)
        assert all(row["best_round"] == r for row in rows)
        assert all(row["density"] == round(m / n, 6) for row in rows)


class TestSampleFanout:
    def test_fanout_counts_and_node_level_sharing(self, spark):
        from graphit_spark.kernels import sample_fanout

        # complete-ish digraph: 0..5 each link to all others
        edges = [(i, j) for i in range(6) for j in range(6) if i != j]
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        seeds = g.vertices().filter(F.col("id") < 2)
        rows = sample_fanout(g, seeds, fanout1=3, fanout2=2).collect()
        hop1 = [r for r in rows if r["hop"] == 1]
        hop2 = [r for r in rows if r["hop"] == 2]
        # every root draws exactly fanout1 hop-1 samples
        from collections import Counter
        c1 = Counter(r["root"] for r in hop1)
        assert c1 == {0: 3, 1: 3}
        # each sampled mid contributes exactly fanout2 hop-2 rows per root
        c2 = Counter((r["root"], r["src"]) for r in hop2)
        assert all(v == 2 for v in c2.values())
        assert len(c2) == 6  # 2 roots x 3 mids
        # node-level sharing: a mid sampled by BOTH roots yields the
        # SAME dst pair for each (layer-wise GraphSAGE scheme)
        by_mid = {}
        for r in hop2:
            by_mid.setdefault(r["src"], set()).add((r["root"], r["dst"]))
        for mid, pairs in by_mid.items():
            dsts = {}
            for root, dst in pairs:
                dsts.setdefault(root, set()).add(dst)
            vals = list(dsts.values())
            assert all(v == vals[0] for v in vals)

    def test_determinism_across_runs(self, spark):
        from graphit_spark.kernels import sample_fanout

        edges = _rand_graph(30, 200, 9)
        g = LinkGraph.from_pairs(spark, edges, persist=False)
        seeds = g.vertices().filter(F.col("id") % 5 == 0)
        a = sorted(map(tuple, sample_fanout(g, seeds).collect()))
        b = sorted(map(tuple, sample_fanout(g, seeds).collect()))
        assert a == b and len(a) > 0

    def test_empty_graph(self, spark):
        from graphit_spark import LinkGraph
        from graphit_spark.kernels import butterfly_count, densest_subgraph

        g = LinkGraph(
            spark.createDataFrame([], "src long, dst long"), persist=False
        )
        assert densest_subgraph(g).count() == 0
        row = butterfly_count(g).first()
        assert (row["wedges"], row["cocited_pairs"], row["butterflies"]) \
            == (0, 0, 0)


class TestBridges:
    @staticmethod
    def _brute_bridges(edges):
        """Oracle: edge {u,v} is a bridge iff removing it disconnects
        u from v (BFS per candidate edge)."""
        und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        out = []
        for u, v in und:
            seen, stack = {u}, [u]
            while stack:
                x = stack.pop()
                for y in adj[x]:
                    if (min(x, y), max(x, y)) == (u, v):
                        continue
                    if y not in seen:
                        seen.add(y)
                        stack.append(y)
            if v not in seen:
                out.append((u, v))
        return sorted(out)

    def _run(self, spark, edges):
        from graphit_spark.kernels import bridges

        g = LinkGraph.from_pairs(spark, edges, persist=False)
        got = sorted(
            (r["u"], r["v"]) for r in bridges(g).collect()
        )
        assert got == self._brute_bridges(edges)

    def test_path_and_cycle(self, spark):
        # path 0-1-2-3 (all bridges) + cycle 4-5-6-4 (none) + the
        # connector 3-4 (bridge)
        self._run(
            spark,
            [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 4)],
        )

    def test_random_graphs(self, spark):
        import random

        for seed in (1, 2):
            rng = random.Random(seed)
            edges = [
                (rng.randrange(25), rng.randrange(25)) for _ in range(45)
            ]
            self._run(spark, edges)

    def test_weighted_graph_same_answer(self, spark):
        """Weights are irrelevant to 2-edge-connectivity; the kernel
        must ignore them rather than require or misuse them."""
        from graphit_spark.kernels import bridges

        edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
        wedges = [(a, b, 1 + (a + b) % 7) for a, b in edges]
        g = LinkGraph.from_pairs(spark, wedges, persist=False)
        got = sorted((r["u"], r["v"]) for r in bridges(g).collect())
        assert got == [(2, 3)]


class TestBiconnected:
    @staticmethod
    def _brute(edges):
        """Oracle: biconnected components via Hopcroft-Tarjan (iterative
        DFS with an edge stack), articulation points via the child
        low-link rule; returns ({frozenset of edges per comp},
        {articulation vertices})."""
        und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
        adj = {}
        for a, b in und:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        disc, low = {}, {}
        comps, arts = [], set()
        counter = [0]
        for start in sorted(adj):
            if start in disc:
                continue
            stack = [(start, None, iter(sorted(adj[start])))]
            estack = []
            disc[start] = low[start] = counter[0]
            counter[0] += 1
            root_children = 0
            while stack:
                v, par, it = stack[-1]
                advanced = False
                for w in it:
                    if w == par and (v, par) not in [None]:
                        # skip ONE edge back to parent (simple graph)
                        par = None  # consume the single parent edge
                        continue
                    if w not in disc:
                        estack.append((min(v, w), max(v, w)))
                        disc[w] = low[w] = counter[0]
                        counter[0] += 1
                        if v == start:
                            root_children += 1
                        stack[-1] = (v, par, it)
                        stack.append((w, v, iter(sorted(adj[w]))))
                        advanced = True
                        break
                    elif disc[w] < disc[v]:
                        estack.append((min(v, w), max(v, w)))
                        low[v] = min(low[v], disc[w])
                if advanced:
                    continue
                stack.pop()
                if stack:
                    u = stack[-1][0]
                    low[u] = min(low[u], low[v])
                    if low[v] >= disc[u]:
                        comp = set()
                        while estack:
                            e = estack.pop()
                            comp.add(e)
                            if e == (min(u, v), max(u, v)):
                                break
                        comps.append(frozenset(comp))
                        if u != start:
                            arts.add(u)
            if root_children >= 2:
                arts.add(start)
        return set(comps), arts

    def _run(self, spark, edges):
        from graphit_spark.kernels import (
            articulation_points,
            biconnected_components,
            bridges,
        )

        g = LinkGraph.from_pairs(spark, edges, persist=False)
        rows = biconnected_components(g).collect()
        groups = {}
        for r in rows:
            groups.setdefault(r["comp"], set()).add((r["u"], r["v"]))
        got_comps = set(frozenset(s) for s in groups.values())
        want_comps, want_arts = self._brute(edges)
        assert got_comps == want_comps
        got_arts = sorted(
            r["id"] for r in articulation_points(g).collect()
        )
        assert got_arts == sorted(want_arts)
        # bridges kernel cross-check: bridges == singleton classes
        got_bridges = sorted(
            (r["u"], r["v"]) for r in bridges(g).collect()
        )
        singletons = sorted(
            next(iter(s)) for s in got_comps if len(s) == 1
        )
        assert got_bridges == singletons

    def test_textbook(self, spark):
        # two cycles sharing articulation 3, plus a pendant path
        self._run(
            spark,
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3),
             (5, 6), (6, 7)],
        )

    def test_random_graphs(self, spark):
        import random

        for seed in (3, 4):
            rng = random.Random(seed)
            edges = [
                (rng.randrange(22), rng.randrange(22)) for _ in range(36)
            ]
            self._run(spark, edges)


class TestEkeyDomainGuard:
    def test_biconnected_raises_beyond_packing_domain(self, spark):
        """Vertex ids >= 2^31 would silently collide inside the packed
        canonical edge key — the kernel must raise, not corrupt."""
        from graphit_spark.kernels.bridges import biconnected_components

        big = 1 << 31
        g = LinkGraph(
            spark.createDataFrame(
                [(0, big), (big, 0)], "src long, dst long"
            ),
            persist=False,
        )
        with pytest.raises(ValueError, match="2\\^31"):
            biconnected_components(g)
