"""One materializing job per superstep, owned by one driver.

PageRank's L1 error, CC's frontier size and degree sum, and a snapshot's
manifest ride the job that materializes the round (``observe``), so a
round launches no count or collect of its own. These tests pin that job
shape, that reading observed metrics never waits forever, the round
budget and release contract of ``plans.state.superstep``, that no
kernel on the driver and no corpus function leaves cached blocks behind
once its result is released, nor a kernel whose budget runs out once it
raises, and, package-wide, that round loops run on the driver, that
releases target frames that can release, and that no kernel releases
its graph."""

import random
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from graphit_spark import LinkGraph, SnapshotStore
from graphit_spark import kernels as K
from graphit_spark.kernels import connected_components, label_propagation, pagerank
from graphit_spark.kernels.bc import edge_betweenness
from graphit_spark.kernels.scc import condensation_layers
from graphit_spark.functions import dedup as D
from graphit_spark.functions import sampling as SA
from graphit_spark.functions import similarity as S
from graphit_spark.functions import textops as T
from graphit_spark.plans.state import fresh_checkpoint, observe

# a driver round trip started from a kernel or store call site
_ROUND_TRIP = re.compile(
    r"^(collect|count|first|take|head) at \S*(pagerank|components|checkpoint)\.py:\d+$"
)

# Jobs per round, graph build included, measured on local[8] with 8
# shuffle partitions (most are the shuffle stages adaptive execution
# submits as jobs of their own). Durable PageRank, 10 rounds on
# _edges(): 5.0 (50 jobs); with a follow-up error collect and a manifest
# count per round it was 11.0. CC on the chain graph below: 12.3 (37
# jobs, 3 rounds) with one gather and one jump materialization per
# round; it was 19.0 with four, and 23.3 with frontier counts.
PR_JOBS_PER_ROUND = 6.0
CC_JOBS_PER_ROUND = 13.0
# LPA, 5 rounds on _edges() and a collect of the labels: 8.0 (40 jobs)
# before the superstep driver, measured the same way.
LPA_JOBS_PER_ROUND = 8.0


def _edges():
    rng = random.Random(17)
    return [(rng.randrange(60), rng.randrange(60)) for _ in range(250)]


def _job_names(spark, group: str, fn) -> list[str]:
    """Names ("<action> at <file>:<line>") of the jobs ``fn`` ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return [store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)]


@pytest.fixture
def named_counts(monkeypatch):
    """``DataFrame.count()`` jobs named after their Python call site,
    "count at <file>:<line>", as PySpark already names ``collect`` and
    ``take`` jobs (its ``count`` leaves the name to the JVM)."""
    from pyspark.sql.classic.dataframe import DataFrame

    count = DataFrame.count

    def named(self):
        caller = sys._getframe(1)
        jsc = self.sparkSession.sparkContext._jsc
        jsc.setCallSite(
            f"count at {caller.f_code.co_filename}:{caller.f_lineno}"
        )
        try:
            return count(self)
        finally:
            jsc.setCallSite(None)

    monkeypatch.setattr(DataFrame, "count", named)


def test_durable_pagerank_has_no_round_trips(spark, tmp_path, named_counts):
    """No follow-up action per round, and the run leaves block-manager
    storage at its level before (the starting checkpoint is released)."""
    sc = spark.sparkContext

    def cached_ids():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    g = LinkGraph.from_pairs(spark, _edges(), persist=False)
    before = cached_ids()
    store = SnapshotStore(str(tmp_path), "pr")
    m: dict = {}
    names = _job_names(
        spark, "pr-durable-jobs",
        lambda: pagerank(g, tol=1e-12, max_iters=10, store=store, metrics_out=m),
    )
    assert m["iterations"] == 10 and m["final_err"] > 0
    assert not [n for n in names if _ROUND_TRIP.match(n)], names
    assert len(names) <= PR_JOBS_PER_ROUND * m["iterations"], (len(names), names)
    assert cached_ids() <= before


def test_cc_has_no_round_trips(spark, named_counts):
    # a chain keeps CC going for several sparse and dense rounds
    edges = [(v, v + 1) for v in range(40)] + _edges()
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    m: dict = {}
    names = _job_names(
        spark, "cc-jobs",
        lambda: connected_components(g, metrics_out=m),
    )
    assert m["final_frontier"] == 0
    assert m["iterations"] == 3
    assert not [n for n in names if _ROUND_TRIP.match(n)], names
    assert len(names) <= CC_JOBS_PER_ROUND * m["iterations"], (len(names), names)


def test_lpa_jobs_per_round(spark):
    g = LinkGraph.from_pairs(spark, _edges(), persist=False)
    rounds = 5
    names = _job_names(
        spark, "lpa-jobs",
        lambda: label_propagation(g, rounds=rounds).collect(),
    )
    assert len(names) <= LPA_JOBS_PER_ROUND * rounds, (len(names), names)


def _finishes(fn, seconds: float = 120.0):
    """Run ``fn`` in a daemon thread; fail if it has not returned in time."""
    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except Exception as e:  # re-raised in the test thread below
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"did not finish within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.mark.parametrize(
    "edges", [[(0, 1)], [(0, 1), (0, 2), (3, 2)]], ids=["one_edge", "into_sinks"]
)
def test_smallest_graphs_finish(spark, tmp_path, edges):
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    n = g.num_vertices
    m: dict = {}
    store = SnapshotStore(str(tmp_path), "pr")
    ranks = _finishes(lambda: pagerank(
        g, tol=1e-9, max_iters=50, store=store, metrics_out=m
    ).collect())
    assert len(ranks) == n and m["final_err"] <= 1e-9
    mem = _finishes(lambda: pagerank(g, tol=1e-9, max_iters=50).collect())
    assert len(mem) == n
    labels = _finishes(lambda: connected_components(g).collect())
    comps = {r["id"]: r["comp"] for r in labels}
    assert comps == {v: 0 for v in range(n)}


def test_observed_reads_never_block(spark):
    df, seen = observe(
        spark.range(5).filter("id > 10"),
        rows=F.count(F.lit(1)),
        total=F.sum("id"),
    )
    with pytest.raises(RuntimeError, match="not been materialized"):
        seen["rows"]
    df.transform(fresh_checkpoint)
    # a sum over no rows reads as 0, not None
    assert dict(seen) == {"rows": 0, "total": 0}


def _cached_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _counter(spark):
    """(id, v) with v = 0, checkpointed: a driver's starting state."""
    return spark.range(6).select("id", F.lit(0).alias("v")).transform(
        fresh_checkpoint
    )


def _bump(cap):
    """A step: v <- min(v + 1, cap), keeping the old value for the change
    count; it changes every row until v reaches ``cap``."""
    def step(state, rnd):
        return state.select(
            "id", F.least(F.col("v") + 1, F.lit(cap)).alias("v"),
            F.col("v").alias("old"),
        )
    return step


def _changed():
    return F.col("v") != F.col("old")


def test_rounds_runs_exactly_n_and_never_raises(spark):
    from graphit_spark.plans.state import superstep

    log: list = []
    out = superstep(_counter(spark), _bump(100), rounds=3,
                    changed=_changed(), log=log)
    assert [s["changed"] for s in log] == [6, 6, 6]
    assert {r["v"] for r in out.collect()} == {3}
    out.unpersist()
    # a resumed run counts its rounds from `start`
    log = []
    superstep(_counter(spark), _bump(100), rounds=3, start=1,
              changed=_changed(), log=log).unpersist()
    assert len(log) == 2


def test_rounds_stops_early_on_zero_changes(spark):
    from graphit_spark.plans.state import superstep

    log: list = []
    out = superstep(_counter(spark), _bump(2), rounds=10,
                    changed=_changed(), log=log)
    assert [s["changed"] for s in log] == [6, 6, 0]
    assert {r["v"] for r in out.collect()} == {2}
    out.unpersist()


def test_max_rounds_raises_with_changes_pending(spark):
    from graphit_spark.plans.state import superstep

    before = _cached_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        superstep(_counter(spark), _bump(100), max_rounds=3,
                  changed=_changed())
    assert _cached_ids(spark) <= before
    log: list = []
    superstep(_counter(spark), _bump(2), max_rounds=3, changed=_changed(),
              log=log).unpersist()
    assert len(log) == 3
    with pytest.raises(TypeError):
        superstep(_counter(spark), _bump(2), max_rounds=3)


def test_max_rounds_without_a_round_raises(spark):
    """A fixpoint budget that runs no round has not tested its stop
    rule: it raises rather than return the start state, and releases
    that state's checkpoint."""
    from graphit_spark.plans.state import superstep

    before = _cached_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        superstep(_counter(spark), _bump(2), max_rounds=0,
                  changed=_changed())
    assert _cached_ids(spark) <= before


def test_superseded_and_round_checkpoints_are_released(spark):
    from graphit_spark.plans.state import superstep

    before = _cached_ids(spark)
    seen_ids: list[set[int]] = []

    def step(state, rnd):
        # an intermediate read twice within the round
        mid = rnd.checkpoint(state.select("id", (F.col("v") + 1).alias("v")))
        seen_ids.append(_cached_ids(spark) - before)
        return mid.join(mid.select("id", F.col("v").alias("w")), "id").select(
            "id", "v"
        )

    out = superstep(_counter(spark), step, rounds=4)
    # within a round: the live state and the round checkpoint, never more
    assert all(len(ids) == 2 for ids in seen_ids), seen_ids
    # after the run: only the returned state
    assert len(_cached_ids(spark) - before) == 1
    assert {r["v"] for r in out.collect()} == {4}
    out.unpersist()
    assert _cached_ids(spark) <= before


@pytest.fixture(scope="module")
def leak_graphs(spark):
    """(unweighted, weighted): two 3-cycles joined by a bridge, a tail
    and an isolated vertex; built once, each kernel caches and releases
    them itself."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3),
             (5, 6), (6, 7), (0, 8), (9, 9)]
    weighted = [(s, d, 1 + (s + d) % 3) for s, d in edges]
    return tuple(
        LinkGraph.from_pairs(spark, e, persist=False) for e in (edges, weighted)
    )


_MIGRATED = {
    "pagerank": lambda g, w: K.pagerank(g, max_iters=2),
    "weighted_pagerank": lambda g, w: K.weighted_pagerank(w, max_iters=2),
    "personalized_pagerank":
        lambda g, w: K.personalized_pagerank(g, 0, max_iters=2),
    "trustrank": lambda g, w: K.trustrank(w, [0, 3], max_iters=2),
    "pagerank_delta": lambda g, w: K.pagerank_delta(g, max_iters=2),
    "personalized_pagerank_batch":
        lambda g, w: K.personalized_pagerank_batch(g, [0, 3], max_iters=2),
    "connected_components": lambda g, w: K.connected_components(g),
    "label_propagation": lambda g, w: K.label_propagation(g, rounds=2),
    "weighted_label_propagation":
        lambda g, w: K.weighted_label_propagation(w, rounds=2),
    "label_spreading": lambda g, w: K.label_spreading(
        g, g.spark.createDataFrame([(0, 1), (7, 2)], "id long, label long"),
        rounds=2,
    ),
    "eigenvector_centrality":
        lambda g, w: K.eigenvector_centrality(g, rounds=2),
    "katz_centrality": lambda g, w: K.katz_centrality(g, rounds=2),
    "fused_pr_eigenvector":
        lambda g, w: K.fused_pr_eigenvector(g, rounds=2),
    "fused_trust_spam": lambda g, w: K.fused_trust_spam(w, [0], rounds=2),
    "hits": lambda g, w: K.hits(g, rounds=2),
    "salsa": lambda g, w: K.salsa(g, rounds=2),
    "wl_refinement": lambda g, w: K.wl_refinement(g, rounds=2),
    "spectral_bisection": lambda g, w: K.spectral_bisection(g, rounds=2),
    "spectral_partition":
        lambda g, w: K.spectral_partition(g, levels=1, rounds=2),
    "simrank": lambda g, w: K.simrank(g, rounds=2),
    "hyperball_harmonic":
        lambda g, w: K.hyperball_harmonic(g, p=2, rounds=2),
    "neighborhood_function":
        lambda g, w: K.neighborhood_function(g, p=2, rounds=2),
    "bfs": lambda g, w: K.bfs(g, 0),
    "sssp": lambda g, w: K.sssp(w, 0),
    "condensation_layers": lambda g, w: condensation_layers(g),
    "bowtie_classes": lambda g, w: K.bowtie_classes(g),
    # fixpoints under a max_rounds= safety net run to convergence;
    # fixed-iteration kernels get 2 rounds
    "maximal_independent_set": lambda g, w: K.maximal_independent_set(g),
    "greedy_coloring": lambda g, w: K.greedy_coloring(g),
    "maximal_matching": lambda g, w: K.maximal_matching(g),
    "k_core": lambda g, w: K.k_core(g, 2),
    "core_decomposition": lambda g, w: K.core_decomposition(g),
    "minimum_spanning_forest": lambda g, w: K.minimum_spanning_forest(w),
    "sssp_delta_stepping":
        lambda g, w: K.sssp_delta_stepping(w, 0, max_rounds=2),
    "landmark_distances":
        lambda g, w: K.landmark_distances(g, 2, max_iters=2),
    "astar": lambda g, w: K.astar(w, 0, 4),
    "approximate_ppr_push":
        lambda g, w: K.approximate_ppr_push(g, 0, max_rounds=2),
    "bridges": lambda g, w: K.bridges(g),
    "biconnected_components": lambda g, w: K.biconnected_components(g),
    "articulation_points": lambda g, w: K.articulation_points(g),
    "betweenness_centrality": lambda g, w: K.betweenness_centrality(g, 0),
    "edge_betweenness": lambda g, w: edge_betweenness(g, 0),
    "resolve_redirects": lambda g, w: K.resolve_redirects(g.edges),
    "densest_subgraph": lambda g, w: K.densest_subgraph(g, max_rounds=2),
    "ego_subgraph": lambda g, w: K.ego_subgraph(g, [0], hops=2),
    "set_cover": lambda g, w: K.set_cover(g),
    "influence_max": lambda g, w: K.influence_max(g, k=2),
    "triangle_count": lambda g, w: K.triangle_count(g),
    "scan_statistics": lambda g, w: K.scan_statistics(g),
    "random_walks": lambda g, w: K.random_walks(g, 2),
    "weighted_random_walks": lambda g, w: K.weighted_random_walks(w, 2),
    "node2vec_walks": lambda g, w: K.node2vec_walks(g, 2),
    "node2vec_walks_alias": lambda g, w: K.node2vec_walks_alias(g, 2),
    "random_walks_alias": lambda g, w: K.random_walks_alias(w, 2),
    "montecarlo_pagerank":
        lambda g, w: K.montecarlo_pagerank(g, walk_len=2),
    "louvain_move": lambda g, w: K.louvain_move(g, rounds=2),
    "louvain_communities":
        lambda g, w: K.louvain_communities(g, rounds_per_level=2),
    "collaborative_filtering":
        lambda g, w: K.collaborative_filtering(w, iters=2),
    "k_truss": lambda g, w: K.k_truss(g, 3),
    "strongly_connected_components":
        lambda g, w: K.strongly_connected_components(g),
}


@pytest.mark.parametrize("name", sorted(_MIGRATED))
def test_kernel_leaves_no_cached_blocks(spark, leak_graphs, name):
    """After the call and the release of its result, block-manager
    storage holds the RDDs it held before: superseded states, round
    intermediates, per-round outputs and the final state are all really
    released."""
    g, w = leak_graphs
    before = _cached_ids(spark)
    out = _MIGRATED[name](g, w)
    assert out.count() > 0
    out.unpersist()
    assert _cached_ids(spark) <= before, name


# a budget each kernel runs out of on the leak fixture
_RAISING = {
    "k_core": lambda g, w: K.k_core(g, 2, max_rounds=1),
    "bridges": lambda g, w: K.bridges(g, max_rounds=1),
    "biconnected_components":
        lambda g, w: K.biconnected_components(g, max_rounds=1),
    "articulation_points":
        lambda g, w: K.articulation_points(g, max_rounds=1),
    "strongly_connected_components":
        lambda g, w: K.strongly_connected_components(g, max_prop=1),
    "condensation_layers": lambda g, w: condensation_layers(g, max_rounds=1),
    "core_decomposition": lambda g, w: K.core_decomposition(g, max_rounds=1),
    "set_cover": lambda g, w: K.set_cover(g, max_rounds=1),
    "astar": lambda g, w: K.astar(w, 0, 4, max_rounds=1),
    "betweenness_centrality":
        lambda g, w: K.betweenness_centrality(g, 0, max_levels=1),
}


@pytest.mark.parametrize("name", sorted(_RAISING))
def test_kernel_releases_on_raise(spark, leak_graphs, name):
    """A kernel whose round budget runs out raises, and leaves the
    block-manager storage as it found it: the graph cache it held, the
    driver's state and round frames, and the frames it made before the
    driver started are all released on the raise path."""
    g, w = leak_graphs
    before = _cached_ids(spark)
    with pytest.raises(RuntimeError):
        _RAISING[name](g, w)
    assert _cached_ids(spark) <= before, name


def _graph_names(fn) -> set[str]:
    """The names a function binds to a graph: its ``LinkGraph``
    parameters, and names assigned from their ``symmetrize()`` or
    ``transpose()`` (either branch of a conditional expression)."""
    import ast

    names = {
        a.arg
        for a in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
        if a.annotation is not None and "LinkGraph" in ast.unparse(a.annotation)
    }

    def is_graph(node) -> bool:
        if isinstance(node, ast.Name):
            return node.id in names
        if isinstance(node, ast.IfExp):
            return is_graph(node.body) or is_graph(node.orelse)
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) in ("symmetrize", "transpose")
            and is_graph(node.func.value)
        )

    for node in ast.walk(fn):  # assignments in source order
        if isinstance(node, ast.Assign) and is_graph(node.value):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return names


def test_no_kernel_releases_its_graph():
    """A kernel holds the cache of the graph it traverses in a
    ``LinkGraph.persisted()`` block, which releases exactly what it
    persisted, on return and on raise: no function under ``kernels/``
    calls ``unpersist()`` on a graph parameter or on that parameter's
    ``symmetrize()``/``transpose()``."""
    import ast

    found = []
    for rel, tree in _package_modules():
        if not rel.startswith("kernels/"):
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            graphs = _graph_names(fn)
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "unpersist"
                    and getattr(node.func.value, "id", None) in graphs
                ):
                    found.append(f"{rel}:{node.lineno}")
    assert not found, sorted(set(found))


@pytest.fixture(scope="session")
def leak_corpus(spark):
    """(documents, embeddings, token counts): tiny local frames for the
    corpus and vector functions, built once per session."""
    from graphit_spark.graph import local_frame

    rng = random.Random(5)
    words = "the cat sat on a mat with another cat that sat there".split()
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(15))
         + (" shared licence text appears here verbatim" if i % 3 == 0
            else ""))
        for i in range(12)
    ]
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)]
    return (
        local_frame(spark, docs, "doc_id long, text string"),
        local_frame(spark, vecs, "vec_id long, embedding array<float>"),
        local_frame(spark, [(i, 10 + i % 7) for i in range(30)],
                    "doc_id long, n_tokens long"),
    )


_CORPUS = {
    "mmr_topk": lambda d, e, t: S.mmr_topk(e, e.filter("vec_id < 5"),
                                           k=6, m=4),
    # returns driver lists: nothing for the caller to release
    "top_pc_direction": lambda d, e, t: S.top_pc_direction(e, rounds=2),
    "bpe_tokenize": lambda d, e, t: T.bpe_tokenize(d, rounds=4, top_words=8),
    "duplicate_spans": lambda d, e, t: D.duplicate_spans(d, n=5),
    "token_budget_sample": lambda d, e, t: SA.token_budget_sample(t, 100),
    "bpe_merges": lambda d, e, t: T.bpe_merges(d, rounds=4, top_words=8),
    "ngram_jaccard_pairs": lambda d, e, t: D.ngram_jaccard_pairs(d),
    "lsh_candidate_pairs":
        lambda d, e, t: D.lsh_candidate_pairs(d, rows_per_band=1),
}


@pytest.mark.parametrize("name", sorted(_CORPUS))
def test_corpus_function_leaves_no_cached_blocks(spark, leak_corpus, name):
    """The corpus and vector functions outside ``kernels/`` release what
    they materialize, and their results release what they read."""
    before = _cached_ids(spark)
    out = _CORPUS[name](*leak_corpus)
    if not isinstance(out, tuple):
        assert out.count() > 0
        out.unpersist()
    assert _cached_ids(spark) <= before, name


# a driver round trip started from a peel, bucket or frontier kernel's
# own module
_KERNEL_ROUND_TRIP = re.compile(
    r"^(collect|count|first|take|head) at "
    r"\S*(kcore|landmarks|astar|delta_stepping|bridges|redirects|densest"
    r"|ego|setcover|influence|scc|truss)\.py:\d+$"
)


def test_peel_and_bucket_kernels_have_no_round_trips(
    spark, leak_graphs, named_counts
):
    """Their stopping numbers — k-core's dropped count, core
    decomposition's next bucket, the landmark frontier size, A*'s
    target distance, both bucket cursors, the bridges BFS's unreached
    count and depth, the unresolved redirects, densest's n and m, the
    ego frontier, set cover's top bucket and admitted count, the
    influence argmax, k-truss's alive and peel counts, and the SCC
    peel's intra-class edge, matched and unassigned counts — are
    observed on each round's materialization: no kernel call runs an
    action of its own."""
    g, w = leak_graphs
    calls = {
        "k_core": lambda: K.k_core(g, 2),
        "core_decomposition": lambda: K.core_decomposition(g),
        "landmark_distances": lambda: K.landmark_distances(g, 2, max_iters=2),
        "astar": lambda: K.astar(w, 0, 4),
        "sssp_delta_stepping":
            lambda: K.sssp_delta_stepping(w, 0, max_rounds=2),
        "biconnected_components": lambda: K.biconnected_components(g),
        "bridges": lambda: K.bridges(g),
        "resolve_redirects": lambda: K.resolve_redirects(g.edges),
        "densest_subgraph": lambda: K.densest_subgraph(g, max_rounds=2),
        "ego_subgraph": lambda: K.ego_subgraph(g, [0], hops=2),
        "set_cover": lambda: K.set_cover(g),
        "influence_max": lambda: K.influence_max(g, k=2),
        "k_truss": lambda: K.k_truss(g, 3),
        "strongly_connected_components":
            lambda: K.strongly_connected_components(g),
    }
    trips = {}
    for name, call in calls.items():
        names = _job_names(spark, f"{name}-jobs", lambda: call().unpersist())
        trips[name] = sorted({n for n in names if _KERNEL_ROUND_TRIP.match(n)})
    assert not any(trips.values()), trips


def test_triangle_count_has_no_ranking_collect(spark, leak_graphs):
    """The degree orientation is two joins with the degree table: no
    relabel, so no range sort and no collect of its bucket counts."""
    g, _ = leak_graphs
    names = _job_names(spark, "tc-jobs", lambda: K.triangle_count(g).collect())
    assert not [
        n for n in names if re.match(r"^collect at \S*ranking\.py:\d+$", n)
    ], names


_CHECKPOINTS = {"fresh_checkpoint", "counted_checkpoint", "localCheckpoint"}


def _package_modules():
    """(path relative to graphit_spark/, parsed module) for every module."""
    import ast
    import pathlib

    import graphit_spark

    root = pathlib.Path(graphit_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), ast.parse(path.read_text())


def test_no_checkpoints_inside_a_loop():
    """Round loops belong to the superstep driver: no module outside
    ``plans/state.py`` names a checkpoint function inside a
    ``for``/``while`` body (a call or a ``.transform(fresh_checkpoint)``
    argument alike)."""
    import ast

    found = []
    for rel, tree in _package_modules():
        if rel == "plans/state.py":
            continue
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                continue
            for stmt in loop.body + loop.orelse:
                for node in ast.walk(stmt):
                    name = getattr(node, "id", None) or getattr(node, "attr", None)
                    if name in _CHECKPOINTS:
                        found.append(f"{rel}:{node.lineno}")
    assert not found, found


def test_no_release_of_a_raw_checkpoint():
    """``unpersist()`` on a raw ``localCheckpoint`` frees nothing (see
    ``plans/state.py``): no function calls it on a name it binds to
    one. A frame that is released comes from ``fresh_checkpoint``, the
    superstep driver or ``bind_release``."""
    import ast

    found = []
    for rel, tree in _package_modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            raw = {
                target.id
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Call)
                and getattr(node.value.func, "attr", None) == "localCheckpoint"
                for target in node.targets
                if isinstance(target, ast.Name)
            }
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "attr", None) == "unpersist"
                    and getattr(node.func.value, "id", None) in raw
                ):
                    found.append(f"{rel}:{node.lineno}")
    assert not found, sorted(set(found))
