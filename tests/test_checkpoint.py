"""Resume-mid-algorithm tests (north rule): run k supersteps, "kill",
resume from snapshot, final state identical to the uninterrupted run —
byte-exact for integer/label kernels (CC); for float kernels (PR) equal
to within a couple of ulps, because Spark's final-aggregate merge order
across shuffle partitions is task-scheduling-dependent (the same run
twice uninterrupted has the same wobble)."""

import numpy as np
from pyspark.sql import functions as F

from graphit_spark import LinkGraph, SnapshotStore
from graphit_spark.kernels import connected_components, pagerank
from tests.oracles import pagerank_oracle


def _edges():
    import random

    rng = random.Random(17)
    return [(rng.randrange(60), rng.randrange(60)) for _ in range(250)]


def test_snapshot_manifest_lineage(spark, tmp_path):
    g = LinkGraph.from_pairs(spark, _edges(), persist=False)
    store = SnapshotStore(str(tmp_path), "pr")
    metrics: dict = {}
    pagerank(g, max_iters=3, store=store, metrics_out=metrics)
    assert store.complete_iterations() == [0, 1, 2]
    m = store.manifest(2)
    assert m["rows"] == g.num_vertices
    assert m["metrics"]["kernel"] == "pagerank"
    assert sum(m["partitions"].values()) == m["rows"]
    assert m["elapsed_write_sec"] > 0
    # the L1 error observed on each round's write job is the real L1
    # distance between consecutive snapshots
    for it in (1, 2):
        got = store.manifest(it)["metrics"]["l1_error"]
        prev = store.read(spark, it - 1).select("id", F.col("rank").alias("r0"))
        want = (
            store.read(spark, it).join(prev, "id")
            .agg(F.sum(F.abs(F.col("rank") - F.col("r0"))).alias("e"))
            .first()["e"]
        )
        assert abs(got - want) <= 1e-12 * want, (it, got, want)
    assert m["metrics"]["l1_error"] == metrics["final_err"]


def test_pagerank_resume_identical(spark, tmp_path):
    edges = _edges()
    g = LinkGraph.from_pairs(spark, edges, persist=False)

    # uninterrupted 10 iters WITH snapshotting — the apples-to-apples
    # baseline for the resume contract (snapshot I/O round-trips the
    # state through parquet, whose partitioning legitimately changes
    # float summation order vs a storeless run by ~1 ulp)
    store_full = SnapshotStore(str(tmp_path / "full"), "pr_full")
    full_m: dict = {}
    full = {
        r["id"]: r["rank"]
        for r in pagerank(
            g, max_iters=10, store=store_full, metrics_out=full_m
        ).collect()
    }

    # storeless run agrees to float tolerance (different physical plan)
    loose = {r["id"]: r["rank"] for r in pagerank(g, max_iters=10).collect()}
    for v in full:
        assert abs(loose[v] - full[v]) < 1e-12, v

    # interrupted at 4, resumed to 10: identical to uninterrupted up to
    # the partial-sum merge-order wobble (a few ulps — far tighter than
    # the 1e-6 north-rule tolerance; values, iterations, and snapshots
    # are otherwise the same computation)
    store = SnapshotStore(str(tmp_path / "res"), "pr_resume")
    pagerank(g, max_iters=4, store=store)
    assert store.latest() == 3
    res_m: dict = {}
    resumed = {
        r["id"]: r["rank"]
        for r in pagerank(
            g, max_iters=10, store=store, resume=True, metrics_out=res_m
        ).collect()
    }
    assert store.latest() == 9
    assert res_m["iterations"] == 6
    # every round's manifest is whole, and the last one records the
    # error the run reported
    for st, m in ((store_full, full_m), (store, res_m)):
        for it in st.complete_iterations():
            man = st.manifest(it)
            assert man["rows"] == sum(man["partitions"].values()) == len(full)
            assert man["metrics"]["l1_error"] > 0
        assert st.manifest(9)["metrics"]["l1_error"] == m["final_err"]
    assert abs(res_m["final_err"] - full_m["final_err"]) <= 1e-12 * full_m["final_err"]
    for v in full:
        assert abs(resumed[v] - full[v]) <= 4 * abs(full[v]) * 2.3e-16, v

    exp = pagerank_oracle(edges, iters=10)
    got = np.zeros(len(exp))
    for v, r in resumed.items():
        got[v] = r
    assert np.allclose(got, exp, atol=1e-6)


def test_cc_resume(spark, tmp_path):
    edges = _edges()
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    full = {r["id"]: r["comp"] for r in connected_components(g).collect()}

    store = SnapshotStore(str(tmp_path), "cc_resume")
    connected_components(g, max_iters=1, store=store)
    resumed = {
        r["id"]: r["comp"]
        for r in connected_components(g, store=store, resume=True).collect()
    }
    assert resumed == full


def test_bfs_resume_identical(spark, tmp_path):
    """BFS snapshots every superstep's dist frame; resuming after a
    'kill' at round 2 converges to the byte-exact uninterrupted result
    (min= is idempotent: the conservative all-reached resume frontier
    re-relaxes one round and continues)."""
    from graphit_spark.kernels import bfs

    edges = _edges()
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    full = {r["id"]: r["dist"] for r in bfs(g, 0).collect()}

    store = SnapshotStore(str(tmp_path), "bfs")
    bfs(g, 0, max_iters=2, store=store)  # "killed" after two rounds
    assert store.complete_iterations() == [0, 1]
    m = store.manifest(1)
    assert m["metrics"]["kernel"] == "bfs"
    assert m["metrics"]["frontier_size"] > 0
    assert m["metrics"]["direction"] in ("sparse", "dense")

    metrics: dict = {}
    resumed = {
        r["id"]: r["dist"]
        for r in bfs(
            g, 0, store=store, resume=True, metrics_out=metrics
        ).collect()
    }
    assert resumed == full
    assert metrics["final_frontier"] == 0
    # resume ran only the remaining rounds, not the whole fixpoint
    assert 0 < metrics["iterations"]
    assert store.latest() >= 2


def test_sssp_resume_identical(spark, tmp_path):
    from graphit_spark.kernels import sssp

    import random

    rng = random.Random(23)
    edges = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(1, 9))
        for _ in range(160)
    ]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    full = {r["id"]: r["dist"] for r in sssp(g, 0).collect()}

    store = SnapshotStore(str(tmp_path), "sssp")
    sssp(g, 0, max_iters=1, store=store)
    resumed = {
        r["id"]: r["dist"]
        for r in sssp(g, 0, store=store, resume=True).collect()
    }
    assert resumed == full


def test_lpa_resume_identical(spark, tmp_path):
    """LPA is a fixed-round integer recurrence: resume after a 'kill'
    at round 2 must be BYTE-identical to the uninterrupted run."""
    from graphit_spark.kernels import label_propagation

    edges = _edges()
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    full = {
        r["id"]: r["label"]
        for r in label_propagation(g, rounds=5).collect()
    }
    store = SnapshotStore(str(tmp_path), "lpa")
    label_propagation(g, rounds=2, store=store)
    assert store.complete_iterations() == [0, 1]
    resumed = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, rounds=5, store=store, resume=True
        ).collect()
    }
    assert resumed == full
    assert store.latest() == 4


def test_delta_stepping_resume_identical(spark, tmp_path):
    """The Julienne priority-bucket layer honors the same resume
    contract: kill after 2 relaxation rounds, resume from the snapshot
    (which carries the scalar bucket cursor in its manifest metrics) —
    distances must equal the uninterrupted run exactly."""
    import random

    from graphit_spark.kernels import sssp_delta_stepping

    rng = random.Random(31)
    edges = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(1, 9))
        for _ in range(160)
    ]
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    full = {
        r["id"]: r["dist"]
        for r in sssp_delta_stepping(g, 0, delta=3).collect()
    }

    store = SnapshotStore(str(tmp_path), "sssp_delta")
    sssp_delta_stepping(g, 0, delta=3, max_rounds=2, store=store)
    assert store.complete_iterations() == [0, 1]
    assert "bucket" in (store.manifest(1).get("metrics") or {})
    resumed = {
        r["id"]: r["dist"]
        for r in sssp_delta_stepping(
            g, 0, delta=3, store=store, resume=True
        ).collect()
    }
    assert resumed == full
