"""One materializing job per superstep.

PageRank's L1 error, CC's frontier size and degree sum, and a snapshot's
manifest ride the job that materializes the round (``observe``), so a
round launches no count or collect of its own. These tests pin that job
shape, that reading observed metrics never waits forever, and that a
durable run leaves no cached blocks behind."""

import random
import re
import threading

import pytest
from pyspark.sql import functions as F

from graphit_spark import LinkGraph, SnapshotStore
from graphit_spark.kernels import connected_components, pagerank
from graphit_spark.plans.state import fresh_checkpoint, observe

# a driver round trip started from a kernel or store call site
_ROUND_TRIP = re.compile(
    r"^(collect|count|first|take|head) at \S*(pagerank|components|checkpoint)\.py:\d+$"
)

# Jobs per round, graph build included, measured on local[8] with 8
# shuffle partitions (most are the shuffle stages adaptive execution
# submits as jobs of their own). Durable PageRank, 10 rounds on
# _edges(): 5.0 (50 jobs); with a follow-up error collect and a manifest
# count per round it was 11.0. CC on the chain graph below: 19.0 (57
# jobs, 3 rounds); with frontier counts it was 23.3.
PR_JOBS_PER_ROUND = 6.0
CC_JOBS_PER_ROUND = 20.0


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


def test_durable_pagerank_has_no_round_trips(spark, tmp_path):
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


def test_cc_has_no_round_trips(spark):
    # a chain keeps CC going for several sparse and dense rounds
    edges = [(v, v + 1) for v in range(40)] + _edges()
    g = LinkGraph.from_pairs(spark, edges, persist=False)
    m: dict = {}
    names = _job_names(
        spark, "cc-jobs",
        lambda: connected_components(g, metrics_out=m),
    )
    assert m["final_frontier"] == 0
    assert not [n for n in names if _ROUND_TRIP.match(n)], names
    assert len(names) <= CC_JOBS_PER_ROUND * m["iterations"], (len(names), names)


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
