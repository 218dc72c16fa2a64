"""Frontier-driven path kernels: BFS and SSSP (Bellman-Ford).

Reference: apps/bfs.gt (parent array via applyModified) and apps/sssp.gt
(Bellman-Ford: ``SP[dst] min= SP[src] + weight`` over frontier out-edges
until the frontier empties). These are the canonical users of the
``edges.from(frontier).applyModified(f, field)`` contract
(change-tracking, src/midend/change_tracking_lower.cpp), exercised here
through the frontier/direction machinery in plans/traversal.py.

We compute distances (hop count for BFS) rather than parent pointers —
parent arrays are nondeterministic under parallel CAS in the reference;
distance fixpoints are exact and verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, superstep
from graphit_spark.plans.traversal import choose_direction


def _min_distance_fixpoint(
    graph: LinkGraph, source: int, dist_expr, max_iters: int,
    threshold_fraction: int = 20, store=None, resume: bool = False,
    metrics_out: dict | None = None, kernel_name: str = "bfs",
) -> DataFrame:
    """Shared driver loop: dist[dst] min= dist[src] + cost(edge).

    threshold_fraction: the sparse/dense direction-switch denominator
    (reference default 20, gen_edge_apply_func_decl.cpp:722) — exposed
    as a schedule knob for graphit_spark.tune.

    store/resume: per-superstep SnapshotStore checkpointing of the dist
    frame (same contract as kernels/pagerank.py and components.py —
    north-rule resumability). Resume restarts from the latest committed
    snapshot with a conservative frontier (every reached vertex
    re-relaxes once; min= is idempotent, so re-running a completed
    round is a no-change round, never a wrong one)."""
    with graph.persisted():
        num_edges = graph.num_edges
        inf = None  # represented as NULL = unreached
        start_iter = 0
        if resume and store is not None and store.latest() is not None:
            start_iter = store.latest() + 1
            dist = store.read(graph.spark, store.latest()).select("id", "dist")
        else:
            dist = graph.vertices().select(
                "id",
                F.when(F.col("id") == source, F.lit(0).cast("long")).otherwise(
                    F.lit(inf).cast("long")
                ).alias("dist"),
            )
        changed = F.col("dist").isNotNull() & (
            F.col("old").isNull() | (F.col("dist") < F.col("old"))
        )

        def step(state: DataFrame, rnd) -> DataFrame:
            dist = state.select("id", "dist")
            if rnd.seen is None:
                frontier = dist.filter(F.col("dist").isNotNull()).select("id")
                if start_iter:
                    frontier_size, frontier_deg = frontier.count(), num_edges
                else:
                    frontier_size, frontier_deg = 1, 0
            else:
                frontier = state.filter(changed).select("id")
                # degree sum only matters below the Ligra size threshold —
                # the V-sized degree join is skipped on dense rounds (same
                # rule as kernels/components.py)
                frontier_size = rnd.seen["changed"]
                if frontier_size > num_edges / threshold_fraction:
                    frontier_deg = num_edges
                else:
                    frontier_deg = int(
                        frontier.join(graph.out_degrees(), "id", "left")
                        .agg(F.coalesce(F.sum("out_degree"), F.lit(0)).alias("d"))
                        .collect()[0]["d"]
                    )
            rnd.direction = choose_direction(
                frontier_size, frontier_deg, num_edges, threshold_fraction
            )
            f_src = frontier.select(F.col("id").alias("src"))
            active = graph.edges.join(
                F.broadcast(f_src) if rnd.direction == "sparse" else f_src,
                "src",
                "left_semi",
            )
            cand = (
                active.join(
                    dist.filter(F.col("dist").isNotNull()).select(
                        F.col("id").alias("src"), F.col("dist").alias("sdist")
                    ),
                    "src",
                )
                .select(F.col("dst").alias("id"), dist_expr.alias("cand"))
                .groupBy("id")
                .agg(F.min("cand").alias("cand"))
            )
            return (
                dist.join(cand, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.coalesce("dist", F.lit(2**62)),
                        F.coalesce("cand", F.lit(2**62)),
                    ).alias("nd"),
                    F.col("dist").alias("old"),
                )
                .select(
                    "id",
                    F.when(F.col("nd") < 2**62, F.col("nd")).alias("dist"),
                    "old",
                )
            )

        log: list = []
        state = superstep(
            dist, step,
            rounds=max_iters, start=start_iter, changed=changed, log=log,
            materialize=None if store is None else (
                lambda df, rnd, seen: store.write(df, rnd.index, {
                    "kernel": kernel_name,
                    "frontier_size": lambda: seen["changed"],
                    "direction": rnd.direction,
                })
            ),
        )
        if metrics_out is not None:
            metrics_out["iterations"] = len(log)
            metrics_out["final_frontier"] = log[-1]["changed"] if log else 0
    return bind_release(state.select("id", "dist"), state)


def bfs(
    graph: LinkGraph, source: int = 0, *, max_iters: int = 500,
    threshold_fraction: int = 20, store=None, resume: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame:
    """(id, dist) hop distances from source; NULL dist = unreachable."""
    return _min_distance_fixpoint(
        graph, source, F.col("sdist") + F.lit(1), max_iters,
        threshold_fraction, store=store, resume=resume,
        metrics_out=metrics_out, kernel_name="bfs",
    )


def sssp(
    graph: LinkGraph, source: int = 0, *, max_iters: int = 500,
    threshold_fraction: int = 20, store=None, resume: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Bellman-Ford shortest paths over the weighted edge table
    (apps/sssp.gt); requires graph.weighted."""
    if not graph.weighted:
        raise ValueError("sssp requires a weighted graph (src, dst, weight)")
    return _min_distance_fixpoint(
        graph, source, F.col("sdist") + F.col("weight"), max_iters,
        threshold_fraction, store=store, resume=resume,
        metrics_out=metrics_out, kernel_name="sssp",
    )
