"""Per-graph schedule autotuner — the reference OpenTuner driver analogue.

Reference: autotune/graphit_autotuner.py drives OpenTuner over GraphIt's
schedule space (configApplyDirection, configApplyParallelization,
configApplyDenseVertexSet, bucket/delta parameters, ...) and measures the
compiled kernel's wall time per candidate on the user's ACTUAL graph,
because the best schedule is input-dependent (road networks want
different direction/bucket choices than social graphs).

This engine's "schedules" are Spark physical-plan knobs, and the same
input-dependence holds, so the tuner has the same two stages:

1. **Structural pruning** (deterministic, no wall clock): one aggregate
   over the degree distribution yields (n, m, avg/max degree, skew), and
   rules documented on ``candidate_schedules`` cut the space to the
   configs that can win on THIS graph — e.g. a broadcast build is only
   admissible under the no-driver-serialization vertex cap, and CSR
   adjacency blocks are excluded when a hub row would exceed the wide-row
   cap. Pruning is separable and unit-tested without timing (shared-VM
   clock noise is 4-5x; see BENCH/BASELINE.md).
2. **Measured trials**: each surviving candidate runs a few REAL
   supersteps of the target kernel on the actual graph, best-of-k
   (minimum — the standard noise-floor estimator), winner recorded as
   JSON that bench/production runs consume (``SPARK_GRAFT_TUNED`` in
   bench.py).

Knobs per kernel:
  pagerank             shuffle_partitions, join_strategy, use_adjacency
  bfs / sssp           shuffle_partitions, direction threshold_fraction
  sssp_delta_stepping  shuffle_partitions, delta (bucket width)
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass

from pyspark.sql import functions as F

from graphit_spark.graph import LinkGraph

#: broadcast hash builds serialize the build side through the driver —
#: measured as the one non-scaling superstep component (BENCH/BASELINE.md);
#: same cap as kernels/pagerank.py's auto rule.
BROADCAST_VERTEX_CAP = 500_000

#: a CSR adjacency row holds a vertex's whole out-neighbor list; beyond
#: this degree a single hub row dominates its partition (wide-row skew),
#: so the adjacency-scatter plan is pruned from the space.
ADJACENCY_MAX_DEGREE_CAP = 1_000_000

#: below this average degree the exploded-array scatter has no locality
#: advantage over the flat edge table — don't waste a measured trial.
ADJACENCY_MIN_AVG_DEGREE = 4.0

#: target shuffle-partition sizing: edges per partition in the superstep
#: join (the spark.sql.files.maxPartitionBytes analogue for shuffles).
EDGES_PER_PARTITION_TARGET = 2_000_000


@dataclass
class GraphStats:
    num_vertices: int
    num_edges: int
    avg_degree: float
    max_degree: int
    skew: float  # max_degree / avg_degree
    mean_weight: float | None


def measure_stats(graph: LinkGraph) -> GraphStats:
    """One pass over the degree table (+ one over weights if present)."""
    row = graph.out_degrees().agg(
        F.max("out_degree").alias("mx"), F.avg("out_degree").alias("av")
    ).collect()[0]
    avg = float(row["av"] or 0.0)
    mw = None
    if graph.weighted:
        mw = float(
            graph.edges.agg(F.avg("weight").alias("w")).collect()[0]["w"]
        )
    return GraphStats(
        num_vertices=graph.num_vertices,
        num_edges=graph.num_edges,
        avg_degree=avg,
        max_degree=int(row["mx"] or 0),
        skew=(float(row["mx"]) / avg) if avg > 0 else 0.0,
        mean_weight=mw,
    )


def _partition_candidates(stats: GraphStats, parallelism: int) -> list[int]:
    """Session default plus the m-derived sizing — tiny graphs try fewer
    partitions (task overhead dominates), huge ones try more (spill)."""
    sized = max(8, min(4096, stats.num_edges // EDGES_PER_PARTITION_TARGET))
    cands = {parallelism}
    if sized < parallelism:
        cands.add(max(8, parallelism // 4))
    if stats.num_edges // max(parallelism, 1) > EDGES_PER_PARTITION_TARGET:
        cands.add(min(4096, parallelism * 4))
    return sorted(cands)


def candidate_schedules(
    stats: GraphStats, kernel: str = "pagerank", *, parallelism: int = 32
) -> list[dict]:
    """The pruned, graph-specific schedule space (stage 1 — deterministic).

    Rules (each mirrors a reference schedule dimension):
    - join_strategy: "broadcast" admissible only under
      BROADCAST_VERTEX_CAP; above it the candidates are per-partition
      hash build vs sort-merge ("merge" survives for the spill-safety
      regime AQE can pick it for).
    - use_adjacency=True admissible only when avg_degree ≥
      ADJACENCY_MIN_AVG_DEGREE and max_degree ≤ ADJACENCY_MAX_DEGREE_CAP
      (hub wide-row rule) — configApplyDenseVertexSet's analogue.
    - bfs/sssp threshold_fraction: the Ligra denominator; skewed graphs
      flip to dense earlier (hub frontiers explode the sparse semi-join),
      so high skew admits 10 alongside the reference 20; low skew admits
      a lazier 50.
    - delta (bucket width): multiples of the mean edge weight
      (the reference sets delta per-graph in its schedules).
    """
    parts = _partition_candidates(stats, parallelism)
    out: list[dict] = []
    if kernel == "pagerank":
        if stats.num_vertices <= BROADCAST_VERTEX_CAP:
            joins = ["broadcast", "shuffle_hash"]
        else:
            joins = ["shuffle_hash", "merge"]
        adjacency = [False]
        if (
            stats.avg_degree >= ADJACENCY_MIN_AVG_DEGREE
            and stats.max_degree <= ADJACENCY_MAX_DEGREE_CAP
        ):
            adjacency.append(True)
        for p in parts:
            for j in joins:
                for a in adjacency:
                    out.append(
                        {"shuffle_partitions": p, "join_strategy": j,
                         "use_adjacency": a}
                    )
    elif kernel in ("bfs", "sssp"):
        fractions = [20, 10] if stats.skew > 32 else [20, 50]
        for p in parts:
            for f in fractions:
                out.append({"shuffle_partitions": p, "threshold_fraction": f})
    elif kernel == "sssp_delta_stepping":
        mw = stats.mean_weight or 1.0
        deltas = sorted({max(1, int(mw * k)) for k in (1, 2, 4)})
        for p in parts:
            for d in deltas:
                out.append({"shuffle_partitions": p, "delta": d})
    elif kernel == "tc":
        # the reference's relabel schedule decision (builtin_relabel,
        # intrinsics.h:239-258). worth_relabelling() is the
        # zero-measurement analogue of its sampling guard; the tuner
        # measures both branches instead, but orders them so a
        # measurement-budget-capped search tries the heuristic's pick
        # first. Flat low-degree graphs list False first.
        heur_first = stats.avg_degree >= 10 and stats.skew > 1.3
        for p in parts:
            for r in ([True, False] if heur_first else [False, True]):
                out.append({"shuffle_partitions": p, "relabel": r})
    else:
        raise ValueError(f"no schedule space for kernel: {kernel}")
    return out


def _run_kernel(graph: LinkGraph, kernel: str, config: dict, rounds: int,
                source: int) -> None:
    kconf = {k: v for k, v in config.items() if k != "shuffle_partitions"}
    if kernel == "pagerank":
        from graphit_spark.kernels import pagerank

        pagerank(graph, max_iters=rounds, **kconf).count()
    elif kernel == "bfs":
        from graphit_spark.kernels import bfs

        bfs(graph, source, max_iters=rounds, **kconf).count()
    elif kernel == "sssp":
        from graphit_spark.kernels import sssp

        sssp(graph, source, max_iters=rounds, **kconf).count()
    elif kernel == "sssp_delta_stepping":
        from graphit_spark.kernels import sssp_delta_stepping

        sssp_delta_stepping(graph, source, max_rounds=rounds, **kconf).count()
    elif kernel == "tc":
        from graphit_spark.kernels import triangle_count

        triangle_count(graph, **kconf).collect()  # rounds: TC is one-shot
    else:
        raise ValueError(kernel)


def autotune(
    graph: LinkGraph,
    kernel: str = "pagerank",
    *,
    trials: int = 2,
    rounds: int = 3,
    source: int = 0,
    out_path: str | None = None,
    measure_fn=None,
) -> dict:
    """Search the pruned schedule space by measuring real supersteps.

    rounds: supersteps per measured trial (enough to amortize the first
    superstep's scan; the per-iteration cost is what production pays).
    measure_fn(graph, kernel, config, rounds) -> seconds, if given,
    replaces wall-clock measurement (deterministic tests; cost models).
    Returns {"kernel", "stats", "parallelism", "candidates": [...],
    "best": config} and writes it as JSON to out_path if given.
    """
    spark = graph.spark
    with graph.persisted():
        parallelism = spark.sparkContext.defaultParallelism
        stats = measure_stats(graph)
        cands = candidate_schedules(stats, kernel, parallelism=parallelism)

        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        results = []
        try:
            for config in cands:
                if measure_fn is not None:
                    best = float(measure_fn(graph, kernel, config, rounds))
                else:
                    spark.conf.set(
                        "spark.sql.shuffle.partitions",
                        str(config["shuffle_partitions"]),
                    )
                    best = float("inf")
                    for _ in range(trials):
                        t0 = time.monotonic()
                        _run_kernel(graph, kernel, config, rounds, source)
                        best = min(best, time.monotonic() - t0)
                results.append({"config": config, "best_sec": best})
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    winner = min(results, key=lambda r: r["best_sec"])
    report = {
        "kernel": kernel,
        "parallelism": parallelism,
        "stats": asdict(stats),
        "rounds_per_trial": rounds,
        "trials": trials,
        "candidates": results,
        "best": winner["config"],
        "best_sec": winner["best_sec"],
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=2)
    return report
