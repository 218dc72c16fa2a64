"""PageRank — the flagship gather-scatter kernel.

Semantics match reference apps/pagerank.gt:1-54 exactly:

    contrib[v]  = old_rank[v] / out_degree[v]        (computeContrib, :14)
    new_rank[d] = Σ_{(s,d)∈E} contrib[s]             (updateEdge, :17-19)
    rank'[v]    = beta + damp * new_rank[v]          (updateVertex, :22-27)

with damp = 0.85, beta = (1-damp)/n. NO dangling-mass redistribution —
vertices with out_degree 0 simply contribute nothing (the reference
formula, not the textbook variant). Division by zero cannot occur: contrib
is only ever read through an edge join, and every edge src has degree ≥ 1.

Spark plan per superstep (one shuffle pair):
    edges(partitioned by src) ⋈ state ON src  →  groupBy(dst).sum
Map-side partial aggregation collapses hub destinations before the final
shuffle — the analogue of GraphIt's NUMA merge-reduce
(src/midend/merge_reduce_lower.cpp) and atomics, for free.

The rank/degree state is V-sized; the edge table is never re-shuffled
(partitioned once by src at graph build). Materialize once per superstep:
the round's one job truncates lineage — via localCheckpoint, or durably
via a SnapshotStore write, whose read-back makes the run resumable
mid-algorithm — and the L1 error of the stopping rule rides that same
job as an observed aggregate (plans.state.observe), so a round launches
no follow-up driver action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep
from graphit_spark.checkpoint import SnapshotStore


def pagerank(
    graph: LinkGraph,
    *,
    damp: float = 0.85,
    max_iters: int = 20,
    tol: float | None = None,
    store: SnapshotStore | None = None,
    resume: bool = False,
    init_ranks: DataFrame | None = None,
    use_adjacency: bool = False,
    join_strategy: str | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Returns (id, rank) for every vertex in [0, n).

    tol: stop early when sum_v |rank'[v] - rank[v]| <= tol (the error
    vector of pagerank.gt:24 reduced with the global-sum intrinsic);
    None = fixed max_iters like the reference benchmark (20 iterations,
    graphit_eval/eval/table7/benchmark.py PR_ITERATIONS).
    resume: continue from the latest complete snapshot in `store`.
    init_ranks: warm start from a previous run's (id, rank) — the
    incremental path for evolving graphs (re-rank after a crawl delta):
    vertices present in init_ranks start there, new vertices at 1/n.
    The fixpoint is the same (the Jacobi iteration's limit doesn't
    depend on the start vector); only the iteration count drops.
    Ignored when `resume` finds a snapshot (the snapshot is newer).
    use_adjacency: scatter from CSR-like adjacency blocks (explode) rather
    than the flat edge table.
    join_strategy: explicit join hint for the per-superstep edges ⋈
    contrib join ("broadcast" | "shuffle_hash" | "merge"); None keeps the
    size-based auto rule below. A schedule knob for graphit_spark.tune —
    the analogue of GraphIt's configDirection/configParallelization
    schedule choices (autotune/graphit_autotuner.py search space).
    metrics_out: if given, filled with {"iterations", "final_err"} — the
    bench harness reads these for the convergence metric.
    """
    with graph.persisted():
        n = graph.num_vertices
        beta = (1.0 - damp) / n

        start_iter = 0
        if resume and store is not None and store.latest() is not None:
            start_iter = store.latest() + 1
            state = store.read(graph.spark, store.latest())
        elif init_ranks is not None:
            state = (
                graph.out_degrees()
                .join(init_ranks.select("id", "rank"), "id", "left")
                .select(
                    "id",
                    "out_degree",
                    F.coalesce("rank", F.lit(1.0 / n)).alias("rank"),
                )
            )
        else:
            state = graph.out_degrees().withColumn("rank", F.lit(1.0 / n))

        if use_adjacency:
            adj = graph.adjacency()

        # Join-strategy choice for edges ⋈ contrib (the GraphIt "schedule"):
        # small vertex sets broadcast cheaply; big ones must NOT broadcast —
        # broadcast build is single-threaded driver work and is the one
        # non-scaling component (measured; see BENCH/BASELINE.md).
        # Shuffle-hash beats sort-merge here: the V-sized contrib side
        # shuffles to the cached edge partitioning and builds per-partition
        # hash tables — no global sort of the E-sized side (measured ~2x:
        # 2.8s vs 5.6s per superstep at 17M edges).
        if join_strategy is None:
            hint = "shuffle_hash" if graph.num_vertices > 500_000 else None
        else:
            hint = join_strategy

        def step(state: DataFrame, rnd) -> DataFrame:
            contrib_state = state.filter(F.col("out_degree") > 0).select(
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            if hint:
                contrib_state = contrib_state.hint(hint)
            if use_adjacency:
                # CSR-like scatter: join V-sized blocks, explode neighbors.
                sums = (
                    adj.join(contrib_state, "src")
                    .select(F.explode("nbrs").alias("id"), "contrib")
                    .groupBy("id")
                    .agg(F.sum("contrib").alias("gathered"))
                )
            else:
                sums = (
                    graph.edges.join(contrib_state, "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("contrib").alias("gathered"))
                )
            # the error norm reads the old rank, which the state drops
            return rnd.observe(
                state.join(sums, "id", "left").select(
                    "id",
                    "out_degree",
                    F.col("rank").alias("old_rank"),
                    (F.lit(beta) + F.lit(damp) * F.coalesce("gathered", F.lit(0.0))).alias("rank"),
                )
            ).select("id", "out_degree", "rank")

        # Materialize once: the checkpoint (or the snapshot write) is the
        # round's only job, and the error norm is summed inside it — the
        # PR+error fusion GraphIt gets from fuseApplyFunctions.
        log: list = []
        state = superstep(
            state, step, rounds=max_iters, start=start_iter, log=log,
            # a snapshot read has no lineage to truncate
            checkpoint_start=start_iter == 0,
            l1_error=F.sum(F.abs(F.col("rank") - F.col("old_rank"))),
            until=None if tol is None else (lambda seen: seen["l1_error"] <= tol),
            materialize=None if store is None else (
                lambda df, rnd, seen: store.write(df, rnd.index, {
                    "kernel": "pagerank", "l1_error": lambda: seen["l1_error"],
                })
            ),
        )
        if metrics_out is not None and log:
            metrics_out["iterations"] = len(log)
            metrics_out["final_err"] = log[-1]["l1_error"]

        result = bind_release(state.select("id", "rank"), state)
    return result


def weighted_pagerank(
    graph: LinkGraph,
    *,
    damp: float = 0.85,
    max_iters: int = 20,
) -> DataFrame:
    """PageRank over a weighted edge table: each superstep distributes
    rank proportionally to edge weight —
    ``contrib(s→d) = rank[s] * w(s,d) / Σ_e w(s,e)`` — the variant used
    on rolled-up host graphs where weight = page-level link count
    (LinkGraph.contract). Same reference recurrence otherwise (beta
    shift, no dangling redistribution) and the same one-shuffle-pair
    superstep plan as ``pagerank``: the per-src unit rank/out_wdeg ships
    through the edges ⋈ state join and the weight multiply happens
    edge-side before the map-side-combined groupBy(dst) sum.
    """
    if not graph.weighted:
        raise ValueError("weighted_pagerank requires (src, dst, weight)")
    with graph.persisted():
        n = graph.num_vertices
        beta = (1.0 - damp) / n

        wdeg = (
            graph.vertices()
            .join(
                graph.edges.groupBy(F.col("src").alias("id")).agg(
                    F.sum("weight").alias("out_wdeg")
                ),
                "id",
                "left",
            )
            .select("id", F.coalesce("out_wdeg", F.lit(0)).alias("out_wdeg"))
        )
        hint = "shuffle_hash" if n > 500_000 else None

        def step(state: DataFrame, rnd) -> DataFrame:
            unit = state.filter(F.col("out_wdeg") > 0).select(
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_wdeg")).alias("unit"),
            )
            if hint:
                unit = unit.hint(hint)
            sums = (
                graph.edges.join(unit, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("unit") * F.col("weight")).alias("gathered"))
            )
            return state.join(sums, "id", "left").select(
                "id",
                "out_wdeg",
                (
                    F.lit(beta)
                    + F.lit(damp) * F.coalesce("gathered", F.lit(0.0))
                ).alias("rank"),
            )

        state = superstep(
            wdeg.withColumn("rank", F.lit(1.0 / n)),
            step, rounds=max_iters,
        )
        result = bind_release(state.select("id", "rank"), state)
    return result


def personalized_pagerank(
    graph: LinkGraph,
    source: int,
    *,
    damp: float = 0.85,
    max_iters: int = 10,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to `source` alone
    (rank0 = e_source; rank' = (1-damp)·e_source + damp·gather) — the
    single-seed `trustrank`, with the same per-row arithmetic and plan,
    and like the reference's PR no dangling redistribution. The score
    vector concentrates around the seed, which is exactly what sweep_cut
    consumes for local clustering (reference intrinsics.h:358-410
    serialSweepCut's intended input)."""
    trust = trustrank(graph, [source], damp=damp, max_iters=max_iters)
    return bind_release(trust.withColumnRenamed("trust", "rank"), trust)


def trustrank(
    graph: LinkGraph,
    seeds: list[int],
    *,
    damp: float = 0.85,
    max_iters: int = 10,
) -> DataFrame:
    """TrustRank (Gyöngyi et al., VLDB'04): PageRank whose teleport
    mass returns uniformly to a hand-vetted SEED set instead of all
    vertices — trust flows outward from known-good hosts, so pages the
    seed neighborhood never reaches keep ≈0 trust even with high raw
    PageRank (the web-spam demotion signal).

    `personalized_pagerank` is its single-seed case. The contract: rank0 = the seed distribution (1/|S| on
    each seed), rank' = (1-damp)·seed + damp·gather, no dangling
    redistribution. On a weighted graph (e.g. the host rollup, weight
    = page-level link count) contributions flow weight-proportionally
    exactly like `weighted_pagerank`.

    Plan per superstep — identical to pagerank's: one V-sized
    contribution projection, edges ⋈ state equi-join on src
    (shuffle-hash hinted at scale), map-side-combined groupBy(dst)
    sum, V-sized left join back, one checkpoint. The seed set ships as
    a literal IN
    list (seed sets are human-curated: hundreds, not millions).
    """
    if not seeds:
        raise ValueError("trustrank requires a non-empty seed set")
    seed_ids = sorted({int(s) for s in seeds})
    seed_mass = 1.0 / len(seed_ids)
    seed = (
        F.when(F.col("id").isin(seed_ids), F.lit(seed_mass))
        .otherwise(F.lit(0.0))
    )
    with graph.persisted():
        beta = 1.0 - damp
        weighted = graph.weighted
        if weighted:
            deg = (
                graph.vertices()
                .join(
                    graph.edges.groupBy(F.col("src").alias("id")).agg(
                        F.sum("weight").alias("out_w")
                    ),
                    "id",
                    "left",
                )
                .select("id", F.coalesce("out_w", F.lit(0)).alias("out_w"))
            )
        else:
            deg = graph.out_degrees().withColumnRenamed("out_degree", "out_w")
        hint = "shuffle_hash" if graph.num_vertices > 500_000 else None

        def step(state: DataFrame, rnd) -> DataFrame:
            unit = state.filter(F.col("out_w") > 0).select(
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_w")).alias("unit"),
            )
            if hint:
                unit = unit.hint(hint)
            gathered = (
                F.sum(F.col("unit") * F.col("weight"))
                if weighted
                else F.sum("unit")
            )
            sums = (
                graph.edges.join(unit, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(gathered.alias("gathered"))
            )
            return state.join(sums, "id", "left").select(
                "id",
                "out_w",
                (
                    F.lit(beta) * seed
                    + F.lit(damp) * F.coalesce("gathered", F.lit(0.0))
                ).alias("rank"),
            )

        state = superstep(
            deg.withColumn("rank", seed),
            step, rounds=max_iters,
        )
        result = bind_release(
            state.select("id", F.col("rank").alias("trust")), state
        )
    return result


def pagerank_delta(
    graph: LinkGraph,
    *,
    damp: float = 0.85,
    max_iters: int = 10,
    epsilon2: float = 0.1,
    store: SnapshotStore | None = None,
) -> DataFrame:
    """PageRankDelta — frontier-pruned PR (reference apps/pagerankdelta.gt).

    Only vertices whose |delta| > epsilon2 * cur_rank stay in the frontier
    and propagate next round; matches updateVertexFirstRound/updateVertex
    (pagerankdelta.gt:15-31). Returns (id, rank) = cur_rank after
    max_iters rounds (reference runs a fixed 10, main loop :50-58).
    """
    with graph.persisted():
        n = graph.num_vertices
        beta = (1.0 - damp) / n
        one_over_n = 1.0 / n

        def step(state: DataFrame, rnd) -> DataFrame:
            contribs = state.filter(
                F.col("in_frontier") & (F.col("out_degree") > 0)
            ).select(
                F.col("id").alias("src"),
                (F.col("delta") / F.col("out_degree")).alias("contrib"),
            )
            sums = (
                graph.edges.join(contribs, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("contrib").alias("ngh_sum"))
            )
            joined = state.join(sums, "id", "left").withColumn(
                "ngh_sum", F.coalesce("ngh_sum", F.lit(0.0))
            )
            if rnd.index == 1:
                # delta = damp*ngh_sum + beta; cur += delta; delta -= 1/n
                joined = (
                    joined.withColumn("new_delta0", F.lit(damp) * F.col("ngh_sum") + F.lit(beta))
                    .withColumn("new_rank", F.col("cur_rank") + F.col("new_delta0"))
                    .withColumn("new_delta", F.col("new_delta0") - F.lit(one_over_n))
                )
            else:
                joined = joined.withColumn(
                    "new_delta", F.col("ngh_sum") * F.lit(damp)
                ).withColumn("new_rank", F.col("cur_rank") + F.col("new_delta"))
            return joined.select(
                "id",
                "out_degree",
                F.col("new_rank").alias("cur_rank"),
                F.col("new_delta").alias("delta"),
                (F.abs("new_delta") > F.lit(epsilon2) * F.col("new_rank")).alias(
                    "in_frontier"
                ),
            )

        # state: id, out_degree, cur_rank, delta, in_frontier
        state = superstep(
            graph.out_degrees()
            .withColumn("cur_rank", F.lit(0.0))
            .withColumn("delta", F.lit(one_over_n))
            .withColumn("in_frontier", F.lit(True)),
            step, start=1, rounds=max_iters + 1,
            materialize=None if store is None else (
                lambda df, rnd, seen: store.write(
                    df, rnd.index, {"kernel": "pagerank_delta"}
                )
            ),
        )
    return bind_release(
        state.select("id", F.col("cur_rank").alias("rank")), state
    )


def personalized_pagerank_batch(
    graph: LinkGraph,
    sources: list[int],
    *,
    damp: float = 0.85,
    max_iters: int = 10,
) -> DataFrame:
    """K personalized-PageRank vectors computed as ONE shared loop —
    the batch analogue of `personalized_pagerank`, the way
    `landmark_distances` batches K BFS runs: state is the SPARSE
    (seed, id, rank) table (only nonzero entries — PPR mass stays
    near the seed, so the state is a neighborhood, not K full
    vectors), and every round all K recurrences share a single edge
    scan, one shuffle, one checkpoint. Per-row arithmetic is exactly
    `personalized_pagerank`'s (beta·[id==seed] + damp·gather, no
    dangling redistribution), so each (seed, ·) slice equals the
    single-seed kernel's output on its reached set; unreached rows
    are exactly-0 in the dense recurrence and absent here.

    Reference provenance: apps/pagerank.gt's gather composed with the
    multi-source batching idiom (the WTF circle-of-trust pipeline
    computes PPR per user; batching K seeds through one traversal is
    how that ships at scale).

    Scale shape: per round one edges⋈state equi-join on src (state is
    seed-replicated only where mass is nonzero) + one map-side-combined
    groupBy(seed, dst) + one full-outer join against the K-row seed
    base.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    with graph.persisted():
        spark = graph.spark
        beta = 1.0 - damp
        seeds_df = (
            local_frame(
                spark, [(int(s), int(s)) for s in sources], "seed long, id long"
            ).distinct()
        )
        deg_ck = fresh_checkpoint(
            graph.out_degrees().filter(F.col("out_degree") > 0)
        )
        base = seeds_df.withColumn("base", F.lit(beta))

        def step(state: DataFrame, rnd) -> DataFrame:
            contrib = state.join(deg_ck, "id").select(
                "seed",
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_degree")).alias("contrib"),
            )
            gather = (
                graph.edges.join(contrib, "src")
                .groupBy("seed", F.col("dst").alias("id"))
                .agg(F.sum("contrib").alias("gathered"))
            )
            return gather.join(base, ["seed", "id"], "full_outer").select(
                "seed",
                "id",
                (
                    F.lit(beta)
                    * F.when(F.col("base").isNotNull(), F.lit(1.0)).otherwise(
                        F.lit(0.0)
                    )
                    + F.lit(damp)
                    * F.coalesce(F.col("gathered"), F.lit(0.0))
                ).alias("rank"),
            )

        state = superstep(
            seeds_df.withColumn("rank", F.lit(1.0)),
            step, rounds=max_iters,
        )
        deg_ck.unpersist()
    return state
