"""Connected components — min-label propagation with pointer-jump shortcut.

Semantics match reference apps/cc.gt (plain label propagation) and
apps/cc_lp_pj.gt (label propagation + pointer-jumping):

    init:      IDs[v] = v                              (cc.gt init)
    propagate: IDs[dst] min= IDs[src] over all edges   (cc.gt updateEdge)
    shortcut:  IDs[v] = IDs[IDs[v]] until stable       (cc_lp_pj.gt pjump)
    repeat until no label changes (frontier empty).

The reference traverses the directed edges as stored and relies on GAPBS
symmetrizing undirected inputs (-s); we symmetrize explicitly so
components are the weakly-connected fixpoint — cc_verifier.cpp checks only
the converged state, and BSP vs async iteration order doesn't change it.

Spark plan per round, two materializations:
    gather: one groupBy(id) with min over the union of the neighbour
        candidates (edges ⋈ frontier labels, dst as id) and each vertex's
        own (comp, old_comp, deg) row — one exchange; it is checkpointed
        and observes the change count, frontier degree sum and an
        approximate distinct-label count (the broadcast guard)
    jump: comp ← P(P(P(comp))), P(l) = comp[l] over the distinct labels
        l — the two path-halving hops of cc_lp_pj.gt as one broadcast
        lookup, turning O(diameter) propagation into O(log n) rounds on
        long chains; a symmetrized round whose gather changed nothing is
        the last, and runs no jump (every label is its component's min,
        so P is the identity).
The frontier-restricted gather is change_tracking_lower.cpp:38-75. The
label state carries each vertex's out-degree so the next frontier's size
and degree sum (direction choice, stopping rule) are observed aggregates
on the round's own materialization (plans.state.observe): a round
launches no count or collect of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, superstep
from graphit_spark.checkpoint import SnapshotStore
from graphit_spark.plans.traversal import choose_direction

# pointer-jump parent maps up to this many distinct labels are broadcast;
# above it the jump is skipped for the round (propagation still converges)
_PJ_BROADCAST_LIMIT = 1_000_000


def connected_components(
    graph: LinkGraph,
    *,
    symmetrize: bool = True,
    pointer_jump: bool = True,
    max_iters: int = 200,
    store: SnapshotStore | None = None,
    resume: bool = False,
    init_labels: DataFrame | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Returns (id, comp) where comp = min vertex id in the component.

    init_labels: warm start from a previous run's (id, comp) after an
    edge-ADDITION delta (growing crawl); vertices not in init_labels
    start at their own id. Same fixpoint as a cold run — see the
    inline note — in fewer rounds. Not valid after edge removals.

    metrics_out: if given, filled with {"iterations", "final_frontier"}
    (rounds run in THIS call — after `resume`/warm start, the
    incremental rounds only).

    Converges when a propagation round changes no label (frontier empty,
    cc.gt main loop). With pointer_jump=True each round also shortcuts
    labels through their parents until stable (cc_lp_pj.gt:21-28), which
    bounds rounds by O(log n) instead of O(diameter).
    """
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        num_edges = g.num_edges

        # the label state carries the out-degree (deg) of the traversed graph,
        # so a round's frontier degree sum is observed with its size
        degrees = g.out_degrees().select("id", F.col("out_degree").alias("deg"))
        start_iter = 0
        if resume and store is not None and store.latest() is not None:
            start_iter = store.latest() + 1
            labels = store.read(g.spark, store.latest()).select(
                "id", "comp"
            ).join(degrees, "id")
        elif init_labels is not None:
            # Warm start for EDGE-ADDITION deltas: min-label propagation
            # from any per-vertex upper bound of the final component min
            # converges to min-over-component of the init labels. Old
            # labels are min ids of the old sub-components, so the fixpoint
            # is exactly the merged component's min vertex id — the cold
            # answer, in rounds ~ the diameter of the merge graph, not the
            # full graph. NOT valid after edge removals (labels would be
            # stale lower... too-small values that nothing re-raises).
            labels = degrees.join(
                init_labels.select("id", "comp"), "id", "left"
            ).select("id", F.coalesce("comp", "id").alias("comp"), "deg")
        else:
            labels = degrees.select("id", F.col("id").alias("comp"), "deg")
        changed = F.col("comp") != F.col("old_comp")
        # same strategy choice as kernels/pagerank.py: the V-sized label side
        # joins the cached edge partitioning via per-partition hash build
        # (no E-sized sort, no driver broadcast build)
        big_v = graph.num_vertices > 500_000

        def step(state: DataFrame, rnd) -> DataFrame:
            """One propagation round over (id, comp, old_comp, deg); its
            frontier is the rows the previous round changed (all rows in a
            call's first round)."""
            labels = state.select("id", "comp", "deg")
            if rnd.seen is None:
                frontier = labels.select("id")  # conservative: all active
                frontier_size = graph.num_vertices
                # degree sum of full frontier = num_edges (dense round 0)
                frontier_deg_sum = num_edges
            else:
                # next frontier = changed vertices (applyModified contract).
                # The degree sum only decides sparse-vs-dense when the
                # frontier SIZE alone is below the Ligra threshold; a big
                # frontier is dense regardless.
                frontier = state.filter(changed).select("id")
                frontier_size = rnd.seen["changed"]
                if frontier_size > num_edges / 20:
                    frontier_deg_sum = num_edges  # dense either way
                else:
                    frontier_deg_sum = rnd.seen["changed_deg"]
            direction = choose_direction(frontier_size, frontier_deg_sum, num_edges)
            rnd.direction = direction
            src_labels = labels.select(F.col("id").alias("src"), "comp")
            # Frontier restriction lives on the V-sized LABEL side, never as a
            # separate E-sized semi-join: the inner gather join below already
            # drops every edge whose src carries no label row, so one E-scan
            # per round suffices.
            if direction == "sparse":
                # push-like: broadcast-prune the edge scan with the small
                # frontier, and broadcast the (equally small) label rows.
                fr = frontier.select(F.col("id").alias("src"))
                active_edges = g.edges.join(F.broadcast(fr), "src", "left_semi")
                src_labels = F.broadcast(src_labels.join(F.broadcast(fr), "src"))
            else:
                active_edges = g.edges
                if frontier_size < graph.num_vertices:
                    src_labels = src_labels.join(
                        frontier.select(F.col("id").alias("src")), "src", "left_semi"
                    )
                if big_v:
                    src_labels = src_labels.hint("shuffle_hash")
            # gather: one groupBy(id) over the neighbour candidates and each
            # vertex's own row, so comp = least(own, min over neighbours) and
            # old_comp/deg pass through (min over the one non-null value)
            new_labels = (
                active_edges.join(src_labels, "src")
                .select(F.col("dst").alias("id"), "comp")
                .unionByName(labels.withColumn("old_comp", F.col("comp")),
                             allowMissingColumns=True)
                .groupBy("id")
                .agg(*(F.min(c).alias(c) for c in ("comp", "old_comp", "deg")))
            )
            if not pointer_jump:
                return new_labels
            # materialize the gather ONCE before pointer jumping: the jump
            # reads it as left side, label set and parent map; it observes
            # the round's aggregates in case it is the round's state, and an
            # estimate of the distinct-label count for the broadcast guard
            new_labels, gseen = rnd.checkpoint(
                new_labels, distinct=F.approx_count_distinct("comp"), **rnd.aggs
            )
            if symmetrize and gseen["changed"] == 0:
                # converged: every component carries its min id, P is identity
                return new_labels
            if gseen["distinct"] > _PJ_BROADCAST_LIMIT:
                # labels haven't consolidated yet — plain propagation
                # continues and PJ kicks in once distinct labels fit a
                # broadcast (power-law graphs get there in 1-2 rounds).
                return new_labels
            # Pointer jump comp <- P(P(P(comp))), P(l) = comp[l] over the
            # DISTINCT labels l — what two path-halving hops comp[v] <-
            # comp[comp[v]] compute. A self-join on comp would shuffle the
            # whole table keyed by the giant component's label (maximal key
            # skew); the label set collapses geometrically, so P∘P∘P is a
            # broadcast map and the jump one narrow V-scan.
            pids = new_labels.select(F.col("comp").alias("pid")).distinct()
            parent = new_labels.join(
                F.broadcast(pids), new_labels["id"] == pids["pid"]
            ).select("pid", F.col("comp").alias("hop"))
            jump = parent
            for _ in range(2):
                jump = jump.join(F.broadcast(parent.select(
                    F.col("pid").alias("hop"), F.col("hop").alias("nxt")
                )), "hop", "left").select("pid", F.coalesce("nxt", "hop").alias("hop"))
            return new_labels.alias("l").join(
                F.broadcast(jump), F.col("l.comp") == F.col("pid"), "left"
            ).select(
                "l.id", F.coalesce("hop", "l.comp").alias("comp"), "l.old_comp", "l.deg"
            )

        log: list = []
        labels = superstep(
            labels, step,
            rounds=max_iters, start=start_iter, changed=changed, log=log,
            changed_deg=F.sum(F.when(changed, F.col("deg"))),
            materialize=None if store is None else (
                lambda df, rnd, seen: store.write(df, rnd.index, {
                    "kernel": "cc",
                    "frontier_size": lambda: seen["changed"],
                    "direction": rnd.direction,
                })
            ),
        )
        if metrics_out is not None and log:
            metrics_out["iterations"] = len(log)
            metrics_out["final_frontier"] = log[-1]["changed"]
    return bind_release(labels.select("id", "comp"), labels)
