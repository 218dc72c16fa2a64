"""Bow-tie decomposition of a directed web graph (Broder et al.,
"Graph structure in the Web", WWW 2000) — the canonical Common-Crawl
structure analysis: classify every vertex relative to the largest
strongly connected component (the CORE) as

    CORE          largest SCC (ties broken by min SCC label)
    IN            reaches the core, not in it
    OUT           reachable from the core, not in it
    TUBE          on an IN -> OUT path that bypasses the core
    TENDRIL       hangs off IN (reachable from IN) or feeds OUT
                  (reaches OUT) without touching the core
    DISCONNECTED  none of the above

The reference has no directed-reachability app (apps/ covers weakly
connected components only, apps/cc.gt); this composes the round-3 SCC
kernel (kernels/scc.py, FW-BW min-label peel) with four multi-source
reachability fixpoints — the same ``edges.from(frontier)`` contract as
BFS (apps/bfs.gt, plans/traversal.py) minus the distance payload.

Correct class algebra (why four reachability runs suffice): let
F = fwd-reach(core), B = bwd-reach(core). A vertex that both reaches
the core and is reached by it is mutually reachable with it, hence IN
and OUT are disjoint. A path from IN to an unclassified vertex v can
never pass through the core (that would put v in OUT), so
fwd-reach(IN) restricted to unclassified vertices is exactly the
core-bypassing reach Broder's TUBE/TENDRIL definitions need — no
"graph minus core" rebuild is required. With FI = fwd-reach(IN),
BO = bwd-reach(OUT): TUBE = FI cap BO, TENDRIL = (FI cup BO) - TUBE,
DISCONNECTED = the rest, all over unclassified vertices only.

Spark plan / 100 TB shape: the SCC peel dominates (see scc.py). Each
reachability is a BFS-shaped frontier loop — per round one semi-join
restricted edge scan, a distinct, an anti-join against the reached
set, and one localCheckpoint whose job also counts the new frontier;
direction switches sparse/dense at the Ligra 1/20 threshold
with the frontier degree sum estimated as size x avg-degree (no extra
scalar action per round, same rule as scc.py). Classification is five
V-sized left joins producing one CASE column — no shuffle wider than
V. Nothing driver-side ever holds more than a scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import fresh_checkpoint, superstep
from graphit_spark.kernels.scc import (
    _JUMP_FROM,
    strongly_connected_components,
)
from graphit_spark.plans.traversal import choose_direction


def _reachable(
    edges: DataFrame,
    seeds: DataFrame,
    num_edges: int,
    num_verts: int,
    max_iters: int,
) -> DataFrame:
    """All vertex ids reachable from `seeds` along directed `edges`,
    seeds included. Returns a localCheckpointed single-column ``id``
    DataFrame the caller must unpersist.

    Min-KEY label propagation with pointer-jump shortcutting (the
    cc_lp_pj.gt doubling trick, same as the SCC fixpoint): every
    vertex starts labeled with its own key — ``id - num_verts`` for
    seeds (all seed keys sort below all plain ids, so a seed ancestor
    always wins the min the moment any path delivers it), ``id``
    otherwise — and each round (a) folds the min label along edges,
    (b) jumps lab(v) min= lab(vertex(lab(v))): lab(v)=key(u) witnesses
    u ->* v and lab(u)=key(w) witnesses w ->* u, so the composition is
    a real path. reach = {v : lab(v) < 0} at the fixpoint. A depth-d
    reach typically converges in O(log d) rounds (plain frontier BFS
    paid d — the round-5 sf0.1 bowtie chains overflowed a 100-round
    budget exactly that way); a pointer whose vertex never learns a
    seed key degrades that hop to the BFS rate, never below it.
    Raises if labels still move after max_iters rounds (an incomplete
    reach set would silently misclassify TUBE/TENDRIL vertices)."""
    avg_deg = max(num_edges / max(num_verts, 1), 1.0)
    key = F.when(
        F.col("seed").isNotNull(), F.col("id") - F.lit(num_verts)
    ).otherwise(F.col("id"))
    # label universe: seeds plus every edge target (a vertex with no
    # in-edges and no seed mark can neither be reached nor ever carry
    # a seed key, so dropping it loses nothing)
    univ = (
        edges.select(F.col("dst").alias("id"))
        .distinct()
        .unionByName(seeds.select("id"))
        .distinct()
    )
    changed = F.col("lab") < F.col("olab")

    def step(cur: DataFrame, rnd) -> DataFrame:
        state = cur.select("id", "lab")
        if rnd.seen is None:
            front, fsize = state, num_verts  # first round: everyone sends
        else:
            front, fsize = cur.filter(changed).select("id"), rnd.seen["changed"]
        direction = choose_direction(fsize, int(fsize * avg_deg), num_edges)
        src_labels = state.select(
            F.col("id").alias("src"), F.col("lab").alias("slab")
        )
        if direction == "sparse":
            fr = front.select(F.col("id").alias("src"))
            active = edges.join(F.broadcast(fr), "src", "left_semi")
            src_labels = F.broadcast(src_labels.join(F.broadcast(fr), "src"))
        else:
            active = edges
        cand = (
            active.join(src_labels, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("slab").alias("cand"))
        )
        gath = state.join(cand, "id", "left").select(
            "id",
            F.col("lab").alias("olab"),
            F.least("lab", F.coalesce("cand", "lab")).alias("lab"),
        )
        # pointer jump: vertex(lab) = lab + num_verts when lab is a
        # seed key, lab otherwise; seeds' own labels are already
        # minimal, so jumping through them is a no-op by construction.
        # The jump side carries only the rows this round's gather
        # improved (the jump is an accelerator — completeness rests on
        # the gather), so the join side shrinks with the frontier; and
        # like the SCC fixpoint, jumps only engage past _JUMP_FROM
        # rounds, so shallow reaches never pay the extra join.
        if rnd.index < _JUMP_FROM:
            return gath
        jmp = gath.filter(changed).select(
            F.col("id").alias("jid"), F.col("lab").alias("jlab")
        )
        vertex_of = F.when(
            F.col("lab") < 0, F.col("lab") + F.lit(num_verts)
        ).otherwise(F.col("lab"))
        return gath.join(jmp, vertex_of == jmp["jid"], "left").select(
            "id",
            "olab",
            F.least(F.col("lab"), F.coalesce("jlab", F.col("lab"))).alias(
                "lab"
            ),
        )

    state = superstep(
        univ.join(seeds.select("id", F.lit(1).alias("seed")), "id", "left")
        .select("id", key.alias("lab")),
        step, max_rounds=max_iters, changed=changed,
    )
    reached = (
        state.filter(F.col("lab") < 0).select("id").transform(fresh_checkpoint)
    )
    state.unpersist()
    return reached


def bowtie_classes(
    graph: LinkGraph, *, max_iters: int = 100, **scc_kw
) -> DataFrame:
    """(id, bowtie) for every vertex: bowtie in {CORE, IN, OUT, TUBE,
    TENDRIL, DISCONNECTED} relative to the largest SCC (ties on size
    broken by the smaller SCC label — a total order, so the output is
    deterministic)."""
    with graph.persisted():
        num_edges = graph.num_edges
        num_verts = graph.num_vertices

        scc = strongly_connected_components(graph, **scc_kw)
        core_label = int(
            scc.groupBy("scc")
            .count()
            .orderBy(F.desc("count"), F.asc("scc"))
            .first()["scc"]
        )
        corev = (
            scc.filter(F.col("scc") == core_label)
            .select("id")
            .transform(fresh_checkpoint)
        )
        scc.unpersist()

        edges = graph.edges.select("src", "dst").transform(fresh_checkpoint)
        tedges = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ).transform(fresh_checkpoint)

        fwd = _reachable(edges, corev, num_edges, num_verts, max_iters)
        bwd = _reachable(tedges, corev, num_edges, num_verts, max_iters)
        inn = bwd.join(corev, "id", "left_anti").transform(fresh_checkpoint)
        outt = fwd.join(corev, "id", "left_anti").transform(fresh_checkpoint)
        fi = _reachable(edges, inn, num_edges, num_verts, max_iters)
        bo = _reachable(tedges, outt, num_edges, num_verts, max_iters)

        def flag(df: DataFrame, name: str) -> DataFrame:
            return df.select("id", F.lit(True).alias(name))

        out = (
            graph.vertices()
            .select("id")
            .join(flag(corev, "is_core"), "id", "left")
            .join(flag(bwd, "is_b"), "id", "left")
            .join(flag(fwd, "is_f"), "id", "left")
            .join(flag(fi, "is_fi"), "id", "left")
            .join(flag(bo, "is_bo"), "id", "left")
            .select(
                "id",
                F.when(F.col("is_core"), F.lit("CORE"))
                .when(F.col("is_b"), F.lit("IN"))
                .when(F.col("is_f"), F.lit("OUT"))
                .when(F.col("is_fi") & F.col("is_bo"), F.lit("TUBE"))
                .when(F.col("is_fi") | F.col("is_bo"), F.lit("TENDRIL"))
                .otherwise(F.lit("DISCONNECTED"))
                .alias("bowtie"),
            )
            .transform(fresh_checkpoint)
        )
        for df in (corev, edges, tedges, fwd, bwd, inn, outt, fi, bo):
            df.unpersist()
    return out
