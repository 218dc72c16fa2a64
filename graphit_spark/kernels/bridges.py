"""Bridges, biconnected components, articulation points —
2-edge- and 2-vertex-connectivity at cluster scale.

The sequential textbook algorithms (Tarjan low-links, Hopcroft-Tarjan
biconnectivity) are DFS-based — inherently serial, exactly what a
distributed engine cannot run. Both kernels here build on the same
distributed primitive: a rooted BFS spanning tree (depth bounded by
graph diameter, where an arbitrary spanning tree need not be).

Shared machinery (`_bfs_tree`): components from `connected_components`
(root = component min id), multi-source BFS depths, and the BFS-tree
parent = min neighbor one level up (unique by total order). Every phase
is the standard frontier ⋈ edges gather on the superstep driver; each
fixpoint's budget RAISES rather than return silently wrong cuts.

bridges — spanning tree + XOR cut-coverage (the Ahn-Guha-McGregor
linear-sketch idea on a static graph): every non-tree edge gets a
deterministic 60-bit md5 hash XORed into both endpoints; a bottom-up
fold gives S(v) = XOR of hashes crossing the cut below tree edge
(parent(v), v) — in-subtree edges cancel (x ⊕ x = 0) — and the edge is
a bridge iff S(v) == 0. A false zero needs an exact collision of
distinct 60-bit hashes (~2^-60 per tree edge, and deterministic: the
DuckDB twin replays identical hashes, so cross-engine parity holds
unconditionally).

biconnected_components — the fundamental-cycle star construction:
every non-tree edge {a, b} closes exactly one cycle through the tree
(a→LCA←b); climbing both endpoints to the LCA (≤ 2·depth synchronous
rounds over the non-tree edge set) emits an auxiliary star edge from
the non-tree edge to every tree edge on that path. Biconnected
components are the connected components of this auxiliary graph over
EDGE keys (cycle space is spanned by fundamental cycles; two edges
share a biconnected component iff they are linked through overlapping
fundamental cycles), computed by min-label gather + two
pointer-doubling hops per round (the Girvan-Newman CC pattern — log
convergence), run until a round changes no label. Tree edges on no
cycle stay singleton classes: exactly the bridges, which `tests`
cross-check against the sketch kernel.

articulation_points — a vertex is a cut vertex iff its incident edges
fall into ≥ 2 distinct biconnected components (degree-1 vertices and
roots with one child fall out automatically).

Scale shape: climbs touch only non-tree edges (Σ path length ≤
2·diameter·|non-tree|), aux CC is edge-key gathers with doubling, and
every shuffle keys on a vertex or edge id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.kernels.components import connected_components
from graphit_spark.plans.state import (
    bind_release,
    counted_checkpoint,
    fresh_checkpoint,
    superstep,
)

EKEY_BASE = 1 << 31  # canonical edge key: min(u,v) * 2^31 + max(u,v)


def _hash60(u, v) -> F.Column:
    """Deterministic 60-bit edge hash: first 15 md5 hex digits of
    "u_v_bridge" — SQL-reproducible, fits BIGINT."""
    s = F.concat_ws(
        "_", u.cast("string"), v.cast("string"), F.lit("bridge")
    )
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def _ekey(u, v) -> F.Column:
    return F.least(u, v) * F.lit(EKEY_BASE) + F.greatest(u, v)


def _check_ekey_domain(graph: LinkGraph, who: str) -> None:
    """The packed canonical edge key min(u,v)·2³¹ + max(u,v) is only
    injective while every vertex id < 2³¹; beyond that the packing
    silently collides and corrupts component labels. Raise instead
    (the module's raise-rather-than-silently-wrong policy; ids are
    BIGINT throughout, so web-scale graphs can legitimately exceed
    this). Relabel ids densely (LinkGraph.relabel_by_degree) to re-enter the domain."""
    if graph.num_vertices > EKEY_BASE:
        raise ValueError(
            f"{who}: max vertex id {graph.num_vertices - 1} >= 2^31 — "
            "the packed canonical edge key (min·2^31 + max) would "
            "collide. Densely relabel vertex ids first (e.g. "
            "LinkGraph.relabel_by_degree) so ids fit the packing domain."
        )


def _bfs_tree(graph: LinkGraph, max_rounds: int, who: str):
    """(und, sym, depth, parent): canonical undirected edges, both
    directions, BFS depth from each component's min id, and the
    BFS-tree parent. und/sym are persisted and depth materialized —
    the caller releases them."""
    und = (
        graph.edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
        .persist()
    )
    sym = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).persist()

    cc: dict = {}
    labels = connected_components(graph, max_iters=max_rounds, metrics_out=cc)
    if cc.get("final_frontier") != 0:
        labels.unpersist()
        raise RuntimeError(
            f"{who}: labeling did not converge in {max_rounds} rounds — "
            "raise max_rounds"
        )

    def deepen(depth: DataFrame, rnd) -> DataFrame:
        # level rnd.index is the frontier: every earlier level's
        # neighbors are already reached
        nd = (
            sym.join(
                depth.filter(F.col("depth") == rnd.index).select(
                    F.col("id").alias("a"), "depth"
                ),
                "a",
            )
            .groupBy(F.col("b").alias("id"))
            .agg((F.min("depth") + 1).alias("nd"))
        )
        return depth.join(nd, "id", "left").select(
            "id", F.coalesce("depth", "nd").alias("depth")
        )

    # the roots start the BFS straight from the CC result, which the
    # first round's materialization releases
    roots = labels.select(
        "id",
        F.when(F.col("id") == F.col("comp"), F.lit(0).cast("long")).alias(
            "depth"
        ),
    )
    depth = superstep(
        bind_release(roots, labels), deepen,
        max_rounds=max_rounds, checkpoint_start=False,
        until=lambda seen: seen["remaining"] == 0,
        remaining=F.count(F.when(F.col("depth").isNull(), 1)),
    )

    d_a = depth.select(F.col("id").alias("a"), F.col("depth").alias("da"))
    d_b = depth.select(F.col("id").alias("b"), F.col("depth").alias("db"))
    parent = (
        sym.join(d_a, "a")
        .join(d_b, "b")
        .filter(F.col("da") == F.col("db") - 1)
        .groupBy(F.col("b").alias("id"))
        .agg(F.min("a").alias("parent"))
    )
    return und, sym, depth, parent


def bridges(graph: LinkGraph, *, max_rounds: int = 24) -> DataFrame:
    """(u, v) with u < v — the bridge edges of the symmetrized simple
    graph. max_rounds bounds each fixpoint (labeling, BFS depth) and
    must exceed the graph diameter; the bottom-up fold runs one round
    per BFS level."""
    with graph.persisted():
        und, sym, depth, parent = _bfs_tree(graph, max_rounds, "bridges")

        tree = parent.select(
            F.least("parent", "id").alias("u"),
            F.greatest("parent", "id").alias("v"),
        )
        nontree = und.join(tree, ["u", "v"], "left_anti")
        h_rows = nontree.select(
            F.col("u").alias("id"), _hash60(F.col("u"), F.col("v")).alias("h")
        ).unionByName(
            nontree.select(
                F.col("v").alias("id"), _hash60(F.col("u"), F.col("v")).alias("h")
            )
        )
        hv = h_rows.groupBy("id").agg(F.bit_xor("h").alias("h"))

        def fold(state: DataFrame, rnd) -> DataFrame:
            """XOR level max_depth - rnd.index into the parents above it."""
            child_x = (
                state.filter(F.col("depth") == max_depth - rnd.index)
                .groupBy(F.col("parent").alias("id"))
                .agg(F.bit_xor("s").alias("child_x"))
            )
            return state.join(child_x, "id", "left").select(
                "id",
                "depth",
                "parent",
                F.when(
                    F.col("child_x").isNotNull(),
                    F.col("s").bitwiseXOR(F.col("child_x")),
                )
                .otherwise(F.col("s"))
                .alias("s"),
            )

        # the fold's start observes the deepest level: one round per level
        state, seen = counted_checkpoint(
            depth.join(parent, "id", "left")
            .join(hv, "id", "left")
            .select("id", "depth", "parent", F.coalesce("h", F.lit(0)).alias("s")),
            max_depth=F.max("depth"),
        )
        depth.unpersist()
        max_depth = int(seen["max_depth"])
        state = superstep(state, fold, rounds=max_depth, checkpoint_start=False)
        und.unpersist()
        sym.unpersist()
    return bind_release(
        state.filter(F.col("parent").isNotNull() & (F.col("s") == 0)).select(
            F.least("parent", "id").alias("u"),
            F.greatest("parent", "id").alias("v"),
        ),
        state,
    )


def biconnected_components(
    graph: LinkGraph, *, max_rounds: int = 24
) -> DataFrame:
    """(u, v, comp) for every undirected edge — comp is the minimum
    canonical edge key (min(u,v)·2³¹ + max(u,v)) of the edge's
    biconnected component. Bridges are exactly the singleton classes.

    max_rounds bounds the tree phases and the pointer-doubled aux-graph
    CC (each round = one min-label gather + two doubling hops, log
    convergence); the LCA climb gets 2·max_rounds (≤ 2·depth rounds)."""
    _check_ekey_domain(graph, "biconnected_components")
    with graph.persisted():
        und, sym, depth, parent = _bfs_tree(graph, max_rounds, "biconnected")

        npt = fresh_checkpoint(
            depth.join(parent, "id", "left").select("id", "depth", "parent")
        )
        depth.unpersist()
        sym.unpersist()

        # tree/nontree derive from the CHECKPOINTED node table — the lazy
        # `parent` frame would recompute through the released depth blocks
        tree = npt.filter(F.col("parent").isNotNull()).select(
            F.least("parent", "id").alias("u"),
            F.greatest("parent", "id").alias("v"),
        )
        nontree = und.join(tree, ["u", "v"], "left_anti")

        # --- LCA climb: each non-tree edge walks both endpoints up,
        # emitting an aux star edge per tree edge on its fundamental cycle
        na = npt.select(
            F.col("id").alias("ca"),
            F.col("depth").alias("da"),
            F.col("parent").alias("pa"),
        )
        nb = npt.select(
            F.col("id").alias("cb"),
            F.col("depth").alias("db"),
            F.col("parent").alias("pb"),
        )
        emissions: list[DataFrame] = []

        def climb(state: DataFrame, rnd) -> DataFrame:
            joined = state.join(na, "ca").join(nb, "cb")
            climb_a = F.col("da") >= F.col("db")
            climb_b = F.col("db") >= F.col("da")
            emissions.append(
                joined.filter(climb_a)
                .select("ek", _ekey(F.col("ca"), F.col("pa")).alias("tek"))
                .unionByName(
                    joined.filter(climb_b).select(
                        "ek", _ekey(F.col("cb"), F.col("pb")).alias("tek")
                    )
                )
                .transform(fresh_checkpoint)
            )
            return joined.select(
                "ek",
                F.when(climb_a, F.col("pa")).otherwise(F.col("ca")).alias("ca"),
                F.when(climb_b, F.col("pb")).otherwise(F.col("cb")).alias("cb"),
            ).filter(F.col("ca") != F.col("cb"))

        superstep(
            nontree.select(
                _ekey(F.col("u"), F.col("v")).alias("ek"),
                F.col("u").alias("ca"),
                F.col("v").alias("cb"),
            ),
            climb,
            max_rounds=2 * max_rounds,
            until=lambda seen: seen["climbers"] == 0,
            climbers=F.count(F.lit(1)),
        ).unpersist()

        # the aux edges; releasing them releases every round's emissions
        aux = bind_release(reduce(DataFrame.unionByName, emissions), *emissions)
        auxsym = aux.select(
            F.col("ek").alias("x"), F.col("tek").alias("y")
        ).unionByName(
            aux.select(F.col("tek").alias("x"), F.col("ek").alias("y"))
        )

        def jump(lab: DataFrame) -> DataFrame:
            return lab.join(
                lab.select(F.col("id").alias("comp"), F.col("comp").alias("c2")),
                "comp",
            ).select("id", F.col("c2").alias("comp"), "old")

        def merge(comp: DataFrame, rnd) -> DataFrame:
            """Aux CC round: min-label gather + two pointer-doubling hops."""
            comp = comp.select("id", "comp")
            gathered = (
                auxsym.join(comp.select(F.col("id").alias("x"), "comp"), "x")
                .groupBy(F.col("y").alias("id"))
                .agg(F.min("comp").alias("mn"))
            )
            return jump(jump(
                comp.join(gathered, "id", "left").select(
                    "id",
                    F.least("comp", F.coalesce("mn", "comp")).alias("comp"),
                    F.col("comp").alias("old"),
                )
            ))

        # every undirected edge is an aux node, labelled by its own key
        ek = _ekey(F.col("u"), F.col("v"))
        comp = superstep(
            und.select(ek.alias("id"), ek.alias("comp")), merge,
            max_rounds=max_rounds, changed=F.col("comp") != F.col("old"),
        )
        aux.unpersist()
        npt.unpersist()
        und.unpersist()
    # the edge key packs (u, v): min·2^31 + max
    return bind_release(
        comp.select(
            F.shiftright("id", 31).alias("u"),
            F.col("id").bitwiseAND(F.lit(EKEY_BASE - 1)).alias("v"),
            "comp",
        ),
        comp,
    )


def articulation_points(
    graph: LinkGraph, *, max_rounds: int = 24
) -> DataFrame:
    """(id, n_components) — vertices incident to ≥ 2 distinct
    biconnected components: exactly the cut vertices."""
    bc = biconnected_components(graph, max_rounds=max_rounds)
    ends = bc.select(F.col("u").alias("id"), "comp").unionByName(
        bc.select(F.col("v").alias("id"), "comp")
    )
    return bind_release(
        ends.groupBy("id")
        .agg(F.countDistinct("comp").alias("n_components"))
        .filter(F.col("n_components") >= 2),
        bc,
    )
