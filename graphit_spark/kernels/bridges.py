"""Bridges, biconnected components, articulation points —
2-edge- and 2-vertex-connectivity at cluster scale.

The sequential textbook algorithms (Tarjan low-links, Hopcroft-Tarjan
biconnectivity) are DFS-based — inherently serial, exactly what a
distributed engine cannot run. Both kernels here build on the same
distributed primitive: a rooted BFS spanning tree (depth bounded by
graph diameter, where an arbitrary spanning tree need not be).

Shared machinery (`_bfs_tree`): components by synchronous min-label
propagation (root = component min id), multi-source BFS depths, and
the BFS-tree parent = min neighbor one level up (unique by total
order). Every phase is the standard frontier ⋈ edges gather; each
convergence cap RAISES rather than return silently wrong cuts.

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
convergence, asserted). Tree edges on no cycle stay singleton classes:
exactly the bridges, which `tests` cross-check against the sketch
kernel.

articulation_points — a vertex is a cut vertex iff its incident edges
fall into ≥ 2 distinct biconnected components (degree-1 vertices and
roots with one child fall out automatically).

Scale shape: climbs touch only non-tree edges (Σ path length ≤
2·diameter·|non-tree|), aux CC is edge-key gathers with doubling, and
every shuffle keys on a vertex or edge id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import counted_checkpoint, fresh_checkpoint

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
    BFS-tree parent. und/sym are persisted and depth checkpointed —
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

    verts = sym.select(F.col("a").alias("id")).distinct()

    labels = verts.select("id", F.col("id").alias("label")).transform(
        fresh_checkpoint
    )
    for _ in range(max_rounds):
        gathered = (
            sym.join(labels.select(F.col("id").alias("a"), "label"), "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("label").alias("nl"))
        )
        new_labels = (
            labels.join(gathered, "id", "left")
            .select(
                "id",
                F.least("label", F.coalesce("nl", "label")).alias("label"),
            )
            .transform(fresh_checkpoint)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "id")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"{who}: labeling did not converge in {max_rounds} rounds — "
            "raise max_rounds"
        )

    depth = labels.select(
        "id",
        F.when(F.col("id") == F.col("label"), F.lit(0).cast("long")).alias(
            "depth"
        ),
    ).transform(fresh_checkpoint)
    labels.unpersist()
    for _ in range(max_rounds):
        gathered = (
            sym.join(
                depth.filter(F.col("depth").isNotNull()).select(
                    F.col("id").alias("a"), "depth"
                ),
                "a",
            )
            .groupBy(F.col("b").alias("id"))
            .agg((F.min("depth") + 1).alias("nd"))
        )
        new_depth, seen = counted_checkpoint(
            depth.join(gathered, "id", "left").select(
                "id",
                F.when(
                    F.col("depth").isNull() & F.col("nd").isNotNull(),
                    F.col("nd"),
                )
                .otherwise(F.col("depth"))
                .alias("depth"),
            ),
            remaining=F.count(F.when(F.col("depth").isNull(), 1)),
        )
        depth.unpersist()
        depth = new_depth
        if seen["remaining"] == 0:
            break
    else:
        raise RuntimeError(
            f"{who}: BFS depth exceeds {max_rounds} rounds — raise "
            "max_rounds (results would be silently wrong otherwise)"
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
    graph. max_rounds bounds each phase (label propagation, BFS depth,
    bottom-up fold) and must exceed the graph diameter."""
    own_cache = graph.ensure_persisted()
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

    state = (
        depth.join(parent, "id", "left")
        .join(hv, "id", "left")
        .select(
            "id",
            "depth",
            "parent",
            F.coalesce("h", F.lit(0)).alias("s"),
        )
        .transform(fresh_checkpoint)
    )
    depth.unpersist()
    max_depth = state.agg(F.max("depth").alias("m")).collect()[0]["m"] or 0

    for d in range(int(max_depth), 0, -1):
        fold = (
            state.filter(F.col("depth") == d)
            .groupBy(F.col("parent").alias("id"))
            .agg(F.bit_xor("s").alias("child_x"))
        )
        new_state = (
            state.join(fold, "id", "left")
            .select(
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
            .transform(fresh_checkpoint)
        )
        state.unpersist()
        state = new_state

    out = state.filter(
        F.col("parent").isNotNull() & (F.col("s") == 0)
    ).select(
        F.least("parent", "id").alias("u"),
        F.greatest("parent", "id").alias("v"),
    )
    result = out.transform(fresh_checkpoint)
    und.unpersist()
    sym.unpersist()
    state.unpersist()
    if own_cache:
        graph.unpersist()
    return result


def biconnected_components(
    graph: LinkGraph, *, max_rounds: int = 24, cc_rounds: int = 12
) -> DataFrame:
    """(u, v, comp) for every undirected edge — comp is the minimum
    canonical edge key (min(u,v)·2³¹ + max(u,v)) of the edge's
    biconnected component. Bridges are exactly the singleton classes.

    max_rounds bounds the tree phases and the LCA climb (≤ 2·depth
    rounds); cc_rounds bounds the pointer-doubled aux-graph CC (each
    round = one min-label gather + two doubling hops, log convergence,
    asserted converged)."""
    _check_ekey_domain(graph, "biconnected_components")
    own_cache = graph.ensure_persisted()
    und, sym, depth, parent = _bfs_tree(graph, max_rounds, "biconnected")

    npt = (
        depth.join(parent, "id", "left")
        .select("id", "depth", "parent")
        .transform(fresh_checkpoint)
    )
    depth.unpersist()

    # tree/nontree derive from the CHECKPOINTED node table — the lazy
    # `parent` frame would recompute through the released depth blocks
    tree = npt.filter(F.col("parent").isNotNull()).select(
        F.least("parent", "id").alias("u"),
        F.greatest("parent", "id").alias("v"),
    )
    nontree = und.join(tree, ["u", "v"], "left_anti")

    # --- LCA climb: each non-tree edge walks both endpoints up,
    # emitting an aux star edge per tree edge on its fundamental cycle
    # live climbers are counted on the checkpoint job that materializes
    # them — no per-round emptiness action
    state, seen = counted_checkpoint(
        nontree.select(
            _ekey(F.col("u"), F.col("v")).alias("ek"),
            F.col("u").alias("ca"),
            F.col("v").alias("cb"),
        )
    )
    emissions: list[DataFrame] = []
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
    for _ in range(2 * max_rounds):
        if seen["rows"] == 0:
            break
        joined = state.join(na, "ca").join(nb, "cb")
        climb_a = F.col("da") >= F.col("db")
        climb_b = F.col("db") >= F.col("da")
        em = (
            joined.filter(climb_a)
            .select("ek", _ekey(F.col("ca"), F.col("pa")).alias("tek"))
            .unionByName(
                joined.filter(climb_b).select(
                    "ek", _ekey(F.col("cb"), F.col("pb")).alias("tek")
                )
            )
            .transform(fresh_checkpoint)
        )
        emissions.append(em)
        new_state, seen = counted_checkpoint(
            joined.select(
                "ek",
                F.when(climb_a, F.col("pa")).otherwise(F.col("ca")).alias(
                    "ca"
                ),
                F.when(climb_b, F.col("pb")).otherwise(F.col("cb")).alias(
                    "cb"
                ),
            ).filter(F.col("ca") != F.col("cb"))
        )
        state.unpersist()
        state = new_state
    else:
        raise RuntimeError(
            f"biconnected: LCA climb exceeds {2 * max_rounds} rounds — "
            "raise max_rounds"
        )
    state.unpersist()

    nodes = (
        tree.select(_ekey(F.col("u"), F.col("v")).alias("id"))
        .unionByName(
            nontree.select(_ekey(F.col("u"), F.col("v")).alias("id"))
        )
        .distinct()
    )
    if not emissions:
        # forest: no cycles at all — every edge is its own singleton
        # biconnected component (and therefore a bridge)
        out = und.select(
            "u", "v", _ekey(F.col("u"), F.col("v")).alias("comp")
        )
        result = out.transform(fresh_checkpoint)
        npt.unpersist()
        und.unpersist()
        sym.unpersist()
        if own_cache:
            graph.unpersist()
        return result
    aux = emissions[0]
    for em in emissions[1:]:
        aux = aux.unionByName(em)
    auxsym = aux.select(F.col("ek").alias("x"), F.col("tek").alias("y")).unionByName(
        aux.select(F.col("tek").alias("x"), F.col("ek").alias("y"))
    )

    # --- aux CC: min-label gather + two pointer-doubling hops/round ---
    comp = nodes.select("id", F.col("id").alias("comp")).transform(
        fresh_checkpoint
    )
    for _ in range(cc_rounds):
        gathered = (
            auxsym.join(comp.select(F.col("id").alias("x"), "comp"), "x")
            .groupBy(F.col("y").alias("id"))
            .agg(F.min("comp").alias("mn"))
        )
        la = comp.join(gathered, "id", "left").select(
            "id", F.least("comp", F.coalesce("mn", "comp")).alias("comp")
        )
        lb = la.alias("a").join(
            la.select(F.col("id").alias("comp"), F.col("comp").alias("c2")),
            "comp",
        ).select("id", F.col("c2").alias("comp"))
        lc = (
            lb.alias("a")
            .join(
                lb.select(
                    F.col("id").alias("comp"), F.col("comp").alias("c2")
                ),
                "comp",
            )
            .select("id", F.col("c2").alias("comp"))
            .transform(fresh_checkpoint)
        )
        comp.unpersist()
        comp = lc
    # converged? one more gather must change nothing
    check = (
        auxsym.join(comp.select(F.col("id").alias("x"), "comp"), "x")
        .groupBy(F.col("y").alias("id"))
        .agg(F.min("comp").alias("mn"))
        .join(comp, "id")
        .filter(F.col("mn") < F.col("comp"))
        .limit(1)
        .count()
    )
    if check:
        raise RuntimeError(
            f"biconnected: aux CC not converged after {cc_rounds} "
            "doubling rounds — raise cc_rounds"
        )

    out = (
        und.withColumn("__k", _ekey(F.col("u"), F.col("v")))
        .join(comp, F.col("__k") == F.col("id"))
        .select("u", "v", "comp")
    )
    result = out.transform(fresh_checkpoint)
    npt.unpersist()
    und.unpersist()
    sym.unpersist()
    comp.unpersist()
    for em in emissions:
        em.unpersist()
    if own_cache:
        graph.unpersist()
    return result


def articulation_points(
    graph: LinkGraph, *, max_rounds: int = 24, cc_rounds: int = 12
) -> DataFrame:
    """(id, n_components) — vertices incident to ≥ 2 distinct
    biconnected components: exactly the cut vertices."""
    bc = biconnected_components(
        graph, max_rounds=max_rounds, cc_rounds=cc_rounds
    )
    ends = bc.select(F.col("u").alias("id"), "comp").unionByName(
        bc.select(F.col("v").alias("id"), "comp")
    )
    return (
        ends.groupBy("id")
        .agg(F.countDistinct("comp").alias("n_components"))
        .filter(F.col("n_components") >= 2)
    )
