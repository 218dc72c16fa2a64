"""Random-neighbor sampling and random walks.

Reference: `getRandomOutNgh` / `getRandomInNgh` (reference
src/runtime_lib/infra_ligra/ligra/graph.h random-neighbor accessors;
exposed to the DSL in src/frontend/parser.cpp:2800-2813). The reference
draws with rand(); a distributed engine needs the draw to be
REPRODUCIBLE across cluster sizes, retries, and resumes, so the choice
here is a seeded hash: neighbor index = H(entity, step, seed) mod degree
over the SORTED adjacency block. Same-seed runs pick identical
neighbors on any partitioning — and the arithmetic (md5 prefix read as
an integer) is reproducible in ANSI SQL, so the walk queries get real
DuckDB oracles instead of rows-only checks.

This is also the LLM-pipeline graph-sampling primitive (node2vec-style
corpus walks): `random_walks` emits (walk_id, step, vertex) trajectories
with one adjacency join per step — the frontier is V-sized, each hop is
the same state ⋈ adjacency-block shape as every other kernel, and hub
vertices cost one wide array row rather than a degree-sized explosion.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release, fresh_checkpoint, superstep


def _hash_mod(entity, step: int, seed: int, size) -> F.Column:
    """H(entity, step, seed) mod size — first 32 md5 bits of the
    canonical string "{entity}_{step}_{seed}" (parity contract with the
    DuckDB twin: ('0x'||substr(md5(s),1,8))::BIGINT % size)."""
    s = F.concat_ws(
        "_", entity.cast("string"), F.lit(step).cast("string"),
        F.lit(seed).cast("string"),
    )
    h = F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, size)


def _starts(graph: LinkGraph, starts: DataFrame | None) -> DataFrame:
    """(walk_id, v): one walk per vertex, or per row of ``starts``
    (its first column), each starting at its own id."""
    if starts is None:
        return graph.vertices().select(
            F.col("id").alias("walk_id"), F.col("id").alias("v")
        )
    first = F.col(starts.columns[0])
    return starts.select(first.alias("walk_id"), first.alias("v"))


def _walk(start: DataFrame, walk_len: int, draw, scratch=()) -> DataFrame:
    """The walk loop every sampler shares: (walk_id, step, vertex) rows
    for steps 0..walk_len. ``start`` holds step 0's positions
    (walk_id, v, ...); ``draw(positions, rnd)`` builds step
    ``rnd.index``'s positions from the previous step's, lazily — it is
    the sampler's superstep step. A walk ends early where its draw
    yields no row.

    Each step's positions are materialized once and kept for the
    result; the driver holds a view of each that is bound to no owner,
    so its release of the superseded step frees nothing. The result's
    ``unpersist()`` releases every step. Once the walk has run, the
    ``scratch`` frames its draws read are released."""
    steps = [fresh_checkpoint(start)]

    def keep(df: DataFrame, rnd, seen) -> DataFrame:
        steps.append(fresh_checkpoint(df))
        return steps[-1].select("*")

    superstep(
        steps[0].select("*"), draw, start=1, rounds=walk_len + 1,
        checkpoint_start=False, materialize=keep,
    )
    for df in scratch:
        df.unpersist()
    out = reduce(DataFrame.unionByName, [
        df.select("walk_id", F.lit(t).alias("step"), F.col("v").alias("vertex"))
        for t, df in enumerate(steps)
    ])
    return bind_release(out, *steps)


def _uniform_hop(cur: DataFrame, adj: DataFrame, t: int, seed: int,
                 *keep) -> DataFrame:
    """(walk_id, *keep, v): each walk's step-t draw nbrs[H mod degree]
    over its current vertex's sorted adjacency block."""
    idx = _hash_mod(F.col("walk_id"), t, seed, F.size("nbrs"))
    return cur.join(adj, cur["v"] == adj["src"]).select(
        "walk_id", *keep,
        F.element_at("nbrs", (idx + 1).cast("int")).alias("v"),
    )


#: the float precision of a uniform draw in [0, 1)
_PREC = (1 << 31) - 1


def _alias_pick(t: int, seed: int) -> F.Column:
    """The step-t alias draw over a joined block (nbrs, prob, alias):
    two INDEPENDENT hashes per (walk, step) — the entity is suffixed so
    the slot and accept draws differ."""
    slot = _hash_mod(
        F.concat(F.col("walk_id").cast("string"), F.lit("i")), t, seed,
        F.size("nbrs"),
    )
    u = _hash_mod(
        F.concat(F.col("walk_id").cast("string"), F.lit("u")), t, seed,
        F.lit(_PREC),
    ) / F.lit(float(_PREC))
    keep = u < F.element_at("prob", (slot + 1).cast("int"))
    return F.when(
        keep, F.element_at("nbrs", (slot + 1).cast("int"))
    ).otherwise(
        F.element_at(
            "nbrs",
            (F.element_at("alias", (slot + 1).cast("int")) + 1).cast("int"),
        )
    )


def random_out_neighbor(
    graph: LinkGraph,
    vertices: DataFrame | None = None,
    *,
    seed: int = 0,
    step: int = 0,
) -> DataFrame:
    """(id, nbr) — one deterministic pseudo-random out-neighbor per
    vertex (getRandomOutNgh). Vertices without out-neighbors get no row
    (degree-0 draw is undefined in the reference too). `step` varies the
    draw so repeated calls sample fresh neighbors under one seed."""
    adj = graph.adjacency()
    base = adj if vertices is None else adj.join(
        vertices.select(F.col(vertices.columns[0]).alias("src")), "src",
        "left_semi",
    )
    idx = _hash_mod(F.col("src"), step, seed, F.size("nbrs"))
    return base.select(
        F.col("src").alias("id"),
        F.element_at("nbrs", (idx + 1).cast("int")).alias("nbr"),
    )


def random_in_neighbor(
    graph: LinkGraph,
    vertices: DataFrame | None = None,
    *,
    seed: int = 0,
    step: int = 0,
) -> DataFrame:
    """(id, nbr) over the transpose (getRandomInNgh)."""
    return random_out_neighbor(
        graph.transpose(), vertices, seed=seed, step=step
    )


def weighted_random_walks(
    graph: LinkGraph,
    walk_len: int,
    *,
    seed: int = 0,
    starts: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, step, vertex) — like random_walks but the neighbor
    draw is weight-proportional: target = H(walk_id, step, seed) mod
    Σw(v), pick the first out-edge (dst ascending) whose running weight
    exceeds the target — the discrete inverse-CDF draw, exact and
    reproducible. The per-src running weight is computed ONCE on the
    edge table (window keyed by src — P-parallel); each step is then
    frontier ⋈ cum-edges + a per-walk min, so a step touches only the
    frontier vertices' out-edges.

    Scale caveat: a walk sitting AT a hub materializes that hub's full
    out-edge list as its candidate set for the step (bounded by one
    vertex's degree, never by |E|). At extreme hub degrees the
    constant-time alternative is an alias table per vertex (two-array
    O(deg) preprocessing, O(1) draws) — worth building when walks
    revisit hubs often; the inverse-CDF form is the simple exact
    baseline."""
    if not graph.weighted:
        raise ValueError("weighted_random_walks requires a weighted graph")
    from pyspark.sql import Window

    with graph.persisted():
        wsrc = Window.partitionBy("src").orderBy("dst").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum_edges = (
            graph.edges.withColumn("cumw", F.sum("weight").over(wsrc))
            .withColumn("totw", F.sum("weight").over(Window.partitionBy("src")))
            .transform(fresh_checkpoint)
        )

        def draw(cur: DataFrame, rnd) -> DataFrame:
            target = _hash_mod(F.col("walk_id"), rnd.index, seed, F.col("totw"))
            return (
                cur.join(cum_edges, cur["v"] == cum_edges["src"])
                .filter(F.col("cumw") > target)
                .groupBy("walk_id")
                .agg(F.min(F.struct("cumw", "dst")).alias("pick"))
                .select("walk_id", F.col("pick.dst").alias("v"))
            )

        return _walk(_starts(graph, starts), walk_len, draw, [cum_edges])


def node2vec_walks(
    graph: LinkGraph,
    walk_len: int,
    *,
    p: float = 4.0,
    q: float = 0.25,
    seed: int = 0,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Second-order (node2vec-style) biased walks: after the uniform
    first hop, the next edge (cur → dst) is drawn proportionally to
    1/p if dst == prev (return), 1 if dst is a neighbor of prev
    (BFS-ish), else 1/q (DFS-ish). (walk_id, step, vertex) rows.

    Determinism across engines without rounding: the bias weights are
    dyadic rationals for the default p=4, q=0.25, and both engines sum
    the per-walk running bias in the same (dst ascending) order, so
    every comparison sees bit-identical doubles. target =
    frac(H(walk_id, step, seed)) * total_bias — the float inverse-CDF
    draw.

    Per step: frontier ⋈ out-edges of cur + one (prev, dst) edge
    lookup join for the neighbor-of-prev test + a per-walk window —
    cost is the frontier's out-degree mass, the same shape the
    unbiased weighted walk pays, plus one equi-join. Same hub caveat
    as weighted_random_walks: a step at a hub costs that hub's degree
    in one walk's window partition (never |E|)."""
    from pyspark.sql import Window

    with graph.persisted():
        adj = graph.adjacency()
        prev_edges = graph.edges.select(
            F.col("src").alias("prev"), F.col("dst"), F.lit(1).alias("conn")
        ).dropDuplicates(["prev", "dst"])
        wtot = Window.partitionBy("walk_id")
        wcum = wtot.orderBy("dst").rowsBetween(Window.unboundedPreceding, 0)
        bias = (
            F.when(F.col("dst") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("conn").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )

        def draw(state: DataFrame, rnd) -> DataFrame:
            t = rnd.index
            if t == 1:
                # uniform draw (no previous vertex yet) — same as random_walks
                return _uniform_hop(state, adj, 1, seed, F.col("v").alias("prev"))
            frac = _hash_mod(F.col("walk_id"), t, seed, F.lit(_PREC)) / F.lit(
                float(_PREC)
            )
            cand = (
                state.join(graph.edges, state["v"] == graph.edges["src"])
                .join(prev_edges, ["prev", "dst"], "left")
                .select("walk_id", F.col("v").alias("newprev"), "dst",
                        bias.alias("bias"))
            )
            return (
                cand.withColumn("cumw", F.sum("bias").over(wcum))
                .withColumn("target", frac * F.sum("bias").over(wtot))
                .filter(F.col("cumw") > F.col("target"))
                .groupBy("walk_id")
                .agg(F.min(F.struct("cumw", "dst", "newprev")).alias("pick"))
                .select(
                    "walk_id",
                    F.col("pick.newprev").alias("prev"),
                    F.col("pick.dst").alias("v"),
                )
            )

        return _walk(_starts(graph, starts), walk_len, draw)


def random_walks(
    graph: LinkGraph,
    walk_len: int,
    *,
    seed: int = 0,
    starts: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, step, vertex) — one walk per start vertex (walk_id =
    start id), steps 0..walk_len; a walk ends early at a sink (no
    out-neighbors). The draw hashes (walk_id, step, seed), NOT the
    current vertex alone, so two walks crossing the same vertex diverge
    independently.

    Per step: frontier ⋈ adjacency on the current vertex, pick
    nbrs[H mod degree]. walk_len joins total; each materialized step is
    walk-count-sized, never edge-sized."""
    with graph.persisted():
        adj = graph.adjacency()
        return _walk(
            _starts(graph, starts), walk_len,
            lambda cur, rnd: _uniform_hop(cur, adj, rnd.index, seed),
        )


def _alias_build(dsts, weights):
    """Vose alias-table construction, min-index pairing rule: each round
    finalizes the LOWEST-index under-full slot s against the
    lowest-index over-full slot l (prob[s] = scaled[s], alias[s] = l,
    scaled[l] = (scaled[l] + scaled[s]) - 1.0). Any deterministic drain
    order yields a valid table; min-index is chosen because it is
    reproducible as a per-src windowed argmin inside an ANSI-SQL
    recursive CTE — which is what gives random_walks_alias a REAL
    DuckDB oracle twin (benchqueries.alias_walks_sql) instead of a
    rows-only check. Heap-based: O(deg log deg) build, O(1) draws."""
    import heapq

    n = len(dsts)
    total = float(sum(weights))
    scaled = [w * n / total for w in weights]
    small = [i for i in range(n) if scaled[i] < 1.0]
    large = [i for i in range(n) if scaled[i] >= 1.0]
    heapq.heapify(small)
    heapq.heapify(large)
    prob = [1.0] * n
    alias = list(range(n))
    while small and large:
        s = heapq.heappop(small)
        l = large[0]
        prob[s] = scaled[s]
        alias[s] = l
        scaled[l] = (scaled[l] + scaled[s]) - 1.0
        if scaled[l] < 1.0:
            heapq.heappop(large)
            heapq.heappush(small, l)
    return prob, alias


def build_alias_tables(graph: LinkGraph):
    """(src, nbrs, prob, alias) — one row per vertex with out-edges;
    constructed Arrow-batched per src group (O(deg) once), after which
    every weighted draw is O(1): the scale path for walk workloads that
    revisit hubs (weighted_random_walks' docstring caveat). Weighted
    graphs use edge weights; unweighted degenerate to uniform."""
    import pandas as pd

    edges = graph.edges
    weighted = graph.weighted

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("dst")
        dsts = pdf["dst"].tolist()
        ws = pdf["weight"].tolist() if weighted else [1] * len(dsts)
        prob, alias = _alias_build(dsts, ws)
        return pd.DataFrame(
            {
                "src": [pdf["src"].iloc[0]],
                "nbrs": [dsts],
                "prob": [prob],
                "alias": [alias],
            }
        )

    return edges.groupBy("src").applyInPandas(
        build,
        "src long, nbrs array<long>, prob array<double>, alias array<int>",
    )


def build_node2vec_alias_tables(
    graph: LinkGraph,
    pairs: DataFrame,
    *,
    p: float = 4.0,
    q: float = 0.25,
) -> DataFrame:
    """(prev, cur, nbrs, prob, alias) — one alias block per directed
    2-path prefix (prev → cur) in `pairs`, over cur's out-edges with
    the node2vec bias (1/p return, 1 neighbor-of-prev, 1/q explore).
    Same Vose min-index construction as build_alias_tables, so the same
    recursive-CTE oracle pattern applies (benchqueries.
    node2vec_alias_sql).

    `pairs` restricts the build to the prefixes a caller actually
    needs: materializing ALL |E| blocks costs the graph's two-hop mass
    (Σ over edges (u,v) of outdeg(v)) — prohibitive on hub-heavy
    graphs, which is why node2vec_walks_alias builds lazily per
    frontier."""
    import pandas as pd

    edges = graph.edges
    # pairs typically derives from the same edge DF (frontier prefixes,
    # or the all-edges precompute) — qualify every join side explicitly
    # so the analyzer never sees an ambiguous self-join attribute
    pr = pairs.select("prev", "cur").dropDuplicates(["prev", "cur"]).alias("pr")
    e = edges.alias("e")
    pe = (
        edges.select(
            F.col("src").alias("prev"), F.col("dst"), F.lit(1).alias("conn")
        )
        .dropDuplicates(["prev", "dst"])
        .alias("pe")
    )
    bias = (
        F.when(F.col("c.dst") == F.col("c.prev"), F.lit(1.0 / p))
        .when(F.col("pe.conn").isNotNull(), F.lit(1.0))
        .otherwise(F.lit(1.0 / q))
    )
    cand = (
        pr.join(e, F.col("pr.cur") == F.col("e.src"))
        .select(
            F.col("pr.prev").alias("prev"),
            F.col("pr.cur").alias("cur"),
            F.col("e.dst").alias("dst"),
        )
        .alias("c")
        .join(
            pe,
            (F.col("c.prev") == F.col("pe.prev"))
            & (F.col("c.dst") == F.col("pe.dst")),
            "left",
        )
        .select(
            F.col("c.prev").alias("prev"), F.col("c.cur").alias("cur"),
            F.col("c.dst").alias("dst"), bias.alias("bias"),
        )
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("dst")
        dsts = pdf["dst"].tolist()
        prob, alias = _alias_build(dsts, pdf["bias"].tolist())
        return pd.DataFrame(
            {
                "prev": [pdf["prev"].iloc[0]],
                "cur": [pdf["cur"].iloc[0]],
                "nbrs": [dsts],
                "prob": [prob],
                "alias": [alias],
            }
        )

    return cand.groupBy("prev", "cur").applyInPandas(
        build,
        "prev long, cur long, nbrs array<long>, prob array<double>, "
        "alias array<int>",
    )


def node2vec_walks_alias(
    graph: LinkGraph,
    walk_len: int,
    *,
    p: float = 4.0,
    q: float = 0.25,
    seed: int = 0,
    starts: DataFrame | None = None,
    alias_tables: DataFrame | None = None,
) -> DataFrame:
    """Second-order biased walks with O(1) draws: per-(prev, cur) alias
    blocks replace node2vec_walks' per-walk inverse-CDF window. The
    blocks are built LAZILY per step for exactly the distinct (prev,
    cur) prefixes in the frontier and memoized across steps, so

    - walks sharing a prefix share ONE block: k walks sitting at the
      same hub pair cost one O(deg) build + k O(1) draws, where the
      window form pays k × deg candidate rows every step;
    - a prefix revisited at a later step costs nothing (memo hit);
    - nothing is built for the |E| - |visited| prefixes no walk
      reaches — the full two-hop precompute the node2vec papers
      warn about never happens.

    Distribution-equivalent to node2vec_walks but a different
    deterministic sampler (alias construction fixes a different
    mapping), so seeds are not interchangeable between the two —
    exactly the random_walks_alias ↔ weighted_random_walks
    relationship. Draws hash (walk_id+'i'/'u', step, seed) like
    random_walks_alias; construction floats are bit-reproducible in
    SQL (dyadic biases for the default p=4, q=0.25 make every partial
    sum exact), so the query gets a real DuckDB twin."""
    with graph.persisted():
        adj = graph.adjacency()
        memo: list[DataFrame] = []  # the blocks built so far, materialized

        def draw(state: DataFrame, rnd) -> DataFrame:
            t = rnd.index
            if t == 1:
                # uniform draw (no previous vertex yet) — same as node2vec_walks
                return _uniform_hop(state, adj, 1, seed, F.col("v").alias("prev"))
            at = alias_tables
            if at is None:
                pairs = state.select(
                    "prev", F.col("v").alias("cur")
                ).dropDuplicates(["prev", "cur"])
                # the superseded memo is released with the round
                old = rnd.own(memo.pop()) if memo else None
                if old is not None:
                    pairs = pairs.join(
                        old.select("prev", "cur"), ["prev", "cur"], "left_anti"
                    )
                built = build_node2vec_alias_tables(graph, pairs, p=p, q=q)
                memo.append(fresh_checkpoint(
                    built if old is None else old.unionByName(built)
                ))
                at = memo[0]
            at = at.select(
                F.col("prev").alias("aprev"), F.col("cur").alias("acur"),
                "nbrs", "prob", "alias",
            )
            return state.join(
                at, (state["prev"] == at["aprev"]) & (state["v"] == at["acur"]),
            ).select(
                "walk_id", F.col("v").alias("prev"), _alias_pick(t, seed).alias("v")
            )

        return _walk(_starts(graph, starts), walk_len, draw, memo)


def random_walks_alias(
    graph: LinkGraph,
    walk_len: int,
    *,
    seed: int = 0,
    starts: DataFrame | None = None,
    alias_tables: DataFrame | None = None,
) -> DataFrame:
    """weight-proportional walks via the alias method: per step, one
    V-sized join against the alias blocks and two hash draws (slot +
    accept) — O(1) work per walk-step independent of degree, unlike the
    inverse-CDF scan. Distribution-equivalent to weighted_random_walks
    but a DIFFERENT deterministic sampler (alias construction fixes a
    different mapping), so seeds are not interchangeable between the
    two. Exact pick parity vs the pure-Python mirror is tested."""
    with graph.persisted():
        at = (
            alias_tables
            if alias_tables is not None
            else build_alias_tables(graph).transform(fresh_checkpoint)
        )
        return _walk(
            _starts(graph, starts), walk_len,
            lambda cur, rnd: cur.join(at, cur["v"] == at["src"]).select(
                "walk_id", _alias_pick(rnd.index, seed).alias("v")
            ),
            [] if alias_tables is not None else [at],
        )


def walk_cooccurrence(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram pair extraction over a walk table — the DeepWalk /
    node2vec training-data step (Perozzi et al. KDD'14): every
    (center, context) vertex pair that co-occurs within `window` steps
    of the same walk, counted per directed pair. Returns (u, v, cnt).

    The walk table is any of this module's outputs
    ((walk_id, step, vertex) — random_walks, weighted_random_walks,
    node2vec_walks, or their alias variants), so the sampler and the
    pair extraction compose freely.

    Scale shape: a self-join keyed on walk_id — each key holds at most
    walk_len+1 rows, so the join fan-out is bounded by (walk_len+1)·2w
    per walk regardless of graph size or hubs (the hub's popularity
    shows up as MANY walk_ids, which partition evenly) — then one
    map-side-combined groupBy(u, v). No skew special-case needed:
    walk_id is unique-ish by construction.
    """
    a = walks.select(
        "walk_id", F.col("step").alias("si"), F.col("vertex").alias("u")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("sj"), F.col("vertex").alias("v")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.abs(F.col("si") - F.col("sj")) <= window)
            & (F.col("si") != F.col("sj"))
        )
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def montecarlo_pagerank(
    graph: LinkGraph,
    *,
    walks_per_vertex: int = 3,
    walk_len: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Monte-Carlo PageRank (complete-path estimator): R walks start at
    every vertex; at each step a walk continues with probability
    alpha = 17/20 (0.85 as an EXACT rational, so the continue draw is
    an integer comparison) and otherwise terminates; a sink terminates
    its walk (the dangling walk restarts nowhere — complete-path
    semantics). PR(v) ~= visits(v) * (1 - alpha) / (V * R) over all
    visited positions (Avrachenkov et al. 2007, "Monte Carlo methods
    in PageRank computation" — the standard cheap-pass alternative to
    power iteration when a full-precision rank is not needed).

    Determinism contract: the continue draw hashes (walk_id, step,
    seed + 101) and the neighbor draw hashes (walk_id, step, seed) —
    two independent md5 streams, both reproducible in ANSI SQL, so the
    estimator has a real DuckDB twin (same truncation at `walk_len`,
    identical draws, bit-identical counts).

    100 TB plan: step t materializes only the walks still alive —
    expected (17/20)^t * V * R rows, geometrically shrinking; each step
    is one frontier ⋈ adjacency equi-join (the same shape as every
    other kernel's superstep, hub rows stay one wide array row), on the
    walk loop the other samplers share. The final visit count is a
    map-side-combined groupBy on vertex over every step's positions
    (~V*R/(1-alpha) rows in all), which the result reads and its
    ``unpersist()`` releases. Total cost ~ V*R/(1-alpha) walk-rows —
    independent of iteration-to-convergence, which is the point of the
    MC path at crawl scale."""
    R = walks_per_vertex
    with graph.persisted():
        adj = graph.adjacency()
        n = graph.num_vertices
        start = graph.vertices().select(
            F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("r"),
            F.col("id").alias("v"),
        ).select((F.col("v") * R + F.col("r")).alias("walk_id"), "v")

        def draw(cur: DataFrame, rnd) -> DataFrame:
            alive = cur.filter(
                _hash_mod(F.col("walk_id"), rnd.index, seed + 101, F.lit(20)) < 17
            )
            return _uniform_hop(alive, adj, rnd.index, seed)

        walks = _walk(start, walk_len, draw)
    counts = walks.groupBy("vertex").agg(F.count("*").cast("long").alias("visits"))
    out = (
        graph.vertices()
        .join(counts, F.col("id") == F.col("vertex"), "left")
        .select(
            "id",
            F.coalesce("visits", F.lit(0)).cast("long").alias("visits"),
            F.round(
                (F.coalesce("visits", F.lit(0)) * F.lit(3.0))
                / F.lit(float(20 * n * R)),
                6,
            ).alias("rank_est"),
        )
    )
    return bind_release(out, walks)
