"""HyperBall — HLL-sketched neighborhood function and harmonic centrality.

Boldi & Vigna, "In-Core Computation of Geometric Centralities with
HyperBall" (2013): attach a HyperLogLog counter per vertex holding the
ball B(v, r) = {u : d(u, v) <= r} (distances ALONG edge direction, so
this is the *incoming* ball), grow every ball one hop per superstep by
merging each vertex's counter with its in-neighbors' counters, and read
harmonic centrality off the telescoping ball sizes:

    H(v) = sum_{u != v} 1 / d(u, v)
         = sum_{r >= 1} (|B(v, r)| - |B(v, r-1)|) / r

This is the algorithm behind the published web-graph centrality
rankings (the Common Crawl host-level harmonic-centrality lists), and
the canonical answer to "closeness at 10^12 vertices": exact per-vertex
distances are V x BFS, the sketch is one E-sized merge per hop.

Reference surface: the reference DSL has no sketches; its exact
closeness kernel (kernels/closeness.py here, apps-level in the
reference) is the small-graph twin. This kernel extends the engine the
same way hll_distinct extends count(DISTINCT) — sub-percent-of-exact
cost at crawl scale.

Spark plan (per superstep, the only loop):
  - gather: edges ⋈ state ON src (shuffle_hash-hintable like pagerank),
    groupBy(dst) with one max() PER REGISTER — elementwise register max
    IS the HLL union, and Catalyst's partial HashAggregate makes it a
    map-side combine: the shuffle carries at most one m-register row
    per (dst, map partition), never the exploded neighbor sketches.
  - merge + estimate: V-sized left join back to the state, greatest()
    per register, then the estimator (exact-integer harmonic sum as in
    functions/sketch.py, same linear-counting branch) and the
    telescoping harmonic update — all whole-stage-codegen expressions.
  - one localCheckpoint(eager) per round truncates lineage.

SYSTOLIC gather (Boldi-Vigna §5's "systolic computation", which is
exactly the reference's applyModified change-tracking, SURVEY §2.3):
each round's state carries a `chg` flag — did any register grow? — and
the next gather's src side is restricted to flagged vertices. Sound
because register max-merge is monotone and idempotent: an unchanged
neighbor's round-(r-1) registers were already absorbed into v at round
r, so re-sending them is a no-op; by induction the per-round state is
BIT-IDENTICAL to the full gather's (pinned in tests), and the fixed-
budget DuckDB twin needs no change. When no vertex changed the loop
stops early — every further round adds exactly 0 to `harm` — so the
budget stays twin-exact while the work tracks register saturation
(late rounds on a web graph mutate few sketches even while balls keep
growing; this is what makes crawl-diameter budgets affordable).

Bit-determinism contract (shared with functions/sketch.py): the hash is
the first 15 md5 hex digits of the DECIMAL STRING of the vertex id —
identical in DuckDB (md5(CAST(id AS VARCHAR))) — and the estimator is
built ONLY from IEEE-deterministic ops (integer shifts/sums, double
mul/div/add, and a PRECOMPUTED lookup for the linear-counting
m*ln(m/zeros) values, embedded as identical repr literals on both
sides — no libm call, no round()), so every intermediate double is
bit-identical between the Spark plan and the SQL twin and the output
needs no rounding at all. m = 2^p registers give the standard
1.04/sqrt(m) relative error (p=4 → ~26%: a RANKING sketch; raise p for
tighter balls — the plan is p-generic, the state row just widens).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import bind_release, observe, superstep
from graphit_spark.functions.sketch import HASH_BITS, _alpha_m2


def _reg_cols(p: int) -> list[str]:
    return [f"r{i}" for i in range(1 << p)]


def linear_counting_table(p: int) -> list[float]:
    """m*ln(m/z) for z = 1..m, computed ONCE here and embedded as repr
    literals in both the Spark plan and the SQL twin — the libm ln
    never runs inside either engine, so the branch is bit-deterministic
    across them."""
    m = 1 << p
    return [m * math.log(m / z) for z in range(1, m + 1)]


def _estimate_parts(p: int) -> list[Column]:
    """The two register reductions the estimate reads, as columns
    ``_sum`` (the exact-integer scaled harmonic sum) and ``_zeros``
    (empty registers). Projected once, below ``_estimate_expr``: the
    estimate reads ``_zeros`` 17 times at p=4, and a reduction inlined
    into every read made one round's generated code ~360 KB."""
    w1 = HASH_BITS - p + 1
    cols = _reg_cols(p)
    return [
        F.expr(
            " + ".join(
                f"shiftleft(CAST(1 AS BIGINT), CAST({w1} - {c} AS INT))"
                for c in cols
            )
        ).alias("_sum"),
        F.expr(
            " + ".join(f"CAST({c} = 0 AS BIGINT)" for c in cols)
        ).alias("_zeros"),
    ]


def _estimate_expr(p: int) -> F.Column:
    """HLL estimate from the ``_estimate_parts`` columns — the
    functions/sketch.py estimator inlined as one row expression
    (exact-integer scaled harmonic sum, linear-counting small-range
    branch via the precomputed lookup). Every op is IEEE-deterministic
    (no libm, no round), so the result double is bit-identical to the
    SQL twin's."""
    m = 1 << p
    w1 = HASH_BITS - p + 1
    zeros = F.col("_zeros")
    raw = F.lit(_alpha_m2(m)) * F.lit(float(1 << w1)) / F.col("_sum")
    lc = None
    for z, v in enumerate(linear_counting_table(p), start=1):
        clause = F.when(zeros == z, F.lit(v))
        lc = clause if lc is None else lc.when(zeros == z, F.lit(v))
    return F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), lc).otherwise(raw)


def _init_state(graph: LinkGraph, p: int) -> DataFrame:
    """Round-0 sketch state (id, r0..r{m-1}, est, harm, chg): vertex v
    alone — register bucket(v) holds rho(v); every vertex starts
    changed (its round-0 sketch has never been sent)."""
    m = 1 << p
    w = HASH_BITS - p
    cols = _reg_cols(p)
    h = F.conv(
        F.substring(F.md5(F.col("id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    # hash, rho and bucket are projected once each: every register
    # reads them, and inlined into all m registers they made the
    # largest generated class of the kernel (~140 KB of source)
    first_one = F.instr(
        F.lpad(F.bin(F.shiftright(F.col("_h"), p)), w, "0"), "1"
    )
    state = (
        graph.vertices()
        .select("id", h.alias("_h"))
        .select(
            "id",
            first_one.alias("_r"),
            F.col("_h").bitwiseAND(F.lit(m - 1)).alias("_bucket"),
        )
        .select(
            "id",
            F.when(F.col("_r") == 0, F.lit(w + 1))
            .otherwise(F.col("_r"))
            .cast("long")
            .alias("_rho"),
            "_bucket",
        )
        .select(
            "id",
            *[
                F.when(F.col("_bucket") == i, F.col("_rho"))
                .otherwise(F.lit(0).cast("long"))
                .alias(c)
                for i, c in enumerate(cols)
            ],
        )
    )
    return (
        state.select("*", *_estimate_parts(p))
        .withColumn("est", _estimate_expr(p))
        .drop("_sum", "_zeros")
        .withColumn("harm", F.lit(0.0))
        .withColumn("chg", F.lit(True))
    )


def _grow_one_hop(
    state: DataFrame,
    edges: DataFrame,
    p: int,
    r: int,
    join_strategy: str | None,
    systolic: bool = True,
) -> DataFrame:
    """One HyperBall superstep: register-wise max gather over `edges`
    (map-side-combinable groupBy), greatest-merge into the state, fresh
    est, telescoping harm update for hop r. With ``systolic`` the
    gather's src side is only the vertices flagged changed last round
    (bit-identical state either way — see module docstring)."""
    cols = _reg_cols(p)
    src_side = state.filter(F.col("chg")) if systolic else state
    nbr = src_side.select(F.col("id").alias("src"), *cols)
    if join_strategy:
        nbr = nbr.hint(join_strategy)
    gathered = (
        edges.join(nbr, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(*[F.max(c).alias(f"g_{c}") for c in cols])
    )
    grew = None
    for c in cols:
        g = F.coalesce(F.col(f"g_{c}") > F.col(c), F.lit(False))
        grew = g if grew is None else grew | g
    merged = state.join(gathered, "id", "left").select(
        "id",
        "est",
        "harm",
        grew.alias("chg"),
        *[
            F.greatest(F.col(c), F.coalesce(F.col(f"g_{c}"), F.lit(0)))
            .alias(c)
            for c in cols
        ],
    ).select("*", *_estimate_parts(p))
    # the new estimate is projected once; est and harm both read it
    merged = merged.withColumn("_est", _estimate_expr(p))
    return merged.select(
        "id",
        *cols,
        F.col("_est").alias("est"),
        (F.col("harm") + (F.col("_est") - F.col("est")) / F.lit(float(r)))
        .alias("harm"),
        "chg",
    )


def _grow(
    graph: LinkGraph, state: DataFrame, p: int, rounds: int,
    join_strategy: str | None, systolic: bool, log: list | None = None,
    **aggs: Column,
) -> DataFrame:
    """``rounds`` HyperBall supersteps from ``state``. With ``systolic``,
    the sketches that grew are counted on each round's checkpoint job,
    and the loop stops once none did — every remaining round adds
    exactly 0."""
    edges = graph.edges.select("src", "dst")
    return superstep(
        state,
        lambda st, rnd: _grow_one_hop(
            st, edges, p, rnd.index, join_strategy, systolic
        ),
        start=1, rounds=rounds + 1, log=log,
        changed=F.col("chg") if systolic else None, **aggs,
    )


def _pick_join_strategy(
    graph: LinkGraph, join_strategy: str | None
) -> str | None:
    if join_strategy is None:
        return "shuffle_hash" if graph.num_vertices > 500_000 else None
    return join_strategy


def hyperball_harmonic(
    graph: LinkGraph,
    p: int = 4,
    rounds: int = 6,
    join_strategy: str | None = None,
    systolic: bool = True,
) -> DataFrame:
    """(id, ball, harmonic): HLL-estimated |B(id, rounds)| and the
    harmonic-centrality estimate accumulated over `rounds` hops.

    `rounds` is a fixed budget (the pseudo_diameter convention): past
    the graph's directed diameter every extra round adds exactly 0 (the
    registers are at their fixpoint), so a generous budget is idempotent
    — and budget-parity is what makes the DuckDB twin exact. The
    systolic gather (module docstring) prunes each round's src side to
    last round's changed sketches and stops once nothing changed; both
    are no-ops on the result, pinned against ``systolic=False`` in
    tests.
    """
    with graph.persisted():
        state = _grow(
            graph, _init_state(graph, p), p, rounds,
            _pick_join_strategy(graph, join_strategy), systolic,
        )
        out = bind_release(
            state.select(
                "id",
                F.col("est").alias("ball"),
                F.col("harm").alias("harmonic"),
            ),
            state,
        )
    return out


# sum(est) over V must be order-INDEPENDENT for the SQL twin to match
# bit for bit (a double sum's value depends on addition order, which
# Spark does not fix across partitions) — so the neighborhood function
# sums floor(est * 10^NF_SCALE) as exact integers instead. floor on
# bit-identical doubles is deterministic; integer addition commutes.
NF_SCALE = 4


def neighborhood_function(
    graph: LinkGraph,
    p: int = 4,
    rounds: int = 6,
    join_strategy: str | None = None,
    systolic: bool = True,
) -> DataFrame:
    """(r, pairs): the HLL-estimated neighborhood function N(r) =
    sum over v of |B(v, r)| for r = 0..rounds — the number of (u, v)
    pairs with d(u, v) <= r (Boldi-Vigna's primary output, and the
    standard way to read a web graph's distance distribution /
    effective diameter at crawl scale). `pairs` carries the exact
    integer sum of the per-vertex estimates floored at 4 decimals
    (see NF_SCALE note), divided back out — bit-identical to the twin.

    The per-round sum rides the round's checkpoint job as an observed
    aggregate (the pagerank error-norm discipline); the per-round state
    handling is exactly hyperball_harmonic's."""
    with graph.persisted():
        scale = F.lit(float(10**NF_SCALE))
        spark = graph.edges.sparkSession
        est_sum = F.sum(F.floor(F.col("est") * scale))
        state, seen = observe(_init_state(graph, p), s=est_sum)
        log: list = []
        state = _grow(
            graph, state, p, rounds,
            _pick_join_strategy(graph, join_strategy), systolic, log, s=est_sum,
        )
        sums = [int(s["s"]) for s in [seen, *log]]
        # past an early stop N(r) is at its fixpoint: every remaining round
        # repeats the same integer sum
        sums += sums[-1:] * (rounds + 1 - len(sums))
        state.unpersist()
    out = local_frame(spark, list(enumerate(sums)), "r INT, pairs_scaled LONG")
    return out.select(
        "r", (F.col("pairs_scaled") / scale).alias("pairs")
    )


def effective_diameter(
    graph: LinkGraph,
    p: int = 4,
    rounds: int = 6,
    quantile: float = 0.9,
    join_strategy: str | None = None,
) -> DataFrame:
    """One row (effective_diameter, pairs_covered, pairs_total): the
    smallest hop count r with N(r) >= quantile * N(rounds) — the
    standard '90% effective diameter' readout of the neighborhood
    function (integer hop granularity, no interpolation, so the value
    is bit-stable and twin-exact)."""
    nf = neighborhood_function(graph, p, rounds, join_strategy)
    total = nf.filter(F.col("r") == rounds).select(
        F.col("pairs").alias("pairs_total")
    )
    hit = (
        nf.crossJoin(total)  # 1-row broadcast total, rounds+1-row nf
        .filter(F.col("pairs") >= F.lit(quantile) * F.col("pairs_total"))
        .agg(F.min("r").alias("effective_diameter"))
    )
    covered = nf.select(F.col("r").alias("ed"), F.col("pairs"))
    return (
        hit.join(covered, hit["effective_diameter"] == covered["ed"])
        .crossJoin(total)
        .select(
            "effective_diameter",
            F.col("pairs").alias("pairs_covered"),
            "pairs_total",
        )
    )
