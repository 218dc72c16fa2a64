"""Triangle counting — degree-ordered sorted-neighbor intersection.

Reference: apps/tc.gt — relabel by decreasing degree (:30,
intrinsics.h:237-264), then for every edge with dst < src accumulate
|N(src) ∩ N(dst)| with neighbors below the cutoff (intersectNeighbor,
intrinsics.h:302-350; the 5 intersection strategies in
infra_gapbs/intersections.h collapse into one ``array_intersect`` on
sorted arrays). The verifier counts every closed triple and divides by 6
(test/verifiers/tc_verifier.cpp:13-32) — equal to our oriented count.

Spark plan (node-iterator++ on the oriented DAG):
    1. symmetrize + squish → simple undirected graph (the graph's
       memoized undirected view when it is persisted)
    2. orient u→v iff (deg(u), -u) < (deg(v), -v): two joins with the
       view's degree table. That order reverses the degree-desc relabel,
       so the DAG is the relabelled one up to ids (no relabel, range sort
       or collect), and every hub has small *oriented* out-degree — what
       kills the skew, the reason GraphIt relabels
    3. adjacency blocks on the oriented DAG, sorted arrays
    4. oriented_edges ⋈ A(src) ⋈ A(dst) → Σ size(array_intersect)

Each triangle {a<b<c} (in oriented order) is counted exactly once, at its
lowest-ordered edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import bind_release


def triangle_count(
    graph: LinkGraph, *, relabel: bool | str = True
) -> DataFrame:
    """Global triangle count. Returns a 1-row DataFrame (triangles: long).

    relabel=True (default) always orients by degree — deterministic
    plan, the right call on power-law web graphs. relabel="auto" mirrors
    the reference's builtin_relabel guard (intrinsics.h:239-258): the
    degree orientation is skipped (edges point to the smaller id) when
    `worth_relabelling` says the degree distribution is too flat to pay
    for it. The count itself is orientation-invariant either way.
    """
    und = graph.symmetrize()
    total = _per_edge_intersections(und, relabel).agg(
        F.coalesce(F.sum("tri"), F.lit(0)).cast("long").alias("triangles")
    )
    if not und._persisted and und._out_degrees is not None:
        # a fresh view (of an unpersisted graph) is this call's own
        bind_release(total, und._out_degrees)
    return total


def triangle_count_approx(
    graph: LinkGraph, *, sample_exp: int = 2, seed: int = 1
) -> DataFrame:
    """DOULION sparsified triangle count (Tsourakakis et al., KDD'09) —
    the 100 TB scale path when the exact count is too expensive: each
    undirected edge is kept with probability p = 2**-sample_exp, the
    exact kernel runs on the sparsified graph (E·p edges, hub adjacency
    lists shrink by p), and the count scales by (1/p)^3 — an unbiased
    estimator with variance ~ t/p^3.

    The reference has no approximate TC (apps/tc.gt is exact); this is
    the additional scale operator the same user would reach for on a
    web-scale crawl. The coin flip is the engine's deterministic md5
    draw (walks.py `_hash_mod` contract): first 32 md5 bits of
    "{min}_{max}_{seed}" < 2^32·p, so the sample — and therefore the
    output — is bit-reproducible and has an exact DuckDB twin. p a
    power of two makes the scale factor 8**sample_exp exact integer
    arithmetic on both engines.

    Returns one row: (sampled_triangles long, triangles_est long).
    """
    und = graph.symmetrize()
    # one row per undirected edge, oriented src > dst; the canonical
    # draw string is "{min}_{max}_{seed}" = "{dst}_{src}_{seed}" here
    oriented = und.edges.filter(F.col("src") > F.col("dst"))
    s = F.concat_ws(
        "_", F.col("dst").cast("string"), F.col("src").cast("string"),
        F.lit(seed).cast("string"),
    )
    h = F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")
    kept = oriented.filter(h < F.lit(2 ** (32 - sample_exp)))
    per_edge = _with_adjacency(kept).select(
        F.size(F.array_intersect("nbrs_s", "nbrs_d")).alias("tri")
    )
    sampled = F.coalesce(F.sum("tri"), F.lit(0)).cast("long")
    return per_edge.agg(
        sampled.alias("sampled_triangles"),
        (sampled * F.lit(8 ** sample_exp)).cast("long").alias("triangles_est"),
    )


def worth_relabelling(graph: LinkGraph) -> bool:
    """GAPBS/GraphIt "is degree-relabelling worth it" test
    (intrinsics.h:239-256, GAPBS builder heuristic), as the exact
    population statistic instead of a 1000-vertex random sample.

    Reference semantics: skip when average degree < 10; otherwise
    relabel iff sampled_mean / 1.3 > sampled_median, where the sample
    draws only vertices with out-degree > 0 (SourcePicker skips
    zero-degree ids) and median is the upper-middle order statistic
    (samples[n/2] of the sorted sample). A random sample exists to make
    the test O(1) on a serial machine; on Spark the exact statistic is
    one aggregate over the V-sized degree table plus a driver-side
    histogram of distinct degree VALUES (≲ thousands of rows on any web
    graph — bounded by max-degree's distinct values, not by V), so we
    compute it exactly and the decision becomes deterministic — which is
    why "auto" is safe to expose at all (the reference's sampled variant
    can flip between runs near the boundary).
    """
    n = graph.num_vertices
    if n == 0:
        return False
    hist = (
        graph.edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .groupBy("deg")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    m = sum(r["deg"] * r["cnt"] for r in hist)
    if m // n < 10:  # integer division, as the reference's int64 divide
        return False
    k = sum(r["cnt"] for r in hist)  # vertices with out-degree > 0
    mean = m / k
    # upper median: 0-indexed rank k//2 in ascending degree order
    target, seen, median = k // 2, 0, 0
    for r in sorted(hist, key=lambda r: r["deg"]):
        seen += r["cnt"]
        if seen > target:
            median = r["deg"]
            break
    return mean / 1.3 > median


def triangle_count_per_vertex(graph: LinkGraph, *, relabel: bool = False) -> DataFrame:
    """Per-vertex incident-triangle counts (id, tri_count) — the analogue
    of tc.gt's vertexArray, but charged to every corner of the triangle
    (each triangle increments all 3 vertices). relabel defaults False so
    ids stay in the caller's space."""
    und = graph.symmetrize()
    oriented = und.edges.filter(F.col("src") > F.col("dst"))
    tri_nodes = _with_adjacency(oriented).select(
        "src", "dst",
        F.explode(F.array_intersect("nbrs_s", "nbrs_d")).alias("third"),
    )
    corners = (
        tri_nodes.select(F.col("src").alias("id"))
        .unionAll(tri_nodes.select(F.col("dst").alias("id")))
        .unionAll(tri_nodes.select(F.col("third").alias("id")))
    )
    counts = corners.groupBy("id").agg(F.count("*").alias("tri_count"))
    return (
        graph.vertices()
        .join(counts, "id", "left")
        .select("id", F.coalesce("tri_count", F.lit(0)).alias("tri_count"))
    )


def _per_edge_intersections(und: LinkGraph, relabel: bool | str) -> DataFrame:
    if relabel == "auto":
        relabel = worth_relabelling(und)
    oriented, keep = und.edges, F.col("src") > F.col("dst")
    if relabel:
        # Orient low-degree -> high-degree, ties to the smaller id (the
        # degree-desc relabel's order): each edge points away from its
        # lower-degree endpoint and forward-degree is O(sqrt(E))-bounded
        # (arboricity argument) — the hub's huge neighbor list is never
        # the src side of the intersection join.
        deg = und.out_degrees()
        for end in ("src", "dst"):
            oriented = oriented.join(deg.select(
                F.col("id").alias(end), F.col("out_degree").alias(f"d_{end}")
            ), end)
        keep = (F.col("d_src") < F.col("d_dst")) | (
            (F.col("d_src") == F.col("d_dst")) & keep
        )
    return _with_adjacency(oriented.filter(keep).select("src", "dst")).select(
        "src", "dst", F.size(F.array_intersect("nbrs_s", "nbrs_d")).alias("tri")
    )


def _with_adjacency(oriented: DataFrame) -> DataFrame:
    """Each oriented edge with both endpoints' sorted oriented
    neighbour arrays (``nbrs_s``, ``nbrs_d``)."""
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    a_src = adj.select(F.col("src").alias("e_src"), F.col("nbrs").alias("nbrs_s"))
    a_dst = adj.select(F.col("src").alias("e_dst"), F.col("nbrs").alias("nbrs_d"))
    return oriented.join(a_src, oriented["src"] == a_src["e_src"]).join(
        a_dst, oriented["dst"] == a_dst["e_dst"]
    )


def directed_motifs(graph: LinkGraph) -> DataFrame:
    """Directed triad motif census — the two 3-edge motifs over the
    squished digraph: feed-forward loops (u→v→w with the shortcut u→w,
    the hierarchy signal) and directed 3-cycles (u→v→w→u, the feedback
    signal; canonicalized at the minimum vertex so each counts once).
    The directed refinement of `intersectNeighbor` triangle counting
    (apps/tc.gt): TC's degree orientation cannot apply because the edge
    DIRECTION is the signal, so the plan is two-path enumeration — one
    self-equi-join on the middle vertex (Σ in·out per center) — plus
    ONE hash join per closing direction off the same two-path table.
    Returns one row (feed_forward, cycles)."""
    e = graph.edges.select("src", "dst")
    ab = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    bc = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    paths = ab.join(bc, "v").filter(F.col("u") != F.col("w"))
    close_fwd = e.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.lit(1).alias("is_ffl"),
    )
    close_back = e.select(
        F.col("src").alias("w"), F.col("dst").alias("u"),
        F.lit(1).alias("is_cyc"),
    )
    scored = (
        paths.join(close_fwd, ["u", "w"], "left")
        .join(close_back, ["u", "w"], "left")
    )
    return scored.agg(
        F.count("is_ffl").cast("long").alias("feed_forward"),
        F.count(
            F.when(
                F.col("is_cyc").isNotNull()
                & (F.col("u") < F.col("v"))
                & (F.col("u") < F.col("w")),
                1,
            )
        ).cast("long").alias("cycles"),
    )


def scan_statistics(graph: LinkGraph) -> DataFrame:
    """Scan statistics (Priebe's scan1) — per-vertex edges inside the
    closed 1-hop neighborhood on the symmetrized simple graph:
    scan1(v) = sym-degree(v) + incident triangles(v). Returns
    (id, degree, tri_count, scan1, is_anomaly) with is_anomaly = 1 when
    scan1 > mean + 3*stddev, evaluated in EXACT integer arithmetic
    (N*scan1 - S compared against the integer variance term 9*(N*Q - S^2))
    so the flag never depends on float aggregation order — the web-scale
    link-farm / spam-cluster detector.

    100 TB plan: the audited triangle enumeration + one V-sized degree
    join + a broadcast of the ONE-ROW global-moments aggregate (the
    same scalar-threshold idiom as PageRank's error norm)."""
    und = graph.symmetrize()
    tri = triangle_count_per_vertex(graph)
    deg = und.out_degrees().select(
        "id", F.col("out_degree").alias("degree")
    )
    per = tri.join(deg, "id").select(
        "id",
        "degree",
        "tri_count",
        (F.col("degree") + F.col("tri_count")).alias("scan1"),
    )
    # moments in DECIMAL(38,0): dev^2 and N*Q reach ~10^24 at 10^8
    # vertices — far past int64 — and the flag must stay EXACT integer
    # arithmetic at any scale (DuckDB twin computes the same products in
    # HUGEINT/int128)
    dec = "decimal(38,0)"
    stats = per.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("scan1").cast(dec).alias("s"),
        F.sum(F.col("scan1") * F.col("scan1")).cast(dec).alias("q"),
        F.max("scan1").cast(dec).alias("m1"),
    )
    dev = F.col("scan1").cast(dec) * F.col("n") - F.col("s")
    var_term = F.lit(9).cast(dec) * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    )
    # decimal(38,0) products silently overflow to NULL with ANSI off,
    # which would render is_anomaly 0 while the DuckDB twin's HUGEINT
    # raises — diverging engines exactly on the extreme hubs the flag
    # exists for. Guard the magnitude in-plan: with N·max(scan1) <
    # 3·10^18 every product above stays under 38 digits (dev² ≤
    # (N·m1)² = 9·10^36; 9·(N·Q − S²) ≤ 9·(N·m1)² = 8.1·10^37), so
    # raise (the module's raise-rather-than-silently-wrong policy)
    # when the bound is exceeded instead of emitting a wrong flag.
    in_domain = F.col("n") * F.col("m1") < F.lit(
        3_000_000_000_000_000_000
    ).cast(dec)
    flag = F.when((dev > 0) & (dev * dev > var_term), 1).otherwise(0)
    out = per.crossJoin(F.broadcast(stats)).select(
        "id",
        "degree",
        "tri_count",
        "scan1",
        F.when(in_domain, flag)
        .otherwise(
            F.raise_error(
                "scan_statistics: N*max(scan1) >= 3e18 — the exact "
                "decimal(38,0) moment arithmetic would overflow; "
                "shard the graph or widen the arithmetic"
            )
        )
        .cast("int")
        .alias("is_anomaly"),
    )
    if not und._persisted:
        # a fresh view (of an unpersisted graph) is this call's own
        bind_release(out, und._out_degrees)
    return out
