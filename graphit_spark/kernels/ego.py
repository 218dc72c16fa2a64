"""K-hop ego-subgraph extraction: the induced subgraph on the out-ball
around a seed set.

Reference provenance: GraphIt's frontier machinery (apps/bfs.gt —
``edges.from(frontier).applyModified``) composed with the §2.5 join
patterns; the reference has no subgraph-extraction intrinsic, but every
GraphIt user debugging a kernel or sampling a neighborhood for offline
experiments writes exactly this loop. At web scale it is the "show me
the crawl around this URL" query.

Scale shape: ``hops`` bounded frontier rounds over the cached edge
table — each round is one src-keyed semi-join (broadcast while the
frontier is small, the common case for ego balls) plus an anti-join
against the reached set, whose frontier flag carries the next
frontier's size to the driver as an observed count; the final
induced-edge step is two semi-joins of the edge table against the
V'-sized ball. No driver-side vertex
lists, no O(V) collects; cost per round is proportional to the
frontier's out-edges, exactly like bfs (kernels/paths.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph, local_frame
from graphit_spark.plans.state import fresh_checkpoint, superstep


def ego_subgraph(
    graph: LinkGraph, seeds: list[int], hops: int = 2
) -> DataFrame:
    """Edges (src, dst) of the subgraph induced on the set of vertices
    reachable from ``seeds`` in at most ``hops`` out-edge steps
    (seeds included). Deterministic: the ball is a pure set fixpoint.
    """
    if hops < 0:
        raise ValueError("hops must be >= 0")
    if not seeds:
        raise ValueError("seeds must be non-empty")
    with graph.persisted():
        seeds = sorted({int(s) for s in seeds})
        # explicit broadcast while the frontier is provably tiny (ego balls
        # usually are); past the bound, fall back to a shuffle semi-join —
        # the bfs-style scale path for runaway hub balls.
        broadcast_bound = 1_000_000

        def expand(reach: DataFrame, rnd) -> DataFrame:
            """Reached set (id, front): front marks the last hop's vertices."""
            f_src = reach.filter("front").select(F.col("id").alias("src"))
            size = len(seeds) if rnd.seen is None else rnd.seen["changed"]
            if size <= broadcast_bound:
                f_src = F.broadcast(f_src)
            nxt = (
                graph.edges.join(f_src, "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(reach, "id", "left_anti")
            )
            return reach.withColumn("front", F.lit(False)).unionByName(
                nxt.withColumn("front", F.lit(True))
            )

        reach = superstep(
            local_frame(
                graph.spark, [(s, True) for s in seeds], "id long, front boolean"
            ),
            expand,
            rounds=hops, checkpoint_start=False, changed=F.col("front"),
        )
        out = fresh_checkpoint(
            graph.edges.join(
                reach.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .join(reach.select(F.col("id").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
        )
        reach.unpersist()
    return out


def sample_fanout(
    graph: LinkGraph,
    seeds: DataFrame,
    *,
    fanout1: int = 3,
    fanout2: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Deterministic 2-layer GraphSAGE-style neighbor sampling — the
    GNN-minibatch exporter for training pipelines (Hamilton et al.
    NeurIPS 2017, public literature): per frontier node take the
    ``fanout`` out-neighbors with the smallest md5 draw keys (the
    engine's SQL-reproducible hash-draw contract, kernels/walks.py),
    then expand hop-2 samples per root. Returns
    (root, src, dst, hop) — hop 1 rows are the root's own samples,
    hop 2 rows the samples of its sampled neighbors.

    Sampling is NODE-level (each frontier node's sample set is drawn
    once and shared across roots — the standard GraphSAGE layer-wise
    scheme), so the per-round cost is frontier-adjacency-sized, never
    roots x fanout^2. The top-f pick is a per-src window over the hash
    key: the shuffle keys on src like every gather; a hub's full
    out-list is sorted once per round — bounded out-degrees here, and
    the cap discipline of cocite.py applies when they are not.

    ``seeds``: DataFrame with an ``id`` column.
    """
    if fanout1 < 1 or fanout2 < 1:
        raise ValueError("fanouts must be >= 1")
    from pyspark.sql import Window

    with graph.persisted():
        def layer(frontier: DataFrame, hop: int, f: int) -> DataFrame:
            e = graph.edges.join(
                frontier.select(F.col("id").alias("src")), "src", "left_semi"
            )
            hk = F.md5(
                F.concat_ws(
                    "_",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                    F.lit(hop).cast("string"),
                    F.lit(seed).cast("string"),
                ).cast("binary")
            )
            rn = F.row_number().over(
                Window.partitionBy("src").orderBy(hk.asc())
            )
            return (
                e.select("src", "dst", rn.alias("rn"))
                .filter(F.col("rn") <= f)
                .select("src", "dst")
            )
        s1 = layer(seeds, 1, fanout1).transform(fresh_checkpoint)
        front2 = s1.select(F.col("dst").alias("id")).distinct()
        s2 = layer(front2, 2, fanout2).transform(fresh_checkpoint)
        hop1 = s1.select(
            F.col("src").alias("root"), "src", "dst",
            F.lit(1).cast("long").alias("hop"),
        )
        hop2 = (
            s1.select(F.col("src").alias("root"), F.col("dst").alias("mid"))
            .join(s2.select(F.col("src").alias("mid"), "dst"), "mid")
            .select(
                "root", F.col("mid").alias("src"), "dst",
                F.lit(2).cast("long").alias("hop"),
            )
        )
        out = hop1.unionByName(hop2)
    return out
