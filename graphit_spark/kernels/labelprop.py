"""Label-propagation community detection (synchronous, deterministic).

The reference has no separate LPA app — apps/cc.gt IS min-label
propagation; community LPA is the most-frequent-neighbor-label variant of
the same ``edges.apply`` traversal (SURVEY.md §2.10). Semantics here:

    init:   label[v] = v
    round:  label'[v] = argmax_label count(neighbors with that label),
            ties broken by the SMALLEST label (deterministic);
            vertices with no neighbors keep their label.
    run a fixed number of synchronous rounds (synchronous LPA may
    oscillate on bipartite structures, so fixed-round semantics are the
    deterministic, testable contract).

Spark plan per round: edge⋈labels gather, two-level aggregation —
groupBy(dst, label).count (map-side combined, skew-safe) then a max_by
over (count, -label) per dst. The (count, -label) ordering is encoded as
a sortable struct so the whole round stays in native aggregation (no
window over the full vertex set needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import superstep


def label_propagation(
    graph: LinkGraph,
    *,
    rounds: int = 5,
    symmetrize: bool = True,
    store=None,
    resume: bool = False,
) -> DataFrame:
    """Returns (id, label) after `rounds` synchronous LPA rounds.

    store/resume: per-round SnapshotStore checkpointing of the label
    frame (the same north-rule contract as pagerank/components/paths):
    resume restarts from the latest committed round's labels and runs
    only the remaining rounds — LPA is a fixed-round synchronous
    recurrence, so replaying from round k is byte-identical to an
    uninterrupted run (integer argmax, no float wobble)."""
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        start_round = 0
        if resume and store is not None and store.latest() is not None:
            start_round = store.latest() + 1
            labels = store.read(g.spark, store.latest()).select("id", "label")
        else:
            labels = graph.vertices().select("id", F.col("id").alias("label"))

        def step(labels: DataFrame, rnd) -> DataFrame:
            counts = (
                g.edges.join(
                    labels.select(F.col("id").alias("src"), "label"), "src"
                )
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            # argmax by (cnt desc, label asc): max_by over struct(cnt, -label)
            best = counts.groupBy("id").agg(
                F.max_by("label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias(
                    "best_label"
                )
            )
            return labels.join(best, "id", "left").select(
                "id", F.coalesce("best_label", "label").alias("label")
            )

        labels = superstep(
            labels, step,
            rounds=rounds, start=start_round,
            materialize=None if store is None else (
                lambda df, rnd, seen: store.write(df, rnd.index, {"kernel": "lpa"})
            ),
        )
    return labels


def weighted_label_propagation(
    graph: LinkGraph,
    *,
    rounds: int = 5,
    symmetrize: bool = True,
) -> DataFrame:
    """Weighted LPA: each neighbor's vote counts its edge WEIGHT (on the
    host rollup, the number of page-level links) instead of 1 — the
    community variant that respects link multiplicity after graph
    contraction. Same deterministic contract as `label_propagation`:
    argmax by (weight-sum desc, label asc), fixed synchronous rounds,
    isolated vertices keep their label.

    Plan per round is identical to the unweighted kernel (edge ⋈ labels
    gather, two-level aggregation, no global Window); the only change
    is count(*) → sum(weight), still a decomposable integer aggregate
    with map-side combine. Symmetrization keeps the engine's weighted
    dedup contract (min weight per undirected pair, graph.py _squish).
    """
    if not graph.weighted:
        raise ValueError(
            "weighted_label_propagation requires (src, dst, weight)"
        )
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        def step(labels: DataFrame, rnd) -> DataFrame:
            votes = (
                g.edges.join(
                    labels.select(F.col("id").alias("src"), "label"), "src"
                )
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.sum("weight").alias("w"))
            )
            best = votes.groupBy("id").agg(
                F.max_by(
                    "label",
                    F.struct(F.col("w"), (-F.col("label")).alias("neg")),
                ).alias("best_label")
            )
            return labels.join(best, "id", "left").select(
                "id", F.coalesce("best_label", "label").alias("label")
            )

        labels = superstep(
            graph.vertices()
            .select("id", F.col("id").alias("label")),
            step, rounds=rounds,
        )
    return labels


def label_spreading(
    graph: LinkGraph,
    seeds: DataFrame,
    *,
    rounds: int = 6,
    symmetrize: bool = True,
) -> DataFrame:
    """Semi-supervised label spreading with HARD-CLAMPED seeds (the
    majority-vote variant of Zhu-Ghahramani label propagation) — the
    weak-supervision workhorse: propagate a small set of trusted labels
    (spam/quality/language verdicts on a few hosts or docs) over the
    link graph to label everything reachable.

    Contract: seeds never change; an unlabeled vertex adopts the argmax
    (count desc, label asc) of its LABELED neighbors each synchronous
    round and may keep flipping as votes evolve; vertices never reached
    stay NULL. Fixed round count (same deterministic, testable contract
    as label_propagation).

    Plan per round: identical to LPA's two-level skew-safe aggregation,
    except the gather side is pre-filtered to labeled vertices — early
    rounds scan only the seeded frontier's edges.
    Returns (id, label) with label NULL for unreached vertices.

    Seeds are expected as (id, label) with integer labels; rows whose id
    is outside the graph's vertex universe are ignored.
    """
    g = graph.symmetrize() if symmetrize else graph
    with g.persisted():
        seed_map = seeds.select(
            F.col("id").cast("long").alias("id"),
            F.col("label").cast("long").alias("seed_label"),
        )
        def step(labels: DataFrame, rnd) -> DataFrame:
            counts = (
                g.edges.join(
                    labels.filter(F.col("label").isNotNull()).select(
                        F.col("id").alias("src"), "label"
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count("*").alias("cnt"))
            )
            best = counts.groupBy("id").agg(
                F.max_by(
                    "label",
                    F.struct(F.col("cnt"), (-F.col("label")).alias("neg")),
                ).alias("best_label")
            )
            return (
                labels.join(seed_map, "id", "left")
                .join(best, "id", "left")
                .select(
                    "id",
                    F.coalesce("seed_label", "best_label", "label").alias(
                        "label"
                    ),
                )
            )

        labels = superstep(
            graph.vertices()
            .join(seed_map, "id", "left")
            .select("id", F.col("seed_label").alias("label")),
            step, rounds=rounds,
        )
    return labels
