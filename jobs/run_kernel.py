#!/usr/bin/env python
"""spark-submit entry point: run a kernel over an edge/pages table.

Cluster usage (the north-rule submission path):
    python jobs/package.py    # build first: writes dist/graphit_spark.zip
    spark-submit --py-files dist/graphit_spark.zip \\
        jobs/run_kernel.py --kernel pagerank \\
        --edges s3://bucket/edges/ --output s3://bucket/ranks/ \\
        --snapshots s3://bucket/snapshots/ --resume

Local smoke:
    python jobs/run_kernel.py --kernel pagerank --synth-vertices 100000 \\
        --output /tmp/ranks

Inputs: --edges (parquet with src,dst[,weight]) or --pages (parquet with
url,warc_ts,html,text,lang — extracted first), or --synth-vertices.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--kernel", required=True,
                   choices=["pagerank", "pagerank_delta", "cc", "lpa",
                            "triangle_count", "bfs", "sssp",
                            "sssp_delta", "k_core", "core_numbers",
                            "betweenness", "eigenvector", "msf",
                            "set_cover", "random_walks", "sweep_cut",
                            "scc", "hits", "k_truss", "hyperball",
                            "neighborhood", "mis", "matching", "coloring", "bowtie",
                            "louvain", "louvain_communities", "salsa",
                            "link_prediction", "condensation",
                            "motifs", "walk_cooccurrence",
                            "katz", "trustrank", "resolve_redirects",
                            "simrank", "weighted_lpa",
                            "landmark_distances", "ego_subgraph",
                            "cocitation", "butterfly_count",
                            "densest_subgraph", "sample_fanout",
                            "scan_statistics", "montecarlo_pagerank", "bridges",
                            "biconnected_components", "articulation_points"])
    p.add_argument("--edges", help="parquet edge table (src,dst[,weight])")
    p.add_argument("--pages", help="parquet pages table (extracted first)")
    p.add_argument("--synth-vertices", type=int, help="synthetic graph size")
    p.add_argument("--output", required=True)
    p.add_argument("--snapshots", help="SnapshotStore root for checkpoints")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--init-ranks",
                   help="pagerank warm start: parquet (id, rank) from a "
                        "previous run (incremental re-rank after a crawl "
                        "delta)")
    p.add_argument("--init-labels",
                   help="cc warm start: parquet (id, comp) from a previous "
                        "run — valid for edge-ADDITION deltas only")
    p.add_argument("--max-iters", type=int, default=20)
    p.add_argument("--tol", type=float, default=None)
    p.add_argument("--source", type=int, default=0, help="bfs/sssp source")
    p.add_argument("--rounds", type=int, default=5, help="lpa rounds")
    p.add_argument("--seeds", default="0",
                   help="trustrank seed ids, comma-separated")
    p.add_argument("--k", type=int, default=3, help="k_core k")
    p.add_argument("--delta", type=int, default=4, help="delta-stepping width")
    p.add_argument("--walk-len", type=int, default=4, help="random walk steps")
    p.add_argument("--seed", type=int, default=0, help="random walk seed")
    p.add_argument("--max-center-degree", type=int, default=None,
                   help="link_prediction hub wedge-center cap")
    p.add_argument("--min-cn", type=int, default=1,
                   help="link_prediction common-neighbor floor")
    p.add_argument("--verify", action="store_true",
                   help="run the kernel's distributed output certificate "
                        "after the write (graphit_spark/verifiers.py — the "
                        "reference's --verify convention, test/verifiers/"
                        "*.cpp); exits 1 on violations. Supported: pagerank "
                        "cc bfs sssp triangle_count")
    args = p.parse_args()

    from graphit_spark import LinkGraph, SnapshotStore
    from graphit_spark.session import get_spark

    spark = get_spark(app_name=f"graphit-{args.kernel}")

    if args.pages:
        from graphit_spark.extract import pages_to_edges

        edges, url_ids = pages_to_edges(spark.read.parquet(args.pages))
        url_ids.write.mode("overwrite").parquet(args.output + "_url_ids")
    elif args.edges:
        edges = spark.read.parquet(args.edges)
    elif args.synth_vertices:
        from graphit_spark.synth import synth_edges

        edges = synth_edges(spark, args.synth_vertices)
    else:
        p.error("one of --edges/--pages/--synth-vertices required")

    weighted_kernels = {"sssp", "sssp_delta", "msf", "weighted_lpa"}
    if args.kernel in weighted_kernels and "weight" not in edges.columns:
        from pyspark.sql import functions as F

        # deterministic synthetic weights for weighted kernels on
        # unweighted inputs (matches the test-fixture formula)
        edges = edges.withColumn(
            "weight", F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(7))
        )

    g = LinkGraph(edges)
    store = (
        SnapshotStore(args.snapshots, args.kernel) if args.snapshots else None
    )

    t0 = time.time()
    if args.kernel == "pagerank":
        from graphit_spark.kernels import pagerank

        init = (
            spark.read.parquet(args.init_ranks) if args.init_ranks else None
        )
        out = pagerank(g, max_iters=args.max_iters, tol=args.tol,
                       store=store, resume=args.resume, init_ranks=init)
    elif args.kernel == "pagerank_delta":
        from graphit_spark.kernels import pagerank_delta

        out = pagerank_delta(g, max_iters=args.max_iters, store=store)
    elif args.kernel == "cc":
        from graphit_spark.kernels import connected_components

        init_l = (
            spark.read.parquet(args.init_labels) if args.init_labels else None
        )
        out = connected_components(g, store=store, resume=args.resume,
                                   init_labels=init_l)
    elif args.kernel == "lpa":
        from graphit_spark.kernels import label_propagation

        out = label_propagation(g, rounds=args.rounds,
                                store=store, resume=args.resume)
    elif args.kernel == "triangle_count":
        from graphit_spark.kernels import triangle_count

        out = triangle_count(g)
    elif args.kernel == "bfs":
        from graphit_spark.kernels import bfs

        out = bfs(g, args.source, max_iters=args.max_iters,
                  store=store, resume=args.resume)
    elif args.kernel == "sssp":
        from graphit_spark.kernels import sssp

        out = sssp(g, args.source, max_iters=args.max_iters,
                   store=store, resume=args.resume)
    elif args.kernel == "sssp_delta":
        from graphit_spark.kernels import sssp_delta_stepping

        out = sssp_delta_stepping(g, args.source, delta=args.delta,
                                  store=store, resume=args.resume)
    elif args.kernel == "k_core":
        from graphit_spark.kernels import k_core

        out = k_core(g, args.k)
    elif args.kernel == "core_numbers":
        from graphit_spark.kernels import core_decomposition

        out = core_decomposition(g)
    elif args.kernel == "betweenness":
        from graphit_spark.kernels import betweenness_centrality

        out = betweenness_centrality(g, args.source)
    elif args.kernel == "eigenvector":
        from graphit_spark.kernels import eigenvector_centrality

        out = eigenvector_centrality(g)
    elif args.kernel == "msf":
        from graphit_spark.kernels import minimum_spanning_forest

        out = minimum_spanning_forest(g)
    elif args.kernel == "random_walks":
        from graphit_spark.kernels import random_walks

        out = random_walks(g, args.walk_len, seed=args.seed)
    elif args.kernel == "scc":
        from graphit_spark.kernels import strongly_connected_components

        out = strongly_connected_components(g)
    elif args.kernel == "hits":
        from graphit_spark.kernels import hits

        out = hits(g, rounds=args.rounds)
    elif args.kernel == "k_truss":
        from graphit_spark.kernels import k_truss

        out = k_truss(g, args.k)
    elif args.kernel == "hyperball":
        from graphit_spark.kernels import hyperball_harmonic

        out = hyperball_harmonic(g, rounds=args.rounds)
    elif args.kernel == "neighborhood":
        from graphit_spark.kernels import neighborhood_function

        out = neighborhood_function(g, rounds=args.rounds)
    elif args.kernel == "bowtie":
        from graphit_spark.kernels import bowtie_classes

        out = bowtie_classes(g)
    elif args.kernel == "louvain":
        from graphit_spark.kernels import louvain_move

        out = louvain_move(g, rounds=args.rounds)
    elif args.kernel == "louvain_communities":
        from graphit_spark.kernels import louvain_communities

        out = louvain_communities(g, rounds_per_level=args.rounds)
    elif args.kernel == "mis":
        from graphit_spark.kernels import maximal_independent_set

        out = maximal_independent_set(g)
    elif args.kernel == "matching":
        from graphit_spark.kernels import maximal_matching

        out = maximal_matching(g)
    elif args.kernel == "coloring":
        from graphit_spark.kernels import greedy_coloring

        out = greedy_coloring(g)
    elif args.kernel == "salsa":
        from graphit_spark.kernels import salsa

        out = salsa(g, rounds=args.rounds)
    elif args.kernel == "link_prediction":
        from graphit_spark.kernels import link_prediction

        out = link_prediction(g, min_cn=args.min_cn, topk=args.k,
                              max_center_degree=args.max_center_degree)
    elif args.kernel == "katz":
        from graphit_spark.kernels import katz_centrality

        out = katz_centrality(g, rounds=args.rounds)
    elif args.kernel == "trustrank":
        from graphit_spark.kernels import trustrank

        seeds = [int(s) for s in args.seeds.split(",") if s != ""]
        out = trustrank(g, seeds, max_iters=args.max_iters)
    elif args.kernel == "resolve_redirects":
        from graphit_spark.kernels import resolve_redirects

        # the --edges table IS the redirect map (src -> dst)
        out = resolve_redirects(g.edges)
    elif args.kernel == "condensation":
        from graphit_spark.kernels.scc import condensation_layers

        out = condensation_layers(g)
    elif args.kernel == "motifs":
        from graphit_spark.kernels.triangles import directed_motifs

        out = directed_motifs(g)
    elif args.kernel == "walk_cooccurrence":
        from graphit_spark.kernels import random_walks
        from graphit_spark.kernels.walks import walk_cooccurrence

        out = walk_cooccurrence(
            random_walks(g, args.walk_len, seed=args.seed)
        )
    elif args.kernel == "simrank":
        from graphit_spark.kernels import simrank

        out = simrank(g, rounds=args.rounds)
    elif args.kernel == "landmark_distances":
        from graphit_spark.kernels import landmark_distances

        out = landmark_distances(g, max_iters=args.max_iters)
    elif args.kernel == "ego_subgraph":
        from graphit_spark.kernels import ego_subgraph

        out = ego_subgraph(
            g, [int(s) for s in args.seeds.split(",")], hops=args.rounds
        )
    elif args.kernel == "cocitation":
        from graphit_spark.kernels import cocitation

        out = cocitation(g)
    elif args.kernel == "butterfly_count":
        from graphit_spark.kernels import butterfly_count

        out = butterfly_count(g)
    elif args.kernel == "densest_subgraph":
        from graphit_spark.kernels import densest_subgraph

        out = densest_subgraph(g)
    elif args.kernel == "bridges":
        from graphit_spark.kernels import bridges

        out = bridges(g, max_rounds=args.max_iters)
    elif args.kernel == "biconnected_components":
        from graphit_spark.kernels import biconnected_components

        out = biconnected_components(g, max_rounds=args.max_iters)
    elif args.kernel == "articulation_points":
        from graphit_spark.kernels import articulation_points

        out = articulation_points(g, max_rounds=args.max_iters)
    elif args.kernel == "scan_statistics":
        from graphit_spark.kernels import scan_statistics

        out = scan_statistics(g)
    elif args.kernel == "montecarlo_pagerank":
        from graphit_spark.kernels import montecarlo_pagerank

        out = montecarlo_pagerank(
            g, walk_len=args.walk_len, seed=args.seed
        )
    elif args.kernel == "sample_fanout":
        from pyspark.sql import functions as F

        from graphit_spark.kernels import sample_fanout

        seeds = g.vertices().filter(
            F.col("id").isin([int(s) for s in args.seeds.split(",")])
        )
        out = sample_fanout(g, seeds)
    elif args.kernel == "weighted_lpa":
        from graphit_spark.kernels import weighted_label_propagation

        out = weighted_label_propagation(g, rounds=args.rounds)
    elif args.kernel == "sweep_cut":
        from pyspark.sql import functions as F

        from graphit_spark.kernels import sweep_cut

        vals = g.out_degrees().select(
            "id", F.col("out_degree").alias("val")
        )
        out = sweep_cut(g, vals)
    else:
        from graphit_spark.kernels import set_cover

        out = set_cover(g)

    out.write.mode("overwrite").parquet(args.output)
    rows = spark.read.parquet(args.output).count()
    report = {
        "kernel": args.kernel,
        "vertices": g.num_vertices,
        "edges": g.num_edges,
        "output_rows": rows,
        "elapsed_sec": round(time.time() - t0, 2),
    }
    failed = False
    if args.verify:
        # certify the WRITTEN table (what a downstream consumer reads),
        # not the in-memory result — the post-resume / post-incident
        # check this flag exists for
        written = spark.read.parquet(args.output)
        certs = {
            # certify at the tolerance the run was asked to reach
            "pagerank": lambda: _pr_cert(g, written, args.tol or 1e-6),
            "cc": lambda: _cc_cert(g, written),
            "bfs": lambda: _dist_cert(g, written, args.source,
                                      args.max_iters),
            "sssp": lambda: _dist_cert(g, written, args.source, None),
            "triangle_count": lambda: _tc_cert(g, written),
        }
        if args.kernel not in certs:
            p.error(f"--verify not supported for kernel {args.kernel}")
        probes = {r["probe"]: r["violations"]
                  for r in certs[args.kernel]().collect()}
        report["verify"] = probes
        # pagerank's probe is a convergence readout, not a defect count
        # — it gates only when the caller asked for a tolerance
        gating = dict(probes)
        if args.kernel == "pagerank" and args.tol is None:
            gating.pop("unconverged_after_budget", None)
        failed = any(v != 0 for v in gating.values())
        report["verify_ok"] = not failed
    print(json.dumps(report))
    spark.stop()
    if failed:
        sys.exit(1)


def _pr_cert(g, written, eps):
    from graphit_spark.verifiers import pr_certificate

    return pr_certificate(g, written, eps=eps)


def _cc_cert(g, written):
    from graphit_spark.verifiers import cc_certificate

    return cc_certificate(g, written)


def _dist_cert(g, written, source, budget):
    from graphit_spark.verifiers import distance_certificate

    return distance_certificate(g, written, source, budget=budget)


def _tc_cert(g, written):
    from graphit_spark.verifiers import tc_certificate

    return tc_certificate(g, written)


if __name__ == "__main__":
    main()
