#!/usr/bin/env python
"""spark-submit entry point: training-corpus curation over a documents
table — the data-pipeline twin of jobs/run_kernel.py.

Cluster usage:
    python jobs/package.py    # build first: writes dist/graphit_spark.zip
    spark-submit --py-files dist/graphit_spark.zip \\
        jobs/run_curation.py --stage dedup \\
        --documents s3://bucket/documents/ --output s3://bucket/corpus/

Local smoke:
    python jobs/run_curation.py --stage clusters \\
        --documents /root/testdata/sf0.001/documents.parquet \\
        --output /tmp/clusters

Stages (each also writes the previous stages' accounting):
    select    quality/language/exact-dup gates only (corpus_select)
    dedup     select + MinHash-LSH near-dup removal (corpus_select_dedup)
    cluster   select + cluster-canonical near-dup removal
              (corpus_select_cluster; keeps min doc_id per cluster)
    full      the complete pipeline: select + Gopher repetition gate
              + cluster-canonical near-dup (corpus_select_full)
    clusters  near-dup transitive clusters via the CC kernel
              (dedup_clusters; one row per doc: cluster_id, cluster_size)
    sample    select + deterministic token-budget sampling
              (corpus_sample_budget; greedy md5-shuffled prefix holding
              ~1/SAMPLE_BUDGET_DIVISOR of the curated tokens)
    decontaminate  flag training docs sharing any 13-gram with a
              held-out benchmark table (--benchmark, second parquet);
              bloom-pruned: an 8 KB broadcast filter kills the
              non-matching corpus explode before the exact confirm
              join (decontaminate_bloom)
    pack      full curation, then concat-and-chunk the kept docs into
              fixed-token training sequences (pack_sequences; the
              per-doc sequence/offset/split manifest a loader consumes)
    spans     duplicate n-gram span report over the raw corpus
              (duplicate_spans; the ranges a span-cutter would drop)
    tokenize  BPE tokenizer learn + apply: writes per-doc word/token
              counts to --output and the learned merge table next to
              it at <output>_merges (bpe_tokenize / bpe_merges)
    split     dedup-aware train/val/test split: md5 hash split with
              near-dup-cluster leakage repair (corpus_train_split)
    semantic  select + SemDeDup embedding near-dup removal trained on
              the gate survivors' embeddings (--embeddings, second
              parquet; corpus_select_semantic)

Input schema: (doc_id:long, text:string, ...) — extra columns pass
through untouched by the gates and are ignored by the dedup stages.
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
    p.add_argument("--stage", required=True,
                   choices=["select", "dedup", "cluster", "clusters",
                            "full", "sample", "decontaminate", "pack",
                            "spans", "tokenize", "split", "semantic"])
    p.add_argument("--documents", required=True,
                   help="parquet documents table (doc_id, text, ...)")
    p.add_argument("--output", required=True)
    p.add_argument("--benchmark",
                   help="held-out benchmark parquet (doc_id, text, ...);"
                        " required for --stage decontaminate")
    p.add_argument("--embeddings",
                   help="parquet embeddings table (vec_id, embedding);"
                        " required for --stage semantic")
    args = p.parse_args()
    if args.stage == "decontaminate" and not args.benchmark:
        p.error("--stage decontaminate requires --benchmark")
    if args.stage == "semantic" and not args.embeddings:
        p.error("--stage semantic requires --embeddings")

    from graphit_spark.session import get_spark
    from graphit_spark import textqueries as T

    spark = get_spark(app_name=f"graphit-curation-{args.stage}")
    docs = spark.read.parquet(args.documents)
    n_docs = docs.count()

    t0 = time.time()
    if args.stage == "select":
        out = T._corpus_selected(docs)
    elif args.stage == "dedup":
        out = T.corpus_select_dedup(docs)
    elif args.stage == "cluster":
        out = T.corpus_select_cluster(docs)
    elif args.stage == "full":
        out = T.corpus_select_full(docs)
    elif args.stage == "sample":
        out = T.corpus_sample_budget(docs)
    elif args.stage == "decontaminate":
        bench = spark.read.parquet(args.benchmark)
        out = T.decontaminate_bloom(docs, bench)
    elif args.stage == "semantic":
        emb = spark.read.parquet(args.embeddings)
        out = T.corpus_select_semantic(docs, emb)
    elif args.stage == "pack":
        # curate, then lay the kept docs out as training sequences:
        # the manifest a data loader consumes (sequence id, offset,
        # boundary splits per document)
        from pyspark.sql import functions as F

        from graphit_spark.functions import textops as TO
        from graphit_spark.functions.sampling import pack_sequences

        kept = docs.join(
            T.corpus_select_full(docs).select("doc_id"), "doc_id",
            "left_semi",
        )
        toks = kept.select(
            "doc_id", TO.token_count_bpe(F.col("text")).alias("n_tokens")
        )
        out = pack_sequences(toks, T.PACK_SEQ_LEN)
    elif args.stage == "split":
        out = T.corpus_train_split(docs)
    elif args.stage == "tokenize":
        from graphit_spark.functions import textops as TO

        merges = TO.bpe_merges(docs)  # driver-local: collect is free
        merges.write.mode("overwrite").parquet(
            args.output.rstrip("/") + "_merges"
        )
        out = TO.bpe_tokenize(docs, merge_rows=merges.collect())
    elif args.stage == "spans":
        from graphit_spark.functions.dedup import duplicate_spans

        out = duplicate_spans(docs, n=T.SPAN_N, min_count=T.SPAN_MIN_COUNT)
    else:
        out = T.dedup_clusters(docs)

    out.write.mode("overwrite").parquet(args.output)
    rows = spark.read.parquet(args.output).count()
    print(json.dumps({
        "stage": args.stage,
        "input_docs": n_docs,
        "output_rows": rows,
        "elapsed_sec": round(time.time() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
