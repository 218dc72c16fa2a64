#!/usr/bin/env python
"""spark-submit entry point: streaming jobs over a growing directory —
the Structured-Streaming twin of jobs/run_kernel.py (kernels) and
jobs/run_curation.py (batch curation).

Cluster usage:
    python jobs/package.py    # build first: writes dist/graphit_spark.zip
    spark-submit --py-files dist/graphit_spark.zip \\
        jobs/run_stream.py --mode sessionize \\
        --input s3://bucket/events/ --output s3://bucket/sessions/ \\
        --checkpoint s3://bucket/ck/sessions/

Local smoke (drain whatever is in the directory, then exit):
    python jobs/run_stream.py --mode dedup --available-now \\
        --input /root/testdata/sf0.001 --output /tmp/kept \\
        --checkpoint /tmp/ck

Modes:
    sessionize   events stream → gap sessions (applyInPandasWithState;
                 closed sessions land in --output parquet as they
                 close; the event-time timeout flushes open sessions
                 once the watermark passes)
    dedup        documents stream → first-seen exact dedup (stateful
                 content-hash filter; kept docs land in --output)
    lsh_dedup    documents stream → incremental MinHash-LSH near-dup
                 suppression (kept docs per batch into SnapshotStore
                 under --output, with {arrived, kept, suppressed}
                 manifest metrics)
    pagerank     edge-delta stream → warm-reconverged PageRank per
                 batch (SnapshotStore under --output; --verify lands a
                 distributed certificate in each batch's manifest)
    cc           edge-delta stream → warm-label connected components
                 (same SnapshotStore/verify contract)

All modes resume from --checkpoint / the SnapshotStore after a kill:
re-submitting the same command continues where the stream stopped (the
north rule's resumable-runs requirement on the streaming surface).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--mode", required=True,
                   choices=["sessionize", "dedup", "lsh_dedup",
                            "pagerank", "cc"])
    p.add_argument("--input", required=True,
                   help="directory the stream tails (events / documents "
                        "/ edge parquet, depending on --mode); for "
                        "sessionize/dedup a sf-style directory also "
                        "works (events.parquet / documents.parquet "
                        "inside is used)")
    p.add_argument("--output", required=True,
                   help="parquet sink dir (sessionize/dedup) or "
                        "SnapshotStore/work root (lsh_dedup/pagerank/cc)")
    p.add_argument("--checkpoint",
                   help="stream checkpoint dir (sessionize/dedup; the "
                        "other modes keep it under --output)")
    p.add_argument("--available-now", action="store_true",
                   help="drain what exists, then exit (smoke/backfill); "
                        "default: run until killed")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--watermark", default="2 hours",
                   help="sessionize event-time watermark")
    p.add_argument("--tol", type=float, default=1e-6,
                   help="pagerank re-convergence tolerance")
    p.add_argument("--verify", action="store_true",
                   help="pagerank/cc/lsh_dedup: per-batch distributed "
                        "certificate into the batch manifest")
    p.add_argument("--with-deletes", action="store_true",
                   help="pagerank/cc: treat input as (src,dst,op) "
                        "last-writer-wins edge log")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    args = p.parse_args()

    from graphit_spark.session import get_spark

    spark = get_spark(
        app_name=f"graphit-stream-{args.mode}",
        master=os.environ.get("SPARK_GRAFT_MASTER", f"local[{args.cpus}]"),
        shuffle_partitions=args.cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # checkpoint root also anchors the single-file symlink dirs below:
    # the file stream source's seen-files log keys on ABSOLUTE paths,
    # so the exposed directory must be STABLE across re-submissions or
    # resume would re-ingest everything through carried state
    ck = args.checkpoint or os.path.join(args.output, "_checkpoint")

    def table_dir(name: str) -> str:
        """The file stream source requires a DIRECTORY; sf-style
        testdata tables are single parquet files, so expose those
        through a deterministic symlink dir next to the checkpoint
        (same absolute path on every submission — the resume
        contract)."""
        sub = os.path.join(args.input, f"{name}.parquet")
        if not os.path.exists(sub):
            return args.input
        if os.path.isdir(sub):
            return sub
        d = f"{ck}_src_{name}"
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, f"{name}.parquet")
        if not os.path.lexists(link):
            os.symlink(os.path.abspath(sub), link)
        return d

    if args.mode in ("sessionize", "dedup"):
        if args.mode == "sessionize":
            from graphit_spark.streaming.windows import (
                read_events_stream,
                sessionize,
            )

            out = sessionize(
                read_events_stream(
                    spark, table_dir("events"),
                    max_files=args.max_files_per_trigger,
                ),
                watermark=args.watermark,
            )
        else:
            from graphit_spark.streaming.dedup import dedup_stream

            src = (
                spark.readStream
                .schema(spark.read.parquet(table_dir("documents")).schema)
                .option("maxFilesPerTrigger", args.max_files_per_trigger)
                .parquet(table_dir("documents"))
            )
            out = dedup_stream(src)
        writer = (
            out.writeStream.format("parquet")
            .option("path", args.output)
            .option("checkpointLocation", ck)
            .outputMode("append")
        )
        if args.available_now:
            writer.trigger(availableNow=True).start().awaitTermination()
        else:
            writer.start().awaitTermination()
        return

    # SnapshotStore-backed foreachBatch modes
    if args.mode == "lsh_dedup":
        from graphit_spark.streaming.incremental import (
            incremental_lsh_dedup_stream,
        )

        q, store = incremental_lsh_dedup_stream(
            spark, table_dir("documents"), args.output,
            max_files_per_trigger=args.max_files_per_trigger,
            verify=args.verify,
        )
    elif args.mode == "pagerank":
        from graphit_spark.streaming.incremental import (
            incremental_pagerank_stream,
        )

        q, store = incremental_pagerank_stream(
            spark, args.input, args.output,
            tol=args.tol,
            max_files_per_trigger=args.max_files_per_trigger,
            verify=args.verify, with_deletes=args.with_deletes,
        )
    else:
        from graphit_spark.streaming.incremental import incremental_cc_stream

        q, store = incremental_cc_stream(
            spark, args.input, args.output,
            max_files_per_trigger=args.max_files_per_trigger,
            verify=args.verify, with_deletes=args.with_deletes,
        )
    if args.available_now:
        q.processAllAvailable()
        q.stop()
        its = store.complete_iterations()
        print(f"snapshots complete: {len(its)} (last={its[-1] if its else None})")
    else:
        q.awaitTermination()


if __name__ == "__main__":
    main()
