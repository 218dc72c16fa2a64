"""Streaming sketch maintenance: a Count-Min sketch kept current over a
document stream.

The batch sketch's merge law (cell-wise sum — functions/sketch.py
count_min_cells) is exactly what an incremental pipeline needs: each
micro-batch contributes its own d×w cell grid, and the accumulated
sketch is the sum of the grids. Every batch's merged sketch lands in a
SnapshotStore iteration with the stream batch id in the manifest, so a
killed stream restarts from the stream checkpoint AND the last committed
snapshot — and because foreachBatch is at-least-once, a replayed batch
is detected by its batch_id in the latest manifest and skipped instead
of double-counted (the merge is NOT idempotent; the guard makes the
snapshot sequence exactly-once).

The maintained invariant, pinned in tests: after processing batches
B1..Bk, the snapshot equals the BATCH sketch of B1 ∪ ... ∪ Bk cell for
cell. Point estimates over the snapshot use the same cms_estimates
probe as the batch path.

Scale shape: per batch one bounded-shuffle cell build (≤ d·w rows per
partition) plus a merge groupBy over ≤ 2·d·w rows. Nothing grows with
stream length — the sketch is the whole point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from graphit_spark.checkpoint import SnapshotStore
from graphit_spark.plans.state import counted_checkpoint, fresh_checkpoint

DOC_SCHEMA = "doc_id long, text string"


def cms_stream(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    *,
    d: int | None = None,
    w: int | None = None,
    max_files_per_trigger: int = 4,
):
    """Start (and return, with its SnapshotStore) a streaming query
    maintaining the corpus Count-Min sketch over documents arriving
    under `docs_dir`. Drive synchronously in tests with
    q.processAllAvailable(); read the current cells with
    store.read(spark, store.latest())."""
    from graphit_spark.functions import sketch as K

    d = K.CMS_D if d is None else d
    w = K.CMS_W if w is None else w
    store = SnapshotStore(os.path.join(work_dir, "snapshots"), "cms")

    def process(batch_df, batch_id: int):
        prev_it = store.latest()
        if prev_it is not None and store.manifest(prev_it).get(
            "metrics", {}
        ).get("batch_id") == int(batch_id):
            return  # at-least-once replay of a committed batch: skip
        words = batch_df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok")
        ).filter(F.col("tok") != "")
        # one tokenize pass per batch: checkpoint the ≤ d·w-row delta
        # grid, with the token count observed on that job (each token
        # lands in exactly d cells, so Σcnt == d·tokens)
        delta, seen = counted_checkpoint(
            K.count_min_cells(words, d=d, w=w), cnt=F.sum("cnt")
        )
        n_toks = seen["cnt"] // d
        if prev_it is not None:
            prev = store.read(spark, prev_it)
            merged = (
                prev.unionByName(delta)
                .groupBy("r", "c")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = delta
        store.write(
            merged,
            (prev_it if prev_it is not None else -1) + 1,
            metrics={"batch_id": int(batch_id), "batch_tokens": int(n_toks)},
        )
        delta.unpersist()

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(process)
        .option(
            "checkpointLocation", os.path.join(work_dir, "stream_checkpoint")
        )
        .start()
    ), store


def hll_stream(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    *,
    p: int | None = None,
    max_files_per_trigger: int = 4,
):
    """Streaming HyperLogLog: the distinct-document estimate kept
    current over a document stream. Register merge is elementwise MAX —
    idempotent, so unlike the Count-Min sum the batch_id guard is a
    cost optimization here, not a correctness requirement (a replayed
    batch max-merges to the same registers). Each snapshot stores the
    full 2^p register vector plus the current estimate in the manifest.
    Drive synchronously in tests with q.processAllAvailable()."""
    from graphit_spark.functions import sketch as K

    p = K.HLL_P if p is None else p
    store = SnapshotStore(os.path.join(work_dir, "snapshots"), "hll")

    def process(batch_df, batch_id: int):
        prev_it = store.latest()
        if prev_it is not None and store.manifest(prev_it).get(
            "metrics", {}
        ).get("batch_id") == int(batch_id):
            return
        delta = K.hll_registers(batch_df, F.col("text"), p=p)
        if prev_it is not None:
            prev = store.read(spark, prev_it)
            merged = (
                prev.unionByName(delta)
                .groupBy("bucket")
                .agg(F.max("reg").alias("reg"))
            )
        else:
            merged = delta
        merged = fresh_checkpoint(merged)
        est = K.hll_estimate_from_registers(merged, p=p).first()
        store.write(
            merged,
            (prev_it if prev_it is not None else -1) + 1,
            metrics={
                "batch_id": int(batch_id),
                "est_distinct": float(est["est_distinct"]),
            },
        )
        merged.unpersist()

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(process)
        .option(
            "checkpointLocation", os.path.join(work_dir, "stream_checkpoint")
        )
        .start()
    ), store
