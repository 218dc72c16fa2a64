"""Structured-Streaming ingest tests: file-fed streams driven to
completion synchronously (processAllAvailable / availableNow)."""

import os

import pytest
from pyspark.sql import functions as F

from graphit_spark.datagen import gen_pages
from graphit_spark.graph import local_frame
from graphit_spark.streaming import (
    stream_pages_to_edges,
    windowed_event_counts,
    windows,
)


def test_stream_pages_to_edges_incremental(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "edges")
    ckpt = str(tmp_path / "ckpt")

    all_pages = gen_pages(spark, 200, num_partitions=4)
    # first drop: half the crawl
    all_pages.filter(F.xxhash64("url") % 2 == 0).write.mode("overwrite").parquet(pages_dir)
    q = stream_pages_to_edges(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)

    first = spark.read.parquet(out_dir).count()
    assert first > 0

    # second drop: the rest — only the delta should be processed (append)
    all_pages.filter(F.xxhash64("url") % 2 == 1).write.mode("append").parquet(pages_dir)
    q2 = stream_pages_to_edges(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(120)

    edges = spark.read.parquet(out_dir)
    total = edges.count()
    assert total > first

    # streamed edge set == batch extraction of the same pages (by url hash)
    from graphit_spark.extract import extract_pages

    batch = (
        extract_pages(spark.read.parquet(pages_dir))
        .select(
            F.xxhash64("url").alias("src"),
            F.explode("links").alias("t"),
        )
        .select("src", F.xxhash64("t").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    assert (
        batch.exceptAll(edges.select("src", "dst")).count() == 0
        and edges.select("src", "dst").exceptAll(batch).count() == 0
    )


def test_windowed_event_counts(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # file-source stream fed from a bounded temp dir, drained synchronously
    import tempfile

    d = tempfile.mkdtemp()
    events.withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(d + "/ev")
    stream = spark.readStream.schema(
        spark.read.parquet(d + "/ev").schema
    ).parquet(d + "/ev")
    agg = windowed_event_counts(spark, stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT sum(n) AS total FROM wincounts"
    ).collect()[0]["total"]
    assert got == events.count()


class TestStatefulSessionize:
    """applyInPandasWithState gap-sessionization (streaming/windows.py)."""

    @staticmethod
    def _write(spark, path, rows, mode):
        import datetime as dt

        # epoch offset: rows at/before the stream's initial watermark
        # (epoch 0) are dropped by the stateful operator, and the
        # fold's state-units guard rejects pre-2000 carried values —
        # real event times are always far from 1970
        base = 1_600_000_000
        data = [
            (eid, uid, dt.datetime.utcfromtimestamp(base + sec), "view", 1.0)
            for eid, uid, sec in rows
        ]
        local_frame(
            spark,
            data, "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        ).coalesce(1).write.mode(mode).parquet(path)

    def test_gap_close_across_microbatches(self, spark, tmp_path):
        from graphit_spark.streaming import read_events_stream, sessionize

        d = str(tmp_path / "ev")
        ck = str(tmp_path / "ck")
        # batch A: user 1 opens a session; user 2 opens one too
        self._write(spark, d, [(1, 1, 0), (2, 1, 10), (3, 2, 50)], "overwrite")
        q = (
            sessionize(read_events_stream(spark, d), timeout="NoTimeout")
            .writeStream.format("memory")
            .queryName("sess_out")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM sess_out").count() == 0
            # batch B: user 1 continues (100, needs carried state), then a
            # >30min gap closes the session; user 2 continues silently
            self._write(spark, d, [(4, 1, 100), (5, 1, 4000), (6, 2, 60)], "append")
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM sess_out").collect()
            assert len(rows) == 1
            r = rows[0]
            assert r["user_id"] == 1 and r["n_events"] == 3
            assert r["start_ts"].timestamp() == 1_600_000_000.0
            assert r["end_ts"].timestamp() == 1_600_000_100.0
        finally:
            q.stop()

    def test_event_time_timeout_flushes_open_session(self, spark, tmp_path):
        from graphit_spark.streaming import read_events_stream, sessionize

        d = str(tmp_path / "ev2")
        ck = str(tmp_path / "ck2")
        self._write(spark, d, [(1, 1, 0), (2, 1, 10)], "overwrite")
        q = (
            sessionize(read_events_stream(spark, d), watermark="2 hours")
            .writeStream.format("memory")
            .queryName("sess_to")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            # far-future event advances the watermark past user 1's horizon
            self._write(spark, d, [(3, 2, 50_000)], "append")
            q.processAllAvailable()
            # next micro-batch evaluates the pending timeout
            self._write(spark, d, [(4, 2, 50_010)], "append")
            q.processAllAvailable()
            rows = {r["user_id"]: r for r in spark.sql("SELECT * FROM sess_to").collect()}
            assert 1 in rows and rows[1]["n_events"] == 2
            assert rows[1]["end_ts"].timestamp() == 1_600_000_010.0
            assert 2 not in rows  # user 2's session is still open
        finally:
            q.stop()


def test_windowed_append_drops_late_rows(spark, tmp_path):
    """The watermark contract in append mode: a window emits once the
    watermark passes its end, and events arriving after that are
    DROPPED (never re-emitted, never counted)."""
    import datetime as dt

    d = str(tmp_path / "late_ev")
    ck = str(tmp_path / "late_ck")
    base = 1_000_000

    def write(rows, mode):
        data = [
            (i, 1, dt.datetime.utcfromtimestamp(base + sec), "view", 1.0)
            for i, sec in enumerate(rows)
        ]
        local_frame(
            spark,
            data, "event_id long, user_id long, ts timestamp, "
            "event_type string, value double"
        ).coalesce(1).write.mode(mode).parquet(d)

    # batch 1: three events inside one hour-window
    write([10, 20, 30], "overwrite")
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double"
    ).parquet(d)
    agg = windowed_event_counts(spark, stream, watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("latewin")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing emitted yet: watermark has not passed the window end
        assert spark.sql("SELECT count(*) c FROM latewin").collect()[0]["c"] == 0
        # batch 2: far-future event pushes the watermark way past
        # hour 0 (the late-filter uses the BATCH-START watermark, so a
        # late row only drops once a prior batch advanced it)
        write([100_000], "append")
        q.processAllAvailable()
        # batch 3: the hour-0 straggler is now behind the watermark ->
        # dropped; the closed hour-0 window flushes this batch
        write([40, 100_010], "append")
        q.processAllAvailable()
        rows = {
            r["window_start"].timestamp(): r["n"]
            for r in spark.sql("SELECT * FROM latewin").collect()
        }
        first_window = [n for t, n in rows.items() if t <= base + 30]
        assert first_window and first_window[0] == 3  # late event 40 dropped
    finally:
        q.stop()


class TestVectorizedFold:
    """The within-batch fold is numpy-vectorized; pin it against a
    scalar reference fold on deterministic multi-session batches,
    including the two batch-boundary cases (carried open session merged
    vs gap-closed) and out-of-order chunk delivery."""

    class _FakeState:
        def __init__(self, tup=None):
            self.hasTimedOut = False
            self._tup = tup

        @property
        def exists(self):
            return self._tup is not None

        @property
        def get(self):
            return self._tup

        def update(self, tup):
            self._tup = tup

        def remove(self):
            self._tup = None

    @staticmethod
    def _ref_fold(carried, secs):
        """Scalar reference in the fold's own exact-integer-microsecond
        domain (state tuples carry epoch us as floats)."""
        start, last, n = carried if carried else (None, None, 0)
        closed = []
        for us in sorted(int(s * 1e6) for s in secs):
            if start is None:
                start, last, n = us, us, 1
            elif us - last > windows.SESSION_GAP_US:
                closed.append((float(start), float(last), n))
                start, last, n = us, us, 1
            else:
                last, n = max(last, us), n + 1
        return closed, (
            None if start is None else float(start),
            None if last is None else float(last),
            n,
        )

    def _drive(self, carried, secs, chunk_at=None):
        import pandas as pd

        fn = windows._make_sessionize_fn(False)
        st = self._FakeState(carried)
        rows = [
            {"event_id": i, "user_id": 7,
             "ts": pd.Timestamp(s, unit="s"),
             "event_type": "e", "value": 0.0}
            for i, s in enumerate(secs)
        ]
        if chunk_at is None:
            chunks = [pd.DataFrame(rows)]
        else:
            chunks = [pd.DataFrame(rows[:chunk_at]), pd.DataFrame(rows[chunk_at:])]
        out = list(fn((7,), iter(chunks), st))
        closed = []
        for pdf in out:
            for _, r in pdf.iterrows():
                closed.append(
                    (r["start_ts"].timestamp() * 1e6,
                     r["end_ts"].timestamp() * 1e6,
                     int(r["n_events"]))
                )
        return closed, st._tup

    BASE_S = 1_600_000_000.0  # 2020-09: past the state-units guard floor

    @pytest.mark.parametrize(
        "carried",
        [None, (1_600_000_100.0e6, 1_600_000_200.0e6, 3)],
    )
    @pytest.mark.parametrize("chunk_at", [None, 2])
    def test_matches_scalar_reference(self, carried, chunk_at):
        gap = windows.SESSION_GAP_SEC
        # out-of-order events spanning: merge-or-close boundary, two
        # mid-batch closes, a singleton, and a trailing open session
        secs = [self.BASE_S + s for s in
                (200.0 + gap + 1, 250.0, 200.0 + 3 * gap,
                 200.0 + 3 * gap + 5, 200.0 + 10 * gap, 200.0 + 20 * gap)]
        got_closed, got_open = self._drive(carried, secs, chunk_at)
        exp_closed, exp_open = self._ref_fold(carried, secs)
        assert got_closed == exp_closed
        assert got_open == exp_open

    def test_empty_batch_keeps_state(self):
        import pandas as pd

        fn = windows._make_sessionize_fn(False)
        st = self._FakeState((1.6e15 + 5.0, 1.6e15 + 9.0, 2))
        out = list(fn((7,), iter([pd.DataFrame(
            {"event_id": [], "user_id": [], "ts": pd.Series([], dtype="datetime64[ns]"),
             "event_type": [], "value": []})]), st))
        assert out == []
        assert st._tup == (1.6e15 + 5.0, 1.6e15 + 9.0, 2)

    def test_pre_microsecond_checkpoint_rejected(self):
        """State-units upgrade guard: a checkpoint written by the old
        epoch-SECONDS fold (same (double, double, long) schema) must
        fail loudly on resume, not silently reinterpret seconds as
        microseconds and emit 1970-era sessions."""
        import pandas as pd

        fn = windows._make_sessionize_fn(False)
        # carried last = 1.7e9 — plausible as epoch seconds (2023),
        # impossible as epoch microseconds (1970-01-20)
        st = self._FakeState((1.7e9, 1.7e9, 4))
        batch = pd.DataFrame(
            {"event_id": [1], "user_id": [7],
             "ts": [pd.Timestamp(1.7e9 + 60, unit="s")],
             "event_type": ["e"], "value": [0.0]}
        )
        with pytest.raises(ValueError, match="pre-microsecond"):
            list(fn((7,), iter([batch]), st))
        # the timeout-flush path reads the same carried state
        st2 = self._FakeState((1.7e9, 1.7e9, 4))
        st2.hasTimedOut = True
        with pytest.raises(ValueError, match="pre-microsecond"):
            list(fn((7,), iter([]), st2))
        # epoch MILLIseconds (a different bad-unit regression) must be
        # caught too: 1.7e12 ms = 2023, but as us it is 1989 — below
        # any real event time this engine will ever carry
        st3 = self._FakeState((1.7e12, 1.7e12, 4))
        with pytest.raises(ValueError, match="pre-microsecond"):
            list(fn((7,), iter([batch]), st3))


class TestIncrementalKernels:
    """foreachBatch composition: crawl delta → warm-started kernel →
    SnapshotStore batch snapshots with lineage + metrics."""

    def _write_edges(self, spark, pairs, edges_dir, mode):
        df = local_frame(spark, pairs, "src long, dst long").coalesce(1)
        df.write.mode(mode).parquet(edges_dir)

    def test_incremental_pagerank_matches_cold(self, spark, tmp_path):
        import numpy as np

        from graphit_spark import LinkGraph
        from graphit_spark.kernels import pagerank
        from graphit_spark.streaming import incremental_pagerank_stream

        import random

        edges_dir = str(tmp_path / "edges_in")
        work = str(tmp_path / "work")
        # warm start pays off when the delta is SMALL relative to the
        # graph (the crawl-delta regime): 300 edges, then 5 more
        rng = random.Random(5)
        b1 = [(rng.randrange(60), rng.randrange(60)) for _ in range(300)]
        b2 = [(rng.randrange(60), rng.randrange(60)) for _ in range(5)]

        self._write_edges(spark, b1, edges_dir, "overwrite")
        q, store = incremental_pagerank_stream(
            spark, edges_dir, work, tol=1e-9
        )
        try:
            q.processAllAvailable()
            assert store.latest() == 0

            self._write_edges(spark, b2, edges_dir, "append")
            q.processAllAvailable()
        finally:
            q.stop()
        assert store.latest() == 1

        got = {
            r["id"]: r["rank"]
            for r in store.read(spark, 1).select("id", "rank").collect()
        }
        cold_m: dict = {}
        g = LinkGraph.from_pairs(spark, b1 + b2, persist=False)
        cold = {
            r["id"]: r["rank"]
            for r in pagerank(g, tol=1e-9, max_iters=100,
                              metrics_out=cold_m).collect()
        }
        assert set(got) == set(cold)
        assert np.allclose(
            [got[k] for k in sorted(got)],
            [cold[k] for k in sorted(cold)], atol=1e-6,
        )
        # manifest records lineage + the kernel's convergence metrics,
        # and the warm batch re-converged in fewer rounds than cold
        man = store.manifest(1)
        assert man["rows"] == len(cold)
        assert man["partitions"]
        warm_iters = man["metrics"]["iterations"]
        assert 0 < warm_iters < cold_m["iterations"]

    def test_incremental_cc_exact_and_restart(self, spark, tmp_path):
        from graphit_spark import LinkGraph
        from graphit_spark.kernels import connected_components
        from graphit_spark.streaming import incremental_cc_stream

        edges_dir = str(tmp_path / "edges_in")
        work = str(tmp_path / "work")
        # batch 1: two components {0,1,2} and {3,4}; batch 2 merges them
        b1 = [(0, 1), (1, 2), (3, 4)]
        b2 = [(2, 3), (5, 6)]

        self._write_edges(spark, b1, edges_dir, "overwrite")
        q, store = incremental_cc_stream(spark, edges_dir, work)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        first = {
            r["id"]: r["comp"] for r in store.read(spark, 0).collect()
        }
        assert first == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}

        # killed stream restarts from the stream checkpoint AND the last
        # committed snapshot: a NEW query over the same dirs only sees
        # the delta and warm-starts from it=0's labels
        self._write_edges(spark, b2, edges_dir, "append")
        q2, store2 = incremental_cc_stream(spark, edges_dir, work)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert store2.latest() == 1
        got = {r["id"]: r["comp"] for r in store2.read(spark, 1).collect()}
        g = LinkGraph.from_pairs(spark, b1 + b2, persist=False)
        cold = {
            r["id"]: r["comp"] for r in connected_components(g).collect()
        }
        assert got == cold

    def test_incremental_verify_manifests_certificates(self, spark, tmp_path):
        """verify=True: every batch's manifest carries its snapshot's
        distributed certificate (verifiers.py) with 0 violations —
        the warm-start contract asserted per batch, not trusted."""
        from graphit_spark.streaming import (
            incremental_cc_stream,
            incremental_pagerank_stream,
        )

        edges_dir = str(tmp_path / "edges_in")
        b1 = [(0, 1), (1, 2), (3, 4)]
        b2 = [(2, 3), (5, 6), (6, 0)]

        self._write_edges(spark, b1, edges_dir, "overwrite")
        q, store = incremental_cc_stream(
            spark, edges_dir, str(tmp_path / "work_cc"), verify=True
        )
        try:
            q.processAllAvailable()
            self._write_edges(spark, b2, edges_dir, "append")
            q.processAllAvailable()
        finally:
            q.stop()
        for it in (0, 1):
            cert = store.manifest(it)["metrics"]["certificate"]
            assert cert == {
                "edge_label_mismatch": 0,
                "non_canonical_label": 0,
            }

        qp, pstore = incremental_pagerank_stream(
            spark, edges_dir, str(tmp_path / "work_pr"),
            tol=1e-9, verify=True,
        )
        try:
            qp.processAllAvailable()
        finally:
            qp.stop()
        cert = pstore.manifest(pstore.latest())["metrics"]["certificate"]
        assert cert == {"unconverged_after_budget": 0}


class TestStreamingDedup:
    """applyInPandasWithState first-seen exact dedup (streaming/dedup.py)."""

    @staticmethod
    def _write(spark, path, rows, mode):
        local_frame(
            spark,
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode(mode).parquet(path)

    @staticmethod
    def _stream(spark, path):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    def test_first_seen_across_microbatches(self, spark, tmp_path):
        from graphit_spark.streaming import dedup_stream

        d, ck = str(tmp_path / "docs"), str(tmp_path / "ck")
        # batch A: two distinct texts, one batch-internal dup (keep min id)
        self._write(
            spark, d, [(7, "alpha"), (3, "alpha"), (5, "beta")], "overwrite"
        )
        q = (
            dedup_stream(self._stream(spark, d))
            .writeStream.format("memory")
            .queryName("dedup_out")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["doc_hash"]: (r["doc_id"], r["text_len"])
                for r in spark.sql("SELECT * FROM dedup_out").collect()
            }
            import hashlib

            h = lambda t: hashlib.md5(t.encode()).hexdigest()
            assert got == {h("alpha"): (3, 5), h("beta"): (5, 4)}
            # batch B: later copies of alpha/beta suppressed; new text emits
            self._write(
                spark, d, [(9, "alpha"), (10, "beta"), (11, "gamma")], "append"
            )
            q.processAllAvailable()
            got = {
                r["doc_hash"]: r["doc_id"]
                for r in spark.sql("SELECT * FROM dedup_out").collect()
            }
            assert got == {h("alpha"): 3, h("beta"): 5, h("gamma"): 11}
        finally:
            q.stop()

    def test_matches_batch_keep_set_in_order(self, spark, tmp_path):
        """In doc_id-ordered delivery the streamed keep set equals the
        batch dedup_exact canonical (min doc_id per hash) keep set."""
        import random

        from graphit_spark.streaming import dedup_stream

        rng = random.Random(4)
        texts = [f"doc-{rng.randrange(20)}" for _ in range(60)]
        rows = [(i, t) for i, t in enumerate(texts)]
        d, ck = str(tmp_path / "docs2"), str(tmp_path / "ck2")
        # three in-order files -> three micro-batches
        for j in range(3):
            self._write(
                spark, d, rows[j * 20 : (j + 1) * 20],
                "overwrite" if j == 0 else "append",
            )
        q = (
            dedup_stream(self._stream(spark, d))
            .writeStream.format("memory")
            .queryName("dedup_out2")
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {
                (r["doc_hash"], r["doc_id"])
                for r in spark.sql("SELECT * FROM dedup_out2").collect()
            }
        finally:
            q.stop()
        batch = {
            (r["doc_hash"], r["keep_id"])
            for r in local_frame(spark, rows, "doc_id long, text string")
            .groupBy(F.md5(F.col("text").cast("binary")).alias("doc_hash"))
            .agg(F.min("doc_id").alias("keep_id"))
            .collect()
        }
        assert streamed == batch


class TestCmsStream:
    """Streaming Count-Min maintenance: snapshot == batch sketch of the
    union after every wave; replay-safe via the manifest batch_id."""

    DOCS = [
        (0, "alpha beta alpha"),
        (1, "beta gamma"),
        (2, "alpha alpha delta"),
        (3, "gamma gamma gamma epsilon"),
    ]

    def _write_docs(self, spark, rows, docs_dir, mode):
        local_frame(spark, rows, "doc_id long, text string").coalesce(
            1
        ).write.mode(mode).parquet(docs_dir)

    @staticmethod
    def _grid(df):
        return {(r["r"], r["c"]): r["cnt"] for r in df.collect()}

    def test_snapshot_equals_batch_union(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from graphit_spark.functions import sketch as K
        from graphit_spark.streaming import cms_stream

        docs_dir = str(tmp_path / "docs_in")
        work = str(tmp_path / "work")
        self._write_docs(spark, self.DOCS[:2], docs_dir, "overwrite")
        q, store = cms_stream(spark, docs_dir, work)
        try:
            q.processAllAvailable()
            assert store.latest() == 0
            self._write_docs(spark, self.DOCS[2:], docs_dir, "append")
            q.processAllAvailable()
        finally:
            q.stop()
        assert store.latest() == 1

        words = (
            local_frame(spark, self.DOCS, "doc_id long, text string")
            .select(
                F.explode(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                ).alias("tok")
            )
            .filter(F.col("tok") != "")
        )
        assert self._grid(store.read(spark, 1)) == self._grid(
            K.count_min_cells(words)
        )
        man = store.manifest(1)
        assert man["metrics"]["batch_tokens"] == 7
        assert "batch_id" in man["metrics"]

    def test_restart_does_not_double_count(self, spark, tmp_path):
        from graphit_spark.streaming import cms_stream

        docs_dir = str(tmp_path / "docs_in")
        work = str(tmp_path / "work")
        self._write_docs(spark, self.DOCS[:2], docs_dir, "overwrite")
        q, store = cms_stream(spark, docs_dir, work)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        base = self._grid(store.read(spark, store.latest()))

        # restart on the same checkpoint with no new data: no new
        # snapshot, no re-merge
        q2, store2 = cms_stream(spark, docs_dir, work)
        try:
            q2.processAllAvailable()
            n0 = store2.latest()
            # a new wave after the restart still merges correctly
            self._write_docs(spark, self.DOCS[2:], docs_dir, "append")
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert self._grid(store2.read(spark, n0)) == base
        assert store2.latest() > n0


class TestHllStream:
    def _write_docs(self, spark, rows, docs_dir, mode):
        local_frame(spark, rows, "doc_id long, text string").coalesce(
            1
        ).write.mode(mode).parquet(docs_dir)

    def test_snapshot_equals_batch_union(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from graphit_spark.functions import sketch as K
        from graphit_spark.streaming import hll_stream

        docs_dir = str(tmp_path / "docs_in")
        work = str(tmp_path / "work")
        wave1 = [(i, f"doc-{i}") for i in range(300)]
        wave2 = [(i, f"doc-{i}") for i in range(200, 500)]  # overlap
        self._write_docs(spark, wave1, docs_dir, "overwrite")
        q, store = hll_stream(spark, docs_dir, work)
        try:
            q.processAllAvailable()
            self._write_docs(spark, wave2, docs_dir, "append")
            q.processAllAvailable()
        finally:
            q.stop()
        assert store.latest() == 1

        both = local_frame(
            spark,
            wave1 + wave2, "doc_id long, text string"
        )
        want = {
            r["bucket"]: r["reg"]
            for r in K.hll_registers(both, F.col("text")).collect()
        }
        got = {
            r["bucket"]: r["reg"] for r in store.read(spark, 1).collect()
        }
        assert got == want
        # the manifest carries the running estimate; distinct texts =
        # 500, HLL rse ~6.5% at m=256 — the deterministic draw must
        # land well inside 4 sigma
        est = store.manifest(1)["metrics"]["est_distinct"]
        assert abs(est - 500) / 500 < 0.26


class TestIncrementalLshDedup:
    """foreachBatch MinHash-LSH near-dup suppression with band-table
    state: in-order stream keep set == batch lsh_candidate_pairs
    min-id rule (streaming/incremental.py)."""

    @staticmethod
    def _write(spark, path, rows, mode):
        local_frame(
            spark,
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode(mode).parquet(path)

    @staticmethod
    def _docs():
        # long texts so the shingle set is rich; exact copies collide
        # in every band, the perturbed copy exercises partial-band
        # collision, the unique texts must all survive.
        base = (
            "the quick brown fox jumps over the lazy dog while the "
            "crawler fetches yet another page about foxes and dogs "
        )
        words = [
            "astronomy telescope nebula quasar parallax spectrum",
            "sourdough levain crumb hydration bulk ferment oven",
            "velodrome peloton cadence derailleur breakaway sprint",
            "glacier moraine crevasse serac icefall bergschrund",
            "madrigal counterpoint cadence fugue ostinato motet",
            "transistor wafer lithography dopant foundry yield",
        ]
        uniq = [(w + " ") * 6 for w in words]
        return [
            (0, base * 3),                       # canonical
            (1, uniq[0]),
            (2, base * 3),                       # in-batch dup of 0
            (3, uniq[1]),
            (4, base * 3 + "tiny suffix tweak"),  # near-dup of 0
            (5, uniq[2]),
            (6, base * 3),                       # cross-batch dup of 0
            (7, uniq[3]),
            (8, uniq[1].replace("sourdough", "ryebread")),
            (9, uniq[4]),
            (10, base * 3),                      # cross-batch dup of 0
            (11, uniq[5]),
        ]

    def test_matches_batch_rule_in_order(self, spark, tmp_path):
        from graphit_spark.functions.dedup import lsh_candidate_pairs
        from graphit_spark.streaming import incremental_lsh_dedup_stream

        rows = self._docs()
        docs_dir = str(tmp_path / "docs")
        work = str(tmp_path / "work")
        for j in range(3):  # three in-order micro-batches of 4 docs
            self._write(
                spark, docs_dir, rows[j * 4 : (j + 1) * 4],
                "overwrite" if j == 0 else "append",
            )
        q, store = incremental_lsh_dedup_stream(
            spark, docs_dir, work, max_files_per_trigger=1, verify=True
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        its = store.complete_iterations()
        assert len(its) == 3
        streamed = set()
        arrived = kept_total = suppressed = 0
        for it in its:
            streamed |= {
                r["doc_id"] for r in store.read(spark, it).collect()
            }
            m = store.manifest(it)["metrics"]
            arrived += m["arrived"]
            kept_total += m["kept"]
            suppressed += m["suppressed"]
            # independent per-batch certificate: no kept doc's bucket
            # has a lower-id occupant
            assert m["certificate"] == {"kept_bucket_violations": 0}
        assert arrived == len(rows)
        assert kept_total == len(streamed)
        assert suppressed == len(rows) - len(streamed)

        batch_df = local_frame(spark, rows, "doc_id long, text string")
        dup_b = {
            r["doc_b"]
            # the pinned contract is explicitly the UNCAPPED batch rule
            # (incremental.py docstring): hot-band capping is a
            # candidate-generation bound, not part of the keep set
            for r in lsh_candidate_pairs(batch_df, max_bucket=None)
            .select("doc_b").collect()
        }
        want = {i for i, _ in rows} - dup_b
        assert streamed == want
        # the fixture must actually exercise both suppression paths
        assert 2 in dup_b and 6 in dup_b and 10 in dup_b
        assert {1, 3, 5, 7, 9, 11} <= streamed

    def test_restart_resumes_without_reemit(self, spark, tmp_path):
        from graphit_spark.streaming import incremental_lsh_dedup_stream

        rows = self._docs()
        docs_dir = str(tmp_path / "docs")
        work = str(tmp_path / "work")
        self._write(spark, docs_dir, rows[:4], "overwrite")
        q, store = incremental_lsh_dedup_stream(
            spark, docs_dir, work, max_files_per_trigger=1
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        first_its = store.complete_iterations()
        assert first_its == [0]
        kept0 = {r["doc_id"] for r in store.read(spark, 0).collect()}

        # new docs arrive while the stream is down; the restarted query
        # picks up ONLY the new file (stream checkpoint), batch 0's
        # snapshot is untouched
        self._write(spark, docs_dir, rows[4:8], "append")
        q2, store2 = incremental_lsh_dedup_stream(
            spark, docs_dir, work, max_files_per_trigger=1
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert store2.complete_iterations() == [0, 1]
        assert {
            r["doc_id"] for r in store2.read(spark, 0).collect()
        } == kept0
        kept1 = {r["doc_id"] for r in store2.read(spark, 1).collect()}
        assert 6 not in kept1  # cross-restart band state suppressed the dup
        assert {5, 7} <= kept1


class TestIncrementalDeletes:
    """with_deletes=True: (src, dst, op) log, last-writer-wins edge
    set; CC repairs split components locally and exactly."""

    @staticmethod
    def _write(spark, path, rows, mode):
        local_frame(
            spark,
            rows, "src long, dst long, op string"
        ).coalesce(1).write.mode(mode).parquet(path)

    def test_cc_delete_splits_component_exactly(self, spark, tmp_path):
        from graphit_spark import LinkGraph
        from graphit_spark.kernels import connected_components
        from graphit_spark.streaming import incremental_cc_stream

        edges_dir = str(tmp_path / "ops")
        work = str(tmp_path / "work")
        # two chains 0-1-2-3 and 10-11-12-13, bridged by 3-10; plus an
        # untouched third component 20-21
        b1 = [
            (0, 1, "add"), (1, 2, "add"), (2, 3, "add"),
            (10, 11, "add"), (11, 12, "add"), (12, 13, "add"),
            (3, 10, "add"), (20, 21, "add"),
        ]
        # delete the bridge (splits {0..13} back into two), delete one
        # never-added edge (noop), add a fresh edge into the 10-chain
        b2 = [(3, 10, "del"), (5, 6, "del"), (13, 14, "add")]
        self._write(spark, edges_dir, b1, "overwrite")
        q, store = incremental_cc_stream(
            spark, edges_dir, work, verify=True, with_deletes=True
        )
        try:
            q.processAllAvailable()
            assert store.latest() == 0
            self._write(spark, edges_dir, b2, "append")
            q.processAllAvailable()
        finally:
            q.stop()
        assert store.latest() == 1

        got = {
            r["id"]: r["comp"] for r in store.read(spark, 1).collect()
        }
        final_pairs = [
            (s, d) for s, d, _ in b1
        ] + [(13, 14)]
        final_pairs.remove((3, 10))
        cold = {
            r["id"]: r["comp"]
            for r in connected_components(
                LinkGraph.from_pairs(spark, final_pairs, persist=False)
            ).collect()
        }
        # exact equality on shared universe (stream universe may differ
        # only by isolated max-id trailing vertices — none here)
        assert {k: v for k, v in got.items() if k in cold} == cold
        assert got[10] == 10 and got[0] == 0  # the split really happened
        for it in (0, 1):
            cert = store.manifest(it)["metrics"]["certificate"]
            assert all(v == 0 for v in cert.values()), cert

    def test_pagerank_with_deletes_matches_cold(self, spark, tmp_path):
        import numpy as np

        from graphit_spark import LinkGraph
        from graphit_spark.kernels import pagerank
        from graphit_spark.streaming import incremental_pagerank_stream

        import random

        rng = random.Random(11)
        b1 = [
            (rng.randrange(40), rng.randrange(40), "add") for _ in range(150)
        ]
        removed = [(s, d, "del") for s, d, _ in b1[:20]]
        b2 = removed + [
            (rng.randrange(40), rng.randrange(40), "add") for _ in range(10)
        ]
        edges_dir = str(tmp_path / "ops")
        work = str(tmp_path / "work")
        self._write(spark, edges_dir, b1, "overwrite")
        q, store = incremental_pagerank_stream(
            spark, edges_dir, work, tol=1e-9, with_deletes=True
        )
        try:
            q.processAllAvailable()
            self._write(spark, edges_dir, b2, "append")
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["id"]: r["rank"]
            for r in store.read(spark, 1).select("id", "rank").collect()
        }
        # cold final edge set: last op wins, del beats add in one batch
        final = {}
        for seq, batch in enumerate((b1, b2)):
            dels = {(s, d) for s, d, o in batch if o == "del"}
            for s, d, o in batch:
                if s == d:
                    continue
                final[(s, d)] = (o == "add") and (s, d) not in dels
        pairs = [e for e, live in final.items() if live]
        cold = {
            r["id"]: r["rank"]
            for r in pagerank(
                LinkGraph.from_pairs(spark, pairs, persist=False),
                tol=1e-9, max_iters=100,
            ).collect()
        }
        shared = sorted(set(got) & set(cold))
        assert np.allclose(
            [got[k] for k in shared], [cold[k] for k in shared], atol=1e-6
        )
