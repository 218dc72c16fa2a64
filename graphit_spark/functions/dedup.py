"""Deduplication operators for training-data pipelines.

Four families, all shuffle-aware and UDF-free (native expressions only,
so they survive crawl scale inside whole-stage codegen):

- exact:   hash-groupBy on the text bytes (md5) — one shuffle of
           (hash, doc_id), dup groups are tiny.
- minhash: char-shingles → k permutation-hashes → min per doc → LSH
           banding → bucket join. The shingle explosion is the big
           intermediate; it is generated and partially aggregated in the
           same stage (groupBy doc_id), so the shuffle carries only
           (doc_id, k mins).
- simhash: 16-bit sign-aggregated token-hash fingerprint; near-dups
           share the fingerprint (or differ by few bits).
- ngram-jaccard: exact pairwise similarity over shingle sets; quadratic,
           so use it only on LSH candidate pairs (or tiny corpora).

Hash parity contract with the DuckDB oracles (textqueries.py): the base
string hash is the first 8 hex digits of md5, read as an integer —
Spark `conv(substr(md5(x),1,8),16,10)` == DuckDB
`('0x'||substr(md5(x),1,8))::BIGINT`. Permutations are
(A_t * h + B_t) mod MERSENNE31.
"""

from __future__ import annotations

import logging
import threading
import time

from pyspark.sql import Column, DataFrame, Observation, functions as F

from graphit_spark.plans.state import (
    bind_release, counted_checkpoint, fresh_checkpoint,
)

MERSENNE31 = (1 << 31) - 1
# deterministic permutation constants (t-th minhash): odd multipliers
MINHASH_A = [1299721, 15485863, 32452843, 49979687, 67867967, 86028121]
MINHASH_B = [7, 101, 997, 10007, 100003, 1000003]
SHINGLE_LEN = 8
SHINGLE_STRIDE = 4


def md5_int(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative BIGINT (parity with the
    SQL oracle twin)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_hash, copies, canonical_id) per distinct text; canonical =
    min doc_id. The groupBy shuffles one short row per document."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("copies"),
            F.min("doc_id").alias("canonical_id"),
        )
    )


def _shingles(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, shingle): char n-grams, stride SHINGLE_STRIDE, from the
    lower-trimmed text; empty/short docs get the whole text as the one
    shingle. posexplode over a sequence keeps this JVM-side."""
    t = F.lower(F.trim(F.col(text_col)))
    n = F.greatest(
        F.floor((F.length(t) - F.lit(SHINGLE_LEN)) / F.lit(SHINGLE_STRIDE))
        .cast("long") + 1,
        F.lit(1),
    )
    return (
        df.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n - 1)).alias("k"),
            t.alias("__t"),
        )
        .select(
            "doc_id",
            F.substring(
                F.col("__t"),
                (F.col("k") * SHINGLE_STRIDE + 1).cast("int"),
                SHINGLE_LEN,
            ).alias("shingle"),
        )
        .distinct()
    )


def boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_docs: int,
) -> DataFrame:
    """Corpus-frequency boilerplate detection (the CCNet/RefinedWeb-style
    shared-fragment filter, at shingle granularity): a shingle is
    *boilerplate* when it appears in >= `min_docs` distinct documents
    (nav bars, footers, licence blurbs — the fragments that repeat
    across a crawl but whose full documents are NOT duplicates).
    Returns per document
        (doc_id, n_shingles, n_boiler, boiler_frac)
    where n_shingles counts the doc's DISTINCT shingles, n_boiler the
    subset that are corpus-boilerplate, boiler_frac their ratio
    (rounded, the engine's cross-engine float contract) — the score a
    curation gate thresholds on.

    100 TB plan: one shingle explode (never re-shuffled raw — the
    distinct and both counts group on hashed short keys with map-side
    partial aggregation), a frequency filter, and one semi-side
    equi-join of the doc-shingle table against the (small, filtered)
    boilerplate set. No all-pairs anything: cost is O(total shingles),
    linear in corpus bytes, unlike pairwise near-dup which this
    complements.
    """
    sh = _shingles(df, text_col).localCheckpoint(eager=True)
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("shingle")
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    boiler_per_doc = (
        sh.join(boiler, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    return (
        df.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(boiler_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("boiler_frac"),
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", k: int = 4
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): min over shingles of k permutation
    hashes. One wide aggregation — the shingle blow-up never shuffles raw."""
    sh = _shingles(df, text_col)
    h = md5_int(F.col("shingle"))
    aggs = [
        F.min(
            F.pmod(F.lit(MINHASH_A[t]) * F.pmod(h, F.lit(MERSENNE31)) + F.lit(MINHASH_B[t]), F.lit(MERSENNE31))
        ).alias(f"mh_{t}")
        for t in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_table(
    df: DataFrame, text_col: str = "text", k: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys: band = index, bkey = md5 of
    rows_per_band concatenated minhashes. One explode over the
    signatures — the shingle blow-up and the minhash aggregation run
    exactly once regardless of how many consumers read the result.
    Shared by the batch candidate-pair join (below) and the streaming
    incremental dedup (streaming/incremental.py), so both sides of the
    stream-equals-batch contract hash identically."""
    sig = minhash_signatures(df, text_col, k)
    n_bands = k // rows_per_band
    band_structs = []
    for b in range(n_bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        key = F.md5(F.concat_ws("_", *[c.cast("string") for c in cols]).cast("binary"))
        band_structs.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", "bb.band", "bb.bkey")
    )


LSH_MAX_BUCKET = 5000  # band-bucket occupancy ceiling (hot-band blacklist)


def lsh_band_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    rows_per_band: int = 2,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """(band, bkey, bucket_docs, is_hot) occupancy per LSH band bucket —
    the observability companion to lsh_candidate_pairs' hot-band cap:
    pipelines log SUM(bucket_docs) WHERE is_hot as the dropped mass."""
    occ = (
        band_table(df, text_col, k, rows_per_band)
        .groupBy("band", "bkey")
        .agg(F.count("*").alias("bucket_docs"))
    )
    return occ.select(
        "band", "bkey", "bucket_docs",
        (F.col("bucket_docs") > max_bucket).alias("is_hot"),
    )


#: how long a dropped-mass watcher keeps polling for the plan's first
#: action before giving up (a composed-but-never-executed plan runs no
#: data, so there is no drop to report — the watcher just expires)
_WATCH_DEADLINE_SEC = 3600.0
# duplicate_spans broadcasts its duplicated-key set up to this many gram
# rows (the set is at most that many 8-byte keys)
_SPAN_BROADCAST_GRAMS = 1_000_000


def _watch_dropped_mass(obs: "Observation", max_bucket: int) -> None:
    """Log the hot-band drop as soon as the observed plan first runs.

    The metrics are computed inside the caller's own action (zero extra
    jobs); a daemon thread POLLS the JVM-side `getRowOrEmpty` (each
    probe a short-lived py4j call) rather than parking in the blocking
    `Observation.get` — a blocked `get` pins one py4j gateway
    connection per composed plan, which a caller composing many plans
    without executing them would leak. The watcher backs off to
    5-second probes and expires after _WATCH_DEADLINE_SEC; a plan that
    never runs moves no data, so its silence is correct, not a missed
    warning."""

    def _wait() -> None:
        deadline = time.monotonic() + _WATCH_DEADLINE_SEC
        interval = 0.25
        try:
            jo = obs._jo  # set by observe() before the thread starts
            while time.monotonic() < deadline:
                if jo.getRowOrEmpty().isDefined():
                    break
                time.sleep(interval)
                interval = min(interval * 1.5, 5.0)
            else:
                return  # plan never ran: nothing dropped, nothing to log
            m = obs.get  # metrics are ready — returns immediately
        except Exception:  # session torn down / private API moved
            return  # never fall back to the blocking get: it may never return
        if m["hot_buckets"]:
            logging.getLogger("graphit_spark.dedup").warning(
                "lsh_candidate_pairs: dropped %d hot band bucket(s) "
                "(> %d docs), %d doc-slots excluded from candidate "
                "generation; see lsh_band_stats for the occupancy table",
                m["hot_buckets"], max_bucket, m["dropped_slots"],
            )

    threading.Thread(
        target=_wait, daemon=True, name="lsh-dropped-mass"
    ).start()


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: documents sharing any
    LSH band (band = md5 of rows_per_band concatenated minhashes).
    Bucket join, doc_a < doc_b, distinct.

    Hot-band cap (the 100 TB guard): the band self-join is Σ bucket²
    over bucket occupancies, so ONE degenerate bucket — a
    boilerplate-heavy shard putting 10⁵+ near-identical docs behind the
    same band key — is 10¹⁰ candidate pairs from a single key. Buckets
    holding more than ``max_bucket`` documents are dropped wholesale
    before the join (a band key shared by that many documents carries
    no discriminative signal — the same df-blacklist discipline as
    source_mirror_pairs' boilerplate drop); near-dup pairs inside a
    dropped bucket are still found through their other, non-degenerate
    bands. The cap is never silent: dropped bucket/doc-slot counts are
    measured by an `observe()` node INSIDE the plan (computed for free
    during whatever action the caller runs — no extra job, no driver
    collect) and logged the moment that first action completes;
    lsh_band_stats exposes the full occupancy table. The cap therefore
    adds ZERO jobs over the uncapped path at composition time (the one
    eager job either way is the shared band-table checkpoint).
    ``max_bucket=None`` disables the cap (the uncapped rule is the
    streaming dedup equivalence contract, streaming/incremental.py).

    Trade-off (deliberate): the occupancy aggregate is no longer
    materialized, so the self-join planner duplicates it on both join
    sides — one extra groupBy-count over the already-checkpointed band
    table per action (AQE can reuse the identical shuffle stage at
    runtime). That bounded recompute buys a composition path with zero
    jobs and zero driver collects; the pair self-join itself dominates
    any execution."""
    # one scan of the signatures: every band key comes out of a single
    # explode, and the materialized band table feeds both join sides —
    # the shingle explosion + minhash aggregation run exactly once, not
    # once per band per side. The lazy result reads it: its
    # ``unpersist()`` releases it.
    bands = fresh_checkpoint(band_table(df, text_col, k, rows_per_band))
    allb = bands
    if max_bucket is not None:
        # ONE occupancy aggregation serves both the dropped-mass
        # accounting and the filter join below; the accounting rides
        # the plan as observed metrics instead of a blocking collect.
        occ = allb.groupBy("band", "bkey").agg(F.count("*").alias("__occ"))
        hot = F.col("__occ") > max_bucket
        obs = Observation()
        occ = occ.observe(
            obs,
            F.coalesce(
                F.sum(F.when(hot, F.lit(1))), F.lit(0)
            ).alias("hot_buckets"),
            F.coalesce(
                F.sum(F.when(hot, F.col("__occ"))), F.lit(0)
            ).alias("dropped_slots"),
        )
        _watch_dropped_mass(obs, max_bucket)
        # occupancy joins back on the SAME (band, bkey) key as the pair
        # self-join below — no broadcast of a possibly-large hot list,
        # and the shuffle partitioning is reused across both joins.
        allb = (
            allb.join(occ, ["band", "bkey"])
            .filter(F.col("__occ") <= max_bucket)
            .drop("__occ")
        )
    left = allb.select("band", "bkey", F.col("doc_id").alias("doc_a"))
    right = allb.select("band", "bkey", F.col("doc_id").alias("doc_b"))
    return bind_release(
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct(),
        bands,
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", max_doc_id: int | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) over distinct char-shingle sets — exact,
    quadratic; restrict with max_doc_id or feed LSH candidates."""
    d = df if max_doc_id is None else df.filter(F.col("doc_id") < max_doc_id)
    # materialized: consumed three times (sizes + both sides of the
    # intersection self-join) — the explosion must run once. The lazy
    # result reads it: its ``unpersist()`` releases it.
    sh = fresh_checkpoint(_shingles(d, text_col))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return bind_release(
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        ),
        sh,
    )


def jaccard_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact shingle-set Jaccard computed ONLY
    for the given candidate pairs: the crawl-scale composition
    `lsh_candidate_pairs → exact verify`. Shingles are built just for
    documents that appear in some pair (semi-join prune), and the
    shingle self-join is replaced by candidate-driven lookups, so cost
    is Σ over pairs of shingle-set size — never quadratic in the corpus."""
    cand = candidates.select("doc_a", "doc_b")
    touched = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _shingles(
        df.join(touched, "doc_id", "left_semi"), text_col
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def containment_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, jaccard, cont_a, cont_b) — exact shingle-set
    Jaccard AND Broder containment for the candidate pairs:
        cont_a = |A∩B| / |A|   (how much of A lives inside B),
        cont_b = |A∩B| / |B|.
    Containment is the signal Jaccard structurally misses: a short doc
    quoted wholesale inside a long one has cont_short ≈ 1 while Jaccard
    stays small (the union is dominated by the long doc) — exactly the
    quote/boilerplate-inclusion case a curation pipeline must catch
    separately from near-duplication.

    Same cost shape as `jaccard_on_candidates` (semi-join-pruned
    shingles, candidate-driven intersection — Σ per-pair, never
    corpus-quadratic); the two extra ratios reuse the already-joined
    sizes, so the plan is identical plus two projections."""
    cand = candidates.select("doc_a", "doc_b")
    touched = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _shingles(
        df.join(touched, "doc_id", "left_semi"), text_col
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
            F.round(F.col("inter") / F.col("na"), 6).alias("cont_a"),
            F.round(F.col("inter") / F.col("nb"), 6).alias("cont_b"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash): sign-aggregated token-hash fingerprint.
    bit b of the fingerprint = 1 iff sum over distinct tokens of
    (2*bit_b(token_hash) - 1) > 0. Near-duplicate docs agree on most bits."""
    toks = df.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0).distinct()
    h = md5_int(F.col("tok"))
    votes = [
        F.sum(
            (F.floor(h / F.lit(1 << b)) % 2 * 2 - 1)
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sh = None
    for b in range(bits):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sh = bit if sh is None else sh + bit
    return agg.select("doc_id", sh.cast("long").alias("simhash"))


def duplicate_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Span-level duplicate detection: the maximal token ranges of each
    document covered by word n-grams that occur >= ``min_count`` times
    in the corpus (including repeats inside one document) — the
    "duplicate substring" pass of Lee et al. 2021 (Deduplicating
    Training Data Makes Language Models Better), at word-n-gram
    granularity so the whole pipeline stays in native expressions.
    Doc-level dedup misses these: two unique pages sharing one licence
    paragraph are untouched by minhash, but the paragraph still
    memorizes; this emits exactly the ranges a span-cutter would drop.

    Returns one row per maximal span: (doc_id, span_start, span_end,
    span_tokens) in 1-based token positions, span_tokens = end−start+1.
    Two duplicated n-gram starts p < q merge into one span when
    q <= p + n (their token windows touch or overlap).

    Scale shape: posexplode of n-gram starts → the hot shuffle carries
    (60-bit md5 gram key, doc_id, pos) narrow rows, never gram text →
    map-side-combined count per key → semi-join positions against the
    duplicated-key set (broadcast up to a million gram rows) → per-doc
    lag/cumsum island merge in a Window PARTITION BY doc_id (bounded by
    one document's tokens, never corpus-sized). The gram-key space is
    corpus tokens, same cardinality as the minhash shingle path.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = (
        df.select("doc_id", toks.alias("__t"))
        .filter(F.size("__t") >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
                )
            ).alias("__i", "__g"),
        )
        .select(
            "doc_id",
            (F.col("__i") + 1).cast("long").alias("pos"),  # 1-based start
            F.conv(F.substring(F.md5(F.col("__g").cast("binary")), 1, 15),
                   16, 10).cast("long").alias("gkey"),
        )
    )
    grams, seen = counted_checkpoint(grams)
    dup_keys = (
        grams.groupBy("gkey")
        .agg(F.count("*").alias("__cnt"))
        .filter(F.col("__cnt") >= int(min_count))
        .select("gkey")
    )
    if seen["rows"] <= _SPAN_BROADCAST_GRAMS:
        # a fresh checkpoint carries no size estimate: the planner
        # would shuffle the small side instead of broadcasting it
        dup_keys = F.broadcast(dup_keys)
    hits = grams.join(dup_keys, "gkey", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = (
        F.col("pos")
        > F.coalesce(F.lag("pos").over(w), F.lit(-(10 ** 9))) + n
    ).cast("long")
    spans = (
        hits.withColumn("__brk", brk)
        .withColumn(
            "__span",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "__span")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )
    out = fresh_checkpoint(spans)
    grams.unpersist()
    return out


def source_mirror_pairs(
    df: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    max_sources: int = 10,
) -> DataFrame:
    """Mirror / template detection ACROSS sources (hosts): for every
    pair of sources, how much of the smaller one's distinct-shingle
    set also appears on the other — the host-level containment signal
    a crawl pipeline uses to spot mirrored sites and shared site
    templates before page-level dedup ever runs.

    Returns (source_a, source_b, shared_shingles, containment) for
    every source pair sharing at least one kept shingle, where
    containment = shared / min(|A|, |B|) with sizes measured over the
    KEPT (non-boilerplate) distinct-shingle sets — numerator and
    denominator range over the same shingle universe, so a perfect
    mirror scores 1.0 even on a boilerplate-heavy site.

    100 TB plan: one shingle explode collapsed to DISTINCT
    (source, shingle) in-stage (groupBy short keys, map-side partial
    aggregation — the same cost class as minhash_signatures), then a
    self-equi-join on shingle that is fan-out-bounded by construction:
    shingles present on more than `max_sources` sources are dropped
    first (they are cross-site boilerplate — nav chrome, licence
    blurbs — and carry no mirror signal), so one shingle contributes
    at most C(max_sources, 2) pair rows. The pair aggregation groups
    on the (tiny) source-pair key; source-set sizes join back
    broadcast-sized (one row per source). Never quadratic in sources
    or documents.
    """
    sh = (
        _shingles(
            df.select(F.col(source_col).alias("doc_id"), text_col), text_col
        )
        .select(F.col("doc_id").alias("source"), "shingle")
        .localCheckpoint(eager=True)
    )
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__ns"))
        .filter(F.col("__ns") > max_sources)
        .select("shingle")
    )
    # consumed three times (sizes + both pair-join sides) — the
    # anti-join over the checkpointed shingle table runs once.
    kept = sh.join(boiler, "shingle", "left_anti").localCheckpoint(
        eager=True
    )
    sizes = kept.groupBy("source").agg(F.count("*").alias("n_shingles"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_shingles"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("source", "source_a")),
            "source_a",
        )
        .withColumnRenamed("n_shingles", "__na")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "source_b")),
            "source_b",
        )
        .withColumnRenamed("n_shingles", "__nb")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles")
                / F.least(F.col("__na"), F.col("__nb")),
                6,
            ).alias("containment"),
        )
    )
