"""Deterministic corpus sampling for training-data pipelines.

A token-budget sample is how a pretraining run actually consumes a
curated corpus: shuffle the documents by a deterministic hash of their
id (reproducible, and unbiased w.r.t. crawl/storage order), then take
documents in that order until the cumulative token count reaches the
budget. The reference has no counterpart (GraphIt is a graph DSL);
this is builder's-brief training-pipeline surface, composed from the
engine's own distributed prefix-sum primitive.

Scale shape: one hash projection over (id, tokens) rows + the
two-phase ordered_prefix_sum (range shuffle -> P parallel within-
bucket window sums -> broadcast per-bucket offsets; plans/ranking.py:29)
+ a filter. No single-partition Window, no driver-side iteration, and
the shuffled rows are 3 small columns regardless of document width —
at 10^12 documents that is one range shuffle of ~24 TB spread over the
cluster, not a sort of the corpus text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from graphit_spark.plans.ranking import dense_rank_ids, ordered_prefix_sum
from graphit_spark.plans.state import fresh_checkpoint


def sample_key(col: Column) -> Column:
    """60-bit md5 shuffle key of the decimal string of ``col`` — the
    deterministic stand-in for a random permutation. SQL twin:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long")


def token_budget_sample(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy hash-ordered prefix of ``df`` holding ~``budget`` tokens.

    A row is kept iff the cumulative token count of all rows BEFORE it
    (in (sample_key, id) order) is < budget — so the boundary document
    is included and the sample always reaches the budget whenever the
    corpus holds enough tokens; budget <= 0 selects nothing. Returns
    (id, tokens, <token_col>_cum) with the inclusive running total, so
    callers can audit exactly where the budget landed.

    The result is a fresh checkpoint (a terminal sample, typically read
    more than once): the range-shuffled table is released here, and
    the result's unpersist() frees it.
    """
    keyed = df.select(
        F.col(id_col),
        F.col(token_col),
        sample_key(F.col(id_col)).alias("skey"),
    )
    cum = ordered_prefix_sum(
        keyed, [F.asc("skey"), F.asc(id_col)], [token_col]
    )
    cum_col = f"{token_col}_cum"
    out = fresh_checkpoint(
        cum.filter(F.col(cum_col) - F.col(token_col) < F.lit(int(budget)))
        .select(id_col, token_col, cum_col)
    )
    cum.unpersist()
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    num: int,
    den: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact proportional per-stratum sample: within every stratum keep
    the first ceil(n_s · num/den) rows in deterministic (sample_key, id)
    order — language-balanced corpus downsampling where Bernoulli
    hashing would only hit the fraction in expectation. The quota is
    pure integer arithmetic ((n_s·num + den − 1) div den), so the keep
    set is bit-reproducible and exactly matched by the SQL twin.

    Scale shape: the naive plan — row_number() PARTITION BY stratum —
    serializes each stratum through one task (a language at crawl scale
    is ~the corpus). Instead: ONE global range-ranked pass over
    (stratum, key, id) via dense_rank_ids (P parallel bucket sorts), a
    strata-sized aggregate for per-stratum base ranks + counts
    (broadcast back), and per-stratum rank = global_rank − base. No
    task ever holds more than a range bucket.

    Returns (id, stratum, stratum_rank) with the 0-based per-stratum
    rank kept for auditability.
    """
    keyed = df.select(
        F.col(id_col),
        F.col(strata_col),
        sample_key(F.col(id_col)).alias("skey"),
    )
    release: list = []
    ranked = dense_rank_ids(
        keyed,
        [F.asc(strata_col), F.asc("skey"), F.asc(id_col)],
        out_col="__grank",
        release=release,
    )
    per_stratum = ranked.groupBy(strata_col).agg(
        F.min("__grank").alias("__base"),
        F.count("*").alias("__n"),
    ).withColumnRenamed(strata_col, "__stratum")
    # integer `div`, not float `/`: exact for any stratum size (float
    # division of a >2^53 numerator could round across the quota line)
    quota = F.expr(f"(__n * {int(num)} + {int(den) - 1}) div {int(den)}")
    out = (
        # null-safe join: a NULL stratum (e.g. lang unset) is a real
        # stratum with its own quota — an equi-join would silently drop
        # every NULL row, diverging from row_number() PARTITION BY
        # semantics (which keep NULL as a group)
        ranked.join(
            F.broadcast(per_stratum),
            F.col(strata_col).eqNullSafe(F.col("__stratum")),
        )
        .withColumn("stratum_rank", F.col("__grank") - F.col("__base"))
        .filter(F.col("stratum_rank") < quota)
        .select(id_col, strata_col, "stratum_rank")
        .localCheckpoint(eager=True)
    )
    for cached in release:
        cached.unpersist()
    return out


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay the corpus out as one
    virtual token stream in deterministic (sample_key, id) order and
    cut it into fixed-length training sequences of ``seq_len`` tokens —
    the packing step a pretraining data loader performs, computed
    corpus-side so sequence manifests are reproducible and auditable.

    Each document occupies the half-open token interval
    [start, start + tokens) of the stream, where start is the exclusive
    running total of all earlier documents; training sequence k covers
    [k·L, (k+1)·L). Returns one row per document:

      (id, tokens, seq_id, seq_offset, n_splits)

    with seq_id = the sequence holding the document's FIRST token,
    seq_offset = position of that token within the sequence, and
    n_splits = how many sequence boundaries cut through the document
    (0 = fits inside one sequence). All integer arithmetic (``div`` /
    ``%``), so the layout is bit-reproducible and exactly SQL-twinned.

    Scale shape: identical to token_budget_sample — one 3-narrow-column
    hash projection + the distributed ordered_prefix_sum (range shuffle
    → P parallel window sums → broadcast offsets; plans/ranking.py:29)
    + per-row integer arithmetic. No single-partition Window, no driver
    iteration; the stream layout of a 10^12-document corpus costs one
    range shuffle of ~24 TB of narrow rows, never a sort of the text.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    keyed = df.select(
        F.col(id_col),
        F.col(token_col),
        sample_key(F.col(id_col)).alias("skey"),
    )
    cum = ordered_prefix_sum(
        keyed, [F.asc("skey"), F.asc(id_col)], [token_col]
    )
    L = int(seq_len)
    start = f"({token_col}_cum - {token_col})"
    # last token's index; empty docs (tokens = 0) pin to their start so
    # they land in one sequence with n_splits = 0
    last = f"greatest({token_col}_cum - 1, {start})"
    out = (
        cum.select(
            F.col(id_col),
            F.col(token_col),
            F.expr(f"{start} div {L}").alias("seq_id"),
            F.expr(f"{start} % {L}").alias("seq_offset"),
            F.expr(f"({last}) div {L} - {start} div {L}").alias("n_splits"),
        )
        .localCheckpoint(eager=True)
    )
    cum.unpersist()
    return out


# Contrastive triple mining (the DPR/SimCSE-style training-data
# extraction): anchors and positives come from verified near-dup
# pairs, negatives from a deterministic hash draw over the corpus.
CONTRASTIVE_TAU = 0.5
CONTRASTIVE_CANDS = 5


def contrastive_pairs(
    docs: DataFrame,
    positives: DataFrame,
    *,
    tau: float = CONTRASTIVE_TAU,
    n_cands: int = CONTRASTIVE_CANDS,
    id_col: str = "doc_id",
) -> DataFrame:
    """(anchor, positive, negative) training triples for a contrastive
    embedding model: each confirmed near-dup pair (``positives`` is a
    (doc_a, doc_b, jaccard) table, kept at jaccard >= tau) becomes one
    triple whose negative is drawn deterministically — the 60-bit md5
    of "anchor_positive" indexes the doc universe, advancing through
    ``n_cands`` consecutive slots until one is neither endpoint nor a
    near-dup of either endpoint (a triple whose every candidate slot
    collides is dropped — identically in the SQL twin, so the output
    stays a pure function of the corpus).

    Scale shape: the doc-universe index rides the distributed
    `dense_rank_ids` (range shuffle + per-partition offsets, no global
    Window); candidates are a constant n_cands-fan-out explode of the
    positives table; validity is two anti-joins against the (tiny)
    positive-pair set and one equi-join into the ranked universe. Every
    shuffle keys on pair/universe cardinalities; nothing is quadratic.
    """
    pos = (
        positives.filter(F.col("jaccard") >= tau)
        .select(F.col("doc_a").alias("anchor"), F.col("doc_b").alias("positive"))
    )
    n_docs = docs.select(id_col).count()
    if n_docs == 0:
        return pos.select(
            "anchor", "positive", F.lit(None).cast("long").alias("negative")
        ).limit(0)
    release: list = []
    ranked = dense_rank_ids(
        docs.select(F.col(id_col).cast("long").alias("doc_id")),
        [F.col("doc_id")],
        out_col="idx",
        release=release,
    )
    base = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("anchor").cast("string"),
                    F.lit("_"),
                    F.col("positive").cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = pos.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(n_cands - 1)))
    ).withColumn("idx", (base + F.col("j")) % F.lit(n_docs))
    negs = (
        cand.join(ranked, "idx")
        .select("anchor", "positive", "j", F.col("doc_id").alias("negative"))
        .filter(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
    )
    for endpoint in ("anchor", "positive"):
        p = pos.select(
            F.col("anchor").alias("__pa"), F.col("positive").alias("__pb")
        )
        negs = negs.join(
            p,
            (F.col("__pa") == F.least(F.col(endpoint), F.col("negative")))
            & (F.col("__pb") == F.greatest(F.col(endpoint), F.col("negative"))),
            "left_anti",
        )
    pick = negs.groupBy("anchor", "positive").agg(
        F.min_by("negative", "j").alias("negative")
    )
    # terminal triple table (positives-sized): localCheckpoint BEFORE
    # releasing the ranked universe — the range boundaries came from
    # sampling, so recomputing after unpersist could re-sample
    out = pick.orderBy("anchor", "positive").localCheckpoint(eager=True)
    for df in release:
        try:
            df.unpersist()
        except Exception:
            pass
    return out


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup JACM'07): a deterministic
    weight-proportional sample of ``k`` rows with unbiased subset-sum
    estimation weights.

    Each row gets priority w / u with u ~ U(0,1]; the k highest
    priorities are kept and tau = the (k+1)-th priority; the estimator
    weight of a kept row is max(w, tau) (unbiased for every subset sum —
    the property that makes this the right sampler for "train on a
    weighted subsample but report corpus-level token statistics").

    Determinism discipline: u = (h+1)/2^60 with h a salted 60-bit md5 of
    the id, so priority = w / (h+1) up to the constant 2^60 factor that
    cancels in the ordering — ONE IEEE division of exactly-represented
    integers, bit-identical across engines; ordering ties broken by id.
    Keeping the budget-sampler's hash UNSALTED and this one salted
    ('pri|' prefix) keeps the two samplers independent.

    Scale shape: one corpus scan computing (w, priority), one
    TakeOrderedAndProject for the k+1 head rows, then windows over the
    (k+1)-row result only — the single-partition window is bounded by
    k+1, never corpus-sized.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("pri|"), F.col(id_col).cast("string")
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keyed = df.select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("w"),
        (
            F.col(weight_col).cast("double")
            / (h + F.lit(1)).cast("double")
        ).alias("pri"),
    )
    top = keyed.orderBy(F.desc("pri"), F.asc(id_col)).limit(k + 1)
    w_rank = Window.orderBy(F.desc("pri"), F.asc(id_col))
    w_all = Window.orderBy(F.desc("pri"), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = top.select(
        id_col,
        "w",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("cnt"),
        F.min("pri").over(w_all).alias("minpri"),
    )
    tau = F.when(F.col("cnt") == k + 1, F.col("minpri")).otherwise(
        F.lit(0.0)
    )
    return (
        ranked.filter(F.col("rn") <= k)
        .select(
            id_col,
            F.col("w").alias(weight_col),
            F.greatest(F.col("w").cast("double"), tau).alias(
                f"est_{weight_col}"
            ),
        )
    )
