"""Text-analysis operators for a training-data pipeline, JVM-side only.

Everything here is built from native Column expressions (no Python UDFs)
so the hot path stays inside whole-stage codegen — these run over the
document corpus at crawl scale. The reference DSL has no string surface
at all (SURVEY.md §2.7); these extend the engine for webtext payloads.

Every function has an exactly-equivalent ANSI-SQL twin in
graphit_spark/textqueries.py (the DuckDB oracle); keep them in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from graphit_spark.graph import local_frame
from graphit_spark.plans.state import counted_checkpoint, fresh_checkpoint, superstep

# language-ID marker substrings: (lang, [markers]) — order = tie-break
# priority (first wins on equal score). Pure substring counting, so the
# SQL twin is exact.
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", [" the ", " and ", " of "]),
    ("de", [" der ", " und ", " die "]),
    ("es", [" el ", " que ", " los "]),
    ("fr", [" le ", " et ", " les "]),
    ("ja", ["。", "の"]),
]


def _occurrences(s: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring."""
    return (
        (F.length(s) - F.length(F.replace(s, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count (empty/blank text counts 1 — the split
    contract shared with the SQL twin)."""
    return F.size(F.split(F.trim(text), r"\s+")).cast("long")


BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
]


def token_count_bpe(text: Column) -> Column:
    """BPE-style pre-tokenization count: letter runs, digit runs, and
    individual punctuation marks each count as one token (the GPT-2-ish
    pre-split, ASCII classes so Spark and DuckDB regex engines agree).
    A closer proxy for model token cost than whitespace counting —
    'don't stop!!' is 2 whitespace tokens but 6 BPE-ish tokens."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE)).cast("long")


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are English stopwords — the
    classic fluency signal (machine-generated / boilerplate text skews
    low). Native filter+size, no UDF."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_bpe, stopword_ratio) — the token
    accounting a training-data pipeline budgets with."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        token_count(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
    )


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters, rounded to 6
    places (the quality_features contract). Exposed as an expression so
    compositions (corpus curation) can fuse it into one corpus scan."""
    n_chars = F.length(text).cast("long")
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("long")
    return F.round(alpha / F.greatest(n_chars, F.lit(1)), 6)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring: length, token count, alpha ratio,
    punctuation density, mean token length. All integer/rounded-double."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    punct = (
        _occurrences(t, ".") + _occurrences(t, ",") + _occurrences(t, "!")
        + _occurrences(t, "?")
    )
    toks = token_count(t)
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        toks.alias("n_tokens"),
        alpha_ratio(t).alias("alpha_ratio"),
        F.round(punct / F.greatest(toks, F.lit(1)), 6).alias("punct_per_token"),
        F.round(n_chars / F.greatest(toks, F.lit(1)), 6).alias("mean_token_len"),
    )


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    low = F.lower(text)
    out = []
    for lang, markers in LANG_MARKERS:
        score = None
        for m in markers:
            c = _occurrences(low, m)
            score = c if score is None else score + c
        out.append((lang, score))
    return out


def lang_guess_col(text: Column) -> Column:
    """n-gram-marker language guess as a single Column: argmax marker
    count, ties resolved by LANG_MARKERS order; 'und' (undetermined)
    when all scores are 0. Exposed as an expression so compositions
    (corpus curation) can fuse it into one corpus scan."""
    scores = lang_scores(text)
    # build the argmax as a when-chain: lang_i wins if its score is
    # strictly greater than every earlier lang and >= every later one.
    best_lang = F.lit("und")
    best_score = F.lit(0).cast("long")
    # fold right-to-left so earlier langs win ties
    for lang, score in reversed(scores):
        best_lang = F.when((score > F.lit(0)) & (score >= best_score), F.lit(lang)).otherwise(best_lang)
        best_score = F.when(score >= best_score, score).otherwise(best_score)
    return best_lang


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang_guess) — see lang_guess_col."""
    return df.select(
        "doc_id", lang_guess_col(F.col(text_col)).alias("lang_guess")
    )


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Array of space-joined word n-grams of the lowercased whitespace
    tokens; texts with fewer than n tokens yield an empty array. Pure
    Column expression (sequence + transform + slice, no UDF), so the
    downstream explode→count pipeline stays in whole-stage codegen."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 100
) -> DataFrame:
    """Corpus-level n-gram vocabulary counting — the first step of a
    BPE/vocab build or boilerplate scan: (ngram, n_occurrences,
    doc_freq), the k most frequent n-grams with ties broken by ngram
    text so the cut is a total order (deterministic across engines).

    Scale shape: explode → one groupBy(ngram) with map-side partial
    aggregation (the classic word-count plan), then orderBy().limit(k)
    compiles to TakeOrderedAndProject — per-partition top-k heaps
    merged on the driver as P·k rows, never a full sort of the
    vocabulary."""
    grams = df.select(
        "doc_id", F.explode(word_ngrams(F.col(text_col), n)).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return counts.orderBy(
        F.desc("n_occurrences"), F.asc("ngram")
    ).limit(k)


# Gopher-style repetition gates (Rae et al. 2021 §A1.1, public paper):
# a document is repetition-clean when no single word dominates, no
# single bigram dominates, and the vocabulary is not degenerate.
REP_MAX_TOP_WORD_FRAC = 0.20
REP_MAX_TOP_BIGRAM_FRAC = 0.18
REP_MIN_UNIQUE_WORD_FRAC = 0.30


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Intra-document repetition metrics — the Gopher/C4-class quality
    gate that catches boilerplate and degenerate (looping) text, which
    length/stopword features miss: per doc, the fraction of tokens
    taken by the most frequent word, by the most frequent bigram, and
    the distinct-word fraction, plus the combined boolean gate.

    Scale shape: ONE explode of (gram_n, gram) tagged structs (words
    and bigrams in the same pass) → map-side-combined
    groupBy(doc_id, gram_n, gram) → one groupBy(doc_id) rollup. Both
    shuffles key on doc-sized cardinalities, and a pathological
    multi-GB document distributes across tasks after the explode
    instead of sitting in one row. No UDFs, no Windows."""
    t = F.col(text_col)
    words = F.split(F.lower(F.trim(t)), r"\s+")
    tagged = F.concat(
        F.transform(
            words, lambda w: F.struct(F.lit(1).alias("gram_n"), w.alias("gram"))
        ),
        F.transform(
            word_ngrams(t, 2),
            lambda g: F.struct(F.lit(2).alias("gram_n"), g.alias("gram")),
        ),
    )
    grams = df.select("doc_id", F.explode(tagged).alias("tg")).select(
        "doc_id", F.col("tg.gram_n").alias("gram_n"), F.col("tg.gram").alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram_n", "gram").agg(
        F.count("*").alias("c")
    )
    is_w = F.col("gram_n") == 1
    is_b = F.col("gram_n") == 2
    agg = counts.groupBy("doc_id").agg(
        F.sum(F.when(is_w, F.col("c"))).alias("n_words"),
        F.count(F.when(is_w, F.lit(1))).alias("n_distinct_words"),
        F.max(F.when(is_w, F.col("c"))).alias("top_word_c"),
        F.coalesce(F.sum(F.when(is_b, F.col("c"))), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.max(F.when(is_b, F.col("c"))), F.lit(0)).alias("top_bigram_c"),
    )
    top_word_frac = F.round(F.col("top_word_c") / F.col("n_words"), 6)
    top_bigram_frac = F.round(
        F.col("top_bigram_c") / F.greatest(F.col("n_bigrams"), F.lit(1)), 6
    )
    unique_word_frac = F.round(F.col("n_distinct_words") / F.col("n_words"), 6)
    return agg.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        unique_word_frac.alias("unique_word_frac"),
        (
            (top_word_frac <= REP_MAX_TOP_WORD_FRAC)
            & (top_bigram_frac <= REP_MAX_TOP_BIGRAM_FRAC)
            & (unique_word_frac >= REP_MIN_UNIQUE_WORD_FRAC)
        ).alias("repetition_ok"),
    )


# PII patterns — ASCII-only so the Java (Spark) and RE2 (DuckDB)
# engines agree byte-for-byte. Kept deliberately simple: the point is
# the scrub PLUMBING (count + global replace + verifiable output), not
# a production PII model.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the safety pass every training-data pipeline
    runs before tokenization: per doc, counts of email / phone / IPv4
    matches, a has_pii flag, and the md5 of the fully-redacted text
    (emails→<EMAIL>, phones→<PHONE>, IPs→<IP>, applied in that order)
    so the byte-exact redaction output is verifiable without shipping
    the text. All native regexp_count/regexp_replace — one projection,
    no shuffle, no UDF; redaction order matters (IPv4 would otherwise
    match inside a numeric email local-part)."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long")
    n_phone = F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long")
    n_ipv4 = F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IPV4_RE,
        "<IP>",
    )
    return df.select(
        "doc_id",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ipv4.alias("n_ipv4"),
        ((n_email + n_phone + n_ipv4) > 0).alias("has_pii"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document top-k characteristic terms by tf-idf — the keyword/
    topic signal a corpus explorer or domain-mixer runs after curation.
    idf is the log-free rational form (N+1)/(df+1): integer-ratio
    arithmetic is bit-identical across engines, where ln() differs in
    the last ulp between libm implementations and would poison a
    value-hash comparison. Output (doc_id, term, tf, df, score) with a
    total order per doc (score desc, term asc).

    Scale shape: one explode → groupBy(doc_id, term) for tf (map-side
    combined), vocabulary-sized groupBy(term) for df, an equi-join on
    term, and a doc-partitioned Window for the top-k — every key is
    doc- or vocabulary-sized, never corpus-quadratic; the corpus size N
    is one scalar aggregate."""
    from pyspark.sql import Window

    n_docs = df.count()  # one scalar action, like the sampling budget
    terms = df.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "term"
        ),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        F.round(
            F.col("tf") * F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "df", "score")
    )


def fingerprint(text: Column, bits_hex: int = 15) -> Column:
    """Deterministic 60-bit document fingerprint: md5 of the
    lower-trimmed text, first 15 hex digits as a BIGINT. Used for exact
    near-canonical dedup keys; the SQL twin is
    ('0x' || substr(md5(...),1,15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.lower(F.trim(text)).cast("binary")), 1, bits_hex),
        16,
        10,
    ).cast("long")


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.select("doc_id", fingerprint(F.col(text_col)).alias("fp"))


BM25_K1 = 1.5
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval for one query over the corpus — the scoring
    a search/eval harness runs on top of `inverted_index`. Returns the
    `topk` documents as (doc_id, score, n_hits) ordered by
    (score desc, doc_id asc).

    Determinism contract (cross-engine value-hash): idf uses the
    LOG-FREE rational form (N+1)/(df+1) — same choice and rationale as
    `tfidf_top_terms` (libm ln() differs in the last ulp between
    engines); the per-document sum over query terms is computed as a
    FIXED-ORDER addition of per-term conditional aggregates, not a
    float groupBy sum, so no shuffle-order ulp drift exists to absorb.

    Scale shape: term explode filtered to the query's terms BEFORE any
    shuffle (the scan's pushed predicate makes the exploded stream
    query-sized, not corpus-sized), doc-length and df aggregations are
    map-side combined, and the final top-k is one small sort — at 10^12
    docs every intermediate is O(matching docs), never O(corpus).
    """
    n_docs = df.count()
    qset = sorted(set(query_terms))
    terms = df.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    )
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    avgdl_row = dl.agg(
        (F.sum("dl") / F.lit(float(n_docs))).alias("avgdl")
    ).collect()[0]
    avgdl = float(avgdl_row["avgdl"])
    tf = (
        terms.filter(F.col("term").isin(qset))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .withColumn(
            "s",
            (F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)))
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.lit(avgdl)
                )
            ),
        )
    )
    # fixed-order sum: one conditional aggregate per query term, added
    # left-to-right in sorted-term order
    aggs = [
        F.sum(F.when(F.col("term") == t, F.col("s"))).alias(f"s_{i}")
        for i, t in enumerate(qset)
    ]
    hits = per_term.groupBy("doc_id").agg(
        F.count("*").alias("n_hits"), *aggs
    )
    total = F.coalesce(F.col("s_0"), F.lit(0.0))
    for i in range(1, len(qset)):
        total = total + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    # global top-k via sort+limit — Spark plans TakeOrderedAndProject
    # (per-partition partial top-k, no single-task Window)
    return (
        hits.select(
            "doc_id",
            F.round(total, 6).alias("score"),
            "n_hits",
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(topk)
    )


# Flesch reading-ease constants (public formula, Flesch 1948)
FLESCH_BASE, FLESCH_WPS, FLESCH_SPW = 206.835, 1.015, 84.6


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality feature (complexity axis that length/stopword/repetition
    gates miss: tangled legalese and keyword-stuffed spam both score
    low). Sentences are [.!?] runs, words are whitespace tokens,
    syllables the ASCII vowel-group approximation ([aeiouy]+ runs per
    lowercased text) — all three are single regexp_count/split
    expressions, so the pass is one corpus scan inside whole-stage
    codegen with an exact SQL twin (same counts, same guarded
    divisions, same literal constants).

    Returns (doc_id, n_words, n_sentences, n_syllables, flesch);
    empty-ish documents guard both divisors at 1.
    """
    text = F.col(text_col)
    words = token_count(text)
    sents = F.greatest(
        F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    syls = F.greatest(
        F.regexp_count(F.lower(text), F.lit(r"[aeiouy]+")), F.lit(1)
    ).cast("long")
    flesch = (
        F.lit(FLESCH_BASE)
        - F.lit(FLESCH_WPS) * (words / sents)
        - F.lit(FLESCH_SPW) * (syls / words)
    )
    return df.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syls.alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
    )


# Mean bigram predictability under a corpus-trained MLE bigram LM — the
# CCNet-class (Wenzek et al. 2020) LM quality signal, re-expressed
# log-free: we report mean P(w_i | w_{i-1}) rather than perplexity, so
# every per-bigram value is one rational c(w1,w2)/c(w1,·) and the score
# survives a bit-exact SQL twin (ln() differs in the last ulp across
# libm implementations; a mean of probabilities needs no transcendental
# at all). Each ratio is floor-scaled to integer nano-units before the
# per-doc sum, so the float-addition ORDER (Spark partial aggregation
# vs DuckDB sequential) cannot move the result.
LM_SCALE = 1_000_000_000.0


def bigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean bigram probability under the MLE bigram model
    trained on the corpus itself: (doc_id, n_bigrams, lm_score).
    Low scores flag text whose word transitions are rare in the corpus
    (lorem-ipsum, OCR noise, wrong-language shards); high scores flag
    boilerplate. Docs with fewer than 2 tokens are absent (no bigrams).

    Scale shape: one explode to (doc_id, w1, w2) bigram rows, then
    three map-side-combined counts — per-(doc,bigram), per-bigram, and
    per-first-word — joined back on vocabulary-sized keys and rolled up
    per doc. No UDFs, no Windows, no corpus-quadratic step; the model
    "training" and the scoring share the single exploded pass.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = df.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    m = big.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c"))
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    unit = F.floor(F.col("c2") * F.lit(LM_SCALE) / F.col("c1"))
    scored = m.join(c2, ["w1", "w2"]).join(c1, "w1").select(
        "doc_id", "c", unit.alias("unit")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.sum(F.col("c") * F.col("unit"))
                / (F.sum("c") * F.lit(LM_SCALE)),
                6,
            ).alias("lm_score"),
        )
        .select("doc_id", "n_bigrams", "lm_score")
    )


# In-engine weak-supervision quality probe: a linear model trained by
# batch gradient descent entirely in aggregations. Descent is the
# CCNet/fastText-classifier analogue scoped to what survives a
# bit-exact SQL twin: squared loss (no sigmoid — transcendentals
# differ in the last ulp across libm implementations), a power-of-two
# learning rate (exact in binary floating point), and every gradient
# component floor-scaled to integer nano-units before the corpus sum,
# so Spark's partial-aggregation order cannot move a single bit.
PROBE_LR = 2.0 ** -6
PROBE_STEPS = 24
PROBE_SCALE = 1_000_000_000.0


def quality_probe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Train w on (1, alpha_ratio, stopword_ratio, mean_token_len) to
    predict the weak label y = 1[lang = 'en'] with PROBE_STEPS batch-GD
    steps, then score every document: (doc_id, y, pred).

    Scale shape: features are ONE whole-stage-codegen corpus scan,
    cached; each GD step is a single 4-sum aggregate action over it
    (map-side combined BIGINT sums — the only driver traffic is 4
    scalars per step); the final scoring pass is one more scan. Model
    state lives in the driver as 4 floats — there is no per-row model
    state, no UDF, and nothing that grows with the corpus.

    On the driver's synthetic corpus the label is feature-orthogonal
    by construction (lang is drawn independently of text style), so
    the probe converges to the intercept-only solution pred ≈ P(y=1)
    — the correct least-squares answer there; the learnable-signal
    path is pinned by tests/test_textops.py on a corpus where the
    classes actually differ.
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    toks = token_count(t)
    feats = df.select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        alpha_ratio(t).alias("x1"),
        F.round(stopword_ratio(t), 6).alias("x2"),
        F.round(n_chars / F.greatest(toks, F.lit(1)), 6).alias("x3"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    ).persist()
    n = feats.count()
    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.col(c) for c in ("x0", "x1", "x2", "x3")]
    for _ in range(PROBE_STEPS):
        resid = F.col("y") - sum(
            (F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0)
        )
        sums = feats.agg(
            *[
                F.sum(
                    F.floor(resid * xj * F.lit(PROBE_SCALE)).cast("long")
                ).alias(f"s{j}")
                for j, xj in enumerate(xs)
            ]
        ).collect()[0]
        w = [
            w[j] + PROBE_LR * (sums[f"s{j}"] / (n * PROBE_SCALE))
            for j in range(4)
        ]
    pred = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
    out = feats.select(
        "doc_id",
        F.col("y").cast("long").alias("y"),
        F.round(pred, 6).alias("pred"),
    )
    out = out.localCheckpoint(eager=True)
    feats.unpersist()
    return out


BPE_ROUNDS = 10
BPE_TOP_WORDS = 300


def _bpe_apply_merge(syms: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """One greedy left-to-right merge of (lhs, rhs) over a
    (word, pos, sym, ...) symbol table, per-word. Adjacent candidate
    positions only arise when lhs == rhs, so islands of consecutive
    candidates keep every odd-indexed member (gaps-and-islands via
    pos - row_number). Extra columns (e.g. freq) pass through; pos is
    renumbered dense. Windows are PARTITION BY word only."""
    from pyspark.sql import Window

    w_pos = Window.partitionBy("word").orderBy("pos")
    carry = [c for c in syms.columns if c not in ("pos", "sym")]
    with_next = syms.withColumn("nxt", F.lead("sym").over(w_pos))
    cand = (
        with_next.filter((F.col("sym") == lhs) & (F.col("nxt") == rhs))
        .select("word", "pos")
        .withColumn("rn", F.row_number().over(w_pos))
    )
    w_isl = Window.partitionBy(
        "word", (F.col("pos") - F.col("rn")).alias("island")
    ).orderBy("pos")
    keep = (
        cand.withColumn("k", F.row_number().over(w_isl))
        .filter(F.col("k") % 2 == 1)
        .select("word", "pos")
    )
    merged_at = keep.withColumn("is_m", F.lit(1))
    drop_at = keep.select(
        "word", (F.col("pos") + F.lit(1)).alias("pos")
    ).withColumn("is_d", F.lit(1))
    return (
        syms.join(merged_at, ["word", "pos"], "left")
        .join(drop_at, ["word", "pos"], "left")
        .filter(F.col("is_d").isNull())
        .withColumn(
            "sym",
            F.when(
                F.col("is_m") == 1, F.concat(F.col("sym"), F.lit(rhs))
            ).otherwise(F.col("sym")),
        )
        .select(
            *carry,
            F.row_number().over(w_pos).cast("long").alias("pos"),
            "sym",
        )
    )


def _char_symbols(words: DataFrame, carry: list[str]) -> DataFrame:
    """Explode a word table to (carry..., pos, sym) character rows."""
    return words.select(
        *carry,
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
    ).select(
        *carry,
        F.col("pos").cast("long").alias("pos"),
        F.expr("substr(word, pos, 1)").alias("sym"),
    )


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = BPE_ROUNDS,
    top_words: int = BPE_TOP_WORDS,
) -> DataFrame:
    """Distributed BPE vocabulary induction (Sennrich et al. 2016): the
    tokenizer-training step of a pretraining pipeline, of which
    `top_ngrams` is only the counting prelude. Returns the learned merge
    table (merge_round, lhs, rhs, merged, pair_count) — `rounds` rows.

    Algorithm, deterministic end to end:
      1. ONE corpus-sized pass: count `[a-z]+` word occurrences, keep
         the `top_words` most frequent (ties by word ASC) — from here on
         every structure is vocabulary-sized, never corpus-sized, which
         is what makes BPE learnable at 100 TB (the classic
         word-frequency-table formulation).
      2. Explode words to (word, freq, pos, sym) character rows.
      3. Per round: adjacent-pair counts via lead() windowed per word
         (overlapping occurrences counted, as in the reference
         algorithm), argmax pair with (count DESC, lhs ASC, rhs ASC)
         tie-break — ONE scalar driver action per round, the global
         argmax every distributed BPE needs — then greedy left-to-right
         non-overlapping merge: adjacent candidates only arise when
         lhs == rhs, so islands of consecutive candidate positions keep
         every odd-indexed member (gaps-and-islands via pos - row_number).
      4. Rounds run on the superstep driver, which stops early once no
         word holds two symbols (observed, so no scan of its own).

    Windows are all PARTITION BY word — no global ordering anywhere; the
    per-round shuffles move a table bounded by total characters of the
    capped vocabulary. The DuckDB twin unrolls the same rounds as chained
    CTEs (textqueries._bpe_sql)."""
    words = (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return local_frame(
        df.sparkSession,
        _bpe_learn(words, rounds, top_words),
        "merge_round INT, lhs STRING, rhs STRING, merged STRING, "
        "pair_count BIGINT",
    )


def _bpe_learn(words: DataFrame, rounds: int, top_words: int) -> list[tuple]:
    """The merge loop of bpe_merges over an uncapped (word, freq)
    table; returns [(round, lhs, rhs, merged, pair_count), ...]."""
    from pyspark.sql import Window

    capped = words.orderBy(F.desc("freq"), F.asc("word")).limit(top_words)
    # pos is dense from 1, so a table holds an adjacent pair iff some
    # word has a second symbol
    longest = F.max("pos")
    syms, seen = counted_checkpoint(
        _char_symbols(capped, ["word", "freq"]), longest=longest
    )
    w_pos = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple] = []

    def step(syms: DataFrame, rnd) -> DataFrame:
        best = (
            syms.withColumn("nxt", F.lead("sym").over(w_pos))
            .filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("lhs"), F.col("nxt").alias("rhs"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()[0]
        )
        lhs, rhs = best["lhs"], best["rhs"]
        merges.append((rnd.index + 1, lhs, rhs, lhs + rhs, int(best["cnt"])))
        return _bpe_apply_merge(syms, lhs, rhs)

    no_pair = lambda seen: seen["longest"] < 2  # noqa: E731
    superstep(
        syms, step, rounds=0 if no_pair(seen) else rounds,
        checkpoint_start=False, until=no_pair, longest=longest,
    ).unpersist()
    return merges


def bpe_tokenize(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = BPE_ROUNDS,
    top_words: int = BPE_TOP_WORDS,
    merge_rows: list | None = None,
) -> DataFrame:
    """Full tokenizer pipeline — learn THEN apply: induce the BPE merge
    table (bpe_merges) and tokenize the whole corpus under it, returning
    per-document (doc_id, n_words, n_tokens) where n_tokens is the
    post-merge symbol count. n_words/n_tokens is the compression the
    learned vocabulary achieves — the signal a tokenizer-training run
    monitors. Docs with no `[a-z]+` word are absent.

    Application is per-DISTINCT-word, the amortization that matters at
    corpus scale: the corpus collapses to a (doc_id, word, count) table
    — the ONLY corpus-sized pass; the learning step's word-frequency
    table is derived from it by one vocabulary-sized re-aggregation —
    and merges are applied once per distinct word; Zipf makes that
    table orders of magnitude smaller than the token stream.
    Pass merge_rows (rows/dicts with merge_round/lhs/rhs keys, e.g.
    bpe_merges(...).collect()) to reuse an already-learned merge table
    and skip learning entirely. Merges learned on the capped vocabulary are applied
    to EVERY word (standard BPE: out-of-cap words still benefit from
    any merge whose pair they contain; untouched words fall back to
    character symbols). Per merge: one superstep round of the same
    island-parity plan as learning, windows PARTITION BY word only. The
    DuckDB twin extends the learning chain with a parallel application
    chain over all distinct words (textqueries._tokenize_sql).
    """
    doc_words = (
        df.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
                )
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    doc_words = fresh_checkpoint(doc_words)
    if merge_rows is None:
        word_freqs = doc_words.groupBy("word").agg(
            F.sum("c").alias("freq")
        )
        merge_rows = _bpe_learn(word_freqs, rounds, top_words)
    norm = sorted(
        tuple(m[:3]) if isinstance(m, tuple)
        else (m["merge_round"], m["lhs"], m["rhs"])
        for m in merge_rows
    )

    def step(syms: DataFrame, rnd) -> DataFrame:
        _, lhs, rhs = norm[rnd.index]
        return _bpe_apply_merge(syms, lhs, rhs)

    syms = superstep(
        _char_symbols(doc_words.select("word").distinct(), ["word"]),
        step, rounds=len(norm),
    )
    tokens = syms.groupBy("word").agg(F.count("*").alias("n_sym"))
    out = fresh_checkpoint(
        doc_words.join(tokens, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.col("c") * F.col("n_sym")).alias("n_tokens"),
        )
    )
    syms.unpersist()
    doc_words.unpersist()
    return out


DSIR_BUCKETS = 1024
DSIR_SCALE = 1_000_000_000
DSIR_TARGET_MAX_DOC = 50


def dsir_weights(
    df: DataFrame,
    text_col: str = "text",
    target_max_doc: int = DSIR_TARGET_MAX_DOC,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): score every raw
    document by how target-like its hashed-bigram distribution is —
    the data-selection step that upsamples domain-relevant text before
    pretraining. Docs with doc_id < target_max_doc play the target
    domain sample (the decontamination-query convention); the rest are
    the raw pool being scored. Returns (doc_id, n_grams, dsir_score)
    for raw docs with at least one bigram.

    Per-gram importance ratio under add-one-smoothed hashed-bigram
    models, exactly factored for bit-determinism:
        p_t(b)/p_r(b) = (t_b+1)/(r_b+1) * (R+B)/(T+B)
    The per-bucket part is an INTEGER floor-division unit
    (DSIR_SCALE * (t_b+1) div (r_b+1)) — overflow-safe while
    t_b < 2^63/SCALE; at extreme corpus sizes shrink DSIR_SCALE or
    subsample the counts (it is a ratio estimator). The per-corpus
    constant (R+B)/(T+B) is applied once in the final rounded double,
    so Spark's aggregation order cannot move a bit.

    DELIBERATE DEVIATION from the paper: the per-doc score is the MEAN
    of per-gram ratios, not the paper's product (sum of log ratios).
    The two are NOT order-equivalent — a single extreme-ratio bucket
    moves the mean far more than the log-sum — so this is a mean-ratio
    VARIANT of DSIR, not a reimplementation. The mean is chosen for
    the engine's log-free bit-determinism contract (transcendentals
    differ in the last ulp across libm implementations; lm_score and
    tfidf make the same trade) and is the same aggregation the bigram
    LM score uses. Swap the unit to floor-scaled log-ratios if faithful
    product ordering matters more than cross-engine bit-parity.

    Scale shape: one explode of the corpus to (doc_id, bucket) rows;
    bucket counts are a B-row table (map-side-combined conditional
    sums); scoring joins the exploded raw side against the broadcast
    B-row unit table and rolls up per doc. Nothing corpus-quadratic,
    no UDFs, no Windows."""
    from graphit_spark.functions.dedup import md5_int

    grams = df.select(
        "doc_id",
        F.explode(word_ngrams(F.col(text_col), 2)).alias("g"),
    ).select("doc_id", (md5_int(F.col("g")) % buckets).alias("b"))
    tgt = F.col("doc_id") < target_max_doc
    counts = grams.groupBy("b").agg(
        F.sum(F.when(tgt, 1).otherwise(0)).alias("t_b"),
        F.sum(F.when(~tgt, 1).otherwise(0)).alias("r_b"),
    )
    units = counts.select(
        "b",
        F.expr(
            f"CAST({DSIR_SCALE} AS BIGINT) * (t_b + 1) div (r_b + 1)"
        ).alias("unit"),
    )
    tot = counts.agg(
        F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot")
    ).select(
        (
            (F.col("r_tot") + F.lit(buckets))
            / (F.col("t_tot") + F.lit(buckets)).cast("double")
        ).alias("k")
    )
    raw = grams.filter(~tgt)
    per_doc = (
        raw.join(F.broadcast(units), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum("unit").alias("su"))
    )
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_grams",
        F.round(
            F.col("su")
            / (F.col("n_grams") * F.lit(float(DSIR_SCALE)))
            * F.col("k"),
            6,
        ).alias("dsir_score"),
    )


# PMI co-occurrence (Church & Hanks 1990, public): sliding-window word
# association scores — the collocation/phrase-mining pass a vocab or
# tokenizer pipeline runs after raw n-gram counting.
PMI_WINDOW = 3
PMI_MIN_COUNT = 5
PMI_TOP_K = 100


def pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = PMI_WINDOW,
    min_count: int = PMI_MIN_COUNT,
    k: int = PMI_TOP_K,
) -> DataFrame:
    """Top-k word pairs by pointwise mutual information over a
    sliding window: for every token position i, each j in
    (i, i+window] contributes one unordered co-occurrence
    (least/greatest canonicalization), then
    pmi = ln(P(a,b) / (P(a)·P(b))) with P(a,b) = n_ab / n_pairs and
    P(w) = n_w / n_tok. Pairs below ``min_count`` are cut before the
    join (the classic rare-pair PMI blowup guard); ties broken by
    (token_a, token_b) so the cut is a total order.

    Scale shape: pair generation is a pure Column expression
    (sequence + nested transform over the token array — window·len
    structs per doc, no self-join, no UDF), then one
    map-side-combined groupBy(a, b); unigram counts are a second
    word-count pass; the two vocabulary-keyed joins hit only the
    ≥min_count survivors, and the scalar totals ride a broadcast
    cross join. Final top-k compiles to TakeOrderedAndProject. At
    10^12 docs every shuffle keys on pair/vocab cardinalities, never
    on the corpus.

    Reference provenance: no GraphIt analogue (corpus operator); the
    window/count semantics follow the published PMI definition and
    match the DuckDB twin bit-for-bit (identical double expression).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    i_seq = F.sequence(F.lit(1), F.size(toks) - 1)
    pair_structs = F.flatten(
        F.transform(
            i_seq,
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + window, F.size(toks))),
                lambda j: F.struct(
                    F.least(
                        F.element_at(toks, i), F.element_at(toks, j)
                    ).alias("a"),
                    F.greatest(
                        F.element_at(toks, i), F.element_at(toks, j)
                    ).alias("b"),
                ),
            ),
        )
    )
    pairs = (
        df.select(
            F.explode(
                F.when(F.size(toks) >= 2, pair_structs).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    pair_counts = pairs.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    tot = uni.agg(F.sum("n").alias("n_tok")).crossJoin(
        pair_counts.agg(F.sum("n_ab").alias("n_pairs"))
    )
    ua = uni.select(F.col("w").alias("a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("n").alias("n_b"))
    survivors = pair_counts.filter(F.col("n_ab") >= min_count)
    scored = (
        survivors.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a").alias("token_a"),
            F.col("b").alias("token_b"),
            F.col("n_ab").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") * F.col("n_tok")
                     * F.col("n_tok"))
                    / (F.col("n_pairs").cast("double") * F.col("n_a")
                       * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("token_a"), F.asc("token_b")
    ).limit(k)


LEX_IDF_CAP = 32768  # idf saturation (Lucene-style clamp): keeps the
# squared-idf integer unit <= 2^30 at ANY corpus size, so per-doc BIGINT
# sums cannot overflow even at 10^12 documents
LEX_DF_DIV = 10  # stop-term prune: keep terms with df <= N/10 + 1


def lexical_topk(
    df: DataFrame,
    *,
    k: int = 10,
    n_queries: int = 5,
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """Related-document retrieval: top-k most lexically similar docs per
    query doc by SET-tf-idf cosine over the inverted index — the
    lexical complement of the embedding ANN queries (MinHash estimates
    Jaccard; this ranks by idf-weighted term overlap, so rare shared
    vocabulary dominates).

    Determinism discipline: per-term weight is the exact integer
    r², r = min((N+1) div (df+1), LEX_IDF_CAP) — so overlaps and norms
    are BIGINT sums (shuffle-order-independent), and the only float is
    the final su / sqrt(nq·nd) from exact integers. The idf cap is the
    standard saturation clamp and makes the unit overflow-proof at any
    corpus size; the df <= N/LEX_DF_DIV + 1 prune drops stop terms and
    bounds the candidate fan-out by sum over query terms of df(t).

    Scale shape: one tokenize pass -> distinct postings (map-side
    combined), vocabulary-sized df agg, term-keyed equi-join of the
    (tiny) query-side postings against the pruned index, pair-keyed
    BIGINT sum, two V-sized norm joins, per-query Window top-k. Never
    corpus-quadratic.
    """
    from pyspark.sql import Window

    n_docs = df.count()  # one scalar action (the sampling-budget idiom)
    # df_cap: tiny corpora (tests) pass it explicitly — the derived
    # N//10 prune is meaningless below ~30 docs
    df_max = df_cap if df_cap is not None else n_docs // LEX_DF_DIV + 1
    posts = df.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).distinct()
    dfreq = posts.groupBy("term").agg(F.count("*").alias("dfr"))
    units = dfreq.filter(F.col("dfr") <= df_max).select(
        "term",
        (
            F.least(
                F.expr(f"{n_docs + 1} div (dfr + 1)"),
                F.lit(LEX_IDF_CAP),
            )
            * F.least(
                F.expr(f"{n_docs + 1} div (dfr + 1)"),
                F.lit(LEX_IDF_CAP),
            )
        ).cast("long").alias("w2"),
    )
    wp = posts.join(units, "term")
    norms = wp.groupBy("doc_id").agg(F.sum("w2").alias("nu"))
    qp = wp.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("q_doc"), "term", "w2"
    )
    ov = (
        qp.join(wp.select("doc_id", "term"), "term")
        .filter(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", "doc_id")
        .agg(F.sum("w2").alias("su"))
    )
    scored = (
        ov.join(norms.select(F.col("doc_id").alias("q_doc"),
                             F.col("nu").alias("nq")), "q_doc")
        .join(norms.select("doc_id", F.col("nu").alias("nd")), "doc_id")
        .select(
            "q_doc",
            "doc_id",
            (
                F.col("su").cast("double")
                / F.sqrt(
                    F.col("nq").cast("double") * F.col("nd").cast("double")
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q_doc").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "q_doc",
            "doc_id",
            (F.round(F.col("score"), 9) + F.lit(0.0)).alias("score"),
        )
    )
