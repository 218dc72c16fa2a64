"""word_ngrams / top_ngrams / repetition_stats / pii_stats: windowing,
edge cases, deterministic cuts, gate thresholds, redaction order."""

import hashlib

from pyspark.sql import functions as F

from graphit_spark.functions.textops import (
    pii_stats,
    repetition_stats,
    tfidf_top_terms,
    top_ngrams,
    word_ngrams,
)
from graphit_spark.graph import local_frame


def _grams(spark, text, n=2):
    df = local_frame(spark, [(text,)], "text string")
    return df.select(word_ngrams(F.col("text"), n).alias("g")).first()["g"]


def test_word_ngrams_windows(spark):
    assert _grams(spark, "A b c d") == ["a b", "b c", "c d"]
    assert _grams(spark, "a b c d", 3) == ["a b c", "b c d"]
    assert _grams(spark, "  a   b  ") == ["a b"]  # trim + multi-space


def test_word_ngrams_short_texts(spark):
    assert _grams(spark, "solo") == []
    assert _grams(spark, "") == []
    assert _grams(spark, "x y", 2) == ["x y"]  # exactly n tokens → 1 gram


def test_top_ngrams_counts_and_tiebreak(spark):
    rows = [(1, "a b a b"), (2, "a b z z"), (3, "m m")]
    df = local_frame(spark, rows, "doc_id long, text string")
    got = [tuple(r) for r in top_ngrams(df, k=3).collect()]
    # "a b": doc1 twice-windowed ("a b","b a","a b") + doc2 once = 3
    assert got[0] == ("a b", 3, 2)
    # count-1 ties resolved by ngram text ascending
    assert [g for g, *_ in got] == ["a b", "b a", "b z"]


def test_repetition_gate(spark):
    rows = [
        (1, "spam spam spam spam"),          # degenerate: one word dominates
        (2, "one two three four five six seven eight nine ten"),  # clean
        (3, "solo"),                          # single token, no bigrams
    ]
    df = local_frame(spark, rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    d = out[1]
    assert (d.n_words, d.n_distinct_words) == (4, 1)
    assert d.top_word_frac == 1.0 and d.top_bigram_frac == 1.0
    assert d.unique_word_frac == 0.25 and not d.repetition_ok
    c = out[2]
    assert c.top_word_frac == 0.1 and c.unique_word_frac == 1.0
    assert c.repetition_ok
    s = out[3]
    assert s.n_words == 1
    assert s.top_bigram_frac == 0.0  # no bigrams → guarded division


def test_tfidf_ranks_distinctive_terms(spark):
    # "shared" appears in all 3 docs (df=3 → low idf); each doc's
    # private term has df=1 → high idf and must rank first.
    rows = [
        (1, "shared apple apple"),
        (2, "shared banana"),
        (3, "shared cherry"),
    ]
    df = local_frame(spark, rows, "doc_id long, text string")
    out = tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    top1 = by_doc[1][0]
    # apple: tf=2, df=1 → score 2*(3+1)/(1+1) = 4.0
    assert (top1.term, top1.tf, top1.df, top1.score) == ("apple", 2, 1, 4.0)
    assert [r.term for r in by_doc[2]] == ["banana", "shared"]
    # shared: tf=1, df=3 → 1*4/4 = 1.0 everywhere
    assert by_doc[2][1].score == 1.0
    assert all(len(v) == 2 for v in by_doc.values())


def test_pii_stats_counts_and_redaction(spark):
    rows = [
        (1, "mail a.b+c@ex-ample.org or call 555-123-4567 from 10.0.0.1"),
        (2, "nothing sensitive here"),
    ]
    df = local_frame(spark, rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_stats(df).collect()}
    hit = out[1]
    assert (hit.n_email, hit.n_phone, hit.n_ipv4) == (1, 1, 1)
    assert hit.has_pii
    expected = "mail <EMAIL> or call <PHONE> from <IP>"
    assert hit.redacted_md5 == hashlib.md5(expected.encode()).hexdigest()
    clean = out[2]
    assert (clean.n_email, clean.n_phone, clean.n_ipv4) == (0, 0, 0)
    assert not clean.has_pii
    # clean text passes through the three replaces byte-identical
    assert clean.redacted_md5 == hashlib.md5(
        b"nothing sensitive here"
    ).hexdigest()


def test_boilerplate_stats_flags_shared_fragment(spark):
    """Docs sharing one long template fragment get n_boiler > 0; the
    unique-text doc stays clean, and the per-doc shingle counts match a
    brute-force recount of the same shingling."""
    from graphit_spark.functions.dedup import (
        SHINGLE_LEN,
        SHINGLE_STRIDE,
        boilerplate_stats,
    )

    shared = "subscribe to our newsletter for updates every week"
    rows = [
        (0, shared + " alpha bravo charlie delta echo foxtrot golf"),
        (1, shared + " hotel india juliet kilo lima mike november"),
        (2, shared + " oscar papa quebec romeo sierra tango uniform"),
        (3, "completely different text with no template at all xyzzy"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_stats(df, min_docs=3).collect()
    }
    assert out[3]["n_boiler"] == 0
    for d in (0, 1, 2):
        assert out[d]["n_boiler"] > 0
        assert 0.0 < out[d]["boiler_frac"] <= 1.0

    def brute_shingles(text):
        t = text.strip().lower()
        n = max((len(t) - SHINGLE_LEN) // SHINGLE_STRIDE + 1, 1)
        return {t[k * SHINGLE_STRIDE:k * SHINGLE_STRIDE + SHINGLE_LEN]
                for k in range(n)}

    for d, text in rows:
        assert out[d]["n_shingles"] == len(brute_shingles(text)), d


def test_bm25_ranks_matching_docs(spark):
    """Exact-match doc with repeated query terms outranks a partial
    match; non-matching docs never appear; hand-check one score."""
    from graphit_spark.functions.textops import BM25_B, BM25_K1, bm25_topk

    rows = [
        (0, "apple banana apple cherry"),
        (1, "apple kiwi kiwi kiwi"),
        (2, "melon grape fig date"),
        (3, "banana banana banana apple"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["apple", "banana"], topk=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 not in ids
    assert set(ids) == {0, 1, 3}
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n_hits"] == 2 and by_id[3]["n_hits"] == 2
    assert by_id[1]["n_hits"] == 1
    assert by_id[0]["score"] > by_id[1]["score"]

    # hand-computed: doc 1, term apple — tf=1, df=3 (docs 0,1,3), N=4,
    # dl=4, avgdl=4 → idf=(5)/(4)=1.25, s=1.25*2.5/(1+1.5*(0.25+0.75))
    expect = round(1.25 * 2.5 / (1 + BM25_K1 * ((1 - BM25_B) + BM25_B)), 6)
    assert abs(by_id[1]["score"] - expect) < 1e-9


def test_containment_catches_quoted_subset(spark):
    """A short doc fully quoted inside a long one: containment of the
    short side ~1 while Jaccard stays well below the near-dup bar."""
    from graphit_spark.functions.dedup import containment_on_candidates

    short = "the quick brown fox jumps over the lazy dog again and again"
    long = short + " " + " ".join(f"filler{i} pad{i} extra{i}" for i in range(30))
    df = spark.createDataFrame([(0, short), (1, long)], ["doc_id", "text"])
    cands = spark.createDataFrame([(0, 1)], ["doc_a", "doc_b"])
    row = containment_on_candidates(df, cands).collect()[0]
    assert row["cont_a"] >= 0.9, row
    assert row["jaccard"] < 0.5, row
    assert row["cont_b"] < row["cont_a"]


class TestDuplicateSpans:
    def test_shared_phrase_merges_to_maximal_span(self, spark):
        """Docs 1 and 2 share a 7-word run -> with n=5 the three
        duplicated gram starts (1,2,3) merge into ONE maximal span
        covering tokens 1..7 in both docs; the unique tails produce no
        span."""
        from graphit_spark.functions.dedup import duplicate_spans

        shared = "a b c d e f g"
        docs = local_frame(
            spark,
            [
                (1, shared + " h1 i1 j1 k1"),
                (2, shared + " h2 i2 j2 k2"),
                (3, "entirely different words with no overlap here"),
            ],
            "doc_id long, text string",
        )
        rows = duplicate_spans(docs, n=5).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"], r["span_tokens"])
            )
        assert by_doc == {1: [(1, 7, 7)], 2: [(1, 7, 7)]}

    def test_intra_doc_repeat_and_gap_split(self, spark):
        """One doc repeating a 5-gram twice with a unique gap between
        them: two separate spans (the gap exceeds n), both from
        intra-document duplication (min_count counts total
        occurrences)."""
        from graphit_spark.functions.dedup import duplicate_spans

        text = "p q r s t u1 u2 u3 u4 u5 u6 p q r s t"
        docs = local_frame(
            spark,
            [(7, text)], "doc_id long, text string"
        )
        rows = sorted(
            (r["span_start"], r["span_end"])
            for r in duplicate_spans(docs, n=5).collect()
        )
        assert rows == [(1, 5), (12, 16)]


def test_readability_hand_checked(spark):
    """'The cat sat. It ran!' -> 5 words, 2 sentences, 5 vowel groups;
    flesch = 206.835 - 1.015*(5/2) - 84.6*(5/5)."""
    from graphit_spark.functions.textops import readability

    docs = local_frame(
        spark,
        [(1, "The cat sat. It ran!")], "doc_id long, text string"
    )
    r = readability(docs).first()
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (5, 2, 5)
    expected = round(206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5), 6)
    assert abs(r["flesch"] - expected) < 1e-9


def test_bigram_lm_score_hand_checked(spark):
    from graphit_spark.functions.textops import bigram_lm_scores

    # corpus bigrams: "a b" x3 (docs 1,1,2), "b a" x1, "b c" x1
    # c1: a->4 starts? no: bigram starts: a:4? count per first word:
    #   doc1 "a b a b": bigrams (a b),(b a),(a b)  -> a:2, b:1
    #   doc2 "a b c":   bigrams (a b),(b c)        -> a:1, b:1
    # c1[a]=3, c1[b]=2; c2[(a,b)]=3, c2[(b,a)]=1, c2[(b,c)]=1
    rows = [(1, "a b a b"), (2, "a b c"), (3, "solo")]
    df = local_frame(spark, rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert set(got) == {1, 2}  # doc 3 has no bigrams
    # doc1: p(a b)=3/3=1 (x2), p(b a)=1/2 -> mean (1+1+0.5)/3
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["lm_score"] - round((1 + 1 + 0.5) / 3, 6)) < 1e-9
    # doc2: p(a b)=1, p(b c)=1/2 -> mean 0.75
    assert got[2]["n_bigrams"] == 2
    assert abs(got[2]["lm_score"] - 0.75) < 1e-9


def test_quality_probe_learns_separable_signal(spark):
    """GD sanity on a corpus where the label IS linearly related to the
    features: high-alpha clean sentences labeled en, digit-soup docs
    labeled non-en. The probe must rank every clean doc above every
    noisy one (style features separate them linearly)."""
    from graphit_spark.functions.textops import quality_probe

    clean = "the quick brown fox jumps over the lazy dog and runs on"
    noisy = "9871 23 444 99 1 0001 777 3 55 21 88 904 13 5 6 77 31 2"
    rows = [(i, clean + f" extra{i}", "en") for i in range(20)] + [
        (100 + i, noisy + f" {i}", "zh") for i in range(20)
    ]
    df = local_frame(spark, rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in quality_probe(df).collect()}
    en_preds = [out[i]["pred"] for i in range(20)]
    zh_preds = [out[100 + i]["pred"] for i in range(20)]
    assert min(en_preds) > max(zh_preds), (min(en_preds), max(zh_preds))
    assert all(out[i]["y"] == 1 for i in range(20))


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------


def _ref_bpe(word_freqs, rounds):
    """Sennrich-style reference: count overlapping adjacent pairs, merge
    the argmax (count desc, lhs asc, rhs asc) greedily left-to-right."""
    vocab = {w: list(w) for w in word_freqs}
    out = []
    for r in range(1, rounds + 1):
        counts = {}
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, rr), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((r, l, rr, l + rr, cnt))
        for w, syms in vocab.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rr:
                    ns.append(l + rr)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            vocab[w] = ns
    return out


def test_bpe_matches_python_reference(spark):
    from graphit_spark.functions.textops import bpe_merges

    rows = [
        (1, "low low low lower lowest"),
        (2, "new newer newest low low"),
        (3, "wide wider widest new newer"),
    ]
    df = local_frame(spark, rows, "doc_id long, text string")
    wf = {}
    for _, text in rows:
        for w in text.split():
            wf[w] = wf.get(w, 0) + 1
    expected = _ref_bpe(wf, 6)
    got = [
        tuple(r)
        for r in bpe_merges(df, rounds=6, top_words=300)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == expected


def test_bpe_overlapping_run_merges_left_to_right(spark):
    """'aaaa' with merge (a,a): pair count is 3 (overlapping), but the
    greedy merge produces [aa, aa] — the island parity rule."""
    from graphit_spark.functions.textops import bpe_merges

    df = local_frame(spark, [(1, "aaaa bb")], "doc_id long, text string")
    got = [
        tuple(r)
        for r in bpe_merges(df, rounds=2, top_words=10)
        .orderBy("merge_round")
        .collect()
    ]
    # round 1: (a,a) count 3 beats (b,b) count 1; round 2: aaaa is now
    # [aa, aa] so (aa,aa) count 1 ties (b,b) count 1, lhs 'aa' < 'b'
    assert got == [(1, "a", "a", "aa", 3), (2, "aa", "aa", "aaaa", 1)]
    assert got == _ref_bpe({"aaaa": 1, "bb": 1}, 2)


def test_bpe_top_words_cap_is_deterministic(spark):
    from graphit_spark.functions.textops import bpe_merges

    df = local_frame(
        spark,
        [(1, "zz zz aa aa qq")], "doc_id long, text string"
    )
    # cap 2 keeps (aa, zz): freq ties broken by word asc drop 'qq'
    got = [
        tuple(r)
        for r in bpe_merges(df, rounds=1, top_words=2)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == [(1, "a", "a", "aa", 2)]


def test_dsir_target_like_docs_score_higher(spark):
    """Raw docs repeating the target's bigrams must out-score raw docs
    with unseen bigrams, and the score must be deterministic."""
    from graphit_spark.functions.textops import dsir_weights

    rows = [
        (1, "good clean prose here"),          # target (doc_id < 50)
        (2, "good clean prose again"),         # target
        (100, "good clean prose here too"),    # raw, target-like
        (101, "zq xv jk wp qy zz"),            # raw, alien bigrams
    ]
    df = local_frame(spark, rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_score"])
        for r in dsir_weights(df).collect()
    }
    assert set(got) == {100, 101}  # target docs are never scored
    assert got[100][1] > got[101][1]
    again = {
        r["doc_id"]: (r["n_grams"], r["dsir_score"])
        for r in dsir_weights(df).collect()
    }
    assert got == again


def test_dsir_short_docs_absent(spark):
    from graphit_spark.functions.textops import dsir_weights

    df = local_frame(
        spark,
        [(1, "a b c"), (100, "solo"), (101, "a b")],
        "doc_id long, text string",
    )
    got = [r["doc_id"] for r in dsir_weights(df).collect()]
    assert got == [101]  # doc 100 has no bigram, doc 1 is target


def test_bpe_tokenize_matches_python_reference(spark):
    """Learn on the capped vocab, apply to ALL words (incl. out-of-cap),
    per-doc rollup — checked against the pure-python pipeline."""
    import re

    from graphit_spark.functions.textops import bpe_tokenize

    rows = [
        (1, "low low low lower lowest"),
        (2, "new newer newest low low"),
        (3, "wide wider widest new newer xyzzy"),  # xyzzy: out-of-cap word
    ]
    df = local_frame(spark, rows, "doc_id long, text string")

    def words_of(text):
        return re.findall("[a-z]+", text.lower())

    wf = {}
    for _, text in rows:
        for w in words_of(text):
            wf[w] = wf.get(w, 0) + 1
    top = dict(sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:4])
    merges = _ref_bpe(top, 6)

    def apply_all(w):
        syms = list(w)
        for _, l, rr, _, _ in merges:
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rr:
                    ns.append(l + rr)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            syms = ns
        return len(syms)

    expected = {}
    for doc_id, text in rows:
        ws = words_of(text)
        expected[doc_id] = (len(ws), sum(apply_all(w) for w in ws))
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_tokenize(df, rounds=6, top_words=4).collect()
    }
    assert got == expected
    # compression actually happened (tokens < chars) and oov word intact
    assert got[1][1] < sum(len(w) for w in words_of(rows[0][1]))


def test_pmi_pairs_matches_python_oracle(spark):
    import math
    from collections import Counter

    from graphit_spark.functions.textops import pmi_pairs

    texts = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "a dog and a cat and a dog",
        "fish and chips and fish",
        "the dog sat on the cat",
    ] * 3  # repeat so several pairs clear min_count
    rows = [(i, t) for i, t in enumerate(texts)]
    df = local_frame(spark, rows, "doc_id long, text string")

    window, min_count, k = 2, 3, 20
    pair_c, uni = Counter(), Counter()
    for t in texts:
        toks = t.split()
        uni.update(toks)
        for i in range(len(toks) - 1):
            for j in range(i + 1, min(i + window, len(toks) - 1) + 1):
                a, b = sorted((toks[i], toks[j]))
                pair_c[(a, b)] += 1
    n_tok, n_pairs = sum(uni.values()), sum(pair_c.values())
    want = []
    for (a, b), n_ab in pair_c.items():
        if n_ab < min_count:
            continue
        pmi = round(
            math.log((n_ab * n_tok * n_tok) / (n_pairs * uni[a] * uni[b])), 6
        )
        want.append((a, b, n_ab, pmi))
    want.sort(key=lambda r: (-r[3], r[0], r[1]))
    want = want[:k]

    got = [
        (r.token_a, r.token_b, r.pair_count, r.pmi)
        for r in pmi_pairs(df, window=window, min_count=min_count, k=k).collect()
    ]
    assert got == want


def test_pmi_pairs_short_and_empty_docs(spark):
    from graphit_spark.functions.textops import pmi_pairs

    rows = [(1, "solo"), (2, ""), (3, "x y x y x y x y x y")]
    df = local_frame(spark, rows, "doc_id long, text string")
    got = pmi_pairs(df, window=3, min_count=2, k=10).collect()
    # only doc 3 produces pairs; singleton/empty docs contribute
    # unigrams only and must not crash the pair expression
    assert got and all(r.token_a <= r.token_b for r in got)
    assert {(r.token_a, r.token_b) for r in got} <= {("x", "y"), ("x", "x"), ("y", "y")}


class TestPrioritySample:
    def test_matches_pure_python_oracle(self, spark):
        import hashlib

        from graphit_spark.functions.sampling import priority_sample

        rows = [(i, (i * 37) % 101 + 1) for i in range(300)]
        df = local_frame(spark, rows, "doc_id long, n_tokens long")
        k = 25
        got = {r["doc_id"]: (r["n_tokens"], r["est_n_tokens"])
               for r in priority_sample(df, k).collect()}

        def pri(i, w):
            h = int(hashlib.md5(f"pri|{i}".encode()).hexdigest()[:15], 16)
            return float(w) / float(h + 1)

        ordered = sorted(rows, key=lambda t: (-pri(t[0], t[1]), t[0]))
        tau = pri(*ordered[k]) if len(ordered) > k else 0.0
        exp = {i: (w, max(float(w), tau)) for i, w in ordered[:k]}
        assert got == exp

    def test_small_corpus_keeps_all(self, spark):
        from graphit_spark.functions.sampling import priority_sample

        df = local_frame(
            spark,
            [(1, 10), (2, 20)], "doc_id long, n_tokens long"
        )
        got = priority_sample(df, 5).collect()
        # fewer than k+1 rows: tau = 0, estimator = true weight
        assert sorted((r["doc_id"], r["est_n_tokens"]) for r in got) == [
            (1, 10.0), (2, 20.0)
        ]


class TestLexicalTopk:
    def test_rare_shared_terms_dominate(self, spark):
        from graphit_spark.functions.textops import lexical_topk

        # with df_cap=2 the stop term "c" (df=5) is pruned; r1/r2/r3
        # each appear in exactly two docs and survive
        docs = [
            (0, "r1 r2 r3 c"),
            (1, "r1 r2 x1 c"),   # shares rare r1, r2 with 0
            (2, "c x4 x5 x6"),   # shares only the pruned stop term
            (3, "r3 x2 x3 c"),   # shares rare r3 with 0
            (4, "u1 u2 u3 c"),
            (5, "u4 u5 u6 u7"),
        ]
        df = local_frame(spark, docs, "doc_id long, text string")
        got = lexical_topk(df, k=3, n_queries=1, df_cap=2).collect()
        by_rank = [r["doc_id"] for r in sorted(got, key=lambda r: -r["score"])]
        assert by_rank == [1, 3]  # two rare shared terms beat one;
        # doc 2 (stop-term overlap only) produces no candidate at all
        assert all(r["q_doc"] == 0 for r in got)
        assert all(0.0 < r["score"] <= 1.0 for r in got)

    def test_identical_docs_score_one(self, spark):
        from graphit_spark.functions.textops import lexical_topk

        df = local_frame(
            spark,
            [(0, "alpha beta gamma"), (1, "alpha beta gamma"),
             (2, "delta epsilon zeta"), (3, "eta theta iota"),
             (4, "kappa lambda mu"), (5, "nu xi omicron")],
            "doc_id long, text string",
        )
        got = {(r["q_doc"], r["doc_id"]): r["score"]
               for r in lexical_topk(df, k=2, n_queries=1, df_cap=3).collect()}
        assert got[(0, 1)] == 1.0  # identical term sets -> cosine 1
