"""Physical-plan regression guards: the properties that make the
queries scale are asserted, not assumed.

- No CartesianProduct / BroadcastNestedLoopJoin anywhere except the two
  documented all-pairs baselines (dedup_ngram_jaccard gated by
  max_doc_id, dedup_embedding and sim_cosine_topk as tiny-sf
  cross-checks).
- Column pruning reaches the parquet scan: a 2-column projection must
  not read the whole documents table.
- The PageRank superstep join is never a nested loop and keeps its
  aggregation partial (map-side combine before the exchange).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("ENTRY_TEST_SF", "/root/testdata/sf0.001")

# all-pairs by design, documented as small-scale baselines/cross-checks
ALL_PAIRS_BASELINES = {
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "sim_cosine_topk",
    "sim_int8_topk",  # quantized variant of the same baseline scan
    "sim_ivf_topk",  # corpus x tiny-centroid assignment scan
    "sim_ivf_kmeans_topk",  # same broadcast corpus x n_cells scan
    "sim_pq_topk",  # codebook training/ADC over the same baseline scan
    "doc_clusters_kmeans",  # same broadcast corpus x n_cells scan
    "dedup_semantic",  # same broadcast training scan; pair join is
    # an equi-join on the cluster id (asserted below)
    "corpus_select_semantic",  # SemDeDup composed after the gates:
    # same broadcast k-means training scan, same cluster-keyed pairs
    "sim_recall_multiprobe",  # embeds the brute-force exact side by design
    "sim_ivfpq_topk",  # same broadcast corpus x codebook/centroid scans
    "sim_mmr_topk",  # re-ranks the brute-force exact baseline by design
}

TEXT_QUERY_NAMES = [
    "doc_token_counts", "doc_token_stats", "doc_quality", "doc_lang_id",
    "doc_fingerprints", "dedup_exact", "dedup_minhash", "dedup_lsh_pairs",
    "dedup_simhash", "dedup_jaccard_lsh", "dedup_embedding_lsh",
    "sim_lsh_topk", "events_hourly", "events_sessions",
    "corpus_select", "corpus_select_dedup", "corpus_select_cluster",
    "corpus_select_full",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", TEXT_QUERY_NAMES)
def test_no_cartesian_outside_baselines(entry_query, name):
    plan = _plan(entry_query(name, SF_DIR))
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoop" not in plan, name


def test_all_pairs_baselines_are_the_only_ones(entry_query):
    """The baseline set is the exhaustive list — a new query that goes
    quadratic shows up here, not in production."""
    for name in entrymod.queries():
        if name in ALL_PAIRS_BASELINES or name in TEXT_QUERY_NAMES:
            continue
        if not name.startswith(
            ("doc_", "dedup_", "sim_", "events_", "corpus_", "hll_",
             "cms_", "anchor_", "source_", "emb_")
        ):
            continue  # graph queries audited separately (BENCH/PLANS.md)
        plan = _plan(entry_query(name, SF_DIR))
        assert "CartesianProduct" not in plan, name


def test_column_pruning_reaches_parquet_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_pagerank_superstep_plan_shape(spark):
    """One gather superstep (the result DF itself is checkpoint-
    truncated, so the superstep must be planned directly): equi-join +
    partial-then-final sum, never a nested loop. Both join regimes are
    pinned — broadcast for small V, the >500k-vertex shuffle_hash hint
    path as ShuffledHashJoin (never an E-sized sort-merge). These are
    the claims quoted verbatim in BENCH/PLANS.md."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph

    g = graph(spark, SF_DIR, "raw")
    state = g.out_degrees().withColumn("rank", F.lit(1.0))
    contrib = state.filter(F.col("out_degree") > 0).select(
        F.col("id").alias("src"),
        (F.col("rank") / F.col("out_degree")).alias("contrib"),
    )
    step = (
        g.edges.join(contrib, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("contrib").alias("gathered"))
    )
    plan = _plan(step)
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    # map-side combine: a partial aggregate exists upstream of the final
    assert "partial_sum" in plan

    # big-V regime: the shuffle_hash hint must plan as ShuffledHashJoin
    # (per-partition hash build), with no Sort of the E-sized edge side
    step_big = (
        g.edges.join(contrib.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("contrib").alias("gathered"))
    )
    plan_big = _plan(step_big)
    assert "ShuffledHashJoin" in plan_big
    assert "SortMergeJoin" not in plan_big
    assert "partial_sum" in plan_big


def test_fused_gather_saves_an_exchange(spark):
    """fuseApplyFunctions analogue (plans/fusion.py): one fused PR+EC
    superstep must plan BOTH aggregate columns behind a single
    groupBy(dst) — strictly fewer Exchanges than the two kernels
    planned separately, with one shared partial aggregate computing
    both sums (the eigenvector_pr_fusion.gt payoff, asserted live)."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph
    from graphit_spark.plans.fusion import fused_gather

    g = graph(spark, SF_DIR, "raw")
    state = (
        g.out_degrees()
        .withColumn("rank", F.lit(1.0))
        .withColumn("ec", F.lit(1.0))
    )
    fused = fused_gather(
        g.edges,
        state,
        {"pr_acc": F.col("rank") / F.col("out_degree"), "ec_acc": F.col("ec")},
    )
    fused_plan = _plan(fused)
    # both sums come out of ONE aggregation pipeline: a single partial
    # HashAggregate operator carries both accumulators on one plan line
    assert any(
        line.count("partial_sum") == 2 for line in fused_plan.splitlines()
    ), fused_plan
    assert "CartesianProduct" not in fused_plan

    def one_kernel(msg, name):
        return (
            g.edges.join(state.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(msg).alias(name))
        )

    separate = sum(
        _plan(one_kernel(m, n)).count("Exchange")
        for m, n in [
            (F.col("rank") / F.col("out_degree"), "pr_acc"),
            (F.col("ec"), "ec_acc"),
        ]
    )
    assert fused_plan.count("Exchange") < separate, (
        fused_plan.count("Exchange"),
        separate,
    )
    g.unpersist()


def test_graph_build_scan_pushdown(spark):
    """The bench graph's only parquet touch: projection pruned to the
    two id columns and the null filters pushed to the reader — the
    PLANS.md scan excerpt, asserted live."""
    from graphit_spark.benchqueries import graph

    # fresh=True: the memoized graph is persisted, which wraps the scan
    # in InMemoryRelation — this test must see the raw reader nodes
    plan = _plan(graph(spark, SF_DIR, "raw", fresh=True).edges)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_custkey" in read_schema
    # nothing beyond the two join columns is read
    assert read_schema.count(":") == 2, read_schema
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "IsNotNull(o_custkey)" in pushed


def test_triangle_count_plan_shape(spark):
    """TC's full plan: sorted-array merge intersection per edge, global
    count as partial-then-final sum (the SinglePartition exchange moves
    <= P one-row partials), no nested loop — the PLANS.md TC excerpt,
    asserted live."""
    from graphit_spark.benchqueries import graph
    from graphit_spark.kernels.triangles import triangle_count

    g = graph(spark, SF_DIR, "raw")
    plan = _plan(triangle_count(g))
    # (the sort_array adjacency build sits behind a localCheckpoint, so
    # the returned lineage starts at Scan ExistingRDD — the build plan
    # itself is quoted in BENCH/PLANS.md)
    assert "array_intersect" in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    g.unpersist()


def test_lsh_dedup_is_bucket_join(spark):
    from graphit_spark.textqueries import q_embedding_dups_lsh

    plan = _plan(q_embedding_dups_lsh(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "bucket" in plan  # the equi-join key is the LSH bucket


def test_corpus_select_dedup_plan_is_bucketed(spark):
    """The near-dup stage inside the end-to-end curation query must be
    the LSH bucket join (band/bkey equi-join), never an all-pairs
    product: the candidate generator's cost model is what makes the
    composition survive crawl scale."""
    from graphit_spark.textqueries import q_corpus_select_dedup

    plan = _plan(q_corpus_select_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "bkey" in plan  # LSH band-bucket equi-join key


def test_corpus_select_gates_fuse_into_one_scan(spark):
    """The four gate features (token count, alpha ratio, stopword
    ratio, lang guess) are pure Column expressions, so the curation
    gates must compile to exactly TWO documents scans — the fused
    feature scan and exact_duplicates' (fingerprint, doc_id) aggregate
    — joined by one semi-join. A plan with feature-vs-feature joins
    (one scan per feature DataFrame) re-reads the crawl N times."""
    from graphit_spark.textqueries import q_corpus_select

    plan = _plan(q_corpus_select(spark, SF_DIR))
    assert plan.count("Scan parquet") == 2
    assert plan.count("Join") == 1 and "LeftSemi" in plan


def test_corpus_select_cluster_plan_is_bucketed(spark):
    """Same contract for the cluster-canonical variant: the candidate
    stage feeding the CC clustering must be the LSH bucket equi-join.
    (The CC kernel's own output is checkpoint-truncated, so only the
    pre-CC stages are visible here — which are exactly the stages with
    quadratic risk.)"""
    from graphit_spark.textqueries import q_corpus_select_cluster

    plan = _plan(q_corpus_select_cluster(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_repetition_plan_shape(spark):
    """doc_repetition must stay JVM-side (no Python eval), read the
    documents table exactly once (words and bigrams share one tagged
    explode), and keep the (doc_id, gram_n, gram) count partial before
    its exchange — the map-side combine that absorbs a degenerate
    document's repeated grams."""
    from graphit_spark.textqueries import q_repetition

    plan = _plan(q_repetition(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("Generate explode") == 1
    assert "partial_count" in plan


def test_pii_scrub_is_shuffle_free(spark):
    """doc_pii_scrub is a single projection: count + replace + md5 per
    row, no aggregation — the plan must contain no Exchange at all and
    no Python eval (regexp_count/regexp_replace are JVM built-ins)."""
    from graphit_spark.textqueries import q_pii

    plan = _plan(q_pii(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_min_gather_keeps_partial_agg(spark):
    """The SCC/CC min-label gather must keep its aggregate partial
    (map-side combine before the exchange) exactly like the PR sum
    gather — built manually because kernel-internal rounds are
    checkpoint-truncated in the returned plan."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph

    g = graph(spark, SF_DIR, "blocked")
    labels = g.vertices().select("id", F.col("id").alias("lab"))
    gathered = (
        g.edges.join(labels.select(F.col("id").alias("src"), "lab"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("lab").alias("cand"))
    )
    plan = _plan(gathered)
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_benchmark_side_broadcasts(spark):
    """corpus_decontaminate's benchmark gram set is tiny relative to
    the corpus — the join must be a BroadcastHashJoin (the corpus side
    is scanned once, never shuffled on the gram key)."""
    from graphit_spark.textqueries import q_decontaminate

    plan = _plan(q_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_hyperball_gather_keeps_partial_max(spark):
    """The HyperBall register gather is one edge join + groupBy(dst)
    with a max() PER REGISTER — every register's aggregate must stay
    partial (map-side combine), so the shuffle carries at most one
    m-register row per (dst, map partition), never the exploded
    neighbor sketches. Built manually like the PR/min gathers (the
    kernel's loop states are checkpoint-truncated)."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph
    from graphit_spark.kernels.hyperball import _init_state, _reg_cols

    g = graph(spark, SF_DIR, "blocked")
    state = _init_state(g, p=4)
    cols = _reg_cols(4)
    gathered = (
        g.edges.join(state.select(F.col("id").alias("src"), *cols), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(*[F.max(c).alias(f"g_{c}") for c in cols])
    )
    plan = _plan(gathered)
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the estimator is pure whole-stage-codegen expression work — no
    # Python evaluation anywhere in the sketch pipeline
    assert "EvalPython" not in _plan(state)


def test_mis_gather_keeps_partial_string_min(spark):
    """The MIS/coloring winner gather reduces the STRING priority with
    min() — string min is map-side combinable too, and the plan must
    keep the partial aggregate before the exchange."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph
    from graphit_spark.kernels.mis import _priority_col

    g = graph(spark, SF_DIR, "blocked")
    active = g.vertices().select("id", _priority_col().alias("pri"))
    sym = g.symmetrize().edges
    gathered = (
        sym.join(active.select(F.col("id").alias("dst"), "pri"), "dst")
        .join(active.select(F.col("id").alias("src")), "src")
        .groupBy("src")
        .agg(F.min("pri").alias("mn"))
    )
    plan = _plan(gathered)
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_bowtie_reach_superstep_plan_shape(spark):
    """One bowtie reachability superstep (kernels/bowtie._reachable):
    sparse-frontier semi-join must broadcast the frontier, the distinct
    must be a partial+final HashAggregate (map-side combine), and the
    anti-join against the reached set must never go nested-loop. Built
    manually — the kernel's rounds are checkpoint-truncated in the
    returned plan."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph

    g = graph(spark, SF_DIR, "bowtie")
    reached = g.vertices().select("id").filter(F.col("id") < 3)
    fr = reached.select(F.col("id").alias("src"))
    new = (
        g.edges.join(F.broadcast(fr), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
        .join(reached, "id", "left_anti")
    )
    plan = _plan(new)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # the semi-join side
    assert "HashAggregate" in plan  # the distinct, partial+final


def test_percentile_histogram_keeps_partial_count(spark):
    """doc_token_percentiles' only corpus-sized stage is the value
    histogram — its count aggregate must stay partial (map-side
    combine), so the shuffle after it is |distinct lengths|-sized."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import load
    from graphit_spark.functions import textops as T

    docs = load(spark, SF_DIR, "documents")
    counts = (
        docs.select(T.token_count(F.col("text")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    plan = _plan(counts)
    assert "partial_count" in plan
    assert "EvalPython" not in plan  # token_count is a native Column expr


def test_bloom_prune_probes_via_broadcast(spark):
    """bloom_prune's word-table lookup must plan as a BroadcastHashJoin
    (the corpus-sized probe side is scanned once against the ≤1024-row
    bloom, never shuffled on the word key), all-JVM (no EvalPython),
    and the bloom build's bit_or must keep its map-side partial."""
    from pyspark.sql import functions as F

    from graphit_spark.functions import sketch as K

    members = spark.range(500).select(
        F.concat(F.lit("m-"), F.col("id")).alias("v")
    )
    bloom = K.bloom_words(members, F.col("v"))
    assert "partial_bit_or" in _plan(bloom)
    probe = spark.range(20000).select(
        F.concat(F.lit("p-"), F.col("id")).alias("v")
    )
    plan = _plan(K.bloom_prune(probe, F.col("v"), bloom))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_bloom_plan_shape(spark):
    """The end-to-end bloom-decontamination plan keeps both broadcast
    stages: the 1024-word bloom probe and the exact confirm join."""
    from graphit_spark.textqueries import q_decontaminate_bloom

    plan = _plan(q_decontaminate_bloom(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan


def test_matching_gather_keeps_partial_string_min(spark):
    """The matching vertex-min gather reduces the STRING edge priority
    with min() over the endpoint-keyed union — it must stay map-side
    combinable (partial_min before the exchange), and the union must
    not introduce any nested-loop join."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph
    from graphit_spark.kernels.matching import _edge_priority

    g = graph(spark, SF_DIR, "blocked")
    alive = (
        g.symmetrize()
        .edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .withColumn("epri", _edge_priority())
    )
    ends = alive.select(F.col("u").alias("x"), "epri").unionAll(
        alive.select(F.col("v").alias("x"), "epri")
    )
    plan = _plan(ends.groupBy("x").agg(F.min("epri").alias("mn")))
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan


def test_link_prediction_plan_shape(spark):
    """The wedge enumeration must be an equi-join on the center (never
    a nested loop over pairs), the pair aggregation must keep its
    map-side partial, and the adjacency anti-join must stay a hash
    join. The driver query eagerly checkpoints (truncating the lineage
    explain can see), so this inspects the kernel's lazy plan with the
    same parameters via materialize=False."""
    from graphit_spark.benchqueries import LINKPRED_MIN_CN, LINKPRED_TOPK, graph
    from graphit_spark.kernels import link_prediction

    g = graph(spark, SF_DIR, "blocked")
    plan = _plan(link_prediction(
        g, min_cn=LINKPRED_MIN_CN, topk=LINKPRED_TOPK, materialize=False,
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_cms_sketch_keeps_partial_count_and_broadcast_probe(spark):
    """Count-Min cells must partial-aggregate map-side (the bounded-
    shuffle contract) and the probe join against the d*w cell grid
    must broadcast."""
    q = entrymod.queries()["cms_heavy_hitters"]
    plan = _plan(q(spark, SF_DIR))
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_walk_cooccurrence_no_cartesian(spark):
    """The skip-gram pair join is keyed on walk_id — a missing key
    would explode into a per-walk cross product."""
    q = entrymod.queries()["walk_cooccurrence"]
    plan = _plan(q(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan


def test_stratified_sample_no_global_window(spark):
    """corpus_sample_stratified must rank via the range-partitioned
    pass: no unpartitioned Window (the 'No Partition Defined' single-
    task plan) may appear."""
    # the query's returned plan is a checkpoint scan, so assert on the
    # internal ranking plan built the same way the kernel builds it
    from pyspark.sql import functions as F

    from graphit_spark.functions.sampling import sample_key
    from graphit_spark.plans.ranking import dense_rank_ids

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keyed = docs.select("doc_id", "lang", sample_key(F.col("doc_id")).alias("skey"))
    release: list = []
    ranked = dense_rank_ids(
        keyed, [F.asc("lang"), F.asc("skey"), F.asc("doc_id")],
        out_col="__grank", release=release,
    )
    inner = _plan(ranked)
    for cached in release:
        cached.unpersist()
    assert "Window" in inner  # per-bucket window exists...
    # ...but always partitioned by the range bucket, never global
    for line in inner.splitlines():
        if "Window [" in line or "Window(" in line:
            assert "__pid" in line, line


def test_fresh_checkpoint_stats_stay_flat(spark):
    """Iterated self-referencing checkpoints must not compound stats.

    Spark 4's localCheckpoint inherits the plan's Statistics; join
    stats multiply child sizeInBytes, so a fixpoint loop whose round
    joins the state against something derived from the state doubles
    the inherited BigInteger's bit-length every round (profiled: 74 s
    pointer-jump hops, driver OOM — see plans/state.py). This pins the
    fix: after 10 such rounds through fresh_checkpoint, the state's
    sizeInBytes is no bigger than one round's.
    """
    from pyspark.sql import functions as F

    from graphit_spark.plans.state import fresh_checkpoint

    def size_bits(df):
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(stats.sizeInBytes()).bit_length()  # py4j gives int

    state = fresh_checkpoint(
        spark.range(100).select(F.col("id"), F.col("id").alias("v"))
    )
    first_round_bits = None
    for _ in range(10):
        derived = state.groupBy((F.col("v") % 7).alias("k")).agg(
            F.min("v").alias("mn")
        )
        state = fresh_checkpoint(
            state.join(derived, state["v"] % 7 == derived["k"], "left")
            .select("id", F.coalesce("mn", "v").alias("v"))
        )
        joined_bits = size_bits(
            state.join(state.select(F.col("v").alias("v2")),
                       state["id"] == F.col("v2"), "left")
        )
        if first_round_bits is None:
            first_round_bits = joined_bits
    # with inherited stats this reaches thousands of bits by round 10;
    # stripped, it stays at the constant default-size product
    assert joined_bits <= first_round_bits + 8, (
        f"stats compounding returned: round-1 {first_round_bits} bits, "
        f"round-10 {joined_bits} bits"
    )
    assert state.count() == 100  # the data path still works


def test_pmi_and_cocitation_plan_shape(spark):
    """corpus_pmi: pair generation is a Column expression (no pair
    self-join, no CartesianProduct); the only nested-loop join allowed
    is the 1-row scalar-totals broadcast attach (the dsir_weights
    pattern). cocitation: pure equi-join/aggregate plan, no
    cross/nested-loop joins at all."""
    qs = entrymod.queries()
    pmi_plan = _plan(qs["corpus_pmi"](spark, SF_DIR))
    assert "CartesianProduct" not in pmi_plan
    coc_plan = _plan(qs["cocitation"](spark, SF_DIR))
    assert "CartesianProduct" not in coc_plan
    assert "BroadcastNestedLoop" not in coc_plan


def test_partition_pruning_reaches_the_scan(spark, tmp_path):
    """Hive-partitioned crawl layout: a filter on the partition column
    must prune at PLANNING time — PartitionFilters on the scan node and
    only the matching day's files read (sources/partitioned.py)."""
    from graphit_spark.sources import (
        read_partitioned,
        with_day,
        write_partitioned,
    )
    from pyspark.sql import functions as F

    events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    store = str(tmp_path / "events_by_day")
    write_partitioned(with_day(events, "ts"), store, ["day"])

    back = read_partitioned(spark, store)
    # Spark infers the partition directory values' type on read-back
    # (yyyy-MM-dd strings come back as DATE) — normalize to strings.
    days = [str(r["day"])
            for r in back.select("day").distinct().collect()]
    assert len(days) > 1, "need multiple partitions to prove pruning"
    pick = sorted(days)[0]
    q = back.filter(F.col("day") == pick).groupBy("event_type").count()
    plan = _plan(q)
    scan = next(
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    assert pick in scan, f"day predicate not pushed to the scan: {scan}"
    # pruned correctness: equals the unpartitioned filter
    expected = (
        events.filter(F.date_format("ts", "yyyy-MM-dd") == pick).count()
    )
    assert q.agg(F.sum("count")).first()[0] == expected


def test_ppr_push_gather_keeps_partial_sum(spark):
    """The push kernel's receive gather (edge join vs the tiny active
    set, groupBy(dst) BIGINT sum) must keep its aggregate partial —
    the hub-destination rows collapse map-side. Built manually (the
    kernel's rounds are checkpoint-truncated in the returned plan)."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph

    g = graph(spark, SF_DIR, "blocked").symmetrize()
    act = g.vertices().limit(5).select(
        F.col("id").alias("src"), F.lit(1000).alias("per_nbr")
    )
    recv = (
        g.edges.join(act, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("per_nbr").alias("recv"))
    )
    plan = _plan(recv)
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_wl_digest_keeps_partial_aggregates(spark):
    """The WL multiset digest (count, bit_xor, sum-mod) replaces the
    sorted-array collect precisely so the hub digest reduces map-side:
    all three aggregates must be partial, and no collect_list/sort
    appears anywhere in the round."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph
    from graphit_spark.kernels.wl import WL_SUM_MOD

    g = graph(spark, SF_DIR, "blocked").symmetrize()
    colors = g.vertices().select(
        "id", (F.col("id") * 7 + 1).alias("c")
    )
    digest = (
        g.edges.join(
            colors.select(F.col("id").alias("src"), "c"), "src"
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(
            F.count("*").alias("cnt"),
            F.expr("bit_xor(c)").alias("x"),
            F.sum(F.col("c") % WL_SUM_MOD).alias("s"),
        )
    )
    plan = _plan(digest)
    assert "partial_count" in plan or "partial_sum" in plan
    assert "collect_list" not in plan and "sort_array" not in plan
    assert "CartesianProduct" not in plan


def test_fresh_checkpoint_release_frees_blocks(spark):
    """unpersist() on a fresh_checkpoint frame must free the checkpoint
    RDD's blocks IMMEDIATELY (DataFrame.unpersist on a localCheckpointed
    frame only touches the SQL cacheManager — a storage no-op — and the
    ContextCleaner frees blocks asynchronously at GC's leisure; the
    kernels' superseded-state releases must not depend on GC timing).
    Pins the instance-bound unpersist in plans/state.py."""
    from graphit_spark.plans.state import fresh_checkpoint

    sc = spark.sparkContext

    def cached_ids():
        return {r.id() for r in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()
    df = fresh_checkpoint(spark.range(100).selectExpr("id", "id * 2 AS y"))
    assert df.count() == 100
    mine = cached_ids() - before
    assert mine, "checkpoint should hold blocks"
    df.unpersist()
    assert not (cached_ids() & mine), "release must be immediate"


def test_butterfly_census_plan_no_self_join(spark):
    """The butterfly census must stay on the cocitation shape: one
    sorted-adjacency build, a Column-expression pair explode (no edge
    self-join, no cartesian), and a map-side-combined pair count whose
    final census is a partial aggregate."""
    from graphit_spark.benchqueries import q_butterfly_count

    plan = _plan(q_butterfly_count(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_densest_peel_round_is_semi_join_plus_agg(spark):
    """One densest-subgraph peel round = two left-semi restrictions of
    the cached edge table + a map-side-combined degree count + the
    integer threshold filter — no collect, no cartesian. Built manually
    (the kernel's rounds are checkpoint-truncated in the result)."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import graph

    g = graph(spark, SF_DIR, "blocked").symmetrize()
    keep = g.vertices().limit(500)
    alive = g.edges.join(
        keep.select(F.col("id").alias("src")), "src", "left_semi"
    ).join(keep.select(F.col("id").alias("dst")), "dst", "left_semi")
    deg = alive.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("d")
    )
    survivors = keep.join(deg, "id", "left").filter(
        F.coalesce("d", F.lit(0)) * F.lit(500) > F.lit(3 * 1000)
    )
    plan = _plan(survivors)
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("LeftSemi") >= 2


def test_scan_statistics_plan_shape(spark):
    """scan1 = audited triangle enumeration + V-sized degree join; the
    only non-equi join allowed is the broadcast of the ONE-ROW global
    moments aggregate (the scalar-threshold idiom every kernel's error
    norm uses). Degree/visit aggregates stay map-side partial."""
    from graphit_spark.benchqueries import q_scan_statistics

    plan = _plan(q_scan_statistics(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_source_mirror_plan_shape(spark):
    """Mirror detection must stay fan-out-bounded: the boilerplate cap
    is a left-anti equi-join on shingle (no nested loop), the pair
    explosion is a shingle equi-join, and both the pair count and the
    per-source set sizes keep partial aggregates."""
    from graphit_spark.textqueries import q_source_mirror

    plan = _plan(q_source_mirror(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan


def test_montecarlo_pagerank_plan_shape(spark):
    """Every MC step is a frontier ⋈ adjacency equi-join whose
    positions are checkpointed once; the visible tail counts visits over
    those steps with a map-side-combined aggregate. No nested loop, no
    cartesian."""
    from graphit_spark.benchqueries import q_pagerank_montecarlo

    plan = _plan(q_pagerank_montecarlo(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_knn_graph_and_topics_plan_shape(spark):
    """The k-NN semantic graph must be the bucket-join discipline: LSH
    bucket equi-join (never a cross join), per-src window over a
    bucket-sized candidate list. The LPA composition's result is
    checkpoint-truncated, so its gather superstep is planned directly
    (the densest-peel convention): knn edges ⋈ labels → grouped count
    must keep the map-side partial aggregate and stay cartesian-free."""
    from pyspark.sql import functions as F

    from graphit_spark.functions.similarity import knn_graph
    from graphit_spark.textqueries import KNN_GRAPH_K, load, q_knn_graph

    plan = _plan(q_knn_graph(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "hashpartitioning(bucket" in plan or "bucket" in plan

    emb = load(spark, SF_DIR, "embeddings")
    kg = knn_graph(emb, dim=64, k=KNN_GRAPH_K).select("src", "dst")
    labels = emb.select(
        F.col("vec_id").alias("src"), F.col("vec_id").alias("label")
    )
    gather = (
        kg.join(labels, "src")
        .groupBy(F.col("dst").alias("id"), "label")
        .agg(F.count("*").alias("cnt"))
    )
    plan = _plan(gather)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan


def test_feature_prop_plan_shape(spark):
    """Feature propagation must keep every aggregation partial (the
    per-(vertex, dim) integer mean and the array re-assembly are both
    map-side combined) and stay cartesian-free — E·dim rows through
    one exchange per round is the whole bill."""
    from graphit_spark.textqueries import q_feature_prop

    plan = _plan(q_feature_prop(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_sum" in plan


def test_graph_beam_topk_plan_shape(spark):
    """Beam-search ANN must touch the corpus only via id-keyed
    equi-joins (adjacency expansion + embedding lookup) — no per-query
    corpus scan, no cartesian, no nested loop."""
    from graphit_spark.textqueries import q_graph_topk

    plan = _plan(q_graph_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_bridges_plan_shape(spark):
    """Every bridges phase is the standard gather superstep; the result
    is checkpoint-truncated, so plan the phases directly: one label
    round and the non-tree hash aggregation must keep partial
    aggregates and stay cartesian-free."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import BRIDGE_MOD, graph

    g = graph(spark, SF_DIR, "raw")
    su = (
        g.edges.filter((F.col("src") + F.col("dst")) % BRIDGE_MOD == 0)
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    sym = su.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        su.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    labels = sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    round1 = (
        sym.join(labels.select(F.col("id").alias("a"), "label"), "a")
        .groupBy(F.col("b").alias("id"))
        .agg(F.min("label").alias("nl"))
    )
    plan = _plan(round1)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_min" in plan


def test_biconnected_climb_plan_shape(spark):
    """One LCA climb round = the live walker set equi-joined to the
    node table twice — partial aggregates in the aux CC gather, no
    cartesian in the climb."""
    from pyspark.sql import functions as F

    from graphit_spark.benchqueries import BRIDGE_MOD, graph
    from graphit_spark.kernels.bridges import _bfs_tree
    from graphit_spark import LinkGraph

    g = graph(spark, SF_DIR, "raw")
    sparse = g.edges.filter((F.col("src") + F.col("dst")) % BRIDGE_MOD == 0)
    sg = LinkGraph(sparse, persist=False)
    und, sym, depth, parent = _bfs_tree(sg, 24, "plan-test")
    npt = depth.join(parent, "id", "left").select("id", "depth", "parent")
    tree = npt.filter(F.col("parent").isNotNull()).select(
        F.least("parent", "id").alias("u"),
        F.greatest("parent", "id").alias("v"),
    )
    nontree = und.join(tree, ["u", "v"], "left_anti")
    state = nontree.select(
        F.col("u").alias("ca"), F.col("v").alias("cb")
    )
    na = npt.select(
        F.col("id").alias("ca"), F.col("depth").alias("da"),
        F.col("parent").alias("pa"),
    )
    joined = state.join(na, "ca")
    plan = _plan(joined)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    und.unpersist()
    sym.unpersist()


def test_lsh_hot_band_cap_plan_shape(spark):
    """The round-4 occupancy guard must not change the join discipline:
    the capped candidate plan still has no cartesian/nested-loop and no
    broadcast of the hot-bucket side (the occupancy table joins back on
    the same (band, bkey) key as the pair self-join, so a degenerate
    corpus cannot blow up a broadcast)."""
    from graphit_spark.functions import dedup as D

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(D.lsh_candidate_pairs(docs, k=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the occupancy filter is an equi-join on the band key, pre-join
    assert plan.count("bkey") >= 2


def test_multimodal_driver_queries_are_arrow_batched(spark):
    """The round-4 multimodal driver queries must stay on the Arrow
    mapInPandas path (no row-at-a-time Python UDFs) and never cartesian."""
    from graphit_spark.textqueries import (
        q_audio_stats,
        q_image_stats,
        q_video_frames,
    )

    for q in (q_image_stats, q_audio_stats, q_video_frames):
        plan = _plan(q(spark, SF_DIR))
        assert "BatchEvalPython" not in plan  # row-at-a-time UDF marker
        assert "CartesianProduct" not in plan
        assert "MapInPandas" in plan
