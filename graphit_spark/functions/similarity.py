"""Similarity search over an embedding column (array<float>).

- brute_force_topk: exact cosine top-k per query — the correctness
  baseline. Dot products run JVM-side via F.aggregate/zip_with (no
  Python). Quadratic in candidates: right for |queries| × |corpus| that
  fits a shuffle, i.e. re-ranking and evaluation, not the full crawl.
- lsh_topk: the scale path — random-hyperplane LSH buckets (signs of
  dot(v, h_i) for fixed deterministic hyperplanes), candidates =
  same-bucket rows, exact cosine re-rank inside the bucket. Buckets cap
  the join fan-out, so the plan is bucket-join + per-bucket top-k
  instead of a cross join.

All arithmetic in double; scores rounded for oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from graphit_spark.plans.state import (
    bind_release, counted_checkpoint, fresh_checkpoint, superstep,
)

ROUND_SCORE = 4


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, score) — exact top-k by cosine; deterministic
    order (rounded score desc, vec_id asc); self-matches excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = embeddings.select(id_col, F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("qv"), F.col("cv")), ROUND_SCORE).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "score")
    )


# deterministic pseudo-random hyperplanes: component j of plane i is
# ((A*(i*DIM+j)+B) % 1000003) / 1000003 - 0.5  (same formula usable in SQL)
_A, _B, _P = 2654435761, 1013904223, 1_000_003


def _hyperplane(i: int, dim: int) -> list[float]:
    return [
        ((_A * (i * dim + j) + _B) % _P) / _P - 0.5 for j in range(dim)
    ]


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane signature: bit i = sign(dot(v, plane_i))."""
    sig = F.lit(0)
    for i in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(i, dim)])
        bit = F.when(_dot(vec, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = sig + bit
    return sig.cast("int")


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, score) with a < b and
    rounded cosine ≥ threshold. The all-pairs form is the correctness
    baseline; at crawl scale the same re-rank runs over lsh_bucket-joined
    candidates instead of the cross join (swap the join, keep the filter).
    """
    l = embeddings.select(F.col(id_col).alias("a"), F.col(vec_col).alias("av"))
    r = embeddings.select(F.col(id_col).alias("b"), F.col(vec_col).alias("bv"))
    return (
        l.join(r, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("av"), F.col("bv")), ROUND_SCORE).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def embedding_dup_pairs_lsh(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SCALE path for embedding near-dup detection: candidates are
    pairs sharing a random-hyperplane LSH bucket (cosine-similar vectors
    agree on most hyperplane signs, so true near-dups co-bucket with
    high probability); the exact rounded-cosine >= threshold re-rank
    runs only inside buckets. Join fan-out is sum of squared bucket
    sizes ~ |corpus|^2 / 2^n_planes instead of the all-pairs cross join
    of embedding_dup_pairs — the plan is a bucket-key equi-join, and
    raising n_planes shrinks buckets for bigger corpora. Deterministic
    (integer-arithmetic planes), so the DuckDB twin reproduces the
    buckets bit for bit."""
    b = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    l = b.select("bucket", F.col(id_col).alias("a"), F.col("v").alias("av"))
    r = b.select("bucket", F.col(id_col).alias("b"), F.col("v").alias("bv"))
    return (
        l.join(r, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("av"), F.col("bv")), ROUND_SCORE).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def semantic_dedup_keep(
    embeddings: DataFrame,
    n_cells: int = 16,
    train_iters: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding space with deterministic spherical k-means, then look for
    cosine near-duplicates ONLY within each cluster — a row is dropped
    when a lower-id same-cluster row has rounded cosine ≥ threshold.
    Returns the KEPT rows as (vec_id, cell, csim), csim = similarity to
    the assigned centroid.

    Scale shape: centroid training/assignment is the audited broadcast
    corpus × n_cells scan (ivf_train_centroids/ivf_assign); the
    near-dup search is an equi-join keyed on the cluster id, so the
    pair fan-out is Σ|cell|² — n_cells grows with the corpus (the
    paper's design point), never the all-pairs cross join. Drop rule is
    min-id-wins, identical to the engine's other dedup canonicals, so
    the output is deterministic and SQL-twin-comparable.
    """
    cents = ivf_train_centroids(
        embeddings, n_cells=n_cells, iters=train_iters,
        id_col=id_col, vec_col=vec_col,
    )
    asg = ivf_assign(
        embeddings, n_cells, id_col=id_col, vec_col=vec_col,
        centroids=cents,
    )
    withv = asg.select(id_col, "cell", "cscore").join(
        embeddings.select(id_col, F.col(vec_col).alias("v")), id_col
    )
    left = withv.select(
        "cell", F.col(id_col).alias("a"), F.col("v").alias("av")
    )
    right = withv.select(
        "cell", F.col(id_col).alias("b"), F.col("v").alias("bv")
    )
    dup_b = (
        left.join(right, "cell")
        .filter(F.col("a") < F.col("b"))
        .filter(
            F.round(cosine(F.col("av"), F.col("bv")), ROUND_SCORE)
            >= threshold
        )
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return (
        asg.join(dup_b, id_col, "left_anti")
        .select(id_col, "cell", F.col("cscore").alias("csim"))
    )


ROUND_CENTROID = 9  # absorbs cross-engine sum-order noise in the means


def ivf_train_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic spherical-k-means centroids (cell, centv): init =
    embeddings of vec_id < n_cells, then `iters` Lloyd rounds — assign
    by rounded cosine (ties to the lower cell), new centroid =
    componentwise mean of the assigned vectors, rounded so Spark and
    the SQL twin agree bit for bit. Cosine is scale-invariant, so the
    mean needs no re-normalization; an emptied cell keeps its old
    centroid. Each round is one broadcast-join scan of the corpus +
    one tiny (n_cells x dim) aggregation."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    cents = embeddings.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centv")
    )
    for _ in range(iters):
        scored = embeddings.select(
            id_col, F.col(vec_col).alias("v")
        ).join(F.broadcast(cents)).select(
            id_col,
            "v",
            "cell",
            F.round(cosine(F.col("v"), F.col("centv")), ROUND_SCORE).alias(
                "cscore"
            ),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.desc("cscore"), F.asc("cell")
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cell", "v")
        )
        means = assigned.groupBy("cell").agg(
            *[
                F.round(
                    F.avg(F.element_at("v", j + 1)), ROUND_CENTROID
                ).alias(f"m{j}")
                for j in range(dim)
            ]
        )
        cents = (
            cents.join(means, "cell", "left")
            .select(
                "cell",
                F.when(F.col("m0").isNull(), F.col("centv"))
                .otherwise(F.array(*[F.col(f"m{j}") for j in range(dim)]))
                .alias("centv"),
            )
        )
    return cents


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
    rank_limit: int = 1,
    centroid_source: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization with deterministic centroids: either an
    explicit (cell, centv) table (`centroids`, e.g. from
    ivf_train_centroids) or the default crude-but-deterministic choice —
    centroid c (c < n_cells) is the embedding of vec_id c in
    `centroid_source` (defaults to `embeddings`; pass the full corpus
    when assigning a query subset). Assign every vector to its
    `rank_limit` highest-cosine centroid(s). The centroid table is tiny
    → broadcast join; assignment is one scan of the corpus."""
    if centroids is not None:
        cents = centroids.select(
            F.col(centroids.columns[0]).alias(out_col),
            F.col(centroids.columns[1]).alias("centv"),
        )
    else:
        if centroid_source is None:
            centroid_source = embeddings
        cents = centroid_source.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias(out_col), F.col(vec_col).alias("centv")
        )
    scored = embeddings.select(id_col, F.col(vec_col).alias("v")).join(
        F.broadcast(cents)
    ).select(
        id_col,
        "v",
        out_col,
        F.round(cosine(F.col("v"), F.col("centv")), ROUND_SCORE).alias("cscore"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cscore"), F.asc(out_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= rank_limit)
        .select(id_col, out_col, "cscore")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest cell's
    inverted list; a query probes its n_probe nearest cells and re-ranks
    exactly inside them. Join fan-out ≈ |corpus|·n_probe/n_cells instead
    of |corpus| — the scale path when LSH bucket skew is a concern, and
    fully deterministic (ties broken by cell/id). train_iters > 0 runs
    that many Lloyd rounds (ivf_train_centroids) for better-balanced
    cells; 0 keeps the raw first-n-rows centroids."""
    cents = (
        ivf_train_centroids(
            embeddings, n_cells, train_iters, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=True)
        if train_iters > 0
        else None
    )
    corpus = embeddings.select(id_col, F.col(vec_col).alias("cv")).join(
        ivf_assign(
            embeddings, n_cells, id_col, vec_col, centroids=cents
        ).select(id_col, "cell"),
        id_col,
    )
    probes = (
        ivf_assign(
            queries, n_cells, id_col, vec_col,
            rank_limit=n_probe, centroid_source=embeddings, centroids=cents,
        )
        .select(F.col(id_col).alias("query_id"), "cell")
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        probes.join(qv, "query_id")
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("qv"), F.col("cv")), ROUND_SCORE).alias("score"),
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "score")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; exact
    cosine re-rank within bucket. Recall < 1 by design; scale path.

    multiprobe=True additionally probes every Hamming-distance-1 bucket
    (each query explodes into n_planes+1 probe keys — a true neighbor
    that disagrees on ONE hyperplane sign is still found). Candidate
    fan-out grows (n_planes+1)x per query while the corpus side stays
    one bucket per vector, so the join is still bucket-keyed; the
    standard recall/cost knob when a single sign flip dominates misses
    (near-orthogonal embeddings)."""
    emb_b = embeddings.select(
        id_col,
        F.col(vec_col).alias("cv"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    q_bucket = lsh_bucket(F.col(vec_col), dim, n_planes)
    if multiprobe:
        probes = F.array(
            q_bucket,
            *[q_bucket.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        q_b = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probes).alias("bucket"),
        )
    else:
        q_b = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            q_bucket.alias("bucket"),
        )
    scored = (
        q_b.join(emb_b, "bucket")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("qv"), F.col("cv")), ROUND_SCORE).alias("score"),
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "score")
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric int8 quantization of a float vector: q_i =
    floor(x_i · 127/max|x| + 0.5) — explicit half-up (floor(+0.5)), not
    round(), because round() is banker's in one engine and half-up in
    another; floor is bit-identical everywhere. All-zero vectors stay
    all-zero. The 100 TB story: int8 embeddings cut the ANN corpus
    footprint 4× (and at cluster scale, the shuffle/cache bytes with
    it) while cosine ordering survives — the standard scalar-
    quantization trade every production vector store offers."""
    maxabs = F.aggregate(
        F.transform(vec, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5))
    )


def int8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine over int8-QUANTIZED vectors — the memory-
    4×-smaller variant of brute_force_topk (same all-pairs scan shape,
    documented small-sf baseline; the bucketed paths quantize the same
    way). Integer dot products (≤ dim·127² ≈ 10^6 per term) are exact
    in doubles, so the score is bit-deterministic cross-engine."""
    qz = lambda df: df.select(  # noqa: E731
        F.col(id_col), quantize_int8(F.col(vec_col)).alias(vec_col)
    )
    return brute_force_topk(qz(embeddings), qz(queries), k=k,
                            id_col=id_col, vec_col=vec_col)


# --- product quantization (cosine-PQ) -------------------------------------

PQ_M_SUB = 4  # subspaces
PQ_K_CODES = 8  # codewords per subspace
PQ_TRAIN_ITERS = 1


def _pq_subspace(
    embeddings: DataFrame, s: int, d_sub: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    return embeddings.select(
        F.col(id_col),
        F.slice(F.col(vec_col), s * d_sub + 1, d_sub).alias(vec_col),
    )


def pq_reconstruct(
    embeddings: DataFrame,
    *,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    train_iters: int = PQ_TRAIN_ITERS,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization reconstruction: split each vector into
    `m_sub` subvectors, train a `k_codes`-word codebook per subspace
    (the engine's deterministic spherical k-means — a cosine-PQ
    variant), assign each subvector its nearest codeword (rounded
    cosine, ties to the lower code — the IVF tie rule), and return
    (id, recon) with recon = the concatenated codewords.

    Memory story at 100 TB: the stored code is m_sub small ints per
    vector (vs dim floats — 32-64× smaller); scoring against recon is
    exactly ADC (the subspace dot-table sum equals the dot with the
    concatenated reconstruction). Every step is the bit-deterministic
    arithmetic the IVF twins already prove cross-engine."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    assert dim % m_sub == 0, (dim, m_sub)
    d_sub = dim // m_sub
    recon = None
    for s in range(m_sub):
        sub = _pq_subspace(embeddings, s, d_sub, id_col, vec_col)
        cents = ivf_train_centroids(
            sub, n_cells=k_codes, iters=train_iters, dim=d_sub,
            id_col=id_col, vec_col=vec_col,
        )
        scored = sub.withColumnRenamed(vec_col, "v").join(
            F.broadcast(cents)
        ).select(
            id_col,
            "cell",
            "centv",
            F.round(cosine(F.col("v"), F.col("centv")), ROUND_SCORE).alias(
                "cscore"
            ),
        )
        w = Window.partitionBy(id_col).orderBy(
            F.desc("cscore"), F.asc("cell")
        )
        part = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, F.col("centv").alias(f"p{s}"))
        )
        recon = part if recon is None else recon.join(part, id_col)
    return recon.select(
        id_col,
        F.concat(*[F.col(f"p{s}") for s in range(m_sub)]).alias(vec_col),
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    train_iters: int = PQ_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: FULL-precision queries scored against the PQ-
    reconstructed corpus (asymmetric distance computation — queries
    are few, the corpus is what must shrink). Same all-pairs baseline
    scan shape as brute_force_topk; the bucketed ANN paths compose
    with the same reconstruction."""
    recon = pq_reconstruct(
        embeddings, m_sub=m_sub, k_codes=k_codes,
        train_iters=train_iters, id_col=id_col, vec_col=vec_col,
    )
    return brute_force_topk(recon, queries, k=k, id_col=id_col,
                            vec_col=vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    n_cells: int = 16,
    n_probe: int = 4,
    ivf_iters: int = 2,
    m_sub: int = PQ_M_SUB,
    k_codes: int = PQ_K_CODES,
    pq_iters: int = PQ_TRAIN_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production vector-store layout (FAISS IVF,PQ):
    coarse inverted lists bound the SCAN (each query touches
    ~|corpus|·n_probe/n_cells vectors) while product quantization
    bounds the MEMORY (each stored vector is m_sub small codes, scored
    by ADC against the full-precision query). Composes the engine's two
    audited pieces verbatim — `ivf_train_centroids`/`ivf_assign` for
    the cells and `pq_reconstruct` for the codes — so the result is
    bit-deterministic and keeps a full DuckDB twin.

    This is the cosine-PQ variant: codebooks are trained on whole
    vectors (not per-cell residuals — residuals change the dot-product
    algebra and would break the twin's exactness argument; the
    documented trade is slightly lower recall per probe)."""
    recon = pq_reconstruct(
        embeddings, m_sub=m_sub, k_codes=k_codes, train_iters=pq_iters,
        id_col=id_col, vec_col=vec_col,
    )
    cents = ivf_train_centroids(
        embeddings, n_cells, ivf_iters, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)
    corpus = recon.select(id_col, F.col(vec_col).alias("cv")).join(
        ivf_assign(
            embeddings, n_cells, id_col, vec_col, centroids=cents
        ).select(id_col, "cell"),
        id_col,
    )
    probes = ivf_assign(
        queries, n_cells, id_col, vec_col,
        rank_limit=n_probe, centroids=cents,
    ).select(F.col(id_col).alias("query_id"), "cell")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = (
        probes.join(qv, "query_id")
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            id_col,
            F.round(cosine(F.col("qv"), F.col("cv")), ROUND_SCORE).alias(
                "score"
            ),
        )
        .dropDuplicates(["query_id", id_col])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "score")
    )


# mmr_topk broadcasts its selection (a subset of the candidates) up to
# this many candidate rows
_MMR_BROADCAST_ROWS = 1_000_000


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    Goldstein SIGIR'98): from each query's exact top-``k`` candidates,
    greedily select ``m`` results maximizing
    ``lam·relevance − (1−lam)·max_similarity_to_already_selected`` —
    the standard diversification pass between ANN retrieval and
    consumption (dedup-ish neighbors collapse to one representative).
    The first pick is pure relevance; ties break by ascending id, so
    the selection is fully deterministic.

    Returns (query_id, <id_col>, mmr_rank, score) with mmr_rank in
    1..m and score the (rounded) relevance cosine.

    Scale shape: candidate generation is the documented
    brute_force_topk baseline (swap in any bucketed ANN path for the
    same re-rank); everything after is bounded by k per query — the
    candidate pair table is ≤ k² rows per query built by equi-joins on
    query_id, and each of the m greedy rounds is one grouped max +
    one per-query Window over ≤ k rows. No corpus-sized work after
    retrieval; rounds 2..m are superstep rounds over the selection, and
    the result's unpersist() releases all that the call materialized.
    """
    if m < 1 or k < 1:
        raise ValueError("k and m must be >= 1")
    cands, seen = counted_checkpoint(
        brute_force_topk(embeddings, queries, k=k, id_col=id_col,
                         vec_col=vec_col)
    )

    vecs = embeddings.select(F.col(id_col), F.col(vec_col).alias("__v"))
    ca = cands.select("query_id", F.col(id_col).alias("a")).join(
        vecs.select(F.col(id_col).alias("a"), F.col("__v").alias("va")), "a"
    )
    cb = cands.select("query_id", F.col(id_col).alias("b")).join(
        vecs.select(F.col(id_col).alias("b"), F.col("__v").alias("vb")), "b"
    )
    pairs = fresh_checkpoint(
        ca.join(cb, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "b",
            F.round(cosine(F.col("va"), F.col("vb")), ROUND_SCORE)
            .alias("sim"),
        )
    )

    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    first = (
        cands.withColumn("__rn", F.row_number().over(w_rel))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id", id_col,
            F.lit(1).cast("long").alias("mmr_rank"), "score",
        )
    )
    mmr = F.lit(float(lam)) * F.col("score") - F.lit(
        1.0 - float(lam)
    ) * F.col("__msim")
    w_mmr = Window.partitionBy("query_id").orderBy(mmr.desc(), F.asc(id_col))

    def step(sel: DataFrame, rnd) -> DataFrame:
        picked = sel.select("query_id", id_col)
        if seen["rows"] <= _MMR_BROADCAST_ROWS:
            # a fresh checkpoint carries no size estimate: the planner
            # would shuffle the small side instead of broadcasting it
            picked = F.broadcast(picked)
        maxsim = (
            pairs.join(picked.withColumnRenamed(id_col, "b"),
                       ["query_id", "b"])
            .groupBy("query_id", F.col("a").alias(id_col))
            .agg(F.max("sim").alias("__msim"))
        )
        rem = cands.join(picked, ["query_id", id_col], "left_anti")
        pick = (
            rem.join(maxsim, ["query_id", id_col])
            .withColumn("__rn", F.row_number().over(w_mmr))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id", id_col,
                F.lit(rnd.index + 2).cast("long").alias("mmr_rank"),
                "score",
            )
        )
        return sel.unionByName(pick)

    sel = superstep(first, step, rounds=m - 1)
    return bind_release(sel.select("*"), sel, cands, pairs)


def top_pc_direction(
    embeddings: DataFrame,
    rounds: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list, list]:
    """(mean, direction) of the corpus's first principal component by
    power iteration — the shared core of top_pc_projection and the
    whitened dedup path. Both lists are d floats of driver state; see
    top_pc_projection for the determinism contract (rounded means and
    gather sums, re-rounded direction, largest-|loading| sign pivot).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    dim = len(embeddings.select(vec_col).first()[0])

    ex = fresh_checkpoint(embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("ev")
    ))

    mean_rows = (
        ex.select(F.posexplode("ev").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .collect()
    )
    mean = [0.0] * dim
    for r in mean_rows:
        mean[r["i"]] = r["m"]

    cx = fresh_checkpoint(ex.select(
        F.col(id_col),
        F.zip_with(
            "ev", F.lit(mean).cast("array<double>"), lambda x, m: x - m
        ).alias("cv"),
    ))
    ex.unpersist()

    v = [round(1.0 / dim ** 0.5, 6)] * dim
    for _ in range(rounds):
        vcol = F.lit(v).cast("array<double>")
        w_rows = (
            cx.select(
                _dot(F.col("cv"), vcol).alias("dp"),
                F.posexplode("cv").alias("i", "x"),
            )
            .groupBy("i")
            .agg(F.round(F.sum(F.col("x") * F.col("dp")), 6).alias("w"))
            .collect()
        )
        w = [0.0] * dim
        for r in w_rows:
            w[r["i"]] = r["w"]
        norm = max(sum(t * t for t in w) ** 0.5, 1e-12)
        v = [round(t / norm, 6) for t in w]
    cx.unpersist()

    # deterministic sign: largest-|loading| entry positive
    pivot = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-t for t in v]
    return mean, v


def top_pc_projection(
    embeddings: DataFrame,
    rounds: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """First principal component of the (mean-centered) embedding set
    by power iteration, returned as each vector's projection onto it —
    the embedding-pipeline diagnostic/whitening primitive (dominant-
    direction removal à la all-but-the-top, outlier screening, PCA
    sanity checks before ANN deployment).

    Power iteration never forms the d×d Gram matrix: each round is
    w = Σ_x c_x·(c_x·v) — ONE corpus pass computing per-vector dot
    products plus one d-row grouped sum — so the cost is O(n·d) per
    round regardless of d², and the only driver state is the d-float
    direction vector. Determinism contract (the ivf_kmeans trick):
    per-dim means and gather sums are rounded to 6 decimals before the
    (driver-side, fixed-order) normalization, and the direction is
    re-rounded each round, so the SQL twin reproduces the iteration
    bit for bit. Sign convention: the entry of largest |value| in the
    final direction is made positive (deterministic across engines).

    Returns (id, pc1) with pc1 = centered-vector · direction, rounded
    to ROUND_SCORE.
    """
    mean, v = top_pc_direction(embeddings, rounds, id_col, vec_col)
    cx = embeddings.select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.lit(mean).cast("array<double>"),
            lambda x, m: x - m,
        ).alias("cv"),
    )
    return cx.select(
        F.col(id_col),
        F.round(_dot(F.col("cv"), F.lit(v).cast("array<double>")),
                ROUND_SCORE).alias("pc1"),
    )


def embedding_dup_pairs_whitened(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.35,
    rounds: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs over WHITENED embeddings: center, remove
    the top principal component (all-but-the-top — the dominant
    direction every vector shares inflates raw cosines and masks true
    neighbors), then run the audited LSH-bucketed dup detection on the
    residuals r = c − (c·v)·v. The post-PC residual arithmetic is
    bit-deterministic (ordered-fold dots over the rounded mean and
    direction), so buckets and scores reproduce exactly in the twin.

    Scale shape: top_pc_direction's per-round corpus pass + d-row
    grouped sum, then exactly embedding_dup_pairs_lsh's bucket-key
    equi-join over residual vectors — never an all-pairs cross join.
    """
    mean, v = top_pc_direction(embeddings, rounds, id_col, vec_col)
    vcol = F.lit(v).cast("array<double>")
    cx = embeddings.select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.lit(mean).cast("array<double>"),
            lambda x, m: x - m,
        ).alias("cv"),
    )
    res = cx.select(
        F.col(id_col),
        F.zip_with(
            "cv",
            F.transform(vcol, lambda t: t * _dot(F.col("cv"), vcol)),
            lambda c, p: c - p,
        ).alias("rv"),
    ).filter(_dot(F.col("rv"), F.col("rv")) > 0)  # exact-PC vectors out
    return embedding_dup_pairs_lsh(
        res, dim=dim, threshold=threshold, n_planes=n_planes,
        id_col=id_col, vec_col="rv",
    )


def knn_graph(
    embeddings: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN graph over the corpus: (src, dst, rank, score)
    — each vector's top-k rounded-cosine neighbors among its
    hyperplane-LSH bucket cohort (rank by score desc, id asc; rounded
    scores make the ties deterministic). The semantic-graph builder:
    its output is a LinkGraph edge table, so every graph kernel (LPA
    topics, components, PageRank centrality of documents) composes
    directly on embedding similarity.

    100 TB plan: the same bucket-join discipline as
    embedding_dup_pairs_lsh — candidate fan-out is Σ bucket², tuned by
    n_planes, never the all-pairs cross join; the per-src top-k window
    sorts only a bucket-sized candidate list per vector. Recall knob:
    n_planes down (bigger buckets) or multi-probe on the src side
    (sim_lsh_multiprobe_topk's mechanism) — both leave the plan shape
    unchanged."""
    from pyspark.sql import Window

    b = embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        lsh_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    l = b.select("bucket", F.col(id_col).alias("src"), F.col("v").alias("av"))
    r = b.select("bucket", F.col(id_col).alias("dst"), F.col("v").alias("bv"))
    cand = (
        l.join(r, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(cosine(F.col("av"), F.col("bv")), ROUND_SCORE).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("score").desc(), F.col("dst").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "rank", "score")
    )


FEATPROP_SCALE = 1_000_000  # micro-units: exact integer feature sums


def feature_propagation(
    embeddings: DataFrame,
    edges: DataFrame,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Graph feature smoothing — the propagation step of
    Correct & Smooth (Huang et al. 2021) / feature-prop GNN inference:
    each round replaces every vertex's feature vector with the mean of
    its neighbors' vectors under `edges` (src, dst), vertices with no
    in-edges keeping their current vector. Returns the EXPLODED form
    (vec_id, dim, value) — one row per vector component — so the
    result compares scalar-exactly across engines.

    Determinism contract (the doc_lm_score floor-scaled-integer
    pattern): vectors are quantized to floor(v * 1e6) BIGINT micro-units
    before each round's sum, the mean is one integer floor-division per
    component, and only the final output divides back to a rounded
    double — no float accumulates in any aggregation, so the result is
    bit-identical at any partitioning and in the DuckDB twin.

    100 TB plan: one round = edges ⋈ features(src) → posexplode to
    (dst, dim, unit) → map-side-combined groupBy(dst, dim) sum/count →
    re-assemble via sort_array(collect_list(struct(dim, q))). Cost
    E·dim rows through one exchange per round — the standard
    feature-prop bill; hub rows fan out by dim only, never by degree²."""
    q = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x * F.lit(float(FEATPROP_SCALE))).cast(
                "long"
            ),
        ).alias("qv"),
    )
    for _ in range(rounds):
        contrib = (
            edges.join(q.select(F.col("id").alias("src"), "qv"), "src")
            .select(
                F.col("dst").alias("id"),
                F.posexplode("qv").alias("dim", "unit"),
            )
            .groupBy("id", "dim")
            .agg(
                F.sum("unit").alias("s"),
                F.count("*").alias("c"),
            )
            .select(
                "id",
                "dim",
                F.floor(F.col("s") / F.col("c")).cast("long").alias("u"),
            )
        )
        agg = contrib.groupBy("id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "u"))
                ),
                lambda s: s["u"],
            ).alias("nqv")
        )
        q = q.join(agg, "id", "left").select(
            "id", F.coalesce("nqv", "qv").alias("qv")
        )
    return q.select(
        "id",
        F.posexplode("qv").alias("dim", "unit"),
    ).select(
        F.col("id").alias(id_col),
        "dim",
        F.round(F.col("unit") / F.lit(float(FEATPROP_SCALE)), 6).alias(
            "value"
        ),
    )


def graph_beam_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    knn_edges: DataFrame,
    k: int = 10,
    beam: int = 12,
    rounds: int = 3,
    entry: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Graph-based ANN (the HNSW/NSW serving pattern, flattened to
    synchronous beam rounds so it distributes): every query starts at
    the `entry` vertex of a prebuilt k-NN graph (knn_graph output);
    each round expands the current beam's out-neighbors, scores
    beam ∪ expansion by exact rounded cosine against the query, and
    keeps the top-`beam` (score desc, id asc — deterministic). After
    `rounds` rounds the beam's top-k (self-match excluded) is the
    answer. Returns (query_id, vec_id, score).

    This is the third ANN family next to LSH-bucket probing and IVF
    lists: recall comes from graph expansion rather than hash/cell
    recall, so it trades rounds (latency) for bucket-size/fan-out
    tuning. Deterministic start + deterministic tie-breaks give it a
    real unrolled SQL twin like everything else.

    100 TB plan: per round the state is |Q|·beam rows; expansion joins
    the (cached, id-keyed) k-NN adjacency and the embedding table by
    vector id only — |Q|·beam·k candidate rows through one exchange,
    never a corpus scan per query. The k-NN graph build amortizes over
    every query served from it (the index-once/serve-many economics of
    graph ANN)."""
    from pyspark.sql import Window

    emb = embeddings.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    edges = knn_edges.select(F.col("src").alias("cid"), F.col("dst"))
    # entry as a column EXPRESSION (not a foldable literal): a constant
    # cid would make Catalyst rewrite the first expansion join into a
    # BroadcastNestedLoopJoin; query_id*0 + entry keeps a real join key
    # with identical values, so every round is a hash equi-join
    bm = q.select(
        "query_id",
        (F.col("query_id") * 0 + F.lit(entry)).cast("long").alias("cid"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("cid").asc()
    )
    for _ in range(rounds):
        exp = bm.join(edges, "cid").select(
            "query_id", F.col("dst").alias("cid")
        )
        cand = bm.select("query_id", "cid").union(exp).distinct()
        scored = (
            cand.join(emb, "cid")
            .join(q, "query_id")
            .select(
                "query_id",
                "cid",
                F.round(cosine(F.col("qv"), F.col("cv")), ROUND_SCORE).alias(
                    "score"
                ),
            )
        )
        bm = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= beam)
            .select("query_id", "cid")
        )
    final = (
        bm.join(emb, "cid")
        .join(q, "query_id")
        .filter(F.col("cid") != F.col("query_id"))
        .select(
            "query_id",
            "cid",
            F.round(cosine(F.col("qv"), F.col("cv")), ROUND_SCORE).alias(
                "score"
            ),
        )
    )
    return (
        final.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("cid").alias(id_col), "score")
    )
