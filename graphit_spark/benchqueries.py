"""Driver-contract queries: Spark callables + DuckDB oracle SQL twins.

Each query exists twice: an idiomatic-Spark implementation (these are the
engine's public operators running on an edge table derived
DETERMINISTICALLY from the driver's testdata parquet) and an ANSI-SQL
string DuckDB runs on the same parquet views. The driver compares
row-count + schema + order-insensitive value hash at sf=0.01
(CORRECTNESS_r{N}.json); tests/test_entry.py runs the same comparison
locally first.

Derived graphs (identical arithmetic in both languages):
  raw edges    : src = o_custkey, dst = o_orderkey % |customer|
  blocked edges: dst confined to src's block of 100 ids (multiple
                 components — exercises CC/LPA non-trivially)
  weighted     : weight = 1 + o_orderkey % 7

Floats are rounded (ROUND_RANK decimals) on BOTH sides before hashing —
double arithmetic is associative-order-dependent and Spark/DuckDB sum in
different orders; rank magnitudes (~1e-3) make 1e-18 absolute error
invisible at 6 decimals of rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphit_spark.graph import LinkGraph
from graphit_spark.plans.state import counted_checkpoint, superstep

PR_ITERS = 10
CC_ROUNDS = 8
HITS_ROUNDS = 6
TRUSS_K = 4
TRUSS_ROUNDS = 24  # SQL twin round budget; idempotent past the fixpoint
LPA_ROUNDS = 4
# Louvain parity-alternating movers: ~rounds/2 full sweeps. Measured on
# the blocked sf0.01 graph (100-vertex block communities): Q(move)
# grows 0.51 -> 0.73 -> 0.84 over 6/8/10 rounds and the two-level pass
# reaches 0.88 at 10 — above LPA's 0.84 on its best-case graph — so 10
# is the committed budget (shared with the SQL twins).
LOUVAIN_ROUNDS = 10
BFS_ROUNDS = 10
N_LANDMARKS = 4
SSSP_ROUNDS = 10
BLOCK = 100
ROUND_RANK = 6
LINKPRED_MIN_CN = 2
LINKPRED_TOPK = 5
SALSA_ROUNDS = 6
COOC_WINDOW = 2
# scc_condensation's engine budget: 2x the condensation depth measured
# at sf0.1 (94). It is a safety net — the kernel raises if layers still
# change when it runs out, and the twin has no budget.
LAYER_ROUNDS = 188

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _num_customers(spark: SparkSession, sf_dir: str) -> int:
    return load(spark, sf_dir, "customer").count()


def raw_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _num_customers(spark, sf_dir)
    return load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % F.lit(c)).alias("dst"),
    )


def blocked_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _num_customers(spark, sf_dir)
    src = F.col("o_custkey")
    return load(spark, sf_dir, "orders").select(
        src.alias("src"),
        ((src - src % BLOCK + F.col("o_orderkey") % BLOCK) % F.lit(c)).alias("dst"),
    )


def weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _num_customers(spark, sf_dir)
    return load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % F.lit(c)).alias("dst"),
        (F.lit(1) + F.col("o_orderkey") % F.lit(7)).alias("weight"),
    )


def bowtie_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked intra-edges plus a deterministic block-level role
    topology (period 8 over block index b, head vertex = b*BLOCK):
    IN chain (p 0,1) -> core pair (p 2<->3) -> OUT chain (p 3,4), next
    period via p5 +3, tendril branch p1 -> p6 (even periods only — odd
    periods leave p6 isolated = DISCONNECTED), tube p1 -> p7 -> p4
    bypassing the core. Produces all six Broder classes at sf0.01+."""
    c = _num_customers(spark, sf_dir)
    intra = blocked_edges(spark, sf_dir)
    b = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % BLOCK == 0)
        .select(
            ((F.col("c_custkey") - F.col("c_custkey") % BLOCK) / BLOCK)
            .cast("long")
            .alias("b")
        )
    )
    p = F.col("b") % 8
    odd = ((F.col("b") / 8).cast("long") % 2) == 1
    deltas = F.array(
        F.when(p.isin(0, 1, 2, 4), F.lit(1)),
        F.when(p == 3, F.lit(1)),
        F.when(p == 3, F.lit(-1)),
        F.when(p == 5, F.lit(3)),
        F.when((p == 1) & ~odd, F.lit(5)),
        F.when(p == 1, F.lit(6)),
        F.when(p == 7, F.lit(-3)),
    )
    cross = (
        b.select("b", F.explode(deltas).alias("d"))
        .filter(F.col("d").isNotNull())
        .select(
            (F.col("b") * BLOCK).alias("src"),
            ((F.col("b") + F.col("d")) * BLOCK).alias("dst"),
        )
        .filter((F.col("dst") >= 0) & (F.col("dst") < c))
    )
    return intra.unionByName(cross)


#: (sf_dir, variant) -> (session, LinkGraph). The reference benchmark
#: methodology loads a graph ONCE and times kernels against it
#: (graphit_eval/eval/table7/benchmark.py; GAPBS ditto), and the
#: driver's correctness gate runs 148 queries over the same handful of
#: inputs — rebuilding (scan + squish + cache) the identical edge table
#: per query re-pays the build dozens of times per run. Entries are
#: keyed to the owning session (a new SparkSession invalidates cached
#: plans) and re-validated on the persisted flag, so a caller that
#: unpersists a memoized graph just triggers a rebuild on next use.
_GRAPH_MEMO: dict[tuple[str, str], tuple[SparkSession, LinkGraph]] = {}


def graph(
    spark: SparkSession,
    sf_dir: str,
    variant: str = "raw",
    fresh: bool = False,
) -> LinkGraph:
    """The bench/driver input graph, memoized per (session, dir,
    variant) and pre-persisted: a kernel's ``persisted()`` block then
    passes it through, so no kernel releases the shared cache.
    ``fresh=True`` bypasses the memo and returns an unpersisted build
    (for plan-shape tests that must see the parquet scan nodes)."""
    builders = {
        "raw": raw_edges,
        "blocked": blocked_edges,
        "weighted": weighted_edges,
        "bowtie": bowtie_edges,
    }
    if fresh:
        return LinkGraph(builders[variant](spark, sf_dir), persist=False)
    hit = _GRAPH_MEMO.get((sf_dir, variant))
    if hit is not None and hit[0] is spark and hit[1]._persisted:
        return hit[1]
    g = LinkGraph(builders[variant](spark, sf_dir))
    _GRAPH_MEMO[(sf_dir, variant)] = (spark, g)
    return g


# ---------------------------------------------------------------------------
# SQL building blocks (DuckDB dialect = plain ANSI here)
# ---------------------------------------------------------------------------

# Vertex universe [0, max raw id + 1): customer keys are dense [0, C), so
# filtering them by the raw max reproduces spark.range(max+1) exactly.
_SQL_COMMON = """
params AS (SELECT count(*) AS c FROM customer),
raw AS MATERIALIZED (SELECT o_custkey AS src, o_orderkey % (SELECT c FROM params) AS dst
        FROM orders),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raw),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv)),
deg AS MATERIALIZED (SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS out_degree
        FROM verts v LEFT JOIN
             (SELECT src AS id, count(*) AS d FROM edges GROUP BY src) d
        USING (id)),
sym AS MATERIALIZED (SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges)
"""

_SQL_BLOCKED = f"""
params AS (SELECT count(*) AS c FROM customer),
raw AS MATERIALIZED (SELECT o_custkey AS src,
               (o_custkey - o_custkey % {BLOCK} + o_orderkey % {BLOCK})
                 % (SELECT c FROM params) AS dst
        FROM orders),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raw),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv)),
sym AS MATERIALIZED (SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges)
"""


_SQL_BOWTIE = f"""
params AS (SELECT count(*) AS c FROM customer),
intra AS MATERIALIZED (
  SELECT o_custkey AS src,
         (o_custkey - o_custkey % {BLOCK} + o_orderkey % {BLOCK})
           % (SELECT c FROM params) AS dst
  FROM orders
),
heads AS MATERIALIZED (
  SELECT c_custkey // {BLOCK} AS b,
         (c_custkey // {BLOCK}) % 8 AS p,
         ((c_custkey // {BLOCK}) // 8) % 2 AS odd
  FROM customer WHERE c_custkey % {BLOCK} = 0
),
crossed AS MATERIALIZED (
  SELECT b * {BLOCK} AS src, (b + d) * {BLOCK} AS dst
  FROM (
    SELECT b, 1 AS d FROM heads WHERE p IN (0, 1, 2, 4)
    UNION ALL SELECT b, 1 FROM heads WHERE p = 3
    UNION ALL SELECT b, -1 FROM heads WHERE p = 3
    UNION ALL SELECT b, 3 FROM heads WHERE p = 5
    UNION ALL SELECT b, 5 FROM heads WHERE p = 1 AND odd = 0
    UNION ALL SELECT b, 6 FROM heads WHERE p = 1
    UNION ALL SELECT b, -3 FROM heads WHERE p = 7
  ) r
  WHERE (b + d) * {BLOCK} >= 0 AND (b + d) * {BLOCK} < (SELECT c FROM params)
),
raw AS MATERIALIZED (
  SELECT src, dst FROM intra UNION ALL SELECT src, dst FROM crossed
),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raw),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv))
"""


def _pr_chain(iters: int) -> list[str]:
    """The PageRank twin's unrolled CTE chain r0..r{iters} (shared by
    pagerank_sql and the kernel_certificates twin, which needs one
    extra unrounded iteration)."""
    ctes = [_SQL_COMMON.strip().rstrip(","),
            "r0 AS (SELECT id, 1e0 / (SELECT n FROM nv) AS rank FROM verts)"]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - 0.85e0) / (SELECT n FROM nv)
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.out_degree) AS acc
    FROM edges e
    JOIN {p} r ON e.src = r.id
    JOIN deg d ON e.src = d.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return ctes


def pagerank_sql(iters: int = PR_ITERS) -> str:
    return (
        "WITH " + ",\n".join(_pr_chain(iters))
        + f"\nSELECT id, round(rank, {ROUND_RANK}) AS rank FROM r{iters} ORDER BY id"
    )


def pagerank_delta_sql(
    iters: int = PR_ITERS, damp: float = 0.85, eps2: float = 0.1
) -> str:
    """Exact SQL twin of kernels/pagerank.py::pagerank_delta (reference
    apps/pagerankdelta.gt:15-31): per round, frontier members scatter
    delta/out_degree; round 1 applies the beta shift and the 1/n delta
    correction; frontier = |delta| > eps2 * cur_rank.

    Float safety: both engines run the identical recurrence in double;
    sum-order differences are ~1e-14 while the frontier-test margin is
    ~rank-magnitude (1e-3), so the boolean branch is stable and the
    4-decimal output rounding absorbs the residue."""
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        "p0 AS (SELECT id, out_degree, 0e0 AS cur_rank,"
        " 1e0 / (SELECT n FROM nv) AS delta, TRUE AS in_frontier FROM deg)",
    ]
    beta = f"(1e0 - {damp}e0) / (SELECT n FROM nv)"
    for k in range(1, iters + 1):
        p = f"p{k - 1}"
        if k == 1:
            # nd0 = damp*ngh + beta; rank = cur + nd0; delta = nd0 - 1/n
            outer = f"""
  SELECT id, out_degree,
         cur_rank + nd0 AS cur_rank,
         nd0 - 1e0 / (SELECT n FROM nv) AS delta,
         abs(nd0 - 1e0 / (SELECT n FROM nv))
           > {eps2}e0 * (cur_rank + nd0) AS in_frontier
  FROM inner_{k}"""
            nd = f"{damp}e0 * coalesce(s.ngh, 0e0) + {beta} AS nd0"
        else:
            outer = f"""
  SELECT id, out_degree,
         cur_rank + nd0 AS cur_rank,
         nd0 AS delta,
         abs(nd0) > {eps2}e0 * (cur_rank + nd0) AS in_frontier
  FROM inner_{k}"""
            nd = f"{damp}e0 * coalesce(s.ngh, 0e0) AS nd0"
        ctes.append(
            f"""inner_{k} AS MATERIALIZED (
  SELECT v.id, v.out_degree, v.cur_rank, {nd}
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, sum(s.delta / s.out_degree) AS ngh
    FROM edges e JOIN {p} s ON e.src = s.id
    WHERE s.in_frontier AND s.out_degree > 0
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
        ctes.append(f"p{k} AS MATERIALIZED ({outer}\n)")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(cur_rank, 4) AS rank FROM p{iters} ORDER BY id"
    )


def cf_sql(iters: int = 3, k: int = 20,
           step: float = 0.00000035, lam: float = 0.001) -> str:
    """Exact SQL twin of kernels/cf.py (reference apps/cf.gt:1-49):
    per round, per weighted edge err = w - <latent[src], latent[dst]>,
    errv[dst] += latent[src]*err componentwise, then the GD vertex update.
    DuckDB DOUBLE[] lists mirror the array<double> column; both engines
    left-fold the dot product in index order, and the only sum-order
    noise (errv groupBy) enters scaled by step=3.5e-7 — invisible at the
    6-decimal output rounding. No float-conditioned branches (the errv
    NULL check is structural)."""
    prefix = """
params AS (SELECT count(*) AS c FROM customer),
raww AS MATERIALIZED (SELECT o_custkey AS src, o_orderkey % (SELECT c FROM params) AS dst,
               1 + o_orderkey % 7 AS w
        FROM orders),
wedges AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM raww WHERE src <> dst
           GROUP BY src, dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raww),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv))
"""
    init = "[" + ", ".join(["0.5e0"] * k) + "]"
    ctes = [prefix.strip(),
            f"c0 AS (SELECT id, {init}::DOUBLE[] AS latent FROM verts)"]
    for r in range(1, iters + 1):
        p = f"c{r - 1}"
        sums = ", ".join(
            f"sum(ls.latent[{i + 1}]"
            f" * (e.w - list_dot_product(ls.latent, ld.latent)))"
            for i in range(k)
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT e.dst AS id, [{sums}]::DOUBLE[] AS errv
  FROM wedges e
  JOIN {p} ls ON e.src = ls.id
  JOIN {p} ld ON e.dst = ld.id
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""c{r} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN m.errv IS NULL THEN
           list_transform(v.latent, x -> x + {step!r} * (-{lam!r} * x))
         ELSE
           list_transform(list_zip(v.latent, m.errv),
             z -> z[1] + {step!r} * (-{lam!r} * z[1] + z[2]))
         END AS latent
  FROM {p} v LEFT JOIN m{r} m USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(latent[1], 6) AS latent_0 FROM c{iters} ORDER BY id"
    )


def out_degrees_sql() -> str:
    return (
        "WITH " + _SQL_COMMON.strip()
        + "\nSELECT id, out_degree FROM deg ORDER BY id"
    )


def _cc_chain(rounds: int) -> list[str]:
    ctes = [_SQL_BLOCKED.strip(),
            "l0 AS (SELECT id, id AS comp FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT v.id, least(v.comp, coalesce(m.mn, v.comp)) AS comp
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.comp) AS mn
    FROM sym e JOIN {p} l ON e.src = l.id
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    return ctes


def cc_sql(rounds: int = CC_ROUNDS) -> str:
    return (
        "WITH " + ",\n".join(_cc_chain(rounds))
        + f"\nSELECT id, comp FROM l{rounds} ORDER BY id"
    )


def hits_sql(rounds: int = HITS_ROUNDS) -> str:
    """Iterated-CTE HITS twin: same forward/transpose gathers, same L1
    normalizers with the same zero-sum guard. Float contract as the
    other iterated twins: both engines run the identical linear
    recurrence; the normalizer sums differ only in sum order (~1e-15
    relative) and there is no float-conditioned branch, so the
    6-decimal rounding absorbs the residue."""
    ctes = [_SQL_COMMON.strip().rstrip(","),
            "h0 AS (SELECT id, 1e0 AS hub, 1e0 AS auth FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"h{k - 1}"
        ctes.append(
            f"""ar{k} AS MATERIALIZED (
  SELECT v.id, coalesce(s.x, 0e0) AS a
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(h.hub) AS x
    FROM edges e JOIN {p} h ON e.src = h.id GROUP BY e.dst
  ) s USING (id)
),
an{k} AS MATERIALIZED (
  SELECT id, a / (CASE WHEN (SELECT sum(a) FROM ar{k}) = 0 THEN 1e0
                       ELSE (SELECT sum(a) FROM ar{k}) END) AS auth
  FROM ar{k}
),
hr{k} AS MATERIALIZED (
  SELECT v.id, coalesce(s.x, 0e0) AS h
  FROM verts v LEFT JOIN (
    SELECT e.src AS id, sum(a.auth) AS x
    FROM edges e JOIN an{k} a ON e.dst = a.id GROUP BY e.src
  ) s USING (id)
),
h{k} AS MATERIALIZED (
  SELECT hr.id,
         hr.h / (CASE WHEN (SELECT sum(h) FROM hr{k}) = 0 THEN 1e0
                      ELSE (SELECT sum(h) FROM hr{k}) END) AS hub,
         an.auth
  FROM hr{k} hr JOIN an{k} an USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(hub, {ROUND_RANK}) AS hub,"
        f" round(auth, {ROUND_RANK}) AS auth FROM h{rounds} ORDER BY id"
    )


def _salsa_round_ctes(
    edges_cte: str, verts_cte: str, rounds: int, prefix: str = ""
) -> list:
    """The SALSA recurrence as reusable CTE text over arbitrary edge /
    vertex CTE names (salsa_sql runs it on the full graph; the
    who_to_follow twin on the circle-of-trust subgraph). Final state is
    `{prefix}s{rounds}`."""
    x = prefix
    ctes = [
        f"""{x}odeg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
         FROM {edges_cte} GROUP BY src),
{x}ideg AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS d
         FROM {edges_cte} GROUP BY dst),
{x}ew AS MATERIALIZED (
  SELECT e.src, e.dst, 1e0 / o.d AS inv_out, 1e0 / i.d AS inv_in
  FROM {edges_cte} e JOIN {x}odeg o ON e.src = o.id
  JOIN {x}ideg i ON e.dst = i.id
),
{x}s0 AS (SELECT id, 1e0 AS hub, 1e0 AS auth FROM {verts_cte})""",
    ]
    for k in range(1, rounds + 1):
        p = f"{x}s{k - 1}"
        ctes.append(
            f"""{x}hr{k} AS MATERIALIZED (
  SELECT v.id, coalesce(s.x, 0e0) AS h
  FROM {verts_cte} v LEFT JOIN (
    SELECT e.src AS id, sum(p.auth * e.inv_in) AS x
    FROM {x}ew e JOIN {p} p ON e.dst = p.id GROUP BY e.src
  ) s USING (id)
),
{x}hn{k} AS MATERIALIZED (
  SELECT id, h / (CASE WHEN (SELECT sum(h) FROM {x}hr{k}) = 0 THEN 1e0
                       ELSE (SELECT sum(h) FROM {x}hr{k}) END) AS hub
  FROM {x}hr{k}
),
{x}ar{k} AS MATERIALIZED (
  SELECT v.id, coalesce(s.x, 0e0) AS a
  FROM {verts_cte} v LEFT JOIN (
    SELECT e.dst AS id, sum(hh.hub * e.inv_out) AS x
    FROM {x}ew e JOIN {x}hn{k} hh ON e.src = hh.id GROUP BY e.dst
  ) s USING (id)
),
{x}s{k} AS MATERIALIZED (
  SELECT hn.id, hn.hub,
         ar.a / (CASE WHEN (SELECT sum(a) FROM {x}ar{k}) = 0 THEN 1e0
                      ELSE (SELECT sum(a) FROM {x}ar{k}) END) AS auth
  FROM {x}hn{k} hn JOIN {x}ar{k} ar USING (id)
)"""
        )
    return ctes


def salsa_sql(rounds: int = SALSA_ROUNDS) -> str:
    """Iterated-CTE SALSA twin: the HITS recurrence with per-edge
    stochastic weights 1/in_deg(dst) and 1/out_deg(src) built once in
    an `ew` CTE — exactly the kernel's pre-attached eweights table.
    Float contract as hits_sql (linear recurrence, sum-order noise only,
    6-decimal rounding)."""
    ctes = [_SQL_COMMON.strip().rstrip(",")]
    ctes += _salsa_round_ctes("edges", "verts", rounds)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(hub, {ROUND_RANK}) AS hub,"
        f" round(auth, {ROUND_RANK}) AS auth FROM s{rounds} ORDER BY id"
    )


def scc_sql() -> str:
    """Exact SCC oracle — DuckDB recursive transitive closure + mutual
    reachability, scc = least mutual partner (incl. self). Round-free,
    unlike the iterated-CTE twins: exact for ANY kernel convergence
    path, so it pins the FW-BW peel's fixpoint, not its schedule."""
    return f"""WITH RECURSIVE
{_SQL_BLOCKED.strip()},
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
mutual AS MATERIALIZED (
  SELECT r1.src AS v, r1.dst AS w
  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
)
SELECT vt.id, CAST(least(vt.id, coalesce(min(m.w), vt.id)) AS BIGINT) AS scc
FROM verts vt LEFT JOIN mutual m ON m.v = vt.id
GROUP BY vt.id
ORDER BY vt.id
"""


def scc_condensation_sql() -> str:
    """Exact SCC labels via the recursive closure (scc_sql's CTEs, on
    the bowtie edge builder), then the exact longest-path layers with no
    round budget: a recursive CTE collects the distinct (component,
    path length) pairs over the condensation DAG — finite, since the DAG
    has no cycle — and each component's layer is the longest."""
    return f"""WITH RECURSIVE {_SQL_BOWTIE.strip()},
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
mutual AS MATERIALIZED (
  SELECT r1.src AS v, r1.dst AS w
  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
),
scc AS MATERIALIZED (
  SELECT vt.id, least(vt.id, coalesce(min(m.w), vt.id)) AS scc
  FROM verts vt LEFT JOIN mutual m ON m.v = vt.id
  GROUP BY vt.id
),
cond AS MATERIALIZED (
  SELECT DISTINCT ls.scc AS cu, ld.scc AS cv
  FROM edges e JOIN scc ls ON e.src = ls.id JOIN scc ld ON e.dst = ld.id
  WHERE ls.scc <> ld.scc
),
lay(c, layer) AS (
  SELECT DISTINCT scc, CAST(0 AS BIGINT) FROM scc
  UNION
  SELECT ce.cv, l.layer + 1 FROM lay l JOIN cond ce ON ce.cu = l.c
)
SELECT s.id, CAST(s.scc AS BIGINT) AS scc, m.layer
FROM scc s JOIN (SELECT c, max(layer) AS layer FROM lay GROUP BY c) m
  ON s.scc = m.c
ORDER BY s.id"""


def pseudo_diameter_sql(rounds: int = BFS_ROUNDS) -> str:
    """Double-BFS twin: same fixed round budget, same (dist desc, id
    asc) farthest-vertex total order as q_pseudo_diameter."""
    ctes = [_SQL_COMMON.strip(),
            "d0 AS (SELECT id, CASE WHEN id = 0 THEN CAST(0 AS BIGINT) END"
            " AS dist FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"d{k - 1}"
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT v.id, least(v.dist, m.mn) AS dist
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.dist) + 1 AS mn
    FROM edges e JOIN {p} l ON e.src = l.id
    WHERE l.dist IS NOT NULL
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    ctes.append(
        f"far AS MATERIALIZED (SELECT id, dist FROM d{rounds}"
        " WHERE dist IS NOT NULL ORDER BY dist DESC, id LIMIT 1)"
    )
    ctes.append(
        "f0 AS (SELECT id, CASE WHEN id = (SELECT id FROM far)"
        " THEN CAST(0 AS BIGINT) END AS dist FROM verts)"
    )
    for k in range(1, rounds + 1):
        p = f"f{k - 1}"
        ctes.append(
            f"""f{k} AS MATERIALIZED (
  SELECT v.id, least(v.dist, m.mn) AS dist
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.dist) + 1 AS mn
    FROM edges e JOIN {p} l ON e.src = l.id
    WHERE l.dist IS NOT NULL
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT CAST(0 AS BIGINT) AS start_id,
       (SELECT id FROM far) AS far_id,
       (SELECT dist FROM far) AS far_dist,
       max(dist) AS pseudo_diameter
FROM f{rounds} WHERE dist IS NOT NULL"""
    )


def clustering_sql() -> str:
    """Same triangle enumeration as tc_per_vertex_sql + symmetrized
    degree; lcc = 2*tri/(deg*(deg-1)) with the same operation order as
    the Spark expression (integer ratios in doubles — exact)."""
    return (
        "WITH " + _SQL_COMMON.strip()
        + """,
und AS (SELECT src, dst FROM sym WHERE src < dst),
tris AS (
  SELECT a.src AS x, a.dst AS y, b.dst AS z
  FROM und a
  JOIN und b ON a.dst = b.src
  JOIN und c ON a.src = c.src AND b.dst = c.dst
),
corners AS (
  SELECT x AS id FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
),
tric AS (
  SELECT v.id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS tri_count
  FROM verts v LEFT JOIN
       (SELECT id, count(*) AS cnt FROM corners GROUP BY id) t USING (id)
),
sdeg AS (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS degree
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
)
SELECT t.id, s.degree, t.tri_count,
       round(CASE WHEN s.degree >= 2
                  THEN 2e0 * t.tri_count / (s.degree * (s.degree - 1))
                  ELSE 0e0 END, 6) AS lcc
FROM tric t JOIN sdeg s ON t.id = s.id
ORDER BY t.id"""
    )


def scan_statistics_sql() -> str:
    """Twin of q_scan_statistics: same triangle enumeration as
    tc_per_vertex_sql, scan1 = sym-degree + tri_count, and the 3-sigma
    anomaly flag evaluated in EXACT integer arithmetic (N*scan1 vs sums
    of BIGINTs) so the flag is bit-deterministic across engines — no
    float mean/stddev ever materializes."""
    return (
        "WITH " + _SQL_COMMON.strip()
        + """,
und AS (SELECT src, dst FROM sym WHERE src < dst),
tris AS (
  SELECT a.src AS x, a.dst AS y, b.dst AS z
  FROM und a
  JOIN und b ON a.dst = b.src
  JOIN und c ON a.src = c.src AND b.dst = c.dst
),
corners AS (
  SELECT x AS id FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
),
per AS (
  SELECT v.id,
         CAST(coalesce(d.d, 0) AS BIGINT) AS degree,
         CAST(coalesce(t.cnt, 0) AS BIGINT) AS tri_count,
         CAST(coalesce(d.d, 0) + coalesce(t.cnt, 0) AS BIGINT) AS scan1
  FROM verts v
  LEFT JOIN (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d
         USING (id)
  LEFT JOIN (SELECT id, count(*) AS cnt FROM corners GROUP BY id) t
         USING (id)
),
st AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(scan1) AS HUGEINT) AS s,
         CAST(sum(scan1 * scan1) AS HUGEINT) AS q
  FROM per
)
SELECT p.id, p.degree, p.tri_count, p.scan1,
       CAST(CASE WHEN CAST(p.scan1 AS HUGEINT) * st.n - st.s > 0
                  AND (CAST(p.scan1 AS HUGEINT) * st.n - st.s)
                      * (CAST(p.scan1 AS HUGEINT) * st.n - st.s)
                      > 9 * (st.n * st.q - st.s * st.s)
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM per p, st
ORDER BY p.id"""
    )


def link_prediction_sql(
    min_cn: int = LINKPRED_MIN_CN, topk: int = LINKPRED_TOPK
) -> str:
    """Same wedge enumeration / RA weighting as the kernel: sym degrees,
    center self-join with u < v, HAVING cn floor, anti-join vs existing
    edges, integer-keyed per-u top-k (cn desc, v asc). ra and jaccard
    round at 6 like every float column (sum order is the only drift)."""
    return (
        "WITH " + _SQL_BLOCKED.strip()
        + f""",
sdeg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
         FROM sym GROUP BY src),
wedge AS (
  SELECT a.dst AS u, b.dst AS v, a.src AS w
  FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
),
cand AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS cn, sum(1e0 / d.d) AS ra_raw
  FROM wedge JOIN sdeg d ON wedge.w = d.id
  GROUP BY u, v
  HAVING count(*) >= {min_cn}
),
nonadj AS (
  SELECT c.u, c.v, c.cn, c.ra_raw
  FROM cand c LEFT JOIN sym e ON c.u = e.src AND c.v = e.dst
  WHERE e.src IS NULL
),
scored AS (
  SELECT n.u, n.v, n.cn,
         round(n.cn / (du.d + dv.d - n.cn), 6) AS jaccard,
         round(n.ra_raw, 6) AS ra
  FROM nonadj n
  JOIN sdeg du ON n.u = du.id
  JOIN sdeg dv ON n.v = dv.id
),
ranked AS (
  SELECT u, v, cn, jaccard, ra,
         row_number() OVER (PARTITION BY u ORDER BY cn DESC, v) AS rk
  FROM scored
)
SELECT u, v, cn, jaccard, ra FROM ranked WHERE rk <= {topk}
ORDER BY u, v"""
    )


def truss_sql(k: int = TRUSS_K, rounds: int = TRUSS_ROUNDS) -> str:
    """Iterated-CTE k-truss twin over the blocked graph: per round,
    per-edge common-neighbor count (the triangle join) on the current
    survivor set, drop support < k-2. Integer-exact; `rounds` only
    needs to exceed the peel's fixpoint (extra rounds are no-ops —
    measured 16 rounds at sf0.01 for k=4). The final SELECT re-scores
    the fixpoint edges, matching the kernel's converged support."""
    ctes = [_SQL_BLOCKED.strip(),
            "u0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM sym"
            " WHERE src < dst)"]
    for i in range(1, rounds + 1):
        p = f"u{i - 1}"
        ctes.append(
            f"""b{i} AS MATERIALIZED (
  SELECT u AS a, v AS b FROM {p} UNION ALL SELECT v, u FROM {p}
),
s{i} AS MATERIALIZED (
  SELECT e.u, e.v, coalesce(c.sup, 0) AS sup
  FROM {p} e LEFT JOIN (
    SELECT e2.u, e2.v, count(*) AS sup
    FROM {p} e2
    JOIN b{i} n1 ON n1.a = e2.u
    JOIN b{i} n2 ON n2.a = e2.v AND n2.b = n1.b
    GROUP BY e2.u, e2.v
  ) c USING (u, v)
),
u{i} AS MATERIALIZED (
  SELECT u, v FROM s{i} WHERE sup >= {k - 2}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT e.u AS src, e.v AS dst, CAST(coalesce(c.sup, 0) AS BIGINT) AS support
FROM u{rounds} e LEFT JOIN (
  SELECT e2.u, e2.v, count(*) AS sup
  FROM u{rounds} e2
  JOIN (SELECT u AS a, v AS b FROM u{rounds}
        UNION ALL SELECT v, u FROM u{rounds}) n1 ON n1.a = e2.u
  JOIN (SELECT u AS a, v AS b FROM u{rounds}
        UNION ALL SELECT v, u FROM u{rounds}) n2
    ON n2.a = e2.v AND n2.b = n1.b
  GROUP BY e2.u, e2.v
) c USING (u, v)
ORDER BY src, dst"""
    )


def lpa_sql(rounds: int = LPA_ROUNDS) -> str:
    ctes = [_SQL_BLOCKED.strip(),
            "l0 AS (SELECT id, id AS label FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT v.id, coalesce(b.label, v.label) AS label
  FROM {p} v LEFT JOIN (
    SELECT id, label FROM (
      SELECT c.id, c.label,
             row_number() OVER (PARTITION BY c.id
                                ORDER BY c.cnt DESC, c.label ASC) AS rn
      FROM (SELECT e.dst AS id, l.label, count(*) AS cnt
            FROM sym e JOIN {p} l ON e.src = l.id
            GROUP BY e.dst, l.label) c
    ) x WHERE rn = 1
  ) b USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, label FROM l{rounds} ORDER BY id"
    )


def triangle_count_sql() -> str:
    return (
        "WITH " + _SQL_COMMON.strip()
        + """,
und AS (SELECT src, dst FROM sym WHERE src < dst)
SELECT count(*) AS triangles
FROM und a
JOIN und b ON a.dst = b.src
JOIN und c ON a.src = c.src AND b.dst = c.dst"""
    )


def triangle_count_approx_sql(sample_exp: int = 2, seed: int = 1) -> str:
    """DOULION twin: identical md5 edge draw (first 32 md5 bits of
    "{min}_{max}_{seed}" < 2^(32-sample_exp)), exact 3-way self-join
    count on the kept set, integer scale by 8**sample_exp."""
    thr = 2 ** (32 - sample_exp)
    scale = 8 ** sample_exp
    return (
        "WITH " + _SQL_COMMON.strip()
        + f""",
und AS (SELECT src, dst FROM sym WHERE src < dst),
kept AS MATERIALIZED (
  SELECT src, dst FROM und
  WHERE ('0x' || substr(md5(CAST(src AS VARCHAR) || '_' ||
                            CAST(dst AS VARCHAR) || '_' || '{seed}'),
                        1, 8))::BIGINT < {thr}
),
tri AS (SELECT count(*) AS t
        FROM kept a
        JOIN kept b ON a.dst = b.src
        JOIN kept c ON a.src = c.src AND b.dst = c.dst)
SELECT CAST(t AS BIGINT) AS sampled_triangles,
       CAST(t * {scale} AS BIGINT) AS triangles_est
FROM tri"""
    )


def tc_per_vertex_sql() -> str:
    return (
        "WITH " + _SQL_COMMON.strip()
        + """,
und AS (SELECT src, dst FROM sym WHERE src < dst),
tris AS (
  SELECT a.src AS x, a.dst AS y, b.dst AS z
  FROM und a
  JOIN und b ON a.dst = b.src
  JOIN und c ON a.src = c.src AND b.dst = c.dst
),
corners AS (
  SELECT x AS id FROM tris
  UNION ALL SELECT y FROM tris
  UNION ALL SELECT z FROM tris
)
SELECT v.id, coalesce(t.cnt, 0) AS tri_count
FROM verts v LEFT JOIN
     (SELECT id, count(*) AS cnt FROM corners GROUP BY id) t USING (id)
ORDER BY v.id"""
    )


def _bfs_chain(rounds: int, source: int) -> list[str]:
    ctes = [_SQL_COMMON.strip(),
            f"d0 AS (SELECT id, CASE WHEN id = {source} THEN CAST(0 AS BIGINT) END AS dist FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"d{k - 1}"
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT v.id, least(v.dist, m.mn) AS dist
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.dist) + 1 AS mn
    FROM edges e JOIN {p} l ON e.src = l.id
    WHERE l.dist IS NOT NULL
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    return ctes


def bfs_sql(rounds: int = BFS_ROUNDS, source: int = 0) -> str:
    return (
        "WITH " + ",\n".join(_bfs_chain(rounds, source))
        + f"\nSELECT id, dist FROM d{rounds} ORDER BY id"
    )


def landmarks_sql(rounds: int = BFS_ROUNDS, k: int = N_LANDMARKS) -> str:
    """Twin of q_landmark_distances: K simultaneous BFS as one unrolled
    union-min recurrence keyed (id, landmark). The sparse-state contract
    matches the kernel — only reached pairs ever appear."""
    ctes = [
        _SQL_COMMON.strip(),
        f"""seeds AS MATERIALIZED (
  SELECT id FROM deg ORDER BY out_degree DESC, id ASC LIMIT {k})""",
        "d0 AS (SELECT id, id AS landmark, CAST(0 AS BIGINT) AS dist"
        " FROM seeds)",
    ]
    for r in range(1, rounds + 1):
        p = f"d{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT id, landmark, min(dist) AS dist FROM (
    SELECT id, landmark, dist FROM {p}
    UNION ALL
    SELECT e.dst AS id, l.landmark, l.dist + 1 AS dist
    FROM edges e JOIN {p} l ON e.src = l.id
  ) u GROUP BY id, landmark
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, landmark, dist FROM d{rounds} ORDER BY id, landmark"
    )


def _sssp_chain(rounds: int, source: int) -> list[str]:
    prefix = """
params AS (SELECT count(*) AS c FROM customer),
raww AS MATERIALIZED (SELECT o_custkey AS src, o_orderkey % (SELECT c FROM params) AS dst,
               1 + o_orderkey % 7 AS w
        FROM orders),
wedges AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM raww WHERE src <> dst
           GROUP BY src, dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raww),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv))
"""
    ctes = [prefix.strip(),
            f"d0 AS (SELECT id, CASE WHEN id = {source} THEN CAST(0 AS BIGINT) END AS dist FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"d{k - 1}"
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT v.id, least(v.dist, m.mn) AS dist
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.dist + e.w) AS mn
    FROM wedges e JOIN {p} l ON e.src = l.id
    WHERE l.dist IS NOT NULL
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    return ctes


def sssp_sql(rounds: int = SSSP_ROUNDS, source: int = 0) -> str:
    return (
        "WITH " + ",\n".join(_sssp_chain(rounds, source))
        + f"\nSELECT id, dist FROM d{rounds} ORDER BY id"
    )


EC_ROUNDS = 6


def eigenvector_sql(rounds: int = EC_ROUNDS) -> str:
    """Un-normalized power iteration (test/input/eigenvector_centrality.gt):
    ec'[dst] = Σ ec[src] over all edges, fixed round count."""
    ctes = [_SQL_COMMON.strip().rstrip(","),
            "e0 AS (SELECT id, 1e0 / (SELECT n FROM nv) AS ec FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"e{k - 1}"
        ctes.append(
            f"""e{k} AS MATERIALIZED (
  SELECT v.id, coalesce(s.acc, 0e0) AS ec
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.ec) AS acc
    FROM edges e JOIN {p} r ON e.src = r.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(ec, {ROUND_RANK}) AS ec FROM e{rounds} ORDER BY id"
    )


KATZ_ALPHA = 0.1
KATZ_BETA = 1.0
KATZ_ROUNDS = EC_ROUNDS


def katz_sql(rounds: int = KATZ_ROUNDS, alpha: float = KATZ_ALPHA,
             beta: float = KATZ_BETA) -> str:
    """Twin of kernels/centrality.py::katz_centrality: fixed-round
    attenuated gather — katz'[dst] = alpha * SUM katz[src] + beta,
    init katz = beta. Same recurrence shape as eigenvector_sql."""
    ctes = [_SQL_COMMON.strip().rstrip(","),
            f"k0 AS (SELECT id, {beta}e0 AS katz FROM verts)"]
    for k in range(1, rounds + 1):
        p = f"k{k - 1}"
        ctes.append(
            f"""k{k} AS MATERIALIZED (
  SELECT v.id, {alpha}e0 * coalesce(s.acc, 0e0) + {beta}e0 AS katz
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.katz) AS acc
    FROM edges e JOIN {p} r ON e.src = r.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(katz, {ROUND_RANK}) AS katz"
        f" FROM k{rounds} ORDER BY id"
    )


def fused_pr_ec_sql(rounds: int = EC_ROUNDS, damp: float = 0.85) -> str:
    """Twin of kernels/fused.py::fused_pr_eigenvector (reference
    eigenvector_pr_fusion.gt): both recurrences advanced from the same
    per-round edge aggregation — the fusion is semantic no-op, so the SQL
    simply computes both accumulator columns in the one grouped subquery,
    exactly like the fused Spark plan's single groupBy(dst)."""
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        "f0 AS (SELECT id, out_degree, 1e0 / (SELECT n FROM nv) AS rank,"
        " 1e0 / (SELECT n FROM nv) AS ec FROM deg)",
    ]
    for k in range(1, rounds + 1):
        p = f"f{k - 1}"
        ctes.append(
            f"""f{k} AS MATERIALIZED (
  SELECT v.id, v.out_degree,
         (1e0 - {damp}e0) / (SELECT n FROM nv)
           + {damp}e0 * coalesce(s.pr_acc, 0e0) AS rank,
         coalesce(s.ec_acc, 0e0) AS ec
  FROM deg v LEFT JOIN (
    SELECT e.dst AS id,
           sum(r.rank / r.out_degree) AS pr_acc,
           sum(r.ec) AS ec_acc
    FROM edges e JOIN {p} r ON e.src = r.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, {ROUND_RANK}) AS rank,"
        f" round(ec, {ROUND_RANK}) AS ec FROM f{rounds} ORDER BY id"
    )


HOST_ROLLUP_SQL = (
    "WITH " + _SQL_COMMON.strip()
    + """
SELECT cs.c_nationkey AS src_host, cd.c_nationkey AS dst_host,
       count(*) AS n_links
FROM edges e
JOIN customer cs ON e.src = cs.c_custkey
JOIN customer cd ON e.dst = cd.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2"""
)


def host_pagerank_sql(iters: int = PR_ITERS, damp: float = 0.85) -> str:
    """Twin of q_host_pagerank: page edges contracted to the host
    (nation) level with link-count weights, then weight-proportional
    PageRank (kernels/pagerank.py::weighted_pagerank). The quotient
    universe is max-group-id+1 over the rollup INCLUDING intra-host
    self-loops (LinkGraph FindMaxNodeID semantics on the contract
    output); the iterated recurrence then runs on the squished
    (self-loop-free) host edges."""
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        """hall AS MATERIALIZED (
  SELECT cs.c_nationkey AS src, cd.c_nationkey AS dst, count(*) AS w
  FROM edges e
  JOIN customer cs ON e.src = cs.c_custkey
  JOIN customer cd ON e.dst = cd.c_custkey
  GROUP BY 1, 2
)""",
        "hedges AS MATERIALIZED (SELECT src, dst, w FROM hall WHERE src <> dst)",
        "hnv AS (SELECT max(greatest(src, dst)) + 1 AS n FROM hall)",
        # nation keys are dense [0, 25): filtering by the rollup's max
        # reproduces spark.range(n) exactly (the customer-table trick of
        # _SQL_COMMON, one level up the rollup hierarchy)
        "hverts AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS id"
        " FROM nation WHERE n_nationkey < (SELECT n FROM hnv))",
        """hwdeg AS MATERIALIZED (
  SELECT v.id, coalesce(sum(e.w), 0) AS wdeg
  FROM hverts v LEFT JOIN hedges e ON e.src = v.id GROUP BY v.id
)""",
        "h0 AS (SELECT id, 1e0 / (SELECT n FROM hnv) AS rank FROM hverts)",
    ]
    for k in range(1, iters + 1):
        p = f"h{k - 1}"
        ctes.append(
            f"""h{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - {damp}e0) / (SELECT n FROM hnv)
           + {damp}e0 * coalesce(s.acc, 0e0) AS rank
  FROM hverts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.wdeg * e.w) AS acc
    FROM hedges e
    JOIN {p} r ON e.src = r.id
    JOIN hwdeg d ON e.src = d.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, {ROUND_RANK}) AS rank FROM h{iters} ORDER BY id"
    )


TRUST_SEEDS = [0, 5, 10, 15, 20]


def host_trustrank_sql(iters: int = PR_ITERS, damp: float = 0.85,
                       seeds: list[int] | None = None) -> str:
    """Twin of q_host_trustrank (kernels/pagerank.py::trustrank over the
    weighted host rollup): teleport mass returns uniformly to the seed
    hosts only — t0 = seed distribution, t' = (1-d)*seed + d*weighted
    gather. Same rollup/universe CTEs as host_pagerank_sql."""
    seeds = TRUST_SEEDS if seeds is None else seeds
    inlist = ", ".join(str(s) for s in sorted(set(seeds)))
    mass = 1.0 / len(set(seeds))
    seed_expr = f"CASE WHEN id IN ({inlist}) THEN {mass!r}::DOUBLE ELSE 0e0 END"
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        """hall AS MATERIALIZED (
  SELECT cs.c_nationkey AS src, cd.c_nationkey AS dst, count(*) AS w
  FROM edges e
  JOIN customer cs ON e.src = cs.c_custkey
  JOIN customer cd ON e.dst = cd.c_custkey
  GROUP BY 1, 2
)""",
        "hedges AS MATERIALIZED (SELECT src, dst, w FROM hall WHERE src <> dst)",
        "hnv AS (SELECT max(greatest(src, dst)) + 1 AS n FROM hall)",
        "hverts AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS id"
        " FROM nation WHERE n_nationkey < (SELECT n FROM hnv))",
        """hwdeg AS MATERIALIZED (
  SELECT v.id, coalesce(sum(e.w), 0) AS wdeg
  FROM hverts v LEFT JOIN hedges e ON e.src = v.id GROUP BY v.id
)""",
        f"t0 AS (SELECT id, {seed_expr} AS trust FROM hverts)",
    ]
    for k in range(1, iters + 1):
        p = f"t{k - 1}"
        ctes.append(
            f"""t{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - {damp}e0) * {seed_expr}
           + {damp}e0 * coalesce(s.acc, 0e0) AS trust
  FROM hverts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.trust / d.wdeg * e.w) AS acc
    FROM hedges e
    JOIN {p} r ON e.src = r.id
    JOIN hwdeg d ON e.src = d.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(trust, {ROUND_RANK}) AS trust"
        f" FROM t{iters} ORDER BY id"
    )



def host_spam_mass_sql(iters: int = PR_ITERS, damp: float = 0.85,
                       seeds: list[int] | None = None) -> str:
    """Twin of q_host_spam_mass (kernels/fused.py::fused_trust_spam):
    both recurrences advanced from ONE grouped subquery per round —
    exactly the fused Spark plan's single groupBy(dst) — then
    spam_mass = (rank - trust)/rank."""
    seeds = TRUST_SEEDS if seeds is None else seeds
    inlist = ", ".join(str(s) for s in sorted(set(seeds)))
    mass = 1.0 / len(set(seeds))
    seed_expr = f"CASE WHEN id IN ({inlist}) THEN {mass!r}::DOUBLE ELSE 0e0 END"
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        """hall AS MATERIALIZED (
  SELECT cs.c_nationkey AS src, cd.c_nationkey AS dst, count(*) AS w
  FROM edges e
  JOIN customer cs ON e.src = cs.c_custkey
  JOIN customer cd ON e.dst = cd.c_custkey
  GROUP BY 1, 2
)""",
        "hedges AS MATERIALIZED (SELECT src, dst, w FROM hall WHERE src <> dst)",
        "hnv AS (SELECT max(greatest(src, dst)) + 1 AS n FROM hall)",
        "hverts AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS id"
        " FROM nation WHERE n_nationkey < (SELECT n FROM hnv))",
        """hwdeg AS MATERIALIZED (
  SELECT v.id, coalesce(sum(e.w), 0) AS wdeg
  FROM hverts v LEFT JOIN hedges e ON e.src = v.id GROUP BY v.id
)""",
        f"f0 AS (SELECT id, 1e0 / (SELECT n FROM hnv) AS rank,"
        f" {seed_expr} AS trust FROM hverts)",
    ]
    for k in range(1, iters + 1):
        p = f"f{k - 1}"
        ctes.append(
            f"""f{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - {damp}e0) / (SELECT n FROM hnv)
           + {damp}e0 * coalesce(s.pr_acc, 0e0) AS rank,
         (1e0 - {damp}e0) * {seed_expr}
           + {damp}e0 * coalesce(s.tr_acc, 0e0) AS trust
  FROM hverts v LEFT JOIN (
    SELECT e.dst AS id,
           sum(r.rank / d.wdeg * e.w) AS pr_acc,
           sum(r.trust / d.wdeg * e.w) AS tr_acc
    FROM hedges e
    JOIN {p} r ON e.src = r.id
    JOIN hwdeg d ON e.src = d.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT id, round(rank, {ROUND_RANK}) AS rank,
       round(trust, {ROUND_RANK}) AS trust,
       round((rank - trust) / rank, {ROUND_RANK}) AS spam_mass
FROM f{iters} ORDER BY id"""
    )



def closeness_sql(rounds: int = SSSP_ROUNDS, source: int = 0) -> str:
    """Weighted closeness per apps/closeness_centrality_weighted.gt:
    SSSP distances with unreached mapped to 0 (final_vertex_f)."""
    inner = sssp_sql(rounds, source)
    head, _, tail = inner.rpartition("\nSELECT id, dist FROM ")
    last = tail.split(" ")[0]
    return (
        head
        + f"\nSELECT id, coalesce(dist, CAST(0 AS BIGINT)) AS dist FROM {last} ORDER BY id"
    )


def relabel_sql() -> str:
    return (
        "WITH " + _SQL_COMMON.strip()
        + """
SELECT id, CAST(row_number() OVER (ORDER BY out_degree DESC, id ASC) - 1
           AS BIGINT) AS new_id
FROM deg ORDER BY id"""
    )


def adjacency_sql() -> str:
    return (
        "WITH " + _SQL_COMMON.strip()
        + """
SELECT src, array_to_string(list_sort(list(dst)), ',') AS nbrs_csv
FROM edges GROUP BY src ORDER BY src"""
    )


HB_P = 4  # 16 HLL registers per ball — ranking precision (~26% rel err)
HB_ROUNDS = 6  # fixed hop budget; idempotent past the directed diameter


def _hyperball_ctes(p: int, rounds: int) -> list[str]:
    """The shared CTE chain s0..s{rounds} of per-round HyperBall sketch
    states on the blocked graph — same md5-of-decimal-string hash as the
    kernel, same exact-integer scaled-harmonic estimator, and the SAME
    precomputed repr literals for the linear-counting branch, QUOTED so
    DuckDB's correctly-rounded string->double parse runs (an unquoted
    numeric literal goes through DECIMAL and loses 1 ulp). No ln(), no
    round() runs in either engine, so every intermediate double matches
    the kernel's bit for bit."""
    from graphit_spark.functions.sketch import HASH_BITS, _alpha_m2
    from graphit_spark.kernels.hyperball import linear_counting_table

    m = 1 << p
    w = HASH_BITS - p
    w1 = w + 1
    cols = [f"r{i}" for i in range(m)]
    sum_scaled = " + ".join(
        f"(1::BIGINT << CAST({w1} - {c} AS INT))" for c in cols
    )
    zeros = " + ".join(f"(CASE WHEN {c} = 0 THEN 1 ELSE 0 END)" for c in cols)
    raw = (
        f"(CAST('{_alpha_m2(m)!r}' AS DOUBLE) * CAST('{float(1 << w1)!r}' AS DOUBLE)"
        f" / ({sum_scaled}))"
    )
    lc = " ".join(
        f"WHEN ({zeros}) = {z} THEN CAST('{v!r}' AS DOUBLE)"
        for z, v in enumerate(linear_counting_table(p), start=1)
    )
    est = (
        f"(CASE WHEN {raw} <= CAST('{2.5 * m!r}' AS DOUBLE)"
        f" AND ({zeros}) > 0"
        f" THEN (CASE {lc} END)"
        f" ELSE {raw} END)"
    )
    rho = f"instr(lpad(bin(h >> {p}), {w}, '0'), '1')"
    init_regs = ", ".join(
        f"CASE WHEN (h & {m - 1}) = {i} THEN rho ELSE 0 END AS {c}"
        for i, c in enumerate(cols)
    )
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        f"""hh AS (
  SELECT id, ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM verts
)""",
        f"""i0 AS (
  SELECT id, {init_regs}
  FROM (SELECT id, h,
               CASE WHEN {rho} = 0 THEN {w1}
                    ELSE {rho} END AS rho
        FROM hh)
)""",
        f"s0 AS MATERIALIZED (SELECT id, {', '.join(cols)}, {est} AS est,"
        f" 0e0 AS harm FROM i0)",
    ]
    for k in range(1, rounds + 1):
        gmax = ", ".join(f"max(p.{c}) AS {c}" for c in cols)
        merge = ", ".join(
            f"greatest(s.{c}, coalesce(g.{c}, 0)) AS {c}" for c in cols
        )
        ctes.append(
            f"""m{k} AS MATERIALIZED (
  SELECT s.id, s.est AS prev_est, s.harm AS prev_harm, {merge}
  FROM s{k - 1} s LEFT JOIN (
    SELECT e.dst AS id, {gmax}
    FROM edges e JOIN s{k - 1} p ON e.src = p.id
    GROUP BY e.dst
  ) g USING (id)
)"""
        )
        ctes.append(
            f"s{k} AS MATERIALIZED (SELECT id, {', '.join(cols)},"
            f" {est} AS est,"
            f" prev_harm + ({est} - prev_est)"
            f" / CAST('{float(k)!r}' AS DOUBLE) AS harm FROM m{k})"
        )
    return ctes


def hyperball_sql(p: int = HB_P, rounds: int = HB_ROUNDS) -> str:
    """Twin of kernels/hyperball.hyperball_harmonic (see
    _hyperball_ctes for the bit-determinism contract)."""
    return (
        "WITH " + ",\n".join(_hyperball_ctes(p, rounds))
        + f"\nSELECT id, est AS ball, harm AS harmonic"
        f" FROM s{rounds}"
    )


def neighborhood_sql(p: int = HB_P, rounds: int = HB_ROUNDS) -> str:
    """Twin of kernels/hyperball.neighborhood_function: per round r,
    the exact integer sum of floor(est * 10^NF_SCALE) over all vertices
    (order-independent, unlike a double sum), divided back out."""
    from graphit_spark.kernels.hyperball import NF_SCALE

    scale = 10 ** NF_SCALE
    rows = " UNION ALL ".join(
        f"SELECT {k} AS r, CAST(sum(CAST(floor(est * CAST('{float(scale)!r}'"
        f" AS DOUBLE)) AS BIGINT)) AS BIGINT)"
        f" / CAST('{float(scale)!r}' AS DOUBLE) AS pairs FROM s{k}"
        for k in range(0, rounds + 1)
    )
    return (
        "WITH " + ",\n".join(_hyperball_ctes(p, rounds))
        + f"\nSELECT r, pairs FROM ({rows}) ORDER BY r"
    )


def effective_diameter_sql(
    p: int = HB_P, rounds: int = HB_ROUNDS, quantile: float = 0.9
) -> str:
    """Twin of kernels/hyperball.effective_diameter: smallest r with
    N(r) >= quantile * N(rounds), over the neighborhood-function CTE."""
    nf = neighborhood_sql(p, rounds)
    return f"""WITH nf AS MATERIALIZED ({nf}),
total AS (SELECT pairs AS pairs_total FROM nf WHERE r = {rounds}),
hit AS (
  SELECT min(r) AS effective_diameter
  FROM nf, total
  WHERE nf.pairs >= CAST('{quantile!r}' AS DOUBLE) * total.pairs_total
)
SELECT hit.effective_diameter,
       nf.pairs AS pairs_covered,
       total.pairs_total
FROM hit JOIN nf ON nf.r = hit.effective_diameter, total"""


# ---------------------------------------------------------------------------
# Spark callables (the engine side)
# ---------------------------------------------------------------------------


def q_hyperball_harmonic(spark, sf_dir):
    """HyperBall (Boldi-Vigna) harmonic centrality on the blocked graph
    — HLL ball sketches grown one hop per superstep; the scale answer
    to exact closeness (see kernels/hyperball.py docstring)."""
    from graphit_spark.kernels import hyperball_harmonic

    g = graph(spark, sf_dir, "blocked")
    return hyperball_harmonic(g, p=HB_P, rounds=HB_ROUNDS)


MIS_ROUNDS = 24  # shared Spark/twin budget; no-op past the settle round


def mis_sql(rounds: int = MIS_ROUNDS) -> str:
    """Twin of kernels/mis.maximal_independent_set on the blocked
    graph: same string priority (md5 15-hex || '-' || zero-padded id, so
    (hash, id) lexicographic order is plain string order and min() is a
    string min), same both-endpoints-active gather, same fixed budget."""
    pri = (
        "substr(md5(CAST(id AS VARCHAR)), 1, 15) || '-' ||"
        " lpad(CAST(id AS VARCHAR), 12, '0')"
    )
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        f"a0 AS MATERIALIZED (SELECT id, {pri} AS pri FROM verts)",
    ]
    for r in range(1, rounds + 1):
        a = f"a{r - 1}"
        ctes.append(
            f"""w{r} AS MATERIALIZED (
  SELECT a.id FROM {a} a LEFT JOIN (
    SELECT q.id AS id, min(p.pri) AS mn
    FROM sym e JOIN {a} p ON e.dst = p.id
               JOIN {a} q ON e.src = q.id
    GROUP BY q.id) n USING (id)
  WHERE n.mn IS NULL OR a.pri < n.mn
)"""
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
  SELECT a.id, a.pri FROM {a} a
  WHERE a.id NOT IN (SELECT id FROM w{r})
    AND a.id NOT IN (SELECT e.dst FROM sym e JOIN w{r} w ON e.src = w.id)
)"""
        )
    mis_union = " UNION ALL ".join(
        f"SELECT id FROM w{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
mis AS (SELECT DISTINCT id FROM ({mis_union}))
SELECT v.id, (m.id IS NOT NULL) AS in_mis
FROM verts v LEFT JOIN mis m USING (id)"""
    )


# Shared Spark/twin budget; no-op past the settle round. The blocked
# graph's longest decreasing-priority path is 32-35 at sf0.001-0.1
# (dense 100-wide blocks, so JP's round count tracks the in-block
# sequential chain, not log V) — 64 leaves the same headroom at the
# next sf up.
COLOR_ROUNDS = 64


def coloring_sql(rounds: int = COLOR_ROUNDS) -> str:
    """Twin of kernels/coloring.greedy_coloring on the blocked graph:
    same string priority and local-min winner rule as mis_sql, plus the
    exact-integer min-free-color step — candidates {0} ∪ {used+1} minus
    the used set, all plain joins."""
    pri = (
        "substr(md5(CAST(id AS VARCHAR)), 1, 15) || '-' ||"
        " lpad(CAST(id AS VARCHAR), 12, '0')"
    )
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        f"a0 AS MATERIALIZED (SELECT id, {pri} AS pri FROM verts)",
        "col0 AS (SELECT CAST(NULL AS BIGINT) AS id,"
        " CAST(NULL AS BIGINT) AS color WHERE false)",
    ]
    for r in range(1, rounds + 1):
        a, c = f"a{r - 1}", f"col{r - 1}"
        ctes.append(
            f"""w{r} AS MATERIALIZED (
  SELECT a.id FROM {a} a LEFT JOIN (
    SELECT q.id AS id, min(p.pri) AS mn
    FROM sym e JOIN {a} p ON e.dst = p.id
               JOIN {a} q ON e.src = q.id
    GROUP BY q.id) n USING (id)
  WHERE n.mn IS NULL OR a.pri < n.mn
)"""
        )
        ctes.append(
            f"""u{r} AS MATERIALIZED (
  SELECT DISTINCT w.id, c.color
  FROM w{r} w JOIN sym e ON e.src = w.id
              JOIN {c} c ON e.dst = c.id
)"""
        )
        ctes.append(
            f"""n{r} AS MATERIALIZED (
  SELECT cand.id, min(cand.x) AS color FROM (
    SELECT id, CAST(0 AS BIGINT) AS x FROM w{r}
    UNION ALL SELECT id, color + 1 AS x FROM u{r}
  ) cand LEFT JOIN u{r} u ON u.id = cand.id AND u.color = cand.x
  WHERE u.id IS NULL GROUP BY cand.id
)"""
        )
        ctes.append(
            f"col{r} AS MATERIALIZED (SELECT id, color FROM {c}"
            f" UNION ALL SELECT id, color FROM n{r})"
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
  SELECT a.id, a.pri FROM {a} a
  WHERE a.id NOT IN (SELECT id FROM n{r})
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, color FROM col{rounds}"
    )


def q_coloring(spark, sf_dir):
    """Jones-Plassmann greedy coloring on the blocked graph."""
    from graphit_spark.kernels import greedy_coloring

    g = graph(spark, sf_dir, "blocked")
    return greedy_coloring(g, rounds=COLOR_ROUNDS)


def q_mis(spark, sf_dir):
    """Deterministic greedy MIS (Luby-style) on the blocked graph."""
    from graphit_spark.kernels import maximal_independent_set

    g = graph(spark, sf_dir, "blocked")
    return maximal_independent_set(g, rounds=MIS_ROUNDS)


#: shared Spark/twin budget for maximal matching; no-op past the
#: settle round (measured: 5 rounds at sf0.001, 7 at sf0.01, 8 at
#: sf0.1 — each round matches a constant fraction of the alive edges)
MATCH_ROUNDS = 24


def q_matching(spark, sf_dir):
    """Deterministic parallel greedy maximal matching on the blocked
    graph — (id, mate) pairs, the edge-contraction/pairing primitive
    (kernels/matching.py)."""
    from graphit_spark.kernels import maximal_matching

    g = graph(spark, sf_dir, "blocked")
    return maximal_matching(g, rounds=MATCH_ROUNDS)


def matching_sql(rounds: int = MATCH_ROUNDS) -> str:
    """Twin of kernels/matching.maximal_matching on the blocked graph:
    same unique string edge priority (md5 of 'u_v' || '-' || padded
    endpoint ids, so min() is a plain string min), same
    locally-minimum-at-both-endpoints rule, same fixed budget."""
    epri = (
        "substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 15)"
        " || '-' || lpad(CAST(u AS VARCHAR), 12, '0')"
        " || lpad(CAST(v AS VARCHAR), 12, '0')"
    )
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        f"""e0 AS MATERIALIZED (
  SELECT u, v, {epri} AS epri
  FROM (SELECT src AS u, dst AS v FROM sym WHERE src < dst))""",
    ]
    for r in range(1, rounds + 1):
        e = f"e{r - 1}"
        ctes.append(
            f"""vm{r} AS MATERIALIZED (
  SELECT x, min(epri) AS mn FROM (
    SELECT u AS x, epri FROM {e}
    UNION ALL
    SELECT v AS x, epri FROM {e}) b GROUP BY x)"""
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {e} e
  JOIN vm{r} a ON e.u = a.x AND e.epri = a.mn
  JOIN vm{r} b ON e.v = b.x AND e.epri = b.mn)"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT e.u, e.v, e.epri FROM {e} e
  WHERE e.u NOT IN (SELECT u FROM m{r} UNION ALL SELECT v FROM m{r})
    AND e.v NOT IN (SELECT u FROM m{r} UNION ALL SELECT v FROM m{r}))"""
        )
    m_union = " UNION ALL ".join(
        f"SELECT u, v FROM m{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
matched AS (SELECT u, v FROM ({m_union})),
pairs AS (SELECT u AS id, v AS mate FROM matched
          UNION ALL
          SELECT v AS id, u AS mate FROM matched)
SELECT vv.id, COALESCE(p.mate, -1) AS mate
FROM verts vv LEFT JOIN pairs p USING (id)"""
    )


def q_neighborhood_function(spark, sf_dir):
    """N(r) for r = 0..HB_ROUNDS on the blocked graph — the
    distance-distribution readout of the HyperBall sketches."""
    from graphit_spark.kernels import neighborhood_function

    g = graph(spark, sf_dir, "blocked")
    return neighborhood_function(g, p=HB_P, rounds=HB_ROUNDS)


def q_effective_diameter(spark, sf_dir):
    """90% effective diameter of the blocked graph off the
    neighborhood function."""
    from graphit_spark.kernels import effective_diameter

    g = graph(spark, sf_dir, "blocked")
    return effective_diameter(g, p=HB_P, rounds=HB_ROUNDS)


def q_pagerank(spark, sf_dir):
    from graphit_spark.kernels import pagerank

    g = graph(spark, sf_dir, "raw")
    return pagerank(g, max_iters=PR_ITERS).select(
        "id", F.round("rank", ROUND_RANK).alias("rank")
    )


def q_out_degrees(spark, sf_dir):
    return graph(spark, sf_dir, "raw").out_degrees()


def q_cc(spark, sf_dir):
    from graphit_spark.kernels import connected_components

    g = graph(spark, sf_dir, "blocked")
    return connected_components(g)


def q_hits(spark, sf_dir):
    from graphit_spark.kernels import hits

    g = graph(spark, sf_dir, "raw")
    return hits(g, rounds=HITS_ROUNDS).select(
        "id",
        F.round("hub", ROUND_RANK).alias("hub"),
        F.round("auth", ROUND_RANK).alias("auth"),
    )


def q_salsa(spark, sf_dir):
    from graphit_spark.kernels import salsa

    g = graph(spark, sf_dir, "raw")
    return salsa(g, rounds=SALSA_ROUNDS).select(
        "id",
        F.round("hub", ROUND_RANK).alias("hub"),
        F.round("auth", ROUND_RANK).alias("auth"),
    )


def q_scc(spark, sf_dir):
    from graphit_spark.kernels import strongly_connected_components

    g = graph(spark, sf_dir, "blocked")
    return strongly_connected_components(g)


def q_scc_condensation(spark, sf_dir):
    """Condensation-DAG topological layers over the bowtie graph (the
    variant with real IN→CORE→OUT chain structure): per vertex
    (id, scc, layer) where layer is the longest SCC-chain depth — the
    processing order a layered crawl analysis sweeps."""
    from graphit_spark.kernels.scc import condensation_layers

    g = graph(spark, sf_dir, "bowtie")
    return condensation_layers(g, max_rounds=LAYER_ROUNDS)


def q_pseudo_diameter(spark, sf_dir):
    """Double-BFS pseudo-diameter (the standard GAPBS/graph-tool
    heuristic): BFS from 0, hop to the farthest reached vertex (ties
    to the min id — a total order), BFS again, report the farthest
    distance found. Both sweeps run the fixed BFS_ROUNDS budget, so
    the result is a deterministic lower bound shared with the twin
    even on graphs deeper than the budget. Two frontier BFS runs plus
    two scalar driver actions — never an O(V) collect."""
    from graphit_spark.kernels import bfs

    g = graph(spark, sf_dir, "raw")
    d0 = bfs(g, 0, max_iters=BFS_ROUNDS)
    far = (
        d0.filter(F.col("dist").isNotNull())
        .orderBy(F.desc("dist"), F.asc("id"))
        .select("id", "dist")
        .first()
    )
    d1 = bfs(g, int(far["id"]), max_iters=BFS_ROUNDS)
    return d1.filter(F.col("dist").isNotNull()).agg(
        F.lit(0).cast("long").alias("start_id"),
        F.lit(int(far["id"])).cast("long").alias("far_id"),
        F.lit(int(far["dist"])).cast("long").alias("far_dist"),
        F.max("dist").alias("pseudo_diameter"),
    )


def q_betweenness_pivots(spark, sf_dir):
    """Pivot-sampled betweenness — the 100 TB scale path for the one
    O(V·E) kernel: run Brandes from K deterministic pivots and scale
    the summed dependencies by n/K (the standard pivot estimator;
    deterministic pivots keep the twin exact). Each pivot's pass is
    the audited single-source kernel; pivots are embarrassingly
    parallel across a cluster, and K is the accuracy/cost dial exact
    BC lacks entirely."""
    from graphit_spark.kernels import betweenness_centrality

    g = graph(spark, sf_dir, "raw")
    n = g.num_vertices
    total = None
    for s in range(BC_PIVOTS):
        d = betweenness_centrality(g, s).select(
            "id", F.col("bc").alias(f"d{s}")
        )
        total = d if total is None else total.join(d, "id")
    expr = F.col("d0")
    for s in range(1, BC_PIVOTS):
        expr = expr + F.col(f"d{s}")
    return total.select(
        "id",
        F.round(
            F.lit(float(n)) / F.lit(float(BC_PIVOTS)) * expr, 6
        ).alias("bc_est"),
    )


def q_clustering(spark, sf_dir):
    """Per-vertex local clustering coefficient — the classic graph-
    structure statistic: lcc(v) = 2·tri(v) / (deg·(deg-1)) on the
    symmetrized simple graph (0 when deg < 2). Pure composition of the
    audited per-vertex triangle enumeration and the V-sized degree
    table; the ratio is integer arithmetic in doubles, so the twin is
    bit-deterministic."""
    from graphit_spark.kernels import triangle_count_per_vertex

    g = graph(spark, sf_dir, "raw")
    und = g.symmetrize()
    tri = triangle_count_per_vertex(g)
    deg = und.out_degrees().select("id", F.col("out_degree").alias("degree"))
    return tri.join(deg, "id").select(
        "id",
        "degree",
        "tri_count",
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.col("tri_count")
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("lcc"),
    )


def q_scan_statistics(spark, sf_dir):
    """Scan statistics (Priebe's scan1) — the classic graph
    anomaly-detection operator a web pipeline runs to surface link
    farms and spam clusters: scan1(v) = edges inside v's closed 1-hop
    neighborhood, with a bit-deterministic exact-integer 3-sigma flag
    (kernels/triangles.py::scan_statistics for the full plan notes).
    Reference analogue: GraphIt expresses this as a tc() + degree
    vertex apply (apps/tc.gt pattern)."""
    from graphit_spark.kernels import scan_statistics

    return scan_statistics(graph(spark, sf_dir, "raw"))


BRIDGE_MOD = 5  # deterministic sparse subgraph: dense webgraphs are
# 2-edge-connected almost everywhere; the (src+dst) % 5 residual keeps
# ~1/5 of edges, where cut edges actually exist at oracle sf
BRIDGE_ROUNDS = 20


def _sparse_cut_graph(spark, sf_dir):
    """The deterministic sparse subgraph every cut-structure query runs
    on (dense webgraphs are 2-edge-connected almost everywhere): keep
    edges with (src + dst) % BRIDGE_MOD == 0 — the single definition
    the three queries AND the shared twin CTEs must agree on."""
    g = graph(spark, sf_dir, "raw")
    sparse = g.edges.filter(
        (F.col("src") + F.col("dst")) % BRIDGE_MOD == 0
    )
    return LinkGraph(sparse, persist=False)


def q_bridges(spark, sf_dir):
    """Bridge detection (2-edge-connectivity) on a deterministic sparse
    subgraph — BFS-tree + XOR cut-coverage hashing
    (kernels/bridges.py for the algorithm and the 100 TB plan). The
    classical Tarjan DFS is inherently serial; this is the
    linear-sketch formulation that distributes."""
    from graphit_spark.kernels import bridges

    return bridges(_sparse_cut_graph(spark, sf_dir),
                   max_rounds=BRIDGE_ROUNDS)


def _cut_tree_ctes(mod: int, rounds: int) -> list:
    """Shared CTE prefix of the cut-structure twins (bridges,
    biconnected_components, articulation_points): sparse subgraph,
    min-label components, multi-source BFS depths, min-parent BFS tree
    (par/tre) and the non-tree remainder (ntr)."""
    ctes = [
        _SQL_COMMON.strip(),
        f"""su AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE (src + dst) % {mod} = 0
)""",
        "ssym AS MATERIALIZED (SELECT u AS a, v AS b FROM su "
        "UNION ALL SELECT v, u FROM su)",
        "sverts AS (SELECT DISTINCT a AS id FROM ssym)",
        "l0 AS (SELECT id, id AS label FROM sverts)",
    ]
    for r in range(1, rounds + 1):
        p = f"l{r - 1}"
        ctes.append(
            f"""l{r} AS MATERIALIZED (
  SELECT v.id, least(v.label, coalesce(m.nl, v.label)) AS label
  FROM {p} v LEFT JOIN (
    SELECT e.b AS id, min(l.label) AS nl
    FROM ssym e JOIN {p} l ON e.a = l.id GROUP BY e.b
  ) m USING (id)
)"""
        )
    ctes.append(
        f"d0 AS (SELECT id, CASE WHEN id = label THEN CAST(0 AS BIGINT) END"
        f" AS depth FROM l{rounds})"
    )
    for r in range(1, rounds + 1):
        p = f"d{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN v.depth IS NULL AND m.nd IS NOT NULL THEN m.nd
              ELSE v.depth END AS depth
  FROM {p} v LEFT JOIN (
    SELECT e.b AS id, min(l.depth) + 1 AS nd
    FROM ssym e JOIN {p} l ON e.a = l.id
    WHERE l.depth IS NOT NULL GROUP BY e.b
  ) m USING (id)
)"""
        )
    ctes += [
        f"""par AS MATERIALIZED (
  SELECT e.b AS id, min(e.a) AS parent
  FROM ssym e
  JOIN d{rounds} da ON e.a = da.id
  JOIN d{rounds} db ON e.b = db.id
  WHERE da.depth = db.depth - 1
  GROUP BY e.b
)""",
        """tre AS MATERIALIZED (
  SELECT least(parent, id) AS u, greatest(parent, id) AS v FROM par
)""",
        """ntr AS MATERIALIZED (
  SELECT s.u, s.v FROM su s
  WHERE NOT EXISTS (SELECT 1 FROM tre t WHERE t.u = s.u AND t.v = s.v)
)""",
    ]
    return ctes


def bridges_sql(
    mod: int = BRIDGE_MOD, rounds: int = BRIDGE_ROUNDS
) -> str:
    """Twin of q_bridges: the identical algorithm unrolled — the shared
    cut-tree CTEs (_cut_tree_ctes), 60-bit md5 non-tree hashes XORed at
    both endpoints, bottom-up subtree folds one level per CTE (levels
    beyond the actual max depth are no-ops), bridge = non-root vertex
    with subtree XOR 0."""
    ctes = _cut_tree_ctes(mod, rounds)
    h = ("('0x' || substr(md5(n.u::VARCHAR || '_' || n.v::VARCHAR"
         " || '_bridge'), 1, 15))::BIGINT")
    ctes += [
        f"""hv AS MATERIALIZED (
  SELECT id, bit_xor(h) AS h FROM (
    SELECT n.u AS id, {h} AS h FROM ntr n
    UNION ALL
    SELECT n.v AS id, {h} AS h FROM ntr n
  ) GROUP BY id
)""",
        f"""s0 AS MATERIALIZED (
  SELECT d.id, d.depth, p.parent, coalesce(hv.h, 0) AS s
  FROM d{rounds} d
  LEFT JOIN par p USING (id)
  LEFT JOIN hv USING (id)
)""",
    ]
    lev = 0
    for d in range(rounds, 0, -1):
        p = f"s{lev}"
        lev += 1
        ctes.append(
            f"""s{lev} AS MATERIALIZED (
  SELECT v.id, v.depth, v.parent,
         CASE WHEN f.x IS NOT NULL THEN xor(v.s, f.x) ELSE v.s END AS s
  FROM {p} v LEFT JOIN (
    SELECT parent AS id, bit_xor(s) AS x
    FROM {p} WHERE depth = {d} GROUP BY parent
  ) f USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT least(parent, id) AS u, greatest(parent, id) AS v
FROM s{lev}
WHERE parent IS NOT NULL AND s = 0
ORDER BY u, v"""
    )


BICONN_CLIMB = 40  # = the kernel's own climb cap (2 x BRIDGE_ROUNDS):
# the twin must cover every climb the kernel can SUCCEED at, so a deep
# tree either converges identically in both engines or raises in the
# kernel — never a silent twin truncation (measured max need at sf0.1
# is 24; rounds beyond the actual depth are empty no-ops)
BICONN_CC = 12  # twin's unrolled aux-CC rounds (gather + two doubling
# hops each: covers 2^12); the kernel's aux CC stops at convergence
# under its max_rounds=BRIDGE_ROUNDS budget, so rounds past it are no-ops


def q_biconnected(spark, sf_dir):
    """Biconnected components of the sparse cut-structure subgraph —
    fundamental-cycle star aux graph + pointer-doubled CC over edge
    keys (kernels/bridges.py::biconnected_components). Bridges are
    exactly the singleton classes."""
    from graphit_spark.kernels import biconnected_components

    return biconnected_components(
        _sparse_cut_graph(spark, sf_dir), max_rounds=BRIDGE_ROUNDS
    )


def q_articulation(spark, sf_dir):
    """Articulation (cut) vertices: incident to >= 2 distinct
    biconnected components (kernels/bridges.py::articulation_points)."""
    from graphit_spark.kernels import articulation_points

    return articulation_points(
        _sparse_cut_graph(spark, sf_dir), max_rounds=BRIDGE_ROUNDS
    )


def _biconn_ctes(
    mod: int = BRIDGE_MOD,
    rounds: int = BRIDGE_ROUNDS,
    climb: int = BICONN_CLIMB,
    cc_rounds: int = BICONN_CC,
) -> tuple:
    """CTE list + final-label name for the biconnectivity twins: the
    shared cut-tree CTEs, the LCA climb unrolled (each round joins the
    live non-tree walkers to the node table, emits the star aux edges,
    and advances the deeper endpoint — ties advance both; exhausted
    rounds are no-ops), then aux-graph CC over edge keys with the
    Girvan-Newman gather + two-doubling-hops pattern."""
    B = 1 << 31
    ctes = _cut_tree_ctes(mod, rounds)
    ctes.append(
        f"""npt AS MATERIALIZED (
  SELECT d.id, d.depth, p.parent
  FROM d{rounds} d LEFT JOIN par p USING (id)
)"""
    )
    ctes.append(
        f"c0 AS MATERIALIZED (SELECT least(u, v) * {B} + greatest(u, v)"
        " AS ek, u AS ca, v AS cb FROM ntr)"
    )
    for r in range(1, climb + 1):
        pr = f"c{r - 1}"
        ctes.append(
            f"""j{r} AS MATERIALIZED (
  SELECT c.ek, c.ca, c.cb, na.depth AS da, na.parent AS pa,
         nb.depth AS db, nb.parent AS pb
  FROM {pr} c
  JOIN npt na ON na.id = c.ca
  JOIN npt nb ON nb.id = c.cb
)"""
        )
        ctes.append(
            f"""em{r} AS MATERIALIZED (
  SELECT ek, least(ca, pa) * {B} + greatest(ca, pa) AS tek
  FROM j{r} WHERE da >= db
  UNION ALL
  SELECT ek, least(cb, pb) * {B} + greatest(cb, pb) AS tek
  FROM j{r} WHERE db >= da
)"""
        )
        ctes.append(
            f"""c{r} AS MATERIALIZED (
  SELECT ek,
         CASE WHEN da >= db THEN pa ELSE ca END AS ca,
         CASE WHEN db >= da THEN pb ELSE cb END AS cb
  FROM j{r}
  WHERE (CASE WHEN da >= db THEN pa ELSE ca END)
        <> (CASE WHEN db >= da THEN pb ELSE cb END)
)"""
        )
    allem = " UNION ALL ".join(
        f"SELECT ek, tek FROM em{r}" for r in range(1, climb + 1)
    )
    ctes.append(f"aem AS MATERIALIZED ({allem})")
    ctes.append(
        "aedges AS MATERIALIZED (SELECT ek AS x, tek AS y FROM aem "
        "UNION ALL SELECT tek AS x, ek AS y FROM aem)"
    )
    ctes.append(
        f"""anodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT least(u, v) * {B} + greatest(u, v) AS id FROM tre
    UNION ALL
    SELECT least(u, v) * {B} + greatest(u, v) AS id FROM ntr
  )
)"""
    )
    ctes.append("a0 AS (SELECT id, id AS comp FROM anodes)")
    for k in range(1, cc_rounds + 1):
        pr = f"a{k - 1}"
        ctes.append(
            f"""aa{k} AS MATERIALIZED (
  SELECT v.id, least(v.comp, coalesce(m.mn, v.comp)) AS comp
  FROM {pr} v LEFT JOIN (
    SELECT e.y AS id, min(l.comp) AS mn
    FROM aedges e JOIN {pr} l ON e.x = l.id
    GROUP BY e.y
  ) m USING (id)
)"""
        )
        ctes.append(
            f"""ab{k} AS MATERIALIZED (
  SELECT a.id, b.comp FROM aa{k} a JOIN aa{k} b ON a.comp = b.id
)"""
        )
        ctes.append(
            f"""a{k} AS MATERIALIZED (
  SELECT a.id, b.comp FROM ab{k} a JOIN ab{k} b ON a.comp = b.id
)"""
        )
    return ctes, f"a{cc_rounds}", B


def biconnected_sql() -> str:
    ctes, fin, B = _biconn_ctes()
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT s.u, s.v, a.comp
FROM su s JOIN {fin} a ON a.id = least(s.u, s.v) * {B} + greatest(s.u, s.v)
ORDER BY s.u, s.v"""
    )


def articulation_sql() -> str:
    ctes, fin, B = _biconn_ctes()
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
bic AS MATERIALIZED (
  SELECT s.u, s.v, a.comp
  FROM su s JOIN {fin} a ON a.id = least(s.u, s.v) * {B} + greatest(s.u, s.v)
)
SELECT id, CAST(count(DISTINCT comp) AS BIGINT) AS n_components
FROM (SELECT u AS id, comp FROM bic UNION ALL SELECT v AS id, comp FROM bic)
GROUP BY id HAVING count(DISTINCT comp) >= 2
ORDER BY id"""
    )


def q_k_truss(spark, sf_dir):
    from graphit_spark.kernels import k_truss

    g = graph(spark, sf_dir, "blocked")
    return k_truss(g, k=TRUSS_K, max_rounds=TRUSS_ROUNDS)


def q_link_prediction(spark, sf_dir):
    """Top-5 link predictions per vertex on the blocked graph (bounded
    degrees by construction, so the wedge fan-out needs no center cap
    here; the kernel exposes one for power-law inputs)."""
    from graphit_spark.kernels import link_prediction

    g = graph(spark, sf_dir, "blocked")
    return link_prediction(g, min_cn=LINKPRED_MIN_CN, topk=LINKPRED_TOPK)


def q_lpa(spark, sf_dir):
    from graphit_spark.kernels import label_propagation

    g = graph(spark, sf_dir, "blocked")
    return label_propagation(g, rounds=LPA_ROUNDS)


def q_triangle_count(spark, sf_dir):
    from graphit_spark.kernels import triangle_count

    return triangle_count(graph(spark, sf_dir, "raw"))


def q_tc_per_vertex(spark, sf_dir):
    from graphit_spark.kernels import triangle_count_per_vertex

    return triangle_count_per_vertex(graph(spark, sf_dir, "raw"))


def q_triangle_count_approx(spark, sf_dir):
    from graphit_spark.kernels import triangle_count_approx

    return triangle_count_approx(graph(spark, sf_dir, "raw"))


def q_bfs(spark, sf_dir):
    from graphit_spark.kernels import bfs

    return bfs(graph(spark, sf_dir, "raw"), 0, max_iters=BFS_ROUNDS)


def q_sssp(spark, sf_dir):
    from graphit_spark.kernels import sssp

    return sssp(graph(spark, sf_dir, "weighted"), 0, max_iters=SSSP_ROUNDS)


def q_landmark_distances(spark, sf_dir):
    from graphit_spark.kernels import landmark_distances

    return landmark_distances(
        graph(spark, sf_dir, "raw"), N_LANDMARKS, max_iters=BFS_ROUNDS
    )


def q_relabel(spark, sf_dir):
    from graphit_spark.plans.ranking import dense_rank_ids

    g = graph(spark, sf_dir, "raw")
    return dense_rank_ids(
        g.out_degrees(), [F.desc("out_degree"), F.asc("id")], out_col="new_id"
    ).select("id", "new_id")


def q_adjacency(spark, sf_dir):
    g = graph(spark, sf_dir, "raw")
    return g.adjacency().select(
        "src",
        F.array_join(
            F.transform("nbrs", lambda x: x.cast("string")), ","
        ).alias("nbrs_csv"),
    )


KCORE_K = 15
# 2x the measured sf0.1 from-scratch peel depth (12): round 5 found
# the old value of 12 had ZERO margin at sf0.1 — the k=15 cascade
# needs exactly 12 rounds there, and one more testdata-drift level
# would have truncated the oracle (the ENGINE peels to fixpoint and
# was verified exact against a pure-Python peel; only the unrolled
# SQL twin has a round budget)
KCORE_ROUNDS = 24


def kcore_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    ctes = [_SQL_COMMON.strip(),
            "k0 AS (SELECT id FROM verts)"]
    for r in range(1, rounds + 1):
        p = f"k{r - 1}"
        ctes.append(
            f"""k{r} AS MATERIALIZED (
  SELECT d.id FROM (
    SELECT e.src AS id, count(*) AS d
    FROM sym e
    JOIN {p} a ON e.src = a.id
    JOIN {p} b ON e.dst = b.id
    GROUP BY e.src
  ) d WHERE d.d >= {k}
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM k{rounds} ORDER BY id"


def q_kcore(spark, sf_dir):
    from graphit_spark.kernels import k_core

    return k_core(graph(spark, sf_dir, "raw"), KCORE_K)


CORE_KMAX = 32  # 2x the observed max coreness (15 at sf0.01 AND sf0.1)
# 2x the measured sf0.1 incremental peel depth (12, at k=15): the old
# value of 10 truncated the oracle's k=15 cascade at sf0.1 and
# overstated one vertex's coreness (engine said 14, truncated twin
# said 15; a pure-Python exact peel confirmed 14 — the engine peels
# to fixpoint and needs no budget)
CORE_ROUNDS = 24


def core_numbers_sql(kmax: int = CORE_KMAX, rounds: int = CORE_ROUNDS) -> str:
    """Coreness oracle: core(v) = max k with v in the k-core. Iterates the
    kcore_sql peel for k = 1..kmax, each k starting from the (k-1)-core
    (k-cores are nested, so the peel converges in a handful of rounds);
    converged rounds and empty higher-k cores are no-ops. kmax/rounds
    carry 2x margin over the measured values at sf0.01 (max core 15,
    incremental peel depth 6) to tolerate testdata drift."""
    ctes = [_SQL_COMMON.strip(),
            "kc0 AS (SELECT id FROM verts)"]
    for k in range(1, kmax + 1):
        prev = f"kc{k - 1}"
        for r in range(1, rounds + 1):
            cur = f"kc{k}_r{r}" if r < rounds else f"kc{k}"
            ctes.append(
                f"""{cur} AS MATERIALIZED (
  SELECT d.id FROM (
    SELECT e.src AS id, count(*) AS d
    FROM sym e
    JOIN {prev} a ON e.src = a.id
    JOIN {prev} b ON e.dst = b.id
    GROUP BY e.src
  ) d WHERE d.d >= {k}
)"""
            )
            prev = cur
    allk = " UNION ALL ".join(
        f"SELECT id, {k} AS k FROM kc{k}" for k in range(1, kmax + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
allk AS ({allk})
SELECT v.id, CAST(coalesce(max(a.k), 0) AS BIGINT) AS core
FROM verts v LEFT JOIN allk a USING (id)
GROUP BY v.id ORDER BY v.id"""
    )


def q_pagerank_delta(spark, sf_dir):
    """Frontier-pruned PR vs the exact recurrence twin
    (pagerank_delta_sql)."""
    from graphit_spark.kernels import pagerank_delta

    g = graph(spark, sf_dir, "raw")
    return pagerank_delta(g, max_iters=PR_ITERS).select(
        "id", F.round("rank", 4).alias("rank")
    )


def q_betweenness(spark, sf_dir):
    """Single-source Brandes vs the fixed-level CTE twin
    (betweenness_sql)."""
    from graphit_spark.kernels import betweenness_centrality

    g = graph(spark, sf_dir, "raw")
    return betweenness_centrality(g, 0).select(
        "id", F.round("bc", 6).alias("bc")
    )


def q_cf(spark, sf_dir):
    """Matrix-factorization GD over the weighted graph vs the unrolled
    K-column recurrence twin (cf_sql)."""
    from graphit_spark.kernels import collaborative_filtering

    g = graph(spark, sf_dir, "weighted")
    lat = collaborative_filtering(g, iters=3)
    return lat.select(
        "id", F.round(F.element_at("latent", 1), 6).alias("latent_0")
    )


def q_eigenvector(spark, sf_dir):
    from graphit_spark.kernels import eigenvector_centrality

    g = graph(spark, sf_dir, "raw")
    return eigenvector_centrality(g, rounds=EC_ROUNDS).select(
        "id", F.round("ec", ROUND_RANK).alias("ec")
    )


def q_katz(spark, sf_dir):
    from graphit_spark.kernels import katz_centrality

    g = graph(spark, sf_dir, "raw")
    return katz_centrality(
        g, alpha=KATZ_ALPHA, beta=KATZ_BETA, rounds=KATZ_ROUNDS
    ).select("id", F.round("katz", ROUND_RANK).alias("katz"))


def q_fused_pr_eigenvector(spark, sf_dir):
    from graphit_spark.kernels import fused_pr_eigenvector

    g = graph(spark, sf_dir, "raw")
    return fused_pr_eigenvector(g, rounds=EC_ROUNDS).select(
        "id",
        F.round("rank", ROUND_RANK).alias("rank"),
        F.round("ec", ROUND_RANK).alias("ec"),
    )


def _host_map(spark, sf_dir):
    return load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_nationkey").alias("group")
    )


def q_host_rollup(spark, sf_dir):
    """The Common-Crawl host-webgraph construction: page-level edges
    contracted to host (nation) level with link counts, intra-host
    self-loops included (LinkGraph.contract)."""
    g = graph(spark, sf_dir, "raw")
    return g.contract(_host_map(spark, sf_dir)).select(
        F.col("src").alias("src_host"),
        F.col("dst").alias("dst_host"),
        F.col("weight").alias("n_links"),
    )


def q_host_pagerank(spark, sf_dir):
    """Weighted PageRank over the rolled-up host graph — rank flows
    proportionally to page-level link counts."""
    from graphit_spark.kernels import weighted_pagerank

    g = graph(spark, sf_dir, "raw")
    hg = LinkGraph(g.contract(_host_map(spark, sf_dir)), persist=False)
    return weighted_pagerank(hg, max_iters=PR_ITERS).select(
        "id", F.round("rank", ROUND_RANK).alias("rank")
    )


def q_host_trustrank(spark, sf_dir):
    """TrustRank over the weighted host rollup: teleport restricted to
    the deterministic seed hosts {0,5,10,15,20} — the anti-spam trust
    propagation run on Common-Crawl-style host graphs."""
    from graphit_spark.kernels import trustrank

    g = graph(spark, sf_dir, "raw")
    hg = LinkGraph(g.contract(_host_map(spark, sf_dir)), persist=False)
    return trustrank(hg, TRUST_SEEDS, max_iters=PR_ITERS).select(
        "id", F.round("trust", ROUND_RANK).alias("trust")
    )



def q_host_spam_mass(spark, sf_dir):
    """Fused weighted PageRank + TrustRank + spam mass over the host
    rollup — one edge gather per round drives both recurrences
    (eigenvector_pr_fusion.gt mechanism applied to the VLDB'04 web-spam
    pipeline); spam_mass = (rank-trust)/rank is the demotion signal."""
    from graphit_spark.kernels import fused_trust_spam

    g = graph(spark, sf_dir, "raw")
    hg = LinkGraph(g.contract(_host_map(spark, sf_dir)), persist=False)
    return fused_trust_spam(hg, TRUST_SEEDS, rounds=PR_ITERS).select(
        "id",
        F.round("rank", ROUND_RANK).alias("rank"),
        F.round("trust", ROUND_RANK).alias("trust"),
        F.round("spam_mass", ROUND_RANK).alias("spam_mass"),
    )



RICH_FRAC_DEN = 20  # rich club = top ceil(N/20) vertices by degree


def q_rich_club(spark, sf_dir):
    """Rich-club density (Zhou & Mondragon): how densely the top
    ceil(N/20) highest-degree vertices (symmetric degree, ties to the
    lower id — an exact integer total order) link to EACH OTHER.
    phi -> 1 on core-periphery webs, -> avg density on flat graphs.
    One degree table, one TakeOrdered top-m cut (never a single-task
    global Window), two broadcastable semi-joins to count in-club
    edges."""
    g = graph(spark, sf_dir, "raw")
    und = g.symmetrize()
    n = und.num_vertices
    m = (n + RICH_FRAC_DEN - 1) // RICH_FRAC_DEN
    pairs = max(m * (m - 1) // 2, 1)
    rich = (
        und.out_degrees()
        .orderBy(F.desc("out_degree"), F.asc("id"))
        .limit(m)
        .select("id")
    )
    c = (
        und.edges.filter(F.col("src") < F.col("dst"))
        .join(F.broadcast(rich.withColumnRenamed("id", "src")), "src")
        .join(F.broadcast(rich.withColumnRenamed("id", "dst")), "dst")
    )
    return c.agg(
        F.lit(m).cast("long").alias("m"),
        F.count("*").alias("rich_edges"),
        F.round(F.count("*") / F.lit(float(pairs)), 6).alias("phi"),
    )


def rich_club_sql() -> str:
    """Twin of q_rich_club: same symmetric-degree ranking (integer
    keys), same ceil-div club size, same pair normalization."""
    return (
        "WITH " + _SQL_COMMON.strip()
        + f""",
sdeg AS MATERIALIZED (
  SELECT v.id, CAST(count(e.dst) AS BIGINT) AS d
  FROM verts v LEFT JOIN sym e ON e.src = v.id GROUP BY v.id
),
mval AS (SELECT ((SELECT n FROM nv) + {RICH_FRAC_DEN - 1}) // {RICH_FRAC_DEN} AS m),
rich AS MATERIALIZED (
  SELECT id FROM (
    SELECT id, row_number() OVER (ORDER BY d DESC, id ASC) AS rn FROM sdeg
  ) WHERE rn <= (SELECT m FROM mval)
),
cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS c
  FROM sym e JOIN rich a ON e.src = a.id JOIN rich b ON e.dst = b.id
  WHERE e.src < e.dst
)
SELECT (SELECT m FROM mval) AS m, c AS rich_edges,
       round(c * 1e0 / greatest((SELECT m FROM mval)
             * ((SELECT m FROM mval) - 1) // 2, 1), 6) AS phi
FROM cnt"""
    )



def q_host_locality(spark, sf_dir):
    """Link locality: the fraction of page-level edges whose endpoints
    live on the SAME host — the classic web-graph statistic (intra-host
    locality is what makes host-partitioned adjacency layouts pay at
    crawl scale). Two broadcastable host-map joins + one integer
    aggregate; one row out."""
    g = graph(spark, sf_dir, "raw")
    hm = _host_map(spark, sf_dir)
    e = (
        g.edges
        .join(F.broadcast(hm.withColumnRenamed("id", "src")
                          .withColumnRenamed("group", "src_host")), "src")
        .join(F.broadcast(hm.withColumnRenamed("id", "dst")
                          .withColumnRenamed("group", "dst_host")), "dst")
    )
    intra = F.sum(
        F.when(F.col("src_host") == F.col("dst_host"), 1).otherwise(0)
    )
    return e.agg(
        F.count("*").alias("n_edges"),
        intra.cast("long").alias("intra_host"),
        F.round(intra / F.count("*"), 6).alias("locality"),
    )


PART_QUALITY_K = 8  # partitions for the placement-quality diagnostic


def q_partition_quality(spark, sf_dir):
    """Partition-placement diagnostic — the numbers that decide an edge
    table's physical layout at crawl scale: for k-way HASH placement
    (part = id mod k) vs HOST-BLOCKED placement (part = host mod k,
    all of a host's pages co-located), report the edge-cut fraction
    (shuffled gather traffic) and the per-partition edge balance
    (max/mean of src-owned edges — the straggler bound). Host-blocked
    placement trades balance for locality; this op measures both sides
    of that trade on the actual graph.

    Scale shape: two broadcastable host-map joins, then per strategy
    one K-row grouped aggregate + one global aggregate — no shuffle
    wider than K rows beyond the host joins."""
    k = PART_QUALITY_K
    g = graph(spark, sf_dir, "raw")
    hm = _host_map(spark, sf_dir)
    e = (
        g.edges
        .join(F.broadcast(hm.withColumnRenamed("id", "src")
                          .withColumnRenamed("group", "src_host")), "src")
        .join(F.broadcast(hm.withColumnRenamed("id", "dst")
                          .withColumnRenamed("group", "dst_host")), "dst")
        .localCheckpoint(eager=True)
    )
    out = []
    for strategy, sp, dp in (
        ("hash", F.pmod(F.col("src"), F.lit(k)),
         F.pmod(F.col("dst"), F.lit(k))),
        ("host_block", F.pmod(F.col("src_host"), F.lit(k)),
         F.pmod(F.col("dst_host"), F.lit(k))),
    ):
        tagged = e.select(sp.alias("sp"), dp.alias("dp"))
        loads = tagged.groupBy("sp").agg(F.count("*").alias("c"))
        bal = loads.agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        cut = tagged.agg(
            F.count("*").alias("n_edges"),
            F.sum((F.col("sp") != F.col("dp")).cast("long")).alias(
                "cut_edges"
            ),
        )
        out.append(
            cut.crossJoin(bal).select(
                F.lit(strategy).alias("strategy"),
                "n_edges",
                "cut_edges",
                F.round(F.col("cut_edges") / F.col("n_edges"), 6).alias(
                    "cut_frac"
                ),
                F.col("mx").alias("max_part_edges"),
                # mean over ALL k partitions (F.lit(k), not the count of
                # non-empty ones): a layout that leaves partitions empty
                # must show the full imbalance it creates, not have it
                # understated by shrinking the denominator
                F.round(
                    F.col("mx") * F.lit(k) / F.col("tot"), 6
                ).alias("balance_max_over_mean"),
            )
        )
    return out[0].unionByName(out[1])


PARTITION_QUALITY_SQL = (
    "WITH " + _SQL_COMMON.strip()
    + f""",
he AS MATERIALIZED (
  SELECT e.src, e.dst, cs.c_nationkey AS sh, cd.c_nationkey AS dh
  FROM edges e
  JOIN customer cs ON e.src = cs.c_custkey
  JOIN customer cd ON e.dst = cd.c_custkey
),
tagged AS (
  SELECT 'hash' AS strategy, src % {PART_QUALITY_K} AS sp,
         dst % {PART_QUALITY_K} AS dp FROM he
  UNION ALL
  SELECT 'host_block', sh % {PART_QUALITY_K}, dh % {PART_QUALITY_K} FROM he
),
loads AS (
  SELECT strategy, sp, CAST(count(*) AS BIGINT) AS c
  FROM tagged GROUP BY strategy, sp
),
bal AS (
  SELECT strategy, max(c) AS mx, sum(c) AS tot
  FROM loads GROUP BY strategy
),
cut AS (
  SELECT strategy, CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(CASE WHEN sp <> dp THEN 1 ELSE 0 END) AS BIGINT)
           AS cut_edges
  FROM tagged GROUP BY strategy
)
SELECT c.strategy, c.n_edges, c.cut_edges,
       round(c.cut_edges * 1e0 / c.n_edges, 6) AS cut_frac,
       CAST(b.mx AS BIGINT) AS max_part_edges,
       round(b.mx * {PART_QUALITY_K} * 1e0 / b.tot, 6) AS balance_max_over_mean
FROM cut c JOIN bal b ON c.strategy = b.strategy
ORDER BY c.strategy"""
)


HOST_LOCALITY_SQL = (
    "WITH " + _SQL_COMMON.strip()
    + """
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CASE WHEN cs.c_nationkey = cd.c_nationkey
                     THEN 1 ELSE 0 END) AS BIGINT) AS intra_host,
       round(sum(CASE WHEN cs.c_nationkey = cd.c_nationkey
                      THEN 1 ELSE 0 END) * 1e0 / count(*), 6) AS locality
FROM edges e
JOIN customer cs ON e.src = cs.c_custkey
JOIN customer cd ON e.dst = cd.c_custkey"""
)



def q_host_communities(spark, sf_dir):
    """Weighted LPA over the host rollup: votes weighted by page-level
    link counts — host community detection that respects link
    multiplicity after contraction."""
    from graphit_spark.kernels import weighted_label_propagation

    g = graph(spark, sf_dir, "raw")
    hg = LinkGraph(g.contract(_host_map(spark, sf_dir)), persist=False)
    return weighted_label_propagation(hg, rounds=LPA_ROUNDS)


def host_communities_sql(rounds: int = LPA_ROUNDS) -> str:
    """Twin of q_host_communities. The symmetrized weighted host graph
    keeps MIN weight per undirected pair (graph.py _squish contract);
    votes are sum(w) with argmax (w desc, label asc)."""
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        """hall AS MATERIALIZED (
  SELECT cs.c_nationkey AS src, cd.c_nationkey AS dst, count(*) AS w
  FROM edges e
  JOIN customer cs ON e.src = cs.c_custkey
  JOIN customer cd ON e.dst = cd.c_custkey
  GROUP BY 1, 2
)""",
        "hedges AS MATERIALIZED (SELECT src, dst, w FROM hall WHERE src <> dst)",
        "hnv AS (SELECT max(greatest(src, dst)) + 1 AS n FROM hall)",
        "hverts AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS id"
        " FROM nation WHERE n_nationkey < (SELECT n FROM hnv))",
        """hsym AS MATERIALIZED (
  SELECT src, dst, min(w) AS w FROM (
    SELECT src, dst, w FROM hedges
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM hedges
  ) GROUP BY src, dst
)""",
        "hl0 AS (SELECT id, id AS label FROM hverts)",
    ]
    for k in range(1, rounds + 1):
        p = f"hl{k - 1}"
        ctes.append(
            f"""hl{k} AS MATERIALIZED (
  SELECT v.id, coalesce(b.label, v.label) AS label
  FROM {p} v LEFT JOIN (
    SELECT id, label FROM (
      SELECT c.id, c.label,
             row_number() OVER (PARTITION BY c.id
                                ORDER BY c.wv DESC, c.label ASC) AS rn
      FROM (SELECT e.dst AS id, l.label, sum(e.w) AS wv
            FROM hsym e JOIN {p} l ON e.src = l.id
            GROUP BY e.dst, l.label) c
    ) x WHERE rn = 1
  ) b USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, label FROM hl{rounds} ORDER BY id"
    )



CRAWL_BUDGET_DEN = 3   # crawl budget = total pages // 3
CRAWL_FILL_ROUNDS = 3  # waterfill redistribution rounds


def q_crawl_budget(spark, sf_dir):
    """Per-host crawl-budget allocation — the crawl-ops planning query:
    split a global fetch budget over hosts proportionally to host
    PageRank, capped at each host's page count, redistributing the
    capped hosts' unused share over the rest (waterfill). All integer
    arithmetic after quantizing ranks to 1e-6 units, so the allocation
    is bit-exact and twin-reproducible; the floor-division leftover
    after the fixed rounds is deliberate (it converges geometrically
    and a real scheduler carries it to the next cycle).

    Scale shape: host ranks from the audited weighted rollup
    recurrence; each waterfill round is one per-host superstep, its two
    scalars (spent, uncapped weight) observed on the round's own job —
    the same driver-scalar discipline as delta-stepping's buckets. Never a
    pages-sized shuffle: allocation state is one row per host."""
    from graphit_spark.kernels import weighted_pagerank

    g = graph(spark, sf_dir, "raw")
    hg = LinkGraph(g.contract(_host_map(spark, sf_dir)), persist=False)
    runits = F.floor(
        F.round(F.col("rank"), ROUND_RANK) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    ranks = weighted_pagerank(hg, max_iters=PR_ITERS)
    caps = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("long").alias("id"))
        .agg(F.count("*").alias("cap"))
    )
    total_pages = load(spark, sf_dir, "customer").count()
    budget = int(total_pages) // CRAWL_BUDGET_DEN

    # a round's two scalars, observed on the job that materializes it
    spent = F.sum("alloc")
    uw = F.sum(
        F.when(F.col("alloc") < F.col("cap"), F.col("rank_units"))
        .otherwise(F.lit(0))
    )
    state, seen0 = counted_checkpoint(
        ranks.join(caps, "id", "left").select(
            "id", runits.alias("rank_units"),
            F.coalesce("cap", F.lit(0)).cast("long").alias("cap"),
            F.lit(0).cast("long").alias("alloc"),
        ),
        spent=spent, uw=uw,
    )
    ranks.unpersist()
    filled = lambda seen: budget <= seen["spent"] or seen["uw"] == 0  # noqa: E731

    def step(state: DataFrame, rnd) -> DataFrame:
        seen = rnd.seen or seen0
        give = F.when(
            F.col("alloc") < F.col("cap"),
            F.least(
                F.col("cap") - F.col("alloc"),
                F.expr(
                    f"({budget - seen['spent']} * rank_units) div {seen['uw']}"
                ),
            ),
        ).otherwise(F.lit(0))
        return state.select(
            "id", "rank_units", "cap",
            (F.col("alloc") + give).cast("long").alias("alloc"),
        )

    return superstep(
        state, step, rounds=0 if filled(seen0) else CRAWL_FILL_ROUNDS,
        checkpoint_start=False, until=filled, spent=spent, uw=uw,
    )


def crawl_budget_sql(rounds: int = CRAWL_FILL_ROUNDS) -> str:
    """Twin of q_crawl_budget: host ranks from host_pagerank_sql's
    CTEs, the same 1e-6 quantization, and the waterfill rounds
    unrolled with scalar-subquery spent/uncapped-weight aggregates —
    pure integer arithmetic, bit-exact."""
    pr = host_pagerank_sql()
    pr_with = pr[len("WITH "):pr.rindex("\nSELECT id, round(rank")]
    ctes = [
        pr_with,
        f"""runits AS MATERIALIZED (
  SELECT id,
         CAST(floor(round(rank, {ROUND_RANK}) * 1000000e0 + 0.5e0)
              AS BIGINT) AS rank_units
  FROM h{PR_ITERS}
)""",
        """caps AS MATERIALIZED (
  SELECT CAST(c_nationkey AS BIGINT) AS id, count(*) AS cap
  FROM customer GROUP BY 1
)""",
        f"""bparam AS (
  SELECT CAST(count(*) // {CRAWL_BUDGET_DEN} AS BIGINT) AS budget
  FROM customer
)""",
        """a0 AS MATERIALIZED (
  SELECT r.id, r.rank_units, CAST(coalesce(c.cap, 0) AS BIGINT) AS cap,
         CAST(0 AS BIGINT) AS alloc
  FROM runits r LEFT JOIN caps c USING (id)
)""",
    ]
    for k in range(1, rounds + 1):
        p = f"a{k - 1}"
        ctes.append(
            f"""rem{k} AS (
  SELECT (SELECT budget FROM bparam) - sum(alloc) AS remaining,
         sum(CASE WHEN alloc < cap THEN rank_units ELSE 0 END) AS uw
  FROM {p}
)""",
        )
        ctes.append(
            f"""a{k} AS MATERIALIZED (
  SELECT id, rank_units, cap,
         CAST(CASE WHEN (SELECT remaining FROM rem{k}) > 0
                    AND (SELECT uw FROM rem{k}) <> 0
                    AND alloc < cap
              THEN alloc + least(cap - alloc,
                   ((SELECT remaining FROM rem{k}) * rank_units)
                     // (SELECT uw FROM rem{k}))
              ELSE alloc END AS BIGINT) AS alloc
  FROM {p}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, rank_units, cap, alloc FROM a{rounds} ORDER BY id"
    )


SIMRANK_C = 0.8
SIMRANK_ROUNDS = 3


def q_host_simrank(spark, sf_dir):
    """SimRank "related hosts" over the contracted host graph — two
    hosts are similar when similar hosts link to them (Jeh & Widom
    KDD'02). Contraction bounds the pair space (the standard web-graph
    SimRank deployment); the iteration is sparse equi-joins only."""
    from graphit_spark.kernels import simrank

    g = graph(spark, sf_dir, "raw")
    hg = LinkGraph(g.contract(_host_map(spark, sf_dir)), persist=False)
    return simrank(hg, c=SIMRANK_C, rounds=SIMRANK_ROUNDS).select(
        F.col("a").alias("host_a"),
        F.col("b").alias("host_b"),
        F.round("s", ROUND_RANK).alias("simrank"),
    )


def host_simrank_sql(rounds: int = SIMRANK_ROUNDS,
                     c: float = SIMRANK_C) -> str:
    """Twin of q_host_simrank: same squished unweighted host edges,
    same sparse identity start, same (c·Σs)/(din·din) association,
    rounding only at the end."""
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        """hall AS MATERIALIZED (
  SELECT cs.c_nationkey AS src, cd.c_nationkey AS dst, count(*) AS w
  FROM edges e
  JOIN customer cs ON e.src = cs.c_custkey
  JOIN customer cd ON e.dst = cd.c_custkey
  GROUP BY 1, 2
)""",
        "hedges AS MATERIALIZED (SELECT src, dst FROM hall WHERE src <> dst)",
        "hnv AS (SELECT max(greatest(src, dst)) + 1 AS n FROM hall)",
        "hverts AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS id"
        " FROM nation WHERE n_nationkey < (SELECT n FROM hnv))",
        """hindeg AS MATERIALIZED (
  SELECT dst AS id, count(*) AS din FROM hedges GROUP BY dst
)""",
        "s0 AS (SELECT id AS a, id AS b, 1e0 AS s FROM hverts)",
    ]
    for k in range(1, rounds + 1):
        p = f"s{k - 1}"
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT x.a, x.b, x.s FROM (
    SELECT ea.dst AS a, eb.dst AS b,
           {c}e0 * sum(p.s) / (da.din * db.din) AS s
    FROM {p} p
    JOIN hedges ea ON ea.src = p.a
    JOIN hedges eb ON eb.src = p.b
    JOIN hindeg da ON da.id = ea.dst
    JOIN hindeg db ON db.id = eb.dst
    GROUP BY ea.dst, eb.dst, da.din, db.din
  ) x WHERE x.a <> x.b
  UNION ALL
  SELECT id AS a, id AS b, 1e0 AS s FROM hverts
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a AS host_a, b AS host_b, round(s, {ROUND_RANK}) AS simrank
FROM s{rounds} WHERE a < b ORDER BY a, b"""
    )


def q_closeness(spark, sf_dir):
    from graphit_spark.kernels import closeness_centrality

    g = graph(spark, sf_dir, "weighted")
    return closeness_centrality(g, 0, max_iters=SSSP_ROUNDS)


def q_sssp_delta(spark, sf_dir):
    """Delta-stepping SSSP runs to the exact fixpoint, which equals
    converged Bellman-Ford — oracle = sssp_fixpoint_sql (fixed rounds
    far past convergence at the oracle sf)."""
    from graphit_spark.kernels import sssp_delta_stepping

    g = graph(spark, sf_dir, "weighted")
    return sssp_delta_stepping(g, 0, delta=4)


SSSP_FIXPOINT_ROUNDS = 40  # >> weighted diameter at oracle sf (converged
# by round 20 at sf0.01; margin for testdata drift). Delta-stepping and
# A* run to the exact fixpoint, which equals Bellman-Ford's.
BC_LEVELS = 12  # >> BFS depth at oracle sf (4 at sf0.01)


def sssp_fixpoint_sql(rounds: int = SSSP_FIXPOINT_ROUNDS) -> str:
    return sssp_sql(rounds)


def astar_sql(target: int = 42, rounds: int = SSSP_FIXPOINT_ROUNDS) -> str:
    """A* with h=0 settles the target at the Dijkstra distance — the
    converged Bellman-Ford value at `target`."""
    inner = sssp_sql(rounds)
    head, _, tail = inner.rpartition("\nSELECT id, dist FROM ")
    last = tail.split(" ")[0]
    return (
        head
        + f"\nSELECT id, dist FROM {last} WHERE id = {target} ORDER BY id"
    )


def _bc_chain_ctes(source: int, levels: int, prefix: str = "") -> list[str]:
    """The single-source Brandes CTE chain (forward BFS depth + sigma,
    backward delta), name-prefixed so multiple pivots can coexist in
    one query. Ends at {prefix}depth and {prefix}del0."""
    x = prefix
    ctes = [
        f"{x}dep0 AS (SELECT id, CASE WHEN id = {source} THEN 0 END AS depth FROM verts)",
    ]
    # forward: BFS depth (fixed-round min-propagation, converges <= levels)
    for k in range(1, levels + 1):
        p = f"{x}dep{k - 1}"
        ctes.append(
            f"""{x}dep{k} AS MATERIALIZED (
  SELECT v.id, least(v.depth, m.mn) AS depth
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.depth) + 1 AS mn
    FROM edges e JOIN {p} l ON e.src = l.id
    WHERE l.depth IS NOT NULL
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    ctes.append(
        f"{x}depth AS MATERIALIZED (SELECT id, depth FROM {x}dep{levels})"
    )
    # forward: sigma (number of shortest paths), level by level
    ctes.append(
        f"{x}sig0 AS (SELECT id, CASE WHEN id = {source} THEN 1e0 END AS sigma FROM verts)"
    )
    for k in range(1, levels + 1):
        p = f"{x}sig{k - 1}"
        ctes.append(
            f"""{x}sig{k} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN d.depth = {k} THEN s.acc ELSE v.sigma END AS sigma
  FROM {p} v
  JOIN {x}depth d USING (id)
  LEFT JOIN (
    SELECT e.dst AS id, sum(l.sigma) AS acc
    FROM edges e
    JOIN {p} l ON e.src = l.id
    JOIN {x}depth du ON e.src = du.id AND du.depth = {k - 1}
    WHERE l.sigma IS NOT NULL
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    ctes.append(
        f"{x}sigma AS MATERIALIZED (SELECT id, sigma FROM {x}sig{levels})"
    )
    # backward: delta, from the deepest level down
    ctes.append(f"{x}del{levels} AS (SELECT id, 0e0 AS delta FROM verts)")
    for k in range(levels - 1, -1, -1):
        p = f"{x}del{k + 1}"
        ctes.append(
            f"""{x}del{k} AS MATERIALIZED (
  SELECT v.id,
         CASE WHEN d.depth = {k} THEN coalesce(c.acc, 0e0)
              ELSE v.delta END AS delta
  FROM {p} v
  JOIN {x}depth d USING (id)
  LEFT JOIN (
    SELECT e.src AS id,
           sum(sv.sigma / sw.sigma * (1e0 + dl.delta)) AS acc
    FROM edges e
    JOIN {x}depth dw ON e.dst = dw.id AND dw.depth = {k + 1}
    JOIN {x}sigma sw ON e.dst = sw.id
    JOIN {x}sigma sv ON e.src = sv.id
    JOIN {p} dl ON e.dst = dl.id
    GROUP BY e.src
  ) c USING (id)
)"""
        )
    return ctes


def betweenness_sql(levels: int = BC_LEVELS, source: int = 0) -> str:
    """Single-source Brandes as fixed-level CTEs: forward BFS depth +
    path counts, then backward dependency accumulation. Mirrors
    kernels/bc.py (reference apps/bc.gt: forward frontier stack, backward
    over the transpose). `levels` must exceed the BFS depth; deeper CTE
    rounds are no-ops on a converged depth table."""
    ctes = [_SQL_COMMON.strip()] + _bc_chain_ctes(source, levels)
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v.id,
       round(CASE WHEN v.id = {source} THEN 0e0
                  WHEN d.depth IS NULL THEN 0e0
                  ELSE l.delta END, 6) AS bc
FROM verts v
JOIN depth d USING (id)
JOIN del0 l ON v.id = l.id
ORDER BY v.id"""
    )


BC_PIVOTS = 4


def betweenness_pivots_sql(
    n_pivots: int = BC_PIVOTS, levels: int = BC_LEVELS
) -> str:
    """Pivot-sampled Brandes twin: one prefixed single-source chain per
    deterministic pivot (0..K-1), estimate = (n / K) * sum of per-pivot
    dependencies. Same per-chain float contract as betweenness_sql;
    the cross-pivot sum is a K-term fold whose sum-order noise the
    6-decimal rounding absorbs."""
    ctes = [_SQL_COMMON.strip()]
    for i in range(n_pivots):
        ctes += _bc_chain_ctes(i, levels, prefix=f"p{i}")
    terms = []
    joins = []
    for i in range(n_pivots):
        terms.append(
            f"CASE WHEN v.id = {i} THEN 0e0"
            f" WHEN d{i}.depth IS NULL THEN 0e0"
            f" ELSE l{i}.delta END"
        )
        joins.append(
            f"JOIN p{i}depth d{i} USING (id)\n"
            f"JOIN p{i}del0 l{i} ON v.id = l{i}.id"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT v.id,
       round((SELECT n FROM nv) / {n_pivots}e0 * ({' + '.join(terms)}), 6)
         AS bc_est
FROM verts v
{chr(10).join(joins)}
ORDER BY v.id"""
    )


def edge_betweenness_sql(
    n_pivots: int = BC_PIVOTS, levels: int | None = None
) -> str:
    """Twin of kernels/bc.py::edge_betweenness summed over the same K
    deterministic pivots as betweenness_pivots: per pivot, the credit
    of each shortest-path-DAG edge is sigma_src/sigma_dst*(1+delta_dst)
    (depth(dst) = depth(src)+1), reusing _bc_chain_ctes' depth/sigma/
    del0 tables; estimate = (n/K)·sum over pivots, rounded 6 (the
    K-term sum-order argument of betweenness_pivots_sql)."""
    levels = BC_LEVELS if levels is None else levels
    ctes = [_SQL_COMMON.strip()]
    parts = []
    for i in range(n_pivots):
        ctes += _bc_chain_ctes(i, levels, prefix=f"e{i}")
        parts.append(
            f"""SELECT e.src, e.dst,
       sv.sigma / sw.sigma * (1e0 + dl.delta) AS credit
FROM edges e
JOIN e{i}depth du ON e.src = du.id
JOIN e{i}depth dw ON e.dst = dw.id AND dw.depth = du.depth + 1
JOIN e{i}sigma sv ON e.src = sv.id
JOIN e{i}sigma sw ON e.dst = sw.id
JOIN e{i}del0 dl ON e.dst = dl.id"""
        )
    union = "\nUNION ALL\n".join(parts)
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
cred AS MATERIALIZED ({union})
SELECT src, dst,
       round((SELECT n FROM nv) / {n_pivots}e0 * sum(credit), 6)
         AS ebc_est
FROM cred GROUP BY src, dst ORDER BY src, dst"""
    )


def q_edge_betweenness(spark, sf_dir):
    """Girvan-Newman edge scores from K deterministic pivots: per-edge
    Brandes credits summed and scaled by n/K — the edge-removal
    ranking community peeling runs on. Sparse: only shortest-path-DAG
    edges of some pivot appear."""
    from graphit_spark.kernels.bc import edge_betweenness

    g = graph(spark, sf_dir, "raw")
    n = g.num_vertices
    total = None
    for s in range(BC_PIVOTS):
        c = edge_betweenness(g, s)
        total = c if total is None else total.unionByName(c)
    return (
        total.groupBy("src", "dst")
        .agg(F.sum("credit").alias("acc"))
        .select(
            "src",
            "dst",
            F.round(
                F.lit(float(n)) / F.lit(float(BC_PIVOTS)) * F.col("acc"), 6
            ).alias("ebc_est"),
        )
    )


GN_REMOVE = 20  # edges cut in one Girvan-Newman step
GN_CC_ROUNDS = 12  # gather+double-jump rounds: covers diameter ~ 2^12


def girvan_newman_sql(n_pivots: int = BC_PIVOTS,
                      levels: int | None = None,
                      remove: int = GN_REMOVE,
                      cc_rounds: int = GN_CC_ROUNDS) -> str:
    """Twin of q_girvan_newman_step on the blocked graph: pivot edge
    betweenness (prefixed chains over the directed edge table), cut the
    top `remove` edges by (rounded ebc desc, src, dst) — the rounding
    happens BEFORE the cut on both sides, so the rank order is
    bit-identical — then min-label CC with two pointer-doubling hops
    per round over the remaining symmetrized edges (doubling covers the
    stretched diameters a bridge cut creates; the min-id fixpoint is
    unique, so only convergence matters, not the round-by-round
    trajectory)."""
    levels = BC_LEVELS if levels is None else levels
    ctes = [_SQL_BLOCKED.strip().rstrip(",")]
    parts = []
    for i in range(n_pivots):
        ctes += _bc_chain_ctes(i, levels, prefix=f"g{i}")
        parts.append(
            f"""SELECT e.src, e.dst,
       sv.sigma / sw.sigma * (1e0 + dl.delta) AS credit
FROM edges e
JOIN g{i}depth du ON e.src = du.id
JOIN g{i}depth dw ON e.dst = dw.id AND dw.depth = du.depth + 1
JOIN g{i}sigma sv ON e.src = sv.id
JOIN g{i}sigma sw ON e.dst = sw.id
JOIN g{i}del0 dl ON e.dst = dl.id"""
        )
    ctes.append(
        "gcred AS MATERIALIZED (" + "\nUNION ALL\n".join(parts) + ")"
    )
    ctes.append(
        f"""gebc AS MATERIALIZED (
  SELECT src, dst,
         round((SELECT n FROM nv) / {n_pivots}e0 * sum(credit), 6) AS ebc
  FROM gcred GROUP BY src, dst
)""")
    ctes.append(
        f"gtop AS MATERIALIZED (SELECT src, dst FROM gebc"
        f" ORDER BY ebc DESC, src, dst LIMIT {remove})")
    ctes.append(
        """grem AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e
  LEFT JOIN gtop t ON e.src = t.src AND e.dst = t.dst
  WHERE t.src IS NULL
)""")
    ctes.append(
        """gsym AS MATERIALIZED (
  SELECT src, dst FROM grem UNION SELECT dst AS src, src AS dst FROM grem
)""")
    ctes.append("gl0 AS MATERIALIZED (SELECT id, id AS comp FROM verts)")
    for k in range(1, cc_rounds + 1):
        p = f"gl{k - 1}"
        ctes.append(
            f"""gla{k} AS MATERIALIZED (
  SELECT v.id, least(v.comp, coalesce(m.mn, v.comp)) AS comp
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.comp) AS mn
    FROM gsym e JOIN {p} l ON e.src = l.id
    GROUP BY e.dst
  ) m USING (id)
)""")
        ctes.append(
            f"""glb{k} AS MATERIALIZED (
  SELECT a.id, b.comp FROM gla{k} a JOIN gla{k} b ON a.comp = b.id
)""")
        ctes.append(
            f"""gl{k} AS MATERIALIZED (
  SELECT a.id, b.comp FROM glb{k} a JOIN glb{k} b ON a.comp = b.id
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, comp FROM gl{cc_rounds} ORDER BY id"
    )


def q_girvan_newman_step(spark, sf_dir):
    """One Girvan-Newman peel on the blocked community graph: cut the
    `GN_REMOVE` highest-edge-betweenness edges (pivot estimate, rounded
    rank keys) and return the connected components of what remains —
    the classic divisive community step, composed entirely from audited
    kernels (edge_betweenness + connected_components)."""
    from graphit_spark import LinkGraph
    from graphit_spark.kernels import connected_components
    from graphit_spark.kernels.bc import edge_betweenness

    g = graph(spark, sf_dir, "blocked")
    n = g.num_vertices
    total = None
    for s in range(BC_PIVOTS):
        c = edge_betweenness(g, s)
        total = c if total is None else total.unionByName(c)
    scores = total.groupBy("src", "dst").agg(
        F.round(
            F.lit(float(n)) / F.lit(float(BC_PIVOTS)) * F.sum("credit"), 6
        ).alias("ebc")
    )
    top = (
        scores.orderBy(F.desc("ebc"), F.asc("src"), F.asc("dst"))
        .limit(GN_REMOVE)
        .select("src", "dst")
    )
    remaining = g.edges.join(top, ["src", "dst"], "left_anti")
    g2 = LinkGraph(
        remaining,
        squished=True,
        num_partitions=g.num_partitions,
        persist=False,
        num_vertices=n,
    )
    return connected_components(g2)


MSF_ROUNDS = 12  # >= ceil(log2(V)) at oracle sf — Boruvka halves comps
MSF_JUMPS = 12  # pointer-doubling covers pseudo-tree depth 2^12


def msf_sql(rounds: int = MSF_ROUNDS, jumps: int = MSF_JUMPS) -> str:
    """Exact SQL twin of kernels/mst.py::minimum_spanning_forest —
    unrolled Boruvka: every component nominates its (w,u,v)-minimum
    outgoing edge (strict total order => unique MSF), nominated edges
    join the forest, and components contract via the same 2-cycle-broken
    pointer-doubling the kernel runs. Converged rounds are no-ops."""
    prefix = """
params AS (SELECT count(*) AS c FROM customer),
raww AS MATERIALIZED (SELECT o_custkey AS src, o_orderkey % (SELECT c FROM params) AS dst,
               1 + o_orderkey % 7 AS w
        FROM orders),
und AS MATERIALIZED (SELECT least(src, dst) AS u, greatest(src, dst) AS v, min(w) AS w
       FROM raww WHERE src <> dst GROUP BY 1, 2),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raww),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv))
"""
    ctes = [prefix.strip(),
            "comp0 AS (SELECT id, id AS comp FROM verts)"]
    for r in range(1, rounds + 1):
        p = f"comp{r - 1}"
        ctes.append(
            f"""cross{r} AS MATERIALIZED (
  SELECT e.u, e.v, e.w, a.comp AS cu, b.comp AS cv
  FROM und e
  JOIN {p} a ON e.u = a.id
  JOIN {p} b ON e.v = b.id
  WHERE a.comp <> b.comp
)"""
        )
        ctes.append(
            f"""nom{r} AS MATERIALIZED (
  SELECT c, u, v, w, cu, cv FROM (
    SELECT c, u, v, w, cu, cv,
           row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
    FROM (SELECT cu AS c, u, v, w, cu, cv FROM cross{r}
          UNION ALL
          SELECT cv AS c, u, v, w, cu, cv FROM cross{r})
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"chosen{r} AS MATERIALIZED (SELECT DISTINCT u, v, w FROM nom{r})"
        )
        # hook: every component points along its nominated edge (self if none)
        ctes.append(
            f"""ptrA{r} AS MATERIALIZED (
  SELECT m.c, coalesce(CASE WHEN n.cu = m.c THEN n.cv ELSE n.cu END, m.c) AS p
  FROM (SELECT DISTINCT comp AS c FROM {p}) m
  LEFT JOIN nom{r} n ON m.c = n.c
)"""
        )
        # break 2-cycles toward the smaller id
        ctes.append(
            f"""j{r}_0 AS MATERIALIZED (
  SELECT a.c, CASE WHEN b.p = a.c AND a.p > a.c THEN a.c ELSE a.p END AS p
  FROM ptrA{r} a JOIN ptrA{r} b ON a.p = b.c
)"""
        )
        for t in range(1, jumps + 1):
            q = f"j{r}_{t - 1}"
            ctes.append(
                f"""j{r}_{t} AS MATERIALIZED (
  SELECT a.c, b.p FROM {q} a JOIN {q} b ON a.p = b.c
)"""
            )
        ctes.append(
            f"""comp{r} AS MATERIALIZED (
  SELECT m.id, j.p AS comp FROM {p} m JOIN j{r}_{jumps} j ON m.comp = j.c
)"""
        )
    forest = " UNION ALL ".join(
        f"SELECT u, v, w FROM chosen{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT u, v, CAST(w AS BIGINT) AS weight FROM ({forest})
ORDER BY u, v"""
    )


def q_msf(spark, sf_dir):
    """Boruvka minimum spanning forest (serialMinimumSpanningTree
    intrinsic) vs the unrolled-Boruvka twin (msf_sql; the strict
    (w,u,v) total order makes the forest unique); exact edge-set parity
    vs Kruskal is additionally asserted in
    tests/test_kernels.py::TestMinimumSpanningForest."""
    from graphit_spark.kernels import minimum_spanning_forest

    g = graph(spark, sf_dir, "weighted")
    return minimum_spanning_forest(g)


SETCOVER_ROUNDS = 72  # 2x the measured 36 rounds at sf0.01
SETCOVER_EPS = 0.01


def set_cover_sql(rounds: int = SETCOVER_ROUNDS,
                  eps: float = SETCOVER_EPS) -> str:
    """Exact SQL twin of kernels/setcover.py — the Julienne bucketed
    greedy MaxCover unrolled to a fixed round count (exhausted rounds
    admit nothing: the top-bucket scalar goes NULL and every filter
    downstream of it drops out). min-set-id wins each element race, so
    the cover is deterministic. Float parity: the bucket index
    floor(x*ln(d)) and threshold ceil((1+eps)^p) use libm pow/log on
    both sides over small-integer inputs — validated at both SFs."""
    import math

    x = 1.0 / math.log1p(eps)
    one_eps = 1.0 + eps
    ctes = [
        _SQL_COMMON.strip(),
        "cov0 AS (SELECT CAST(NULL AS BIGINT) AS e WHERE FALSE)",
    ]
    outs = []
    for r in range(1, rounds + 1):
        pc = f"(SELECT p FROM p{r})"
        ctes.append(
            f"""live{r} AS MATERIALIZED (
  SELECT ed.src AS s, ed.dst AS e FROM edges ed
  LEFT JOIN cov{r - 1} c ON ed.dst = c.e WHERE c.e IS NULL
)"""
        )
        ctes.append(
            f"rdeg{r} AS MATERIALIZED (SELECT s, count(*) AS d "
            f"FROM live{r} GROUP BY s)"
        )
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT max(floor({x!r} * ln(d))) AS p "
            f"FROM rdeg{r})"
        )
        ctes.append(
            f"""win{r} AS MATERIALIZED (
  SELECT l.e, min(l.s) AS s FROM live{r} l
  JOIN (SELECT s FROM rdeg{r}
        WHERE d >= ceil(power({one_eps!r}, {pc}))) a USING (s)
  GROUP BY l.e
)"""
        )
        ctes.append(
            f"""adm{r} AS MATERIALIZED (
  SELECT s FROM (SELECT s, count(*) AS won FROM win{r} GROUP BY s)
  WHERE won >= greatest(ceil(power({one_eps!r}, {pc} - 1)), 1)
)"""
        )
        ctes.append(
            f"""cov{r} AS MATERIALIZED (
  SELECT e FROM cov{r - 1}
  UNION ALL
  SELECT w.e FROM win{r} w JOIN adm{r} a USING (s)
)"""
        )
        outs.append(
            f"SELECT CAST(s AS BIGINT) AS set_id, CAST({r} AS INT) AS round "
            f"FROM adm{r}"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + "\n" + " UNION ALL ".join(outs).join(["SELECT * FROM (", ")"])
        + " ORDER BY round, set_id"
    )


def q_set_cover(spark, sf_dir):
    """Julienne bucketed greedy set cover (apps/set_cover.gt) vs the
    fixed-round unrolled twin (set_cover_sql); exact parity vs the
    pure-Python mirror is additionally asserted in tests
    (TestSetCover)."""
    from graphit_spark.kernels import set_cover

    g = graph(spark, sf_dir, "raw")
    return set_cover(g)


def q_core_numbers(spark, sf_dir):
    """Full core decomposition (apps/k_core.gt bucket peeling) vs the
    iterated-kcore twin (core_numbers_sql: core = max k with membership
    in the k-core); exact parity vs the pure-Python peeling oracle is
    additionally asserted in tests (TestCoreDecomposition)."""
    from graphit_spark.kernels import core_decomposition

    return core_decomposition(graph(spark, sf_dir, "raw"))


PPSP_TARGET = 99


def q_ppsp(spark, sf_dir):
    """Point-to-point delta-stepping (apps/ppsp_delta_stepping.gt):
    only the target's distance is settled at termination; oracle =
    converged Bellman-Ford at the target."""
    from graphit_spark.kernels import ppsp

    g = graph(spark, sf_dir, "weighted")
    return ppsp(g, 0, PPSP_TARGET).filter(
        F.col("id") == PPSP_TARGET
    ).select("id", "dist")


def q_astar(spark, sf_dir):
    """Point-to-point A* (h=0 -> Dijkstra). Only the target's distance
    is guaranteed settled at termination, so the query returns the
    target row; oracle = converged Bellman-Ford at the target."""
    from graphit_spark.kernels import astar

    g = graph(spark, sf_dir, "weighted")
    return astar(g, 0, 42, delta=4).filter(F.col("id") == 42).select(
        "id", "dist"
    )


PPR_SOURCE = 0
PPR_ITERS = 6
ROUND_PPR = 6


def ppr_sql(iters: int = PR_ITERS, source: int = PPR_SOURCE) -> str:
    """Twin of kernels/pagerank.py::personalized_pagerank on the raw
    directed graph: teleport mass returns to the seed alone."""
    seed = f"CASE WHEN v.id = {source} THEN 1e0 ELSE 0e0 END"
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        f"pr0 AS (SELECT id, CASE WHEN id = {source} THEN 1e0 ELSE 0e0 END"
        " AS rank FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        ctes.append(
            f"""pr{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - 0.85e0) * {seed}
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.out_degree) AS acc
    FROM edges e
    JOIN {p} r ON e.src = r.id
    JOIN deg d ON e.src = d.id AND d.out_degree > 0
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, round(rank, {ROUND_PPR}) AS rank FROM pr{iters}"
        " ORDER BY id"
    )


PPR_BATCH_SEEDS = [0, 1, 2, 3]


def q_ppr_batch(spark, sf_dir):
    """K PPR vectors from one shared loop (sparse (seed, id, rank)
    state, one edge scan per round for all seeds) — see
    kernels/pagerank.py personalized_pagerank_batch."""
    from graphit_spark.kernels import personalized_pagerank_batch

    g = graph(spark, sf_dir, "raw")
    return personalized_pagerank_batch(
        g, PPR_BATCH_SEEDS, max_iters=PPR_ITERS
    ).select("seed", "id", F.round("rank", ROUND_PPR).alias("rank"))


def ppr_batch_sql(
    iters: int = PPR_ITERS, seeds: list[int] | None = None
) -> str:
    """Twin of q_ppr_batch: the dense (seed × verts) unrolled
    recurrence with the identical per-row expression; rows the sparse
    engine never materializes are EXACTLY 0.0 in the dense recurrence
    (every sparse row's rank is a positive sum), so `rank <> 0`
    reproduces the sparse row set precisely."""
    seeds = seeds or PPR_BATCH_SEEDS
    seed_list = ", ".join(str(int(s)) for s in seeds)
    ind = "CASE WHEN p.id = p.seed THEN 1e0 ELSE 0e0 END"
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        f"seeds AS (SELECT unnest([{seed_list}]) AS seed)",
        "pr0 AS (SELECT s.seed, v.id,"
        " CASE WHEN v.id = s.seed THEN 1e0 ELSE 0e0 END AS rank"
        " FROM verts v, seeds s)",
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        ctes.append(
            f"""pr{k} AS MATERIALIZED (
  SELECT p.seed, p.id,
         (1e0 - 0.85e0) * {ind}
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM {p} p LEFT JOIN (
    SELECT r.seed, e.dst AS id, sum(r.rank / d.out_degree) AS acc
    FROM edges e
    JOIN {p} r ON e.src = r.id
    JOIN deg d ON e.src = d.id AND d.out_degree > 0
    GROUP BY r.seed, e.dst
  ) s USING (seed, id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT seed, id, round(rank, {ROUND_PPR}) AS rank"
        f" FROM pr{iters} WHERE rank <> 0 ORDER BY seed, id"
    )


def q_ppr(spark, sf_dir):
    from graphit_spark.kernels import personalized_pagerank

    g = graph(spark, sf_dir, "raw")
    return personalized_pagerank(g, PPR_SOURCE, max_iters=PR_ITERS).select(
        "id", F.round("rank", ROUND_PPR).alias("rank")
    )


WTF_SEED = PPR_SOURCE
WTF_CIRCLE = 30
WTF_K = 10


def q_who_to_follow(spark, sf_dir):
    """Who-to-follow recommendations — Twitter's published WTF pipeline
    (Gupta et al., WWW'13), composed entirely from this engine's own
    kernels: (1) personalized PageRank from the seed builds the
    "circle of trust" (top-C by rounded score, seed excluded); (2)
    SALSA runs on the bipartite subgraph of the circle's out-edges —
    circle members are hubs, their targets compete for authority; (3)
    authorities the seed already links to (and the seed) are dropped,
    top-K by rounded authority returned.

    Determinism: every ranking cut orders on ROUNDED scores (desc) with
    id tiebreak — after rounding both engines hold bit-equal values
    (the ppr/salsa queries' proven contract), so neither the circle nor
    the final K can flip on 1-ulp noise. Scale shape: PPR is the
    audited superstep; the subgraph is one semi-join; SALSA's cost is
    proportional to the CIRCLE's out-edges, not the graph
    (kernels/salsa.py who_to_follow)."""
    from graphit_spark.kernels.salsa import who_to_follow

    return who_to_follow(
        graph(spark, sf_dir, "raw"),
        WTF_SEED,
        circle=WTF_CIRCLE,
        k=WTF_K,
        ppr_iters=PR_ITERS,
        salsa_rounds=SALSA_ROUNDS,
        round_decimals=ROUND_RANK,
    )


def who_to_follow_sql(
    iters: int = PR_ITERS,
    seed: int = WTF_SEED,
    circle: int = WTF_CIRCLE,
    k: int = WTF_K,
    rounds: int = SALSA_ROUNDS,
) -> str:
    """PPR chain (ppr_sql's recurrence) → rounded-score circle cut →
    subgraph SALSA (shared _salsa_round_ctes) → anti-join + top-K."""
    seed_case = f"CASE WHEN v.id = {seed} THEN 1e0 ELSE 0e0 END"
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        f"pr0 AS (SELECT id, CASE WHEN id = {seed} THEN 1e0 ELSE 0e0 END"
        " AS rank FROM verts)",
    ]
    for j in range(1, iters + 1):
        p = f"pr{j - 1}"
        ctes.append(
            f"""pr{j} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - 0.85e0) * {seed_case}
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.out_degree) AS acc
    FROM edges e
    JOIN {p} r ON e.src = r.id
    JOIN deg d ON e.src = d.id AND d.out_degree > 0
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    ctes.append(
        f"""circle AS MATERIALIZED (
  SELECT id FROM (SELECT id, round(rank, {ROUND_PPR}) AS score
                  FROM pr{iters} WHERE id <> {seed})
  ORDER BY score DESC, id LIMIT {circle}
),
subedges AS MATERIALIZED (
  SELECT e.src, e.dst FROM edges e JOIN circle c ON e.src = c.id
),
nvs AS (SELECT max(greatest(src, dst)) + 1 AS n FROM subedges),
subverts AS MATERIALIZED (
  SELECT c_custkey AS id FROM customer
  WHERE c_custkey < (SELECT n FROM nvs)
)"""
    )
    ctes += _salsa_round_ctes("subedges", "subverts", rounds, prefix="w")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT id, round(auth, {ROUND_RANK}) AS auth
FROM ws{rounds} s
WHERE s.id <> {seed}
  AND NOT EXISTS (SELECT 1 FROM edges e
                  WHERE e.src = {seed} AND e.dst = s.id)
ORDER BY round(auth, {ROUND_RANK}) DESC, id LIMIT {k}"""
    )


def local_cluster_sql(iters: int = PPR_ITERS, source: int = PPR_SOURCE) -> str:
    """Twin of q_local_cluster — the canonical local-clustering
    composition: personalized PageRank from the seed over the
    symmetrized blocked graph, scores rounded (so both engines rank the
    SAME totals), then the conductance sweep. vol sums the graph
    degree; the ordering key is the rounded PPR score."""
    seed = f"CASE WHEN v.id = {source} THEN 1e0 ELSE 0e0 END"
    ctes = [
        _SQL_BLOCKED.strip(),
        """symdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS deg
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
)""",
        "mm AS (SELECT count(*) AS m FROM sym)",
        f"pr0 AS (SELECT id, CASE WHEN id = {source} THEN 1e0 ELSE 0e0 END"
        " AS rank FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        ctes.append(
            f"""pr{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - 0.85e0) * {seed}
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.deg) AS acc
    FROM sym e
    JOIN {p} r ON e.src = r.id
    JOIN symdeg d ON e.src = d.id AND d.deg > 0
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    ctes.append(
        f"""rk AS MATERIALIZED (
  SELECT p.id, round(p.rank, {ROUND_PPR}) AS val, d.deg,
         CAST(row_number() OVER (ORDER BY round(p.rank, {ROUND_PPR}) DESC,
                                 p.id ASC) - 1 AS BIGINT) AS r
  FROM pr{iters} p JOIN symdeg d USING (id)
)"""
    )
    ctes.append(
        """deltas AS MATERIALIZED (
  SELECT a.r, sum(CASE WHEN b.r IS NULL OR b.r > a.r THEN 1 ELSE -1 END) AS delta
  FROM sym e JOIN rk a ON e.src = a.id LEFT JOIN rk b ON e.dst = b.id
  GROUP BY a.r
)"""
    )
    ctes.append(
        """swept AS MATERIALIZED (
  SELECT rk.id, rk.r,
         sum(rk.deg) OVER (ORDER BY rk.r ROWS UNBOUNDED PRECEDING) AS vol,
         sum(coalesce(dl.delta, 0)) OVER (ORDER BY rk.r ROWS UNBOUNDED PRECEDING) AS crossing
  FROM rk LEFT JOIN deltas dl ON rk.r = dl.r
)"""
    )
    ctes.append(
        """best AS (
  SELECT r FROM (
    SELECT r,
           CASE WHEN crossing = 0
                     OR least(vol, (SELECT m FROM mm) - vol) = 0 THEN 1e0
                ELSE crossing * 1e0 / least(vol, (SELECT m FROM mm) - vol)
           END AS cond
    FROM swept
  ) ORDER BY cond, r LIMIT 1
)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT id FROM swept WHERE r < (SELECT r FROM best) ORDER BY id"
    )


def q_local_cluster(spark, sf_dir):
    """PPR → sweep cut: the local-clustering pipeline serialSweepCut
    exists for, end to end on the symmetrized blocked graph."""
    from graphit_spark.kernels import personalized_pagerank, sweep_cut

    g0 = graph(spark, sf_dir, "blocked")
    g = g0.symmetrize()
    ppr = personalized_pagerank(g, PPR_SOURCE, max_iters=PPR_ITERS)
    vals = (
        g0.vertices()
        .join(ppr, "id", "left")
        .select(
            "id",
            F.coalesce(F.round("rank", ROUND_PPR), F.lit(0.0)).alias("val"),
        )
    )
    return sweep_cut(g, vals)


def sweep_cut_sql() -> str:
    """Twin of kernels/sweepcut.py over the symmetrized blocked graph
    with score = symmetric degree: rank by (val desc, id asc), per-rank
    ±1 crossing deltas, window prefix sums, argmin conductance, prefix
    strictly before the best index (the reference's exclusive cut)."""
    return (
        "WITH " + _SQL_BLOCKED.strip()
        + """,
symdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS val
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
),
mm AS (SELECT count(*) AS m FROM sym),
rk AS MATERIALIZED (
  SELECT id, val,
         CAST(row_number() OVER (ORDER BY val DESC, id ASC) - 1 AS BIGINT) AS r
  FROM symdeg
),
deltas AS MATERIALIZED (
  SELECT a.r, sum(CASE WHEN b.r IS NULL OR b.r > a.r THEN 1 ELSE -1 END) AS delta
  FROM sym e JOIN rk a ON e.src = a.id LEFT JOIN rk b ON e.dst = b.id
  GROUP BY a.r
),
swept AS MATERIALIZED (
  SELECT rk.id, rk.r,
         sum(rk.val) OVER (ORDER BY rk.r ROWS UNBOUNDED PRECEDING) AS vol,
         sum(coalesce(dl.delta, 0)) OVER (ORDER BY rk.r ROWS UNBOUNDED PRECEDING) AS crossing
  FROM rk LEFT JOIN deltas dl ON rk.r = dl.r
),
best AS (
  SELECT r FROM (
    SELECT r,
           CASE WHEN crossing = 0
                     OR least(vol, (SELECT m FROM mm) - vol) = 0 THEN 1e0
                ELSE crossing * 1e0 / least(vol, (SELECT m FROM mm) - vol)
           END AS cond
    FROM swept
  ) ORDER BY cond, r LIMIT 1
)
SELECT id FROM swept WHERE r < (SELECT r FROM best) ORDER BY id"""
    )


def q_sweep_cut(spark, sf_dir):
    """serialSweepCut analogue: conductance sweep over the symmetrized
    blocked graph scored by symmetric degree (integer scores — no
    cross-engine float-tie ambiguity) vs sweep_cut_sql."""
    from graphit_spark.kernels import sweep_cut

    g0 = graph(spark, sf_dir, "blocked")
    g = g0.symmetrize()
    vals = (
        g0.vertices()
        .join(g.out_degrees(), "id", "left")
        .select("id", F.coalesce("out_degree", F.lit(0)).alias("val"))
    )
    return sweep_cut(g, vals)


SPECTRAL_ROUNDS = 8  # keep in sync with kernels/spectral.py
_SPECTRAL_MULT = 2654435761
_SPECTRAL_MOD = 2048


def spectral_sql(rounds: int = SPECTRAL_ROUNDS) -> str:
    """Twin of kernels/spectral.py::spectral_bisection on the symmetrized
    blocked graph: deflated power iteration on M = cI − L (c = 2·max
    degree), per round y = (c − d)·x + Σ_nbr x, then mean-center and
    L2-normalize with the round's own scalar stats — each stats CTE is
    the SQL image of the kernel's single combined driver aggregate, and
    every float expression (m = s1/n, norm = sqrt(s2 − s1·s1/n), the
    var ≤ 0 → 1 guard) is written with the identical operation order."""
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        """sdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.cnt, 0) AS BIGINT) AS d
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS cnt FROM sym GROUP BY src) d USING (id)
)""",
        "cc AS (SELECT 2 * max(d) AS c FROM sdeg)",
        f"""x0 AS MATERIALIZED (
  SELECT id, d,
         ((CAST(id AS BIGINT) * {_SPECTRAL_MULT}) % {_SPECTRAL_MOD})
           / {float(_SPECTRAL_MOD)} - 0.5e0 AS x
  FROM sdeg
)""",
    ]
    for k in range(1, rounds + 1):
        p = f"x{k - 1}"
        ctes.append(
            f"""y{k} AS MATERIALIZED (
  SELECT v.id, v.d,
         ((SELECT c FROM cc) - v.d) * v.x + coalesce(s.acc, 0e0) AS y
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, sum(r.x) AS acc
    FROM sym e JOIN {p} r ON e.src = r.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
        ctes.append(
            f"st{k} AS (SELECT sum(y) AS s1, sum(y*y) AS s2,"
            f" count(*) AS n FROM y{k})"
        )
        ctes.append(
            f"""x{k} AS MATERIALIZED (
  SELECT id, d,
         (y - (SELECT s1 / n FROM st{k}))
           / (SELECT CASE WHEN s2 - s1 * s1 / n <= 0 THEN 1e0
                          ELSE sqrt(s2 - s1 * s1 / n) END FROM st{k}) AS x
  FROM y{k}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT id, round(x, {ROUND_RANK}) + 0e0 AS fiedler,
       CAST(CASE WHEN round(x, {ROUND_RANK}) > 0 THEN 1 ELSE 0 END
            AS INTEGER) AS side
FROM x{rounds} ORDER BY id"""
    )


PUSH_SOURCE = 0


def _ppr_push_chain(rounds: int, source: int, alpha_num: int,
                    alpha_den: int, eps_units: int) -> list[str]:
    """CTE chain shared by ppr_push_sql and local_cluster_push_sql:
    dense-state unroll of the sparse kernel over _SQL_BLOCKED's sym
    (untouched vertices have r = 0, are never active, and receive
    nothing). All arithmetic is BIGINT nano-units with positive-operand
    floor-divs (`//` == Spark `div`) — bit-exact vs the kernel,
    active-threshold knife-edges included. Rounds where no vertex
    passes the threshold are no-ops, which makes the fixed unroll
    budget-idempotent vs the kernel's early break."""
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        """pdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(c.cnt, 0) AS BIGINT) AS d
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS cnt FROM sym GROUP BY src) c USING (id)
)""",
        f"""s0 AS MATERIALIZED (
  SELECT id, d, CAST(0 AS BIGINT) AS p,
         CAST(CASE WHEN id = {source} THEN 1000000000 ELSE 0 END
              AS BIGINT) AS r
  FROM pdeg
)""",
    ]
    for k in range(1, rounds + 1):
        prev = f"s{k - 1}"
        ctes.append(
            f"""a{k} AS MATERIALIZED (
  SELECT id, d, r,
         (r * {alpha_num}) // {alpha_den} AS gain,
         (r - (r * {alpha_num}) // {alpha_den}) // 2 AS push_total
  FROM {prev} WHERE r > {eps_units} * d AND d > 0
)""")
        ctes.append(
            f"""g{k} AS MATERIALIZED (
  SELECT e.dst AS id, SUM(a.push_total // a.d) AS recv
  FROM sym e JOIN a{k} a ON e.src = a.id
  WHERE a.push_total // a.d > 0
  GROUP BY e.dst
)""")
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT v.id, v.d,
         v.p + coalesce(a.gain, 0) AS p,
         CASE WHEN a.id IS NOT NULL
              THEN v.r - a.gain - (a.push_total // a.d) * a.d
              ELSE v.r END + coalesce(g.recv, 0) AS r
  FROM {prev} v LEFT JOIN a{k} a USING (id) LEFT JOIN g{k} g USING (id)
)""")
    return ctes


def ppr_push_sql(rounds: int = 12, source: int = PUSH_SOURCE,
                 alpha_num: int = 15, alpha_den: int = 100,
                 eps_units: int = 1000) -> str:
    """Twin of kernels/pprpush.py::approximate_ppr_push. The final
    WHERE r > 0 reproduces the kernel's sparse touched set exactly:
    every kernel row keeps r >= 1 (an active row retains
    keep = (r - gain) - (r - gain)//2 >= 1 plus the push remainder; an
    inactive touched row keeps its r unchanged)."""
    ctes = _ppr_push_chain(rounds, source, alpha_num, alpha_den, eps_units)
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT id, CAST(p AS BIGINT) AS ppr_units, CAST(r AS BIGINT) AS r_units,
       CAST(p AS BIGINT) / 1000000000.0 AS ppr
FROM s{rounds} WHERE r > 0 ORDER BY id"""
    )


def local_cluster_push_sql(rounds: int = 12, source: int = PUSH_SOURCE,
                           alpha_num: int = 15, alpha_den: int = 100,
                           eps_units: int = 1000) -> str:
    """Twin of q_local_cluster_push — the full ACL pipeline: local push
    from the seed, degree-normalized settled mass as the sweep ordering
    (p(v)/d(v), realized as the exact BIGINT (p·1e9) // d so both
    engines rank identical integers), then the conductance sweep from
    sweep_cut_sql. The ordering integers are exact, so there is zero
    float-tie ambiguity anywhere in the composition."""
    ctes = _ppr_push_chain(rounds, source, alpha_num, alpha_den, eps_units)
    ctes.append("mm AS (SELECT count(*) AS m FROM sym)")
    ctes.append(
        f"""rk AS MATERIALIZED (
  SELECT s.id,
         CASE WHEN s.d > 0 THEN (s.p * 1000000000) // s.d ELSE 0 END AS val,
         s.d AS deg,
         CAST(row_number() OVER (
           ORDER BY CASE WHEN s.d > 0 THEN (s.p * 1000000000) // s.d
                         ELSE 0 END DESC, s.id ASC) - 1 AS BIGINT) AS r
  FROM s{rounds} s
)"""
    )
    ctes.append(
        """deltas AS MATERIALIZED (
  SELECT a.r, sum(CASE WHEN b.r IS NULL OR b.r > a.r THEN 1 ELSE -1 END) AS delta
  FROM sym e JOIN rk a ON e.src = a.id LEFT JOIN rk b ON e.dst = b.id
  GROUP BY a.r
)"""
    )
    ctes.append(
        """swept AS MATERIALIZED (
  SELECT rk.id, rk.r,
         sum(rk.deg) OVER (ORDER BY rk.r ROWS UNBOUNDED PRECEDING) AS vol,
         sum(coalesce(dl.delta, 0)) OVER (ORDER BY rk.r ROWS UNBOUNDED PRECEDING) AS crossing
  FROM rk LEFT JOIN deltas dl ON rk.r = dl.r
)"""
    )
    ctes.append(
        """best AS (
  SELECT r FROM (
    SELECT r,
           CASE WHEN crossing = 0
                     OR least(vol, (SELECT m FROM mm) - vol) = 0 THEN 1e0
                ELSE crossing * 1e0 / least(vol, (SELECT m FROM mm) - vol)
           END AS cond
    FROM swept
  ) ORDER BY cond, r LIMIT 1
)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT id FROM swept WHERE r < (SELECT r FROM best) ORDER BY id"
    )


def q_local_cluster_push(spark, sf_dir):
    """The ACL local-clustering pipeline at its intended scale shape:
    sparse push PPR (touched-set cost, not V-sized supersteps) feeding
    the distributed conductance sweep. Ordering key is the exact
    integer (p·1e9) // d — degree-normalized settled mass."""
    from graphit_spark.kernels import approximate_ppr_push, sweep_cut

    g0 = graph(spark, sf_dir, "blocked")
    g = g0.symmetrize()
    push = approximate_ppr_push(g0, PUSH_SOURCE)
    vals = (
        g0.vertices()
        .join(push.select("id", "ppr_units"), "id", "left")
        .join(g.out_degrees(), "id", "left")
        .select(
            "id",
            F.expr(
                "CASE WHEN coalesce(out_degree, 0) > 0"
                " THEN (coalesce(ppr_units, 0) * 1000000000) div out_degree"
                " ELSE 0 END"
            ).alias("val"),
        )
    )
    return sweep_cut(g, vals)


def q_ppr_push(spark, sf_dir):
    """ACL local-push personalized PageRank: the sparse, touched-set-only
    seed query (cost independent of graph size) vs the power-iteration
    `personalized_pagerank`."""
    from graphit_spark.kernels import approximate_ppr_push

    return approximate_ppr_push(graph(spark, sf_dir, "blocked"),
                                PUSH_SOURCE)


def q_spectral_bisection(spark, sf_dir):
    """Fiedler-vector bisection of the blocked community graph — the
    spectral seed for graph partitioning (kernel symmetrizes
    internally)."""
    from graphit_spark.kernels import spectral_bisection

    return spectral_bisection(
        graph(spark, sf_dir, "blocked"), rounds=SPECTRAL_ROUNDS
    )


WL_Q_ROUNDS = 3


def wl_sql(rounds: int = WL_Q_ROUNDS) -> str:
    """Twin of kernels/wl.py::wl_refinement on the symmetrized blocked
    graph: degree-init 60-bit md5 colors, per round the order-
    independent multiset digest (count, bit_xor, sum mod 1000003) —
    exact integers all the way, so the colors match bit for bit.
    DuckDB's sum(BIGINT) returns HUGEINT; the CAST back to BIGINT keeps
    the decimal string identical to Spark's."""
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        """wdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(c.cnt, 0) AS BIGINT) AS d
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS cnt FROM sym GROUP BY src) c USING (id)
)""",
        """wc0 AS MATERIALIZED (
  SELECT id, ('0x' || substr(md5(CAST(d AS VARCHAR)), 1, 15))::BIGINT
           AS color
  FROM wdeg
)""",
    ]
    for k in range(1, rounds + 1):
        p = f"wc{k - 1}"
        ctes.append(
            f"""dg{k} AS MATERIALIZED (
  SELECT e.dst AS id, count(*) AS cnt, bit_xor(r.color) AS x,
         CAST(sum(r.color % 1000003) AS BIGINT) AS s
  FROM sym e JOIN {p} r ON e.src = r.id GROUP BY e.dst
)""")
        ctes.append(
            f"""wc{k} AS MATERIALIZED (
  SELECT v.id,
         ('0x' || substr(md5(CAST(v.color AS VARCHAR) || '|' ||
            CAST(coalesce(d.cnt, 0) AS VARCHAR) || '|' ||
            CAST(coalesce(d.x, 0) AS VARCHAR) || '|' ||
            CAST(coalesce(d.s, 0) AS VARCHAR)), 1, 15))::BIGINT AS color
  FROM {p} v LEFT JOIN dg{k} d USING (id)
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, color FROM wc{rounds} ORDER BY id"
    )


def q_wl_refinement(spark, sf_dir):
    """1-WL structural fingerprints of the blocked graph (3 rounds):
    equal colors = structurally indistinguishable at radius 3 — the
    link-farm/template detector and subgraph-match pruner."""
    from graphit_spark.kernels import wl_refinement

    return wl_refinement(graph(spark, sf_dir, "blocked"),
                         rounds=WL_Q_ROUNDS)


SPREAD_ROUNDS = 6
SPREAD_CLASSES = 4


def label_spreading_sql(rounds: int = SPREAD_ROUNDS) -> str:
    """Twin of kernels/labelprop.py::label_spreading on the symmetrized
    blocked graph, seeded at block heads (id % BLOCK == 0) with class
    (id // BLOCK) % SPREAD_CLASSES: hard-clamped seeds, argmax
    (count desc, label asc) over LABELED neighbors per round, NULL for
    unreached — all-integer, bit-exact."""
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        f"""seeds AS MATERIALIZED (
  SELECT id, CAST((id // {BLOCK}) % {SPREAD_CLASSES} AS BIGINT)
           AS seed_label
  FROM verts WHERE id % {BLOCK} = 0
)""",
        "ls0 AS MATERIALIZED (SELECT v.id, s.seed_label AS label"
        " FROM verts v LEFT JOIN seeds s USING (id))",
    ]
    for k in range(1, rounds + 1):
        p = f"ls{k - 1}"
        ctes.append(
            f"""ls{k} AS MATERIALIZED (
  SELECT v.id, coalesce(s.seed_label, b.label, v.label) AS label
  FROM {p} v LEFT JOIN seeds s USING (id) LEFT JOIN (
    SELECT id, label FROM (
      SELECT c.id, c.label,
             row_number() OVER (PARTITION BY c.id
                                ORDER BY c.cnt DESC, c.label ASC) AS rn
      FROM (SELECT e.dst AS id, l.label, count(*) AS cnt
            FROM sym e JOIN {p} l ON e.src = l.id
            WHERE l.label IS NOT NULL
            GROUP BY e.dst, l.label) c
    ) x WHERE rn = 1
  ) b USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, label FROM ls{rounds} ORDER BY id"
    )


def q_label_spreading(spark, sf_dir):
    """Weak-supervision label spreading: clamped block-head seeds
    propagate their class over the blocked community graph."""
    from graphit_spark.kernels import label_spreading

    g = graph(spark, sf_dir, "blocked")
    seeds = (
        g.vertices()
        .filter(F.col("id") % BLOCK == 0)
        .select(
            "id",
            F.expr(f"(id div {BLOCK}) % {SPREAD_CLASSES}").alias("label"),
        )
    )
    return label_spreading(g, seeds, rounds=SPREAD_ROUNDS)


SPECTRAL_PART_LEVELS = 2
SPECTRAL_PART_ROUNDS = 6


def spectral_partition_sql(levels: int = SPECTRAL_PART_LEVELS,
                           rounds: int = SPECTRAL_PART_ROUNDS) -> str:
    """Twin of kernels/spectral.py::spectral_partition: each level
    materializes the within-part edge table once, then runs the
    deflated power iteration with PER-PART grouped stats (the grouped
    image of the bisection twin's scalar st CTEs); the level boundary
    quantizes at round(x, 6) and shifts the part code left one bit."""
    ctes = [
        _SQL_BLOCKED.strip().rstrip(","),
        "p0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS part"
        " FROM verts)",
    ]
    for lv in range(levels):
        ctes.append(
            f"""pe{lv} AS MATERIALIZED (
  SELECT e.src, e.dst, a.part
  FROM sym e JOIN p{lv} a ON e.src = a.id JOIN p{lv} b ON e.dst = b.id
  WHERE a.part = b.part
)""")
        ctes.append(
            f"""bs{lv} AS MATERIALIZED (
  SELECT p.id, p.part, CAST(coalesce(d.cnt, 0) AS BIGINT) AS d
  FROM p{lv} p LEFT JOIN
       (SELECT src AS id, count(*) AS cnt FROM pe{lv} GROUP BY src) d
       USING (id)
)""")
        ctes.append(
            f"cm{lv} AS (SELECT part, CAST(2 * max(d) AS BIGINT) AS c"
            f" FROM bs{lv} GROUP BY part)")
        ctes.append(
            f"""x{lv}_0 AS MATERIALIZED (
  SELECT b.id, b.part, b.d, c.c,
         ((CAST(b.id AS BIGINT) * {_SPECTRAL_MULT}) % {_SPECTRAL_MOD})
           / {float(_SPECTRAL_MOD)} - 0.5e0 AS x
  FROM bs{lv} b JOIN cm{lv} c USING (part)
)""")
        for k in range(1, rounds + 1):
            p = f"x{lv}_{k - 1}"
            ctes.append(
                f"""y{lv}_{k} AS MATERIALIZED (
  SELECT v.id, v.part, v.d, v.c,
         (v.c - v.d) * v.x + coalesce(s.acc, 0e0) AS y
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, sum(r.x) AS acc
    FROM pe{lv} e JOIN {p} r ON e.src = r.id
    GROUP BY e.dst
  ) s USING (id)
)""")
            ctes.append(
                f"st{lv}_{k} AS (SELECT part, sum(y) AS s1,"
                f" sum(y*y) AS s2, count(*) AS n"
                f" FROM y{lv}_{k} GROUP BY part)")
            ctes.append(
                f"""x{lv}_{k} AS MATERIALIZED (
  SELECT y.id, y.part, y.d, y.c,
         (y.y - t.s1 / t.n)
           / (CASE WHEN t.s2 - t.s1 * t.s1 / t.n <= 0 THEN 1e0
                   ELSE sqrt(t.s2 - t.s1 * t.s1 / t.n) END) AS x
  FROM y{lv}_{k} y JOIN st{lv}_{k} t USING (part)
)""")
        ctes.append(
            f"""p{lv + 1} AS MATERIALIZED (
  SELECT id,
         CAST(part * 2 + CASE WHEN round(x, {ROUND_RANK}) > 0
                              THEN 1 ELSE 0 END AS BIGINT) AS part
  FROM x{lv}_{rounds}
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, part FROM p{levels} ORDER BY id"
    )


def q_spectral_partition(spark, sf_dir):
    """Recursive spectral partition of the blocked graph into
    2^levels parts — all parts iterate simultaneously via grouped
    stats (no per-part driver scalars)."""
    from graphit_spark.kernels import spectral_partition

    return spectral_partition(
        graph(spark, sf_dir, "blocked"),
        levels=SPECTRAL_PART_LEVELS,
        rounds=SPECTRAL_PART_ROUNDS,
    )


WALK_LEN = 4
WALK_SEED = 7


def _walks_parts(
    walk_len: int = WALK_LEN, seed: int = WALK_SEED
) -> tuple[list, str]:
    """Shared CTE builder for the random-walk twins: returns the CTE
    list and the UNION ALL select producing (walk_id, step, vertex)."""
    ctes = [
        _SQL_COMMON.strip(),
        "adj AS MATERIALIZED (SELECT src, list_sort(list(dst)) AS nbrs "
        "FROM edges GROUP BY src)",
        "w0 AS (SELECT id AS walk_id, id AS v FROM verts)",
    ]
    for t in range(1, walk_len + 1):
        h = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| '_{t}_{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.walk_id,
         a.nbrs[CAST({h} % len(a.nbrs) AS INT) + 1] AS v
  FROM w{t - 1} w JOIN adj a ON w.v = a.src
)"""
        )
    outs = " UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS INT) AS step, v AS vertex FROM w{t}"
        for t in range(0, walk_len + 1)
    )
    return ctes, outs


def walks_sql(walk_len: int = WALK_LEN, seed: int = WALK_SEED) -> str:
    """Exact twin of kernels/walks.py::random_walks — the seeded-hash
    neighbor draw is md5-prefix arithmetic over the sorted adjacency
    list, reproducible bit for bit in SQL."""
    ctes, outs = _walks_parts(walk_len, seed)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT * FROM ({outs}) ORDER BY walk_id, step"
    )


def walk_cooccurrence_sql(
    walk_len: int = WALK_LEN,
    seed: int = WALK_SEED,
    window: int = COOC_WINDOW,
) -> str:
    """Twin of kernels/walks.py::walk_cooccurrence over the same walk
    table: within-walk (center, context) pairs at step distance
    1..window, counted per directed pair — integer-exact."""
    ctes, outs = _walks_parts(walk_len, seed)
    ctes.append(f"wk AS MATERIALIZED (SELECT * FROM ({outs}))")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a.vertex AS u, b.vertex AS v, CAST(count(*) AS BIGINT) AS cnt
FROM wk a JOIN wk b
  ON a.walk_id = b.walk_id
 AND abs(a.step - b.step) <= {window}
 AND a.step <> b.step
GROUP BY a.vertex, b.vertex
ORDER BY u, v"""
    )


def weighted_walks_sql(walk_len: int = WALK_LEN, seed: int = WALK_SEED) -> str:
    """Twin of kernels/walks.py::weighted_random_walks — inverse-CDF
    draw over the per-src running weight (window keyed by src)."""
    prefix = """
params AS (SELECT count(*) AS c FROM customer),
raww AS MATERIALIZED (SELECT o_custkey AS src, o_orderkey % (SELECT c FROM params) AS dst,
               1 + o_orderkey % 7 AS w
        FROM orders),
wedges AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM raww WHERE src <> dst
           GROUP BY src, dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raww),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv)),
cum AS MATERIALIZED (
  SELECT src, dst,
         sum(w) OVER (PARTITION BY src ORDER BY dst
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         sum(w) OVER (PARTITION BY src) AS totw
  FROM wedges
)
"""
    ctes = [prefix.strip(),
            "w0 AS (SELECT id AS walk_id, id AS v FROM verts)"]
    for t in range(1, walk_len + 1):
        h = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| '_{t}_{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
  SELECT walk_id, dst AS v FROM (
    SELECT w.walk_id, c.dst,
           row_number() OVER (PARTITION BY w.walk_id
                              ORDER BY c.cumw) AS rn
    FROM w{t - 1} w JOIN cum c ON w.v = c.src
    WHERE c.cumw > {h} % c.totw
  ) WHERE rn = 1
)"""
        )
    outs = " UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS INT) AS step, v AS vertex FROM w{t}"
        for t in range(0, walk_len + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT * FROM ({outs}) ORDER BY walk_id, step"
    )


def q_weighted_random_walks(spark, sf_dir):
    """Weight-biased seeded walks (inverse-CDF draw) vs
    weighted_walks_sql."""
    from graphit_spark.kernels import weighted_random_walks

    g = graph(spark, sf_dir, "weighted")
    return weighted_random_walks(g, WALK_LEN, seed=WALK_SEED)


def alias_walks_sql(walk_len: int = WALK_LEN, seed: int = WALK_SEED) -> str:
    """Twin of kernels/walks.py::random_walks_alias — the O(1)-draw
    alias-method sampler, ORACLE INCLUDED: the Vose construction uses a
    min-index pairing rule (walks.py::_alias_build), so each round is a
    per-src windowed argmin — expressible as a recursive CTE that
    finalizes exactly one under-full slot per src per iteration. All
    arithmetic is the same IEEE double sequence as the Python builder
    ((w*n)/tot init, (scaled_l + scaled_s) - 1.0 updates), so prob
    values — and therefore every accept/reject draw — match bit for
    bit."""
    prec = (1 << 31) - 1
    prefix = """
raww AS MATERIALIZED (SELECT o_custkey AS src, o_orderkey % (SELECT count(*) FROM customer) AS dst,
               1 + o_orderkey % 7 AS w
        FROM orders),
wedges AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM raww WHERE src <> dst
           GROUP BY src, dst),
nv AS MATERIALIZED (SELECT max(greatest(src, dst)) + 1 AS n FROM raww),
verts AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nv)),
slots AS MATERIALIZED (
  SELECT src, dst, w,
         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS INT) AS idx,
         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS n,
         CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS tot
  FROM wedges),
rec AS (
  SELECT src, idx, dst, n,
         CAST(w * n AS DOUBLE) / CAST(tot AS DOUBLE) AS scaled,
         FALSE AS fin, CAST(1.0 AS DOUBLE) AS prob, idx AS alias, 0 AS it
  FROM slots
  UNION ALL
  SELECT src, idx, dst, n,
         CASE WHEN idx = l_idx THEN (scaled + s_scaled) - 1e0 ELSE scaled END,
         CASE WHEN idx = s_idx THEN TRUE ELSE fin END,
         CASE WHEN idx = s_idx THEN scaled ELSE prob END,
         CASE WHEN idx = s_idx THEN l_idx ELSE alias END,
         it + 1
  FROM (
    SELECT q.*,
           max(CASE WHEN idx = s_idx THEN scaled END)
             OVER (PARTITION BY src) AS s_scaled
    FROM (
      SELECT r.*,
             min(CASE WHEN NOT fin AND scaled < 1e0 THEN idx END)
               OVER (PARTITION BY src) AS s_idx,
             min(CASE WHEN NOT fin AND scaled >= 1e0 THEN idx END)
               OVER (PARTITION BY src) AS l_idx
      FROM rec r
    ) q
  )
  WHERE s_idx IS NOT NULL AND l_idx IS NOT NULL
),
atab AS MATERIALIZED (
  SELECT src, idx, dst, n, prob, alias
  FROM (SELECT *, row_number() OVER (PARTITION BY src, idx
                                     ORDER BY it DESC) AS rn FROM rec)
  WHERE rn = 1
)
"""
    ctes = [prefix.strip(),
            "w0 AS (SELECT id AS walk_id, id AS v FROM verts)"]
    for t in range(1, walk_len + 1):
        slot_h = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| 'i_{t}_{seed}'), 1, 8))::BIGINT"
        )
        u_h = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| 'u_{t}_{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.walk_id,
         CASE WHEN CAST({u_h} % {prec} AS DOUBLE) / {prec}e0 < f.prob
              THEN f.dst ELSE f2.dst END AS v
  FROM w{t - 1} w
  JOIN atab f ON f.src = w.v
             AND f.idx = CAST({slot_h} % f.n AS INT)
  JOIN atab f2 ON f2.src = f.src AND f2.idx = f.alias
)"""
        )
    outs = " UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS INT) AS step, v AS vertex FROM w{t}"
        for t in range(0, walk_len + 1)
    )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes)
        + f"\nSELECT * FROM ({outs}) ORDER BY walk_id, step"
    )


def q_random_walks_alias(spark, sf_dir):
    """Alias-method weighted walks (O(1) draw per walk-step regardless
    of hub degree — the scale path for hub-revisiting workloads) vs the
    recursive-CTE twin alias_walks_sql."""
    from graphit_spark.kernels import random_walks_alias

    g = graph(spark, sf_dir, "weighted")
    return random_walks_alias(g, WALK_LEN, seed=WALK_SEED)


def graph_stats_sql() -> str:
    return (
        "WITH " + _SQL_COMMON.strip()
        + """
SELECT (SELECT n FROM nv) AS n_vertices,
       (SELECT count(*) FROM edges) AS n_edges,
       (SELECT max(out_degree) FROM deg) AS max_out_degree,
       (SELECT round(avg(out_degree), 6) FROM deg) AS avg_out_degree,
       (SELECT count(*) FROM deg WHERE out_degree = 0) AS n_sinks"""
    )


def q_graph_stats(spark, sf_dir):
    """One-row structural profile of the squished graph — the first
    query any user runs against a new edge table."""
    g = graph(spark, sf_dir, "raw")
    deg = g.out_degrees()
    return deg.agg(
        F.lit(g.num_vertices).cast("long").alias("n_vertices"),
        F.lit(g.num_edges).cast("long").alias("n_edges"),
        F.max("out_degree").alias("max_out_degree"),
        F.round(F.avg("out_degree"), 6).alias("avg_out_degree"),
        F.sum((F.col("out_degree") == 0).cast("long")).alias("n_sinks"),
    )


def _modularity_tail_sql(lab_select: str) -> str:
    """Q = Σ_c [e_c/m - (d_c/2m)^2] over the `lab` partition from
    `lab_select` — append to any CTE head that defines verts/sym."""
    return f""",
lab AS MATERIALIZED ({lab_select}),
symdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS deg
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
),
mm AS (SELECT count(*) / 2 AS m FROM sym),
intra AS (
  SELECT count(*) / 2 AS e_in, la.label
  FROM sym e
  JOIN lab la ON e.src = la.id
  JOIN lab lb ON e.dst = lb.id AND la.label = lb.label
  GROUP BY la.label
),
comm AS (
  SELECT l.label, coalesce(i.e_in, 0) AS e_in, sum(d.deg) AS d_c
  FROM lab l
  JOIN symdeg d ON l.id = d.id
  LEFT JOIN intra i ON l.label = i.label
  GROUP BY l.label, i.e_in
)
SELECT round(sum(e_in * 1e0 / (SELECT m FROM mm)
             - (d_c * 1e0 / (2 * (SELECT m FROM mm))) ^ 2), 6)
         AS modularity
FROM comm"""


def modularity_sql(rounds: int = LPA_ROUNDS) -> str:
    """Newman modularity of the LPA communities on the symmetrized
    blocked graph."""
    head, _, _tail = lpa_sql(rounds).rpartition("\nSELECT id, label FROM ")
    return head + _modularity_tail_sql(f"SELECT id, label FROM l{rounds}")


def louvain_modularity_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Same Q over the Louvain move-phase partition (twin of
    q_louvain_modularity)."""
    head, _, _tail = louvain_sql(rounds).rpartition(
        "\nSELECT id, c AS community FROM "
    )
    return head + _modularity_tail_sql(
        f"SELECT id, c AS label FROM lv{rounds}"
    )


def q_community_conductance(spark, sf_dir):
    """Per-community conductance of the LPA partition — the cut-quality
    eval that pairs with modularity (lpa_modularity) and with sweep_cut
    (which MINIMIZES this metric for one seed): for each label,
    cut(c) / min(vol(c), 2m - vol(c)). One labels join per edge side,
    two grouped aggregations; every key is community- or V-sized."""
    from graphit_spark.kernels import label_propagation

    und = graph(spark, sf_dir, "blocked").symmetrize()
    labels = label_propagation(
        graph(spark, sf_dir, "blocked"), rounds=LPA_ROUNDS
    ).localCheckpoint(eager=True)
    m2 = und.edges.count()  # = 2m (both directions of each edge)
    deg = und.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("deg")
    )
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
    cut = (
        und.edges.join(la, "src").join(lb, "dst")
        .filter(F.col("la") != F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").alias("cut_edges"))
    )
    comm = (
        labels.join(deg, "id", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.coalesce("deg", F.lit(0))).alias("volume"),
        )
    )
    return (
        comm.join(cut, "label", "left")
        .select(
            "label",
            "n_members",
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
            "volume",
            F.round(
                F.coalesce("cut_edges", F.lit(0))
                / F.greatest(
                    F.least(F.col("volume"), F.lit(m2) - F.col("volume")),
                    F.lit(1),
                ),
                6,
            ).alias("conductance"),
        )
        .localCheckpoint(eager=True)
    )


def community_conductance_sql(rounds: int = LPA_ROUNDS) -> str:
    """Twin of q_community_conductance: the lpa_sql head plus the
    cut/volume tail (sum cast to BIGINT — DuckDB sums to HUGEINT)."""
    head, _, _tail = lpa_sql(rounds).rpartition("\nSELECT id, label FROM ")
    return head + f""",
lab AS MATERIALIZED (SELECT id, label FROM l{rounds}),
symdeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS deg
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),
cut AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS cut_edges
  FROM sym e
  JOIN lab la ON e.src = la.id
  JOIN lab lb ON e.dst = lb.id AND la.label <> lb.label
  GROUP BY la.label
),
comm AS (
  SELECT l.label, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(d.deg) AS BIGINT) AS volume
  FROM lab l JOIN symdeg d ON l.id = d.id
  GROUP BY l.label
)
SELECT c.label, c.n_members, coalesce(k.cut_edges, 0) AS cut_edges,
       c.volume,
       round(coalesce(k.cut_edges, 0) * 1e0
             / greatest(least(c.volume, (SELECT m2 FROM mm) - c.volume), 1),
             6) AS conductance
FROM comm c LEFT JOIN cut k USING (label)
ORDER BY c.label"""



def q_modularity(spark, sf_dir):
    """Community-quality eval: Newman modularity of the LPA labels on
    the symmetrized blocked graph (one scalar row)."""
    from graphit_spark.kernels import label_propagation

    g = graph(spark, sf_dir, "blocked").symmetrize()
    labels = label_propagation(graph(spark, sf_dir, "blocked"),
                               rounds=LPA_ROUNDS)
    return _modularity_of(labels, g)


def q_louvain_modularity(spark, sf_dir):
    """The same Newman modularity over the Louvain move-phase
    partition — the pair of rows (lpa_modularity, louvain_modularity)
    is the in-engine community-quality comparison (at sf0.01: LPA 0.84
    vs Louvain 0.84 move-only / 0.88 two-level)."""
    from graphit_spark.kernels import louvain_move

    g = graph(spark, sf_dir, "blocked").symmetrize()
    labels = louvain_move(
        graph(spark, sf_dir, "blocked"), rounds=LOUVAIN_ROUNDS
    ).withColumnRenamed("community", "label")
    return _modularity_of(labels, g)


def _modularity_of(labels: DataFrame, g: LinkGraph) -> DataFrame:
    """Q = Σ_c [e_c/m - (d_c/2m)^2] of a (id, label) partition over the
    symmetrized graph `g` — exact integer counts, one rounded double
    expression at the end."""
    deg = g.out_degrees().withColumnRenamed("out_degree", "deg")
    lab = labels.join(deg, "id", "left").select(
        "id", "label", F.coalesce("deg", F.lit(0)).alias("deg")
    )
    m = g.num_edges // 2
    la = lab.select(F.col("id").alias("src"), F.col("label").alias("la"))
    lb = lab.select(F.col("id").alias("dst"), F.col("label").alias("lb"))
    intra = (
        g.edges.join(la, "src").join(lb, "dst")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg((F.count("*") / 2).alias("e_in"))
    )
    comm = (
        lab.groupBy("label")
        .agg(F.sum("deg").alias("d_c"))
        .join(intra, "label", "left")
        .select("label", F.coalesce("e_in", F.lit(0)).alias("e_in"), "d_c")
    )
    return comm.agg(
        F.round(
            F.sum(
                F.col("e_in") / F.lit(float(m))
                - F.pow(F.col("d_c") / F.lit(2.0 * m), 2)
            ),
            6,
        ).alias("modularity")
    )


N2V_P, N2V_Q = 4.0, 0.25  # dyadic => bias weights exact in binary


def node2vec_sql(walk_len: int = WALK_LEN, seed: int = WALK_SEED,
                 p: float = N2V_P, q: float = N2V_Q) -> str:
    """Twin of kernels/walks.py::node2vec_walks — uniform first hop over
    the sorted adjacency, then the 1/p / 1 / 1/q inverse-CDF draw with
    per-walk window sums (dst-ascending order on both engines, so every
    float comparison sees identical doubles)."""
    prec = (1 << 31) - 1
    rp, rq = repr(1.0 / p), repr(1.0 / q)
    h1 = (
        f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
        f"|| '_1_{seed}'), 1, 8))::BIGINT"
    )
    ctes = [
        _SQL_COMMON.strip(),
        "adj AS MATERIALIZED (SELECT src, list_sort(list(dst)) AS nbrs "
        "FROM edges GROUP BY src)",
        "conn AS MATERIALIZED (SELECT DISTINCT src AS prev, dst, 1 AS c "
        "FROM edges)",
        "w0 AS (SELECT id AS walk_id, id AS v FROM verts)",
        f"""s1 AS MATERIALIZED (
  SELECT w.walk_id, w.v AS prev,
         a.nbrs[CAST({h1} % len(a.nbrs) AS INT) + 1] AS v
  FROM w0 w JOIN adj a ON w.v = a.src
)""",
    ]
    for t in range(2, walk_len + 1):
        h = (
            f"('0x' || substr(md5(CAST(walk_id AS VARCHAR) "
            f"|| '_{t}_{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""cand{t} AS MATERIALIZED (
  SELECT s.walk_id, s.v AS newprev, e.dst,
         CASE WHEN e.dst = s.prev THEN {rp}
              WHEN c.c IS NOT NULL THEN 1e0
              ELSE {rq} END AS bias
  FROM s{t - 1} s
  JOIN edges e ON s.v = e.src
  LEFT JOIN conn c ON c.prev = s.prev AND c.dst = e.dst
)"""
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
  SELECT walk_id, newprev AS prev, dst AS v FROM (
    SELECT walk_id, newprev, dst,
           sum(bias) OVER (PARTITION BY walk_id ORDER BY dst
                           ROWS UNBOUNDED PRECEDING) AS cumw,
           ({h} % {prec}) / CAST({prec} AS DOUBLE)
             * sum(bias) OVER (PARTITION BY walk_id) AS target,
           row_number() OVER (PARTITION BY walk_id ORDER BY dst) AS rn0
    FROM cand{t}
  ) x WHERE cumw > target
  QUALIFY row_number() OVER (PARTITION BY walk_id ORDER BY cumw) = 1
)"""
        )
    outs = ["SELECT walk_id, CAST(0 AS INT) AS step, v AS vertex FROM w0",
            "SELECT walk_id, CAST(1 AS INT) AS step, v FROM s1"]
    outs += [
        f"SELECT walk_id, CAST({t} AS INT) AS step, v FROM s{t}"
        for t in range(2, walk_len + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT * FROM ({' UNION ALL '.join(outs)}) ORDER BY walk_id, step"
    )


def q_node2vec_walks(spark, sf_dir):
    """Second-order biased walks (node2vec sampling) vs node2vec_sql."""
    from graphit_spark.kernels import node2vec_walks

    g = graph(spark, sf_dir, "raw")
    return node2vec_walks(g, WALK_LEN, p=N2V_P, q=N2V_Q, seed=WALK_SEED)


def node2vec_alias_sql(walk_len: int = WALK_LEN, seed: int = WALK_SEED,
                       p: float = N2V_P, q: float = N2V_Q) -> str:
    """Twin of kernels/walks.py::node2vec_walks_alias — the per-(prev,
    cur) alias blocks built by the SAME min-index Vose recursion as
    alias_walks_sql, just partitioned by the 2-path prefix instead of
    src. The oracle builds blocks for ALL 2-paths (fine at oracle
    scale); the engine builds lazily for visited prefixes only — same
    construction per pair either way. Bias weights (1/p, 1, 1/q) are
    dyadic for the default p=4, q=0.25, so every partial sum — and
    therefore every scaled/prob double — is bit-identical across
    engines."""
    prec = (1 << 31) - 1
    rp, rq = repr(1.0 / p), repr(1.0 / q)
    h1 = (
        f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
        f"|| '_1_{seed}'), 1, 8))::BIGINT"
    )
    prefix = f"""
adj AS MATERIALIZED (SELECT src, list_sort(list(dst)) AS nbrs
       FROM edges GROUP BY src),
conn AS MATERIALIZED (SELECT DISTINCT src AS prev, dst, 1 AS c FROM edges),
cand2 AS MATERIALIZED (
  SELECT e1.src AS prev, e1.dst AS cur, e2.dst,
         CASE WHEN e2.dst = e1.src THEN {rp}
              WHEN c.c IS NOT NULL THEN 1e0
              ELSE {rq} END AS bias
  FROM edges e1
  JOIN edges e2 ON e1.dst = e2.src
  LEFT JOIN conn c ON c.prev = e1.src AND c.dst = e2.dst
),
slots AS MATERIALIZED (
  SELECT prev, cur, dst, bias,
         CAST(row_number() OVER (PARTITION BY prev, cur ORDER BY dst) - 1
              AS INT) AS idx,
         CAST(count(*) OVER (PARTITION BY prev, cur) AS BIGINT) AS n,
         sum(bias) OVER (PARTITION BY prev, cur) AS tot
  FROM cand2),
rec AS (
  SELECT prev, cur, idx, dst, n,
         (bias * n) / tot AS scaled,
         FALSE AS fin, CAST(1.0 AS DOUBLE) AS prob, idx AS alias, 0 AS it
  FROM slots
  UNION ALL
  SELECT prev, cur, idx, dst, n,
         CASE WHEN idx = l_idx THEN (scaled + s_scaled) - 1e0 ELSE scaled END,
         CASE WHEN idx = s_idx THEN TRUE ELSE fin END,
         CASE WHEN idx = s_idx THEN scaled ELSE prob END,
         CASE WHEN idx = s_idx THEN l_idx ELSE alias END,
         it + 1
  FROM (
    SELECT q2.*,
           max(CASE WHEN idx = s_idx THEN scaled END)
             OVER (PARTITION BY prev, cur) AS s_scaled
    FROM (
      SELECT r.*,
             min(CASE WHEN NOT fin AND scaled < 1e0 THEN idx END)
               OVER (PARTITION BY prev, cur) AS s_idx,
             min(CASE WHEN NOT fin AND scaled >= 1e0 THEN idx END)
               OVER (PARTITION BY prev, cur) AS l_idx
      FROM rec r
    ) q2
  )
  WHERE s_idx IS NOT NULL AND l_idx IS NOT NULL
),
atab AS MATERIALIZED (
  SELECT prev, cur, idx, dst, n, prob, alias
  FROM (SELECT *, row_number() OVER (PARTITION BY prev, cur, idx
                                     ORDER BY it DESC) AS rn FROM rec)
  WHERE rn = 1
)
"""
    ctes = [
        _SQL_COMMON.strip(),
        prefix.strip(),
        "w0 AS (SELECT id AS walk_id, id AS v FROM verts)",
        f"""s1 AS MATERIALIZED (
  SELECT w.walk_id, w.v AS prev,
         a.nbrs[CAST({h1} % len(a.nbrs) AS INT) + 1] AS v
  FROM w0 w JOIN adj a ON w.v = a.src
)""",
    ]
    for t in range(2, walk_len + 1):
        slot_h = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| 'i_{t}_{seed}'), 1, 8))::BIGINT"
        )
        u_h = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| 'u_{t}_{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
  SELECT w.walk_id, w.v AS prev,
         CASE WHEN CAST({u_h} % {prec} AS DOUBLE) / {prec}e0 < f.prob
              THEN f.dst ELSE f2.dst END AS v
  FROM s{t - 1} w
  JOIN atab f ON f.prev = w.prev AND f.cur = w.v
             AND f.idx = CAST({slot_h} % f.n AS INT)
  JOIN atab f2 ON f2.prev = f.prev AND f2.cur = f.cur AND f2.idx = f.alias
)"""
        )
    outs = ["SELECT walk_id, CAST(0 AS INT) AS step, v AS vertex FROM w0",
            "SELECT walk_id, CAST(1 AS INT) AS step, v FROM s1"]
    outs += [
        f"SELECT walk_id, CAST({t} AS INT) AS step, v FROM s{t}"
        for t in range(2, walk_len + 1)
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(ctes)
        + f"\nSELECT * FROM ({' UNION ALL '.join(outs)}) ORDER BY walk_id, step"
    )


def q_node2vec_walks_alias(spark, sf_dir):
    """Second-order walks via lazily-built per-(prev, cur) alias blocks
    (O(1) draws; walks sharing a hub prefix share one block) vs the
    recursive-CTE twin node2vec_alias_sql."""
    from graphit_spark.kernels import node2vec_walks_alias

    g = graph(spark, sf_dir, "raw")
    return node2vec_walks_alias(
        g, WALK_LEN, p=N2V_P, q=N2V_Q, seed=WALK_SEED
    )


def q_random_walks(spark, sf_dir):
    """Seeded deterministic random walks (getRandomOutNgh analogue +
    node2vec-style corpus sampling) vs the md5-draw twin (walks_sql)."""
    from graphit_spark.kernels import random_walks

    g = graph(spark, sf_dir, "raw")
    return random_walks(g, WALK_LEN, seed=WALK_SEED)


MC_PR_WALKS = 3
MC_PR_LEN = 8


def q_pagerank_montecarlo(spark, sf_dir):
    """Monte-Carlo PageRank: the cheap-pass estimator whose total cost
    is V·R/(1−α) walk rows, independent of rounds-to-convergence —
    the scale alternative when full-precision power iteration is
    overkill (kernels/walks.py::montecarlo_pagerank for the plan)."""
    from graphit_spark.kernels import montecarlo_pagerank

    g = graph(spark, sf_dir, "raw")
    return montecarlo_pagerank(
        g, walks_per_vertex=MC_PR_WALKS, walk_len=MC_PR_LEN, seed=WALK_SEED
    )


def montecarlo_pr_sql(
    R: int = MC_PR_WALKS, walk_len: int = MC_PR_LEN, seed: int = WALK_SEED
) -> str:
    """Twin of montecarlo_pagerank: same md5 continue draw (seed+101
    stream, alpha = 17/20 as an integer comparison), same neighbor draw
    over the sorted adjacency, same walk_len truncation — bit-identical
    visit counts; rank_est = visits·3/(20·n·R) in one double divide."""
    ctes = [
        _SQL_COMMON.strip(),
        "adj AS MATERIALIZED (SELECT src, list_sort(list(dst)) AS nbrs "
        "FROM edges GROUP BY src)",
        f"""w0 AS MATERIALIZED (
  SELECT id * {R} + g.k AS walk_id, id AS v
  FROM verts, LATERAL (SELECT unnest(range(0, {R})) AS k) g
)""",
    ]
    for t in range(1, walk_len + 1):
        hc = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| '_{t}_{seed + 101}'), 1, 8))::BIGINT"
        )
        hn = (
            f"('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) "
            f"|| '_{t}_{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.walk_id,
         a.nbrs[CAST({hn} % len(a.nbrs) AS INT) + 1] AS v
  FROM w{t - 1} w JOIN adj a ON w.v = a.src
  WHERE {hc} % 20 < 17
)"""
        )
    outs = " UNION ALL ".join(
        f"SELECT v FROM w{t}" for t in range(0, walk_len + 1)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
vis AS (SELECT v AS vertex, CAST(count(*) AS BIGINT) AS visits
        FROM ({outs}) GROUP BY v)
SELECT ver.id,
       CAST(coalesce(vis.visits, 0) AS BIGINT) AS visits,
       round((coalesce(vis.visits, 0) * 3e0)
             / CAST(20 * (SELECT n FROM nv) * {R} AS DOUBLE), 6)
         AS rank_est
FROM verts ver LEFT JOIN vis ON vis.vertex = ver.id
ORDER BY ver.id"""
    )


def q_walk_cooccurrence(spark, sf_dir):
    """DeepWalk skip-gram pairs: deterministic random walks → within-
    walk (center, context) pair counts at distance ≤ COOC_WINDOW — the
    graph-embedding training-data pipeline composed from the engine's
    own walk sampler."""
    from graphit_spark.kernels import random_walks
    from graphit_spark.kernels.walks import walk_cooccurrence

    g = graph(spark, sf_dir, "raw")
    return walk_cooccurrence(
        random_walks(g, WALK_LEN, seed=WALK_SEED), window=COOC_WINDOW
    )


def q_louvain(spark, sf_dir):
    """Louvain move phase (synchronous, integer-exact gains) on the
    blocked graph — the modularity-driven upgrade over plain LPA
    (kernels/louvain.py)."""
    from graphit_spark.kernels import louvain_move

    g = graph(spark, sf_dir, "blocked")
    return louvain_move(g, rounds=LOUVAIN_ROUNDS)


def _louvain_round_cte(prefix: str, k: int, edges: str, wexpr: str) -> str:
    """One synchronous move round as a CTE: identical integer score
    2m*e_ic - k_i*tot'_c, (score desc, c asc) argmax, the synthetic
    stay row, and the id-parity move gate. `wexpr` is the per-edge
    weight aggregate (count(*) on the unit level, sum(e.w) coarse)."""
    p = f"{prefix}{k - 1}"
    return f"""{prefix}{k} AS MATERIALIZED (
  SELECT p.id,
         CASE WHEN p.id % 2 = {k % 2} THEN coalesce(b.new_c, p.c)
              ELSE p.c END AS c, p.k
  FROM {p} p LEFT JOIN (
    SELECT id, c AS new_c FROM (
      SELECT cand.id, cand.c,
             row_number() OVER (PARTITION BY cand.id
                                ORDER BY cand.score DESC, cand.c ASC) AS rn
      FROM (
        SELECT x.id, x.c,
               (SELECT m2 FROM twom) * x.cnt
                 - cur.k * (CASE WHEN x.c = cur.c THEN t.tot - cur.k
                                 ELSE t.tot END) AS score
        FROM (
          SELECT id, c, max(cnt) AS cnt FROM (
            SELECT e.src AS id, l.c, CAST({wexpr} AS BIGINT) AS cnt
            FROM {edges} e JOIN {p} l ON e.dst = l.id
            GROUP BY e.src, l.c
            UNION ALL
            SELECT id, c, CAST(0 AS BIGINT) AS cnt FROM {p}
          ) u GROUP BY id, c
        ) x
        JOIN (SELECT c, CAST(sum(k) AS BIGINT) AS tot FROM {p} GROUP BY c) t
          ON x.c = t.c
        JOIN {p} cur ON x.id = cur.id
      ) cand
    ) r WHERE rn = 1
  ) b USING (id)
)"""


def _louvain_level1_ctes(rounds: int) -> list[str]:
    ctes = [
        _SQL_BLOCKED.strip(),
        """ldeg AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS k
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
)""",
        "twom AS (SELECT count(*) AS m2 FROM sym)",
        "lv0 AS (SELECT id, id AS c, k FROM ldeg)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(_louvain_round_cte("lv", k, "sym", "count(*)"))
    return ctes


def louvain_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Twin of kernels/louvain.louvain_move — BIGINT-only, so the hash
    matches exactly."""
    return (
        "WITH " + ",\n".join(_louvain_level1_ctes(rounds))
        + f"\nSELECT id, c AS community FROM lv{rounds} ORDER BY id"
    )


def louvain_communities_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Twin of kernels/louvain.louvain_communities: level-1 rounds,
    the community contraction (inter-community weights, self-loop rows
    dropped, coarse k = level-1 community degree total), level-2
    weighted rounds, composed assignment."""
    ctes = _louvain_level1_ctes(rounds)
    ctes.append(
        f"""cedges AS MATERIALIZED (
  SELECT a.c AS src, b.c AS dst, CAST(count(*) AS BIGINT) AS w
  FROM sym e JOIN lv{rounds} a ON e.src = a.id
             JOIN lv{rounds} b ON e.dst = b.id
  WHERE a.c <> b.c
  GROUP BY a.c, b.c
)"""
    )
    ctes.append(
        f"""cv0 AS MATERIALIZED (
  SELECT c AS id, c AS c, CAST(sum(k) AS BIGINT) AS k
  FROM lv{rounds} GROUP BY c
)"""
    )
    for k in range(1, rounds + 1):
        ctes.append(_louvain_round_cte("cv", k, "cedges", "sum(e.w)"))
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT l1.id, cv.c AS community
FROM lv{rounds} l1 JOIN cv{rounds} cv ON l1.c = cv.id
ORDER BY l1.id"""
    )


def q_louvain_communities(spark, sf_dir):
    """Two-level Louvain: move phase, community contraction
    (LinkGraph.contract — the host-rollup machinery), weighted move
    phase on the quotient graph, composed assignment."""
    from graphit_spark.kernels import louvain_communities

    g = graph(spark, sf_dir, "blocked")
    return louvain_communities(g, rounds_per_level=LOUVAIN_ROUNDS)


def q_web_bowtie(spark, sf_dir):
    """Broder bow-tie decomposition of the directed bowtie graph
    variant: every vertex classified CORE / IN / OUT / TUBE / TENDRIL /
    DISCONNECTED relative to the largest SCC (kernels/bowtie.py — the
    SCC peel plus four BFS-shaped reachability fixpoints). The classic
    web-crawl structure report; at sf0.01 all six classes are
    populated (OUT 800, CORE 200, IN 200, TENDRIL/TUBE/DISC 100)."""
    from graphit_spark.kernels import bowtie_classes

    g = graph(spark, sf_dir, "bowtie")
    return bowtie_classes(g)


def web_bowtie_sql() -> str:
    """Exact twin via the recursive transitive closure (same closure
    CTE as scc_sql): class algebra over reach/mutual sets. Set
    semantics end to end — no float, no round budget. NOTE: inside a
    WITH RECURSIVE block DuckDB does NOT deduplicate a non-recursive
    `base UNION step`-shaped CTE (it parses as the recursive pattern
    and unions ALL), so every set CTE here is written
    DISTINCT-over-UNION-ALL; EXCEPT is likewise rejected in that
    position, hence the anti-joins."""
    return f"""WITH RECURSIVE
{_SQL_BOWTIE.strip()},
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
mutual AS MATERIALIZED (
  SELECT r1.src AS v, r1.dst AS w
  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
),
scc AS MATERIALIZED (
  SELECT vt.id, least(vt.id, coalesce(min(m.w), vt.id)) AS scc
  FROM verts vt LEFT JOIN mutual m ON m.v = vt.id
  GROUP BY vt.id
),
core AS (
  SELECT scc AS c FROM scc GROUP BY scc
  ORDER BY count(*) DESC, scc ASC LIMIT 1
),
corev AS MATERIALIZED (SELECT id FROM scc WHERE scc = (SELECT c FROM core)),
fwd AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM corev
    UNION ALL
    SELECT r.dst AS id FROM reach r JOIN corev c ON r.src = c.id
  ) u
),
bwd AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM corev
    UNION ALL
    SELECT r.src AS id FROM reach r JOIN corev c ON r.dst = c.id
  ) u
),
inn AS MATERIALIZED (
  SELECT b.id FROM bwd b LEFT JOIN corev c ON b.id = c.id
  WHERE c.id IS NULL
),
outt AS MATERIALIZED (
  SELECT f.id FROM fwd f LEFT JOIN corev c ON f.id = c.id
  WHERE c.id IS NULL
),
fi AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM inn
    UNION ALL
    SELECT r.dst AS id FROM reach r JOIN inn i ON r.src = i.id
  ) u
),
bo AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM outt
    UNION ALL
    SELECT r.src AS id FROM reach r JOIN outt o ON r.dst = o.id
  ) u
)
SELECT v.id,
       CASE WHEN cv.id IS NOT NULL THEN 'CORE'
            WHEN bw.id IS NOT NULL THEN 'IN'
            WHEN fw.id IS NOT NULL THEN 'OUT'
            WHEN f2.id IS NOT NULL AND b2.id IS NOT NULL THEN 'TUBE'
            WHEN f2.id IS NOT NULL OR b2.id IS NOT NULL THEN 'TENDRIL'
            ELSE 'DISCONNECTED' END AS bowtie
FROM verts v
LEFT JOIN corev cv ON v.id = cv.id
LEFT JOIN bwd bw ON v.id = bw.id
LEFT JOIN fwd fw ON v.id = fw.id
LEFT JOIN fi f2 ON v.id = f2.id
LEFT JOIN bo b2 ON v.id = b2.id
ORDER BY v.id
"""


def q_motif_counts(spark, sf_dir):
    """Directed triad motif census (the two 3-edge motifs): feed-forward
    loops (u→v→w plus the shortcut u→w — the hierarchy signal) and
    directed 3-cycles (u→v→w→u — the feedback signal), on the raw
    squished digraph. Each FFL is a unique (u,v,w) triple; each cycle
    is canonicalized at its minimum vertex so it counts exactly once.

    Plan: two-path enumeration = one self-equi-join on the middle
    vertex (Σ in·out per center — the directed analogue of the wedge
    cost; TC's degree orientation cannot apply because edge DIRECTION
    is the signal), then one hash join confirms the closing edge.
    Never all-pairs; both counts come off the same two-path table in
    one pass (kernels/triangles.py directed_motifs)."""
    from graphit_spark.kernels.triangles import directed_motifs

    return directed_motifs(graph(spark, sf_dir, "raw"))


def motif_counts_sql() -> str:
    return f"""WITH
{_SQL_COMMON.strip()},
paths AS MATERIALIZED (
  SELECT a.src AS u, a.dst AS v, b.dst AS w
  FROM edges a JOIN edges b ON a.dst = b.src
  WHERE a.src <> b.dst
)
SELECT CAST(count(f.src) AS BIGINT) AS feed_forward,
       CAST(count(CASE WHEN c.src IS NOT NULL AND p.u < p.v AND p.u < p.w
                       THEN 1 END) AS BIGINT) AS cycles
FROM paths p
LEFT JOIN edges f ON f.src = p.u AND f.dst = p.w
LEFT JOIN edges c ON c.src = p.w AND c.dst = p.u
"""


def q_degree_histogram(spark, sf_dir):
    """Log2-bucketed out-degree distribution of the squished raw graph
    — the first plot of any web-graph study (power-law exponent eyeball)
    and the skew evidence the schedule choices key off. Integer-exact
    buckets via bit length (never floor(log2(double)), whose 1-ulp error
    flips exact powers of two): bucket = len(bin(deg)) - 1, degree-0
    vertices at bucket -1. One V-sized aggregate over the cached degree
    table."""
    g = graph(spark, sf_dir, "raw")
    deg = g.out_degrees()
    bucket = F.when(F.col("out_degree") == 0, F.lit(-1)).otherwise(
        F.length(F.bin(F.col("out_degree"))) - 1
    )
    return (
        deg.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_vertices"),
            F.min("out_degree").alias("min_degree"),
            F.max("out_degree").alias("max_degree"),
        )
    )


def degree_histogram_sql() -> str:
    return f"""WITH
{_SQL_COMMON.strip()}
SELECT CAST(CASE WHEN out_degree = 0 THEN -1
            ELSE length(bin(out_degree)) - 1 END AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vertices,
       min(out_degree) AS min_degree,
       max(out_degree) AS max_degree
FROM deg
GROUP BY 1
ORDER BY bucket
"""


CHURN_TOPK = 50
CHURN_MOD = 11


def churn_extra_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic crawl delta: one extra link per order with
    o_orderkey % CHURN_MOD == 0, target (o_orderkey*3 + 1) % |C| —
    the twin reproduces it verbatim."""
    c = _num_customers(spark, sf_dir)
    return load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % CHURN_MOD == 0
    ).select(
        F.col("o_custkey").alias("src"),
        ((F.col("o_orderkey") * 3 + 1) % F.lit(c)).alias("dst"),
    )


def q_rank_churn(spark, sf_dir):
    """Evolving-web rank turnover: PageRank before/after a
    deterministic crawl delta, reported as one row — edge counts, edges
    added, top-K membership turnover, and the L1 rank shift. The
    question an operator of a continuously-recrawled index actually
    asks ("how much did this crawl move the ranking?").

    Determinism contract: ranks are rounded to 6 BEFORE the top-K total
    order (round(rank) desc, id asc) — after rounding both engines hold
    bit-equal values (the pagerank query's proven contract), so the
    K-boundary can never flip on 1-ulp noise. Top-K itself compiles to
    TakeOrderedAndProject (per-partition heaps), never a global sort.
    The O(1) driver scalars (counts) follow the graph_stats precedent."""
    from graphit_spark.kernels import pagerank

    old_raw = raw_edges(spark, sf_dir)
    g_old = LinkGraph(old_raw, persist=False)
    g_new = LinkGraph(
        old_raw.unionByName(churn_extra_edges(spark, sf_dir)), persist=False
    )
    ro = pagerank(g_old, max_iters=PR_ITERS).select(
        "id", F.round("rank", ROUND_RANK).alias("r_old")
    )
    rn = pagerank(g_new, max_iters=PR_ITERS).select(
        "id", F.round("rank", ROUND_RANK).alias("r_new")
    )
    tko = ro.orderBy(F.desc("r_old"), F.asc("id")).limit(
        CHURN_TOPK
    ).select("id")
    tkn = rn.orderBy(F.desc("r_new"), F.asc("id")).limit(
        CHURN_TOPK
    ).select("id")
    turnover = tko.join(tkn, "id", "left_anti").count()
    n_added = (
        g_new.edges.join(g_old.edges, ["src", "dst"], "left_anti").count()
    )
    j = ro.join(rn, "id", "full").select(
        F.coalesce("r_old", F.lit(0.0)).alias("r_old"),
        F.coalesce("r_new", F.lit(0.0)).alias("r_new"),
    )
    return j.agg(
        F.lit(g_old.num_edges).cast("long").alias("n_edges_old"),
        F.lit(g_new.num_edges).cast("long").alias("n_edges_new"),
        F.lit(n_added).cast("long").alias("n_added"),
        F.lit(turnover).cast("long").alias("topk_turnover"),
        F.round(
            F.sum(F.abs(F.col("r_new") - F.col("r_old"))), ROUND_RANK
        ).alias("l1_shift"),
    )


CC_DELTA_MOD = 1999  # sparse crawl delta: merges SOME blocks, not all


def q_cc_incremental(spark, sf_dir):
    """Evolving-web component maintenance: exact CC of the grown crawl
    via WARM START from the previous crawl's labels
    (connected_components' init_labels contract — valid for
    edge-ADDITION deltas; min-id labels are a unique fixpoint, so the
    warm run lands on exactly the cold run's answer, in the few rounds
    the delta needs instead of a full from-scratch propagation). This
    is the incremental-maintenance pattern the SnapshotStore resume
    surface exists for: labels persist per crawl, each recrawl pays
    only the delta's rounds. Base = the blocked (many-component)
    graph; the delta links each eligible customer to its successor
    block, merging SOME components and leaving others — so the check
    discriminates both merge and no-merge behavior."""
    from graphit_spark.kernels import connected_components

    old_raw = blocked_edges(spark, sf_dir)
    prev = connected_components(LinkGraph(old_raw, persist=False))
    c = _num_customers(spark, sf_dir)
    delta = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % CC_DELTA_MOD == 0)
        .select(
            F.col("o_custkey").alias("src"),
            ((F.col("o_custkey") + BLOCK) % F.lit(c)).alias("dst"),
        )
    )
    g_new = LinkGraph(old_raw.unionByName(delta), persist=False)
    return connected_components(g_new, init_labels=prev)


def cc_incremental_sql(rounds: int = 4 * CC_ROUNDS) -> str:
    """Twin of q_cc_incremental: the warm-started kernel's fixpoint is
    the plain CC of the union graph, so the oracle is the cc_sql
    min-label recurrence over (raw UNION delta) — no warm-start
    mechanics needed on the SQL side (that equivalence IS the
    correctness claim being checked). 4x the cc rounds: the delta
    merges CHAINS of blocks, and the plain (no-pointer-jump) SQL
    recurrence needs a round per hop of the merged chain's diameter
    where the kernel shortcut-jumps it."""
    ctes = [
        _SQL_BLOCKED.strip(),
        f"""extra AS (
  SELECT o_custkey AS src,
         (o_custkey + {BLOCK}) % (SELECT c FROM params) AS dst
  FROM orders WHERE o_orderkey % {CC_DELTA_MOD} = 0
)""",
        """rawn AS MATERIALIZED (SELECT src, dst FROM raw
        UNION ALL SELECT src, dst FROM extra)""",
        """edgesn AS MATERIALIZED (SELECT DISTINCT src, dst FROM rawn
        WHERE src <> dst)""",
        "nvn AS (SELECT max(greatest(src, dst)) + 1 AS n FROM rawn)",
        """vertsn AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nvn))""",
        """symn AS MATERIALIZED (SELECT src, dst FROM edgesn
        UNION
        SELECT dst AS src, src AS dst FROM edgesn)""",
        "l0 AS (SELECT id, id AS comp FROM vertsn)",
    ]
    for k in range(1, rounds + 1):
        p = f"l{k - 1}"
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT v.id, least(v.comp, coalesce(m.mn, v.comp)) AS comp
  FROM {p} v LEFT JOIN (
    SELECT e.dst AS id, min(l.comp) AS mn
    FROM symn e JOIN {p} l ON e.src = l.id
    GROUP BY e.dst
  ) m USING (id)
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, comp FROM l{rounds} ORDER BY id"
    )


def rank_churn_sql(iters: int = PR_ITERS) -> str:
    """Two full PR recurrences (old edges / delta edges) + the same
    rounded-then-ranked top-K total order and L1 shift."""
    ctes = [
        _SQL_COMMON.strip().rstrip(","),
        f"""extra AS (
  SELECT o_custkey AS src,
         (o_orderkey * 3 + 1) % (SELECT c FROM params) AS dst
  FROM orders WHERE o_orderkey % {CHURN_MOD} = 0
),
rawn AS MATERIALIZED (SELECT src, dst FROM raw
        UNION ALL SELECT src, dst FROM extra),
edgesn AS MATERIALIZED (SELECT DISTINCT src, dst FROM rawn WHERE src <> dst),
nvn AS (SELECT max(greatest(src, dst)) + 1 AS n FROM rawn),
vertsn AS MATERIALIZED (SELECT c_custkey AS id FROM customer
          WHERE c_custkey < (SELECT n FROM nvn)),
degn AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS out_degree
  FROM vertsn v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM edgesn GROUP BY src) d
  USING (id)
),
r0 AS (SELECT id, 1e0 / (SELECT n FROM nv) AS rank FROM verts),
s0 AS (SELECT id, 1e0 / (SELECT n FROM nvn) AS rank FROM vertsn)""",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - 0.85e0) / (SELECT n FROM nv)
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.out_degree) AS acc
    FROM edges e
    JOIN r{k - 1} r ON e.src = r.id
    JOIN deg d ON e.src = d.id
    GROUP BY e.dst
  ) s USING (id)
),
s{k} AS MATERIALIZED (
  SELECT v.id,
         (1e0 - 0.85e0) / (SELECT n FROM nvn)
           + 0.85e0 * coalesce(s.acc, 0e0) AS rank
  FROM vertsn v LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.out_degree) AS acc
    FROM edgesn e
    JOIN s{k - 1} r ON e.src = r.id
    JOIN degn d ON e.src = d.id
    GROUP BY e.dst
  ) s USING (id)
)"""
        )
    ctes.append(
        f"""ro AS MATERIALIZED (SELECT id, round(rank, {ROUND_RANK}) AS r FROM r{iters}),
rnw AS MATERIALIZED (SELECT id, round(rank, {ROUND_RANK}) AS r FROM s{iters}),
tko AS MATERIALIZED (SELECT id FROM ro ORDER BY r DESC, id LIMIT {CHURN_TOPK}),
tkn AS MATERIALIZED (SELECT id FROM rnw ORDER BY r DESC, id LIMIT {CHURN_TOPK}),
jj AS MATERIALIZED (
  SELECT coalesce(o.r, 0e0) AS r_old, coalesce(n.r, 0e0) AS r_new
  FROM ro o FULL JOIN rnw n ON o.id = n.id
)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges_old,
       (SELECT CAST(count(*) AS BIGINT) FROM edgesn) AS n_edges_new,
       (SELECT CAST(count(*) AS BIGINT)
        FROM edgesn en LEFT JOIN edges eo
          ON en.src = eo.src AND en.dst = eo.dst
        WHERE eo.src IS NULL) AS n_added,
       (SELECT CAST(count(*) AS BIGINT)
        FROM tko LEFT JOIN tkn ON tko.id = tkn.id
        WHERE tkn.id IS NULL) AS topk_turnover,
       (SELECT round(sum(abs(r_new - r_old)), {ROUND_RANK}) FROM jj)
         AS l1_shift"""
    )


def q_reciprocity(spark, sf_dir):
    """Link reciprocity of the raw directed graph: the fraction of
    edges (u,v) whose reverse (v,u) also exists — a standard web/social
    graph health metric. One self-equi-join on (dst,src) + one global
    aggregate; the join is on the edge key, never all-pairs, and the
    count(has_rev) avoids DuckDB's HUGEINT sum() so both engines emit
    BIGINT."""
    g = graph(spark, sf_dir, "raw")
    e = g.edges.select("src", "dst")
    rev = e.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.lit(1).alias("has_rev"),
    )
    return (
        e.join(rev, ["src", "dst"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.count("has_rev").alias("n_reciprocal"),
            F.round(
                F.count("has_rev").cast("double") / F.count(F.lit(1)),
                ROUND_RANK,
            ).alias("reciprocity"),
        )
    )


def reciprocity_sql() -> str:
    return f"""WITH
{_SQL_COMMON.strip()}
SELECT count(*) AS n_edges,
       count(r.src) AS n_reciprocal,
       round(CAST(count(r.src) AS DOUBLE) / count(*), {ROUND_RANK})
         AS reciprocity
FROM edges e
LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
"""


def q_assortativity(spark, sf_dir):
    """Degree assortativity of the raw directed graph: Pearson
    correlation of (out-degree(src), in-degree(dst)) across directed
    edges — negative on web-like graphs (hubs link to low-degree
    pages). All sums are exact BIGINTs over integer degrees (sums of
    doubles are shuffle-order-dependent; integer sums are not), with
    ONE double expression at the end — bit-identical across engines
    because every double op (mul/sub/sqrt/div) is IEEE
    correctly-rounded. Two degree aggregations + two V-sized joins +
    one global aggregate; at 10^12 edges the long products stay under
    2^63 for degrees < ~3e6 (document relabel/decimal escape above
    that)."""
    g = graph(spark, sf_dir, "raw")
    e = g.edges.select("src", "dst")
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    j = e.join(outd, "src").join(ind, "dst")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    denx = F.sqrt(n * F.col("sxx").cast("double") - sx * sx)
    deny = F.sqrt(n * F.col("syy").cast("double") - sy * sy)
    return s.select(
        F.col("n").alias("n_edges"),
        F.round(
            F.when((denx > 0) & (deny > 0), num / (denx * deny)),
            ROUND_RANK,
        ).alias("assortativity"),
    )


def assortativity_sql() -> str:
    return f"""WITH
{_SQL_COMMON.strip()},
outd AS MATERIALIZED (SELECT src, count(*) AS x FROM edges GROUP BY src),
ind AS MATERIALIZED (SELECT dst, count(*) AS y FROM edges GROUP BY dst),
s AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM edges e JOIN outd USING (src) JOIN ind USING (dst)
)
SELECT n AS n_edges,
       round(
         CASE WHEN sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
               AND sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
              THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         END, {ROUND_RANK}) AS assortativity
FROM s
"""


EGO_HOPS = 2


def q_ego_subgraph(spark, sf_dir):
    """K-hop ego subgraph around vertex 0: the induced edge set on the
    2-hop out-ball — the "show me the crawl around this URL" extraction
    (kernels/ego.py; bounded frontier rounds + two semi-joins, never an
    O(V) collect)."""
    from graphit_spark.kernels import ego_subgraph

    g = graph(spark, sf_dir, "raw")
    return ego_subgraph(g, [0], hops=EGO_HOPS)


def ego_subgraph_sql(hops: int = EGO_HOPS, seed: int = 0) -> str:
    """Twin of q_ego_subgraph: unrolled reach-set closure (pure set
    semantics, no float, no tie-breaks) then the two-sided membership
    filter."""
    ctes = [
        _SQL_COMMON.strip(),
        f"r0 AS (SELECT CAST({seed} AS BIGINT) AS id)",
    ]
    for k in range(1, hops + 1):
        p = f"r{k - 1}"
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT id FROM {p}
    UNION ALL
    SELECT e.dst AS id FROM edges e JOIN {p} r ON e.src = r.id
  )
)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT e.src, e.dst
FROM edges e
JOIN r{hops} a ON e.src = a.id
JOIN r{hops} b ON e.dst = b.id
ORDER BY e.src, e.dst
"""
    )


FANOUT_EVERY = 100  # deterministic seed set: block heads
FANOUT_F1, FANOUT_F2, FANOUT_SEED = 3, 2, 7


def q_sample_fanout(spark, sf_dir):
    """2-layer GraphSAGE-style minibatch sampling on the blocked graph
    (kernels/ego.py sample_fanout): roots = block heads, fanouts (3, 2),
    md5 hash-draw keys — the GNN training-batch exporter, deterministic
    and SQL-twinnable like the walk family."""
    from graphit_spark.kernels import sample_fanout

    g = graph(spark, sf_dir, "blocked")
    seeds = g.vertices().filter(F.col("id") % FANOUT_EVERY == 0)
    return sample_fanout(
        g, seeds, fanout1=FANOUT_F1, fanout2=FANOUT_F2, seed=FANOUT_SEED
    )


def sample_fanout_sql(
    every: int = FANOUT_EVERY, f1: int = FANOUT_F1, f2: int = FANOUT_F2,
    seed: int = FANOUT_SEED,
) -> str:
    """Twin of q_sample_fanout: identical md5 draw keys (md5 of the
    canonical "{src}_{dst}_{hop}_{seed}" string — distinct strings, so
    no rank ties), per-src row_number window, same node-level layer
    scheme and root expansion."""
    def hk(hop):
        return (
            f"md5(CAST(e.src AS VARCHAR) || '_' || CAST(e.dst AS VARCHAR)"
            f" || '_{hop}_{seed}')"
        )
    return f"""
WITH {_SQL_BLOCKED.strip()},
seeds AS (SELECT id FROM verts WHERE id % {every} = 0),
h1 AS (
  SELECT e.src, e.dst,
         row_number() OVER (PARTITION BY e.src ORDER BY {hk(1)}) AS rn
  FROM edges e JOIN seeds s ON e.src = s.id
),
s1 AS MATERIALIZED (SELECT src, dst FROM h1 WHERE rn <= {f1}),
front2 AS (SELECT DISTINCT dst AS id FROM s1),
h2 AS (
  SELECT e.src, e.dst,
         row_number() OVER (PARTITION BY e.src ORDER BY {hk(2)}) AS rn
  FROM edges e JOIN front2 f ON e.src = f.id
),
s2 AS MATERIALIZED (SELECT src, dst FROM h2 WHERE rn <= {f2})
SELECT src AS root, src, dst, CAST(1 AS BIGINT) AS hop FROM s1
UNION ALL
SELECT a.src AS root, b.src, b.dst, CAST(2 AS BIGINT) AS hop
FROM s1 a JOIN s2 b ON a.dst = b.src
ORDER BY root, hop, src, dst
"""


def q_cocitation(spark, sf_dir):
    """Related pages by co-citation: pairs most often cited together
    (kernels/cocite.py — per-source pair explosion with a hub cap,
    no self-join)."""
    from graphit_spark.kernels import cocitation

    return cocitation(graph(spark, sf_dir, "raw"))


def cocitation_sql() -> str:
    """Twin of q_cocitation: identical sorted-adjacency pair expansion
    (nested list_transform ≡ Spark nested transform), same degree cap
    and (n_common DESC, page_a, page_b) total order."""
    from graphit_spark.kernels.cocite import (
        COCITE_MAX_DEGREE,
        COCITE_MIN_COUNT,
        COCITE_TOP_K,
    )

    return f"""
WITH {_SQL_COMMON.strip()},
adj AS (
  SELECT src, list(dst ORDER BY dst) AS nbrs
  FROM edges GROUP BY src
  HAVING count(*) BETWEEN 2 AND {COCITE_MAX_DEGREE}
),
pairs AS (
  SELECT p[1] AS page_a, p[2] AS page_b FROM (
    SELECT unnest(flatten(list_transform(generate_series(1, len(nbrs) - 1),
      i -> list_transform(generate_series(i + 1, len(nbrs)),
                          j -> [nbrs[i], nbrs[j]])))) AS p
    FROM adj) x
)
SELECT page_a, page_b, CAST(count(*) AS BIGINT) AS n_common
FROM pairs GROUP BY page_a, page_b
HAVING count(*) >= {COCITE_MIN_COUNT}
ORDER BY n_common DESC, page_a, page_b
LIMIT {COCITE_TOP_K}
"""


def q_butterfly_count(spark, sf_dir):
    """Butterfly (4-cycle) census on the blocked graph: wedges, dst
    pairs with a co-citing source, and butterflies (two sources citing
    the same dst pair). Exact — the blocked graph's out-degrees are
    structurally bounded by orders-per-customer, so the per-source pair
    explode never meets a hub (kernels/cocite.py butterfly_count;
    max_degree is the estimator knob for unbounded graphs)."""
    from graphit_spark.kernels import butterfly_count

    return butterfly_count(graph(spark, sf_dir, "blocked"))


def butterfly_count_sql() -> str:
    """Twin of q_butterfly_count: identical sorted-adjacency pair
    expansion and all-integer census — bit-exact."""
    return f"""
WITH {_SQL_BLOCKED.strip()},
adj AS (
  SELECT src, list(dst ORDER BY dst) AS nbrs
  FROM edges GROUP BY src HAVING count(*) >= 2
),
pairs AS (
  SELECT p[1] AS a, p[2] AS b FROM (
    SELECT unnest(flatten(list_transform(generate_series(1, len(nbrs) - 1),
      i -> list_transform(generate_series(i + 1, len(nbrs)),
                          j -> [nbrs[i], nbrs[j]])))) AS p
    FROM adj) x
),
cnt AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY a, b)
SELECT CAST(coalesce((SELECT sum(c) FROM cnt), 0) AS BIGINT) AS wedges,
       CAST((SELECT count(*) FROM cnt) AS BIGINT) AS cocited_pairs,
       CAST(coalesce((SELECT sum(c * (c - 1) // 2) FROM cnt), 0) AS BIGINT)
         AS butterflies
"""


DS_ROUNDS = 20  # > log_1.5(V) at driver sf: each peel drops > 1/3 of verts


def q_densest_subgraph(spark, sf_dir):
    """Densest subgraph via parallel greedy peel (kernels/densest.py —
    Bahmani et al.'s 2(1+eps) MapReduce peel at eps = 1/2): vertices of
    the best-density peel prefix on the symmetrized blocked graph, with
    the winning round and its 6-dp density on every row."""
    from graphit_spark.kernels import densest_subgraph

    g = graph(spark, sf_dir, "blocked")
    return densest_subgraph(g, max_rounds=DS_ROUNDS)


def densest_subgraph_sql(rounds: int = DS_ROUNDS) -> str:
    """Twin of q_densest_subgraph: the same integer-exact peel
    (survive iff deg * n > 3 * m) unrolled per round, best round by
    unrounded density with ties to the earliest (equal fractions give
    bit-equal doubles; unequal fractions at these magnitudes differ by
    >> double resolution, so the float order equals the kernel's exact
    cross-multiplication order)."""
    ctes = [
        _SQL_BLOCKED.strip(),
        "v0 AS MATERIALIZED (SELECT id FROM verts)",
    ]
    for k in range(rounds + 1):
        ctes.append(
            f"""e{k} AS MATERIALIZED (
  SELECT e.src, e.dst FROM sym e
  JOIN v{k} a ON e.src = a.id JOIN v{k} b ON e.dst = b.id
)"""
        )
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT (SELECT count(*) FROM v{k}) AS n,
         (SELECT count(*) FROM e{k} WHERE src < dst) AS m
)"""
        )
        if k < rounds:
            ctes.append(
                f"""v{k + 1} AS MATERIALIZED (
  SELECT v.id FROM v{k} v
  LEFT JOIN (SELECT src AS id, count(*) AS d FROM e{k} GROUP BY src) dg
    USING (id)
  WHERE coalesce(dg.d, 0) * (SELECT n FROM s{k}) > 3 * (SELECT m FROM s{k})
)"""
            )
    ctes.append(
        "stats AS (" + "\nUNION ALL\n".join(
            f"SELECT {k} AS round, n, m FROM s{k}" for k in range(rounds + 1)
        ) + ")"
    )
    ctes.append(
        """best AS (
  SELECT round, n, m FROM stats WHERE n > 0
  ORDER BY m * 1e0 / n DESC, round LIMIT 1
)"""
    )
    ctes.append(
        "vall AS (" + "\nUNION ALL\n".join(
            f"SELECT {k} AS round, id FROM v{k}" for k in range(rounds + 1)
        ) + ")"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT v.id, CAST(b.round AS BIGINT) AS best_round,
       round(b.m * 1e0 / b.n, 6) AS density
FROM vall v JOIN best b ON v.round = b.round
ORDER BY v.id
"""
    )


def q_kernel_certificates(spark, sf_dir):
    """The reference's `--verify` layer as one driver query: run the
    five core kernels at their standard budgets (identical configs to
    their standalone queries) and emit every distributed certificate
    row (kernel, probe, violations) — see graphit_spark/verifiers.py
    for the certificate semantics (test/verifiers/*.cpp analogues).
    On a correct engine every count is 0 except PageRank's, which
    reports how many vertices still move > 1e-6 after the 10-iteration
    budget (a convergence readout, not a defect)."""
    from graphit_spark.kernels import (
        bfs,
        connected_components,
        pagerank,
        sssp,
        triangle_count,
    )
    from graphit_spark.verifiers import (
        cc_certificate,
        distance_certificate,
        pr_certificate,
        tc_certificate,
    )

    graw = graph(spark, sf_dir, "raw")
    gblk = graph(spark, sf_dir, "blocked")
    gw = graph(spark, sf_dir, "weighted")
    parts = [
        ("pagerank", pr_certificate(graw, pagerank(graw, max_iters=PR_ITERS))),
        ("connected_components",
         cc_certificate(gblk, connected_components(gblk))),
        ("bfs",
         distance_certificate(
             graw, bfs(graw, 0, max_iters=BFS_ROUNDS), 0, budget=BFS_ROUNDS
         )),
        ("sssp",
         distance_certificate(gw, sssp(gw, 0, max_iters=SSSP_ROUNDS), 0)),
        ("triangle_count", tc_certificate(graw, triangle_count(graw))),
    ]
    out = None
    for kern, df in parts:
        row = df.select(F.lit(kern).alias("kernel"), "probe", "violations")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("kernel", "probe")


def kernel_certificates_sql() -> str:
    """Twin of q_kernel_certificates: recompute each kernel with its
    existing unrolled-CTE chain inside a scoped derived table, then
    apply the identical certificate predicates in SQL. The only float
    comparison (PR's |r11-r10| > 1e-6) has a ~1e-6 margin against
    ~1e-14 cross-engine sum-order noise — the pagerank_delta twin's
    stability argument."""
    pr = "WITH " + ",\n".join(_pr_chain(PR_ITERS + 1)) + f"""
SELECT 'unconverged_after_budget' AS probe,
       (SELECT count(*) FROM r{PR_ITERS} a JOIN r{PR_ITERS + 1} b USING (id)
        WHERE abs(b.rank - a.rank) > 1e-6) AS violations"""
    cc = "WITH " + ",\n".join(_cc_chain(CC_ROUNDS)) + f"""
SELECT 'edge_label_mismatch' AS probe,
       (SELECT count(*) FROM sym e
        JOIN l{CC_ROUNDS} a ON e.src = a.id
        JOIN l{CC_ROUNDS} b ON e.dst = b.id
        WHERE a.comp <> b.comp) AS violations
UNION ALL
SELECT 'non_canonical_label',
       (SELECT count(*) FROM
          (SELECT comp, min(id) AS m FROM l{CC_ROUNDS} GROUP BY comp) t
        WHERE t.m <> t.comp)"""
    fin = f"d{BFS_ROUNDS}"
    bfs_block = "WITH " + ",\n".join(_bfs_chain(BFS_ROUNDS, 0)) + f"""
SELECT 'source_dist_nonzero' AS probe,
       (SELECT count(*) FROM {fin}
        WHERE id = 0 AND (dist IS NULL OR dist <> 0)) AS violations
UNION ALL
SELECT 'relaxable_edge',
       (SELECT count(*) FROM edges e
        JOIN {fin} a ON e.src = a.id JOIN {fin} b ON e.dst = b.id
        WHERE a.dist IS NOT NULL AND b.dist IS NOT NULL
          AND b.dist > a.dist + 1)
UNION ALL
SELECT 'unreached_expansion',
       (SELECT count(*) FROM edges e
        JOIN {fin} a ON e.src = a.id JOIN {fin} b ON e.dst = b.id
        WHERE a.dist IS NOT NULL AND b.dist IS NULL
          AND a.dist < {BFS_ROUNDS})
UNION ALL
SELECT 'missing_witness',
       (SELECT count(*) FROM {fin} v
        WHERE v.dist IS NOT NULL AND v.id <> 0 AND NOT EXISTS (
          SELECT 1 FROM edges e JOIN {fin} u ON e.src = u.id
          WHERE e.dst = v.id AND u.dist IS NOT NULL
            AND u.dist + 1 = v.dist))"""
    sfin = f"d{SSSP_ROUNDS}"
    sssp_block = "WITH " + ",\n".join(_sssp_chain(SSSP_ROUNDS, 0)) + f"""
SELECT 'source_dist_nonzero' AS probe,
       (SELECT count(*) FROM {sfin}
        WHERE id = 0 AND (dist IS NULL OR dist <> 0)) AS violations
UNION ALL
SELECT 'relaxable_edge',
       (SELECT count(*) FROM wedges e
        JOIN {sfin} a ON e.src = a.id JOIN {sfin} b ON e.dst = b.id
        WHERE a.dist IS NOT NULL AND b.dist IS NOT NULL
          AND b.dist > a.dist + e.w)
UNION ALL
SELECT 'unreached_expansion',
       (SELECT count(*) FROM wedges e
        JOIN {sfin} a ON e.src = a.id JOIN {sfin} b ON e.dst = b.id
        WHERE a.dist IS NOT NULL AND b.dist IS NULL)
UNION ALL
SELECT 'missing_witness',
       (SELECT count(*) FROM {sfin} v
        WHERE v.dist IS NOT NULL AND v.id <> 0 AND NOT EXISTS (
          SELECT 1 FROM wedges e JOIN {sfin} u ON e.src = u.id
          WHERE e.dst = v.id AND u.dist IS NOT NULL
            AND u.dist + e.w = v.dist))"""
    tc = "WITH " + _SQL_COMMON.strip() + """,
und AS (SELECT src, dst FROM sym WHERE src < dst)
SELECT 'recount_mismatch' AS probe,
       abs(CAST((SELECT count(*) FROM sym a
                 JOIN sym b ON a.dst = b.src
                 JOIN sym c ON a.src = c.src AND b.dst = c.dst) / 6
                AS BIGINT)
           - (SELECT count(*) FROM und a
              JOIN und b ON a.dst = b.src
              JOIN und c ON a.src = c.src AND b.dst = c.dst)) AS violations"""
    blocks = [
        ("pagerank", pr),
        ("connected_components", cc),
        ("bfs", bfs_block),
        ("sssp", sssp_block),
        ("triangle_count", tc),
    ]
    selects = [
        f"SELECT '{kern}' AS kernel, probe,"
        f" CAST(violations AS BIGINT) AS violations FROM (\n{body}\n) t_{i}"
        for i, (kern, body) in enumerate(blocks)
    ]
    return "\nUNION ALL\n".join(selects) + "\nORDER BY kernel, probe"


def q_graph_diff(spark, sf_dir):
    """Crawl-over-crawl structural diff: two deterministic crawl
    snapshots of the raw link graph (old = orders surviving
    o_orderkey % 10 <> 0, new = surviving % 7 <> 0 — overlapping sets
    with both additions and removals), edge-set full-outer diff
    (graph.edge_diff), then per-vertex churn (graph.vertex_churn):
    (id, out_added, out_removed, in_added, in_removed) for every vertex
    a changed edge touches — the recrawl-scheduler signal rank_churn
    complements with rank movement. An edge survives a snapshot when
    ANY surviving order produces it (set semantics, both engines)."""
    from graphit_spark.graph import edge_diff, vertex_churn

    c = _num_customers(spark, sf_dir)
    orders = load(spark, sf_dir, "orders")

    def crawl(mod):
        return orders.filter(F.col("o_orderkey") % mod != 0).select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % F.lit(c)).alias("dst"),
        )

    return vertex_churn(edge_diff(crawl(10), crawl(7)))


def graph_diff_sql() -> str:
    return """WITH params AS (SELECT count(*) AS c FROM customer),
a AS (SELECT DISTINCT o_custkey AS src,
             o_orderkey % (SELECT c FROM params) AS dst
      FROM orders WHERE o_orderkey % 10 <> 0),
b AS (SELECT DISTINCT o_custkey AS src,
             o_orderkey % (SELECT c FROM params) AS dst
      FROM orders WHERE o_orderkey % 7 <> 0),
ch AS (
  SELECT src, dst, 'added' AS status
  FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
  UNION ALL
  SELECT src, dst, 'removed' AS status
  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
),
outs AS (
  SELECT src AS id,
         sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT
           AS out_added,
         sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT
           AS out_removed
  FROM ch GROUP BY src
),
ins AS (
  SELECT dst AS id,
         sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)::BIGINT
           AS in_added,
         sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)::BIGINT
           AS in_removed
  FROM ch GROUP BY dst
)
SELECT coalesce(o.id, i.id) AS id,
       coalesce(out_added, 0)::BIGINT AS out_added,
       coalesce(out_removed, 0)::BIGINT AS out_removed,
       coalesce(in_added, 0)::BIGINT AS in_added,
       coalesce(in_removed, 0)::BIGINT AS in_removed
FROM outs o FULL JOIN ins i ON o.id = i.id
ORDER BY id"""


def q_influence_max(spark, sf_dir):
    """Degree-discount influence maximization (Chen/Wang/Yang KDD'09)
    on the symmetrized link graph — the `applyUpdatePriority` greedy
    shape of apps/set_cover.gt applied to IC-model seed selection.
    k driver-scalar rounds: one argmax aggregate + one seed-adjacency
    join each; deterministic min-id tie-break (kernels/influence.py)."""
    from graphit_spark.kernels import influence_max

    g = graph(spark, sf_dir, "raw")
    return influence_max(g)


def influence_max_sql(k: int | None = None, p: float | None = None) -> str:
    """Twin of kernels/influence.py::influence_max, unrolled to k
    rounds: st{r} carries (id, d, t); s{r} is the round-r argmax of
    dd = d - 2t - (d-t)*t*p over not-yet-chosen vertices (ORDER BY dd
    DESC, id LIMIT 1 ≡ the engine's max(struct(dd, -id))); the winner's
    sym-neighbors get t += 1. Float parity: dd is the identical double
    expression on both sides over integer d, t."""
    from graphit_spark.kernels.influence import IM_PROB, IM_SEEDS

    k = IM_SEEDS if k is None else k
    p = IM_PROB if p is None else p
    ctes = [
        _SQL_COMMON.strip(),
        """st0 AS MATERIALIZED (
  SELECT v.id, CAST(coalesce(d.d, 0) AS BIGINT) AS d, CAST(0 AS BIGINT) AS t
  FROM verts v LEFT JOIN
       (SELECT src AS id, count(*) AS d FROM sym GROUP BY src) d USING (id)
)""",
        "sel0 AS (SELECT CAST(NULL AS BIGINT) AS id WHERE FALSE)",
    ]
    outs = []
    for r in range(1, k + 1):
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT id, CAST(d AS DOUBLE) - 2.0 * t - (d - t) * t * {p!r} AS dd
  FROM st{r - 1}
  WHERE id NOT IN (SELECT id FROM sel{r - 1})
  ORDER BY dd DESC, id LIMIT 1
)"""
        )
        ctes.append(
            f"sel{r} AS (SELECT id FROM sel{r - 1} "
            f"UNION ALL SELECT id FROM s{r})"
        )
        outs.append(
            f"SELECT CAST(id AS BIGINT) AS seed, CAST({r} AS INT) AS round, "
            f"round(dd, {ROUND_RANK}) AS dd FROM s{r}"
        )
        if r < k:
            ctes.append(
                f"""st{r} AS MATERIALIZED (
  SELECT st.id, st.d,
         st.t + (CASE WHEN nb.id IS NOT NULL THEN 1 ELSE 0 END) AS t
  FROM st{r - 1} st LEFT JOIN
       (SELECT dst AS id FROM sym
        WHERE src = (SELECT id FROM s{r})) nb USING (id)
)"""
            )
    return (
        "WITH " + ",\n".join(ctes)
        + "\n" + " UNION ALL ".join(outs).join(["SELECT * FROM (", ")"])
        + " ORDER BY round"
    )


GRAPH_QUERIES: dict[str, tuple] = {
    "graph_diff": (q_graph_diff, graph_diff_sql()),
    "cocitation": (q_cocitation, cocitation_sql()),
    "butterfly_count": (q_butterfly_count, butterfly_count_sql()),
    "densest_subgraph": (q_densest_subgraph, densest_subgraph_sql()),
    "influence_max": (q_influence_max, influence_max_sql()),
    # name: (spark_callable, oracle_sql_or_None)
    "pagerank": (q_pagerank, pagerank_sql()),
    "out_degrees": (q_out_degrees, out_degrees_sql()),
    "connected_components": (q_cc, cc_sql()),
    "strongly_connected": (q_scc, scc_sql()),
    "scc_condensation": (q_scc_condensation, scc_condensation_sql()),
    "web_bowtie": (q_web_bowtie, web_bowtie_sql()),
    "graph_reciprocity": (q_reciprocity, reciprocity_sql()),
    "motif_counts": (q_motif_counts, motif_counts_sql()),
    "rank_churn": (q_rank_churn, rank_churn_sql()),
    "cc_incremental": (q_cc_incremental, cc_incremental_sql()),
    "degree_histogram": (q_degree_histogram, degree_histogram_sql()),
    "degree_assortativity": (q_assortativity, assortativity_sql()),
    "ego_subgraph": (q_ego_subgraph, ego_subgraph_sql()),
    "sample_fanout": (q_sample_fanout, sample_fanout_sql()),
    "ppr_batch": (q_ppr_batch, ppr_batch_sql()),
    "hits": (q_hits, hits_sql()),
    "salsa": (q_salsa, salsa_sql()),
    "k_truss": (q_k_truss, truss_sql()),
    "link_prediction": (q_link_prediction, link_prediction_sql()),
    "clustering_coeff": (q_clustering, clustering_sql()),
    "pseudo_diameter": (q_pseudo_diameter, pseudo_diameter_sql()),
    "label_propagation": (q_lpa, lpa_sql()),
    "louvain": (q_louvain, louvain_sql()),
    "louvain_communities": (q_louvain_communities, louvain_communities_sql()),
    "triangle_count": (q_triangle_count, triangle_count_sql()),
    "triangle_count_approx": (q_triangle_count_approx,
                              triangle_count_approx_sql()),
    "triangle_per_vertex": (q_tc_per_vertex, tc_per_vertex_sql()),
    "scan_statistics": (q_scan_statistics, scan_statistics_sql()),
    "bridges": (q_bridges, bridges_sql()),
    "biconnected_components": (q_biconnected, biconnected_sql()),
    "articulation_points": (q_articulation, articulation_sql()),
    "bfs": (q_bfs, bfs_sql()),
    "landmark_distances": (q_landmark_distances, landmarks_sql()),
    "sssp": (q_sssp, sssp_sql()),
    "degree_relabel": (q_relabel, relabel_sql()),
    "adjacency_blocks": (q_adjacency, adjacency_sql()),
    "pagerank_delta": (q_pagerank_delta, pagerank_delta_sql()),
    "k_core": (q_kcore, kcore_sql()),
    "betweenness": (q_betweenness, betweenness_sql()),
    "betweenness_pivots": (q_betweenness_pivots, betweenness_pivots_sql()),
    "edge_betweenness": (q_edge_betweenness, edge_betweenness_sql()),
    "girvan_newman_step": (q_girvan_newman_step, girvan_newman_sql()),
    "collab_filtering": (q_cf, cf_sql()),
    "eigenvector": (q_eigenvector, eigenvector_sql()),
    "katz_centrality": (q_katz, katz_sql()),
    "host_trustrank": (q_host_trustrank, host_trustrank_sql()),
    "host_spam_mass": (q_host_spam_mass, host_spam_mass_sql()),
    "rich_club": (q_rich_club, rich_club_sql()),
    "community_conductance": (q_community_conductance, community_conductance_sql()),
    "host_locality": (q_host_locality, HOST_LOCALITY_SQL),
    "partition_quality": (q_partition_quality, PARTITION_QUALITY_SQL),
    "host_communities": (q_host_communities, host_communities_sql()),
    "host_simrank": (q_host_simrank, host_simrank_sql()),
    "crawl_budget": (q_crawl_budget, crawl_budget_sql()),
    "fused_pr_eigenvector": (q_fused_pr_eigenvector, fused_pr_ec_sql()),
    "host_graph_rollup": (q_host_rollup, HOST_ROLLUP_SQL),
    "host_pagerank": (q_host_pagerank, host_pagerank_sql()),
    "closeness": (q_closeness, closeness_sql()),
    "hyperball_harmonic": (q_hyperball_harmonic, hyperball_sql()),
    "neighborhood_function": (q_neighborhood_function, neighborhood_sql()),
    "effective_diameter": (q_effective_diameter, effective_diameter_sql()),
    "maximal_independent_set": (q_mis, mis_sql()),
    "maximal_matching": (q_matching, matching_sql()),
    "greedy_coloring": (q_coloring, coloring_sql()),
    "sssp_delta_stepping": (q_sssp_delta, sssp_fixpoint_sql()),
    "astar": (q_astar, astar_sql()),
    "ppsp": (q_ppsp, astar_sql(target=PPSP_TARGET)),
    "min_spanning_forest": (q_msf, msf_sql()),
    "set_cover": (q_set_cover, set_cover_sql()),
    "core_numbers": (q_core_numbers, core_numbers_sql()),
    "random_walks": (q_random_walks, walks_sql()),
    "pagerank_montecarlo": (q_pagerank_montecarlo, montecarlo_pr_sql()),
    "walk_cooccurrence": (q_walk_cooccurrence, walk_cooccurrence_sql()),
    "weighted_random_walks": (q_weighted_random_walks, weighted_walks_sql()),
    "random_walks_alias": (q_random_walks_alias, alias_walks_sql()),
    "node2vec_walks": (q_node2vec_walks, node2vec_sql()),
    "node2vec_walks_alias": (q_node2vec_walks_alias, node2vec_alias_sql()),
    "graph_stats": (q_graph_stats, graph_stats_sql()),
    "lpa_modularity": (q_modularity, modularity_sql()),
    "louvain_modularity": (q_louvain_modularity, louvain_modularity_sql()),
    "sweep_cut": (q_sweep_cut, sweep_cut_sql()),
    "spectral_bisection": (q_spectral_bisection, spectral_sql()),
    "ppr_push": (q_ppr_push, ppr_push_sql()),
    "spectral_partition": (q_spectral_partition, spectral_partition_sql()),
    "label_spreading": (q_label_spreading, label_spreading_sql()),
    "wl_refinement": (q_wl_refinement, wl_sql()),
    "local_cluster_push": (q_local_cluster_push, local_cluster_push_sql()),
    "personalized_pagerank": (q_ppr, ppr_sql()),
    "who_to_follow": (q_who_to_follow, who_to_follow_sql()),
    "local_cluster": (q_local_cluster, local_cluster_sql()),
    "kernel_certificates": (q_kernel_certificates, kernel_certificates_sql()),
}
