"""LinkGraph — the engine's graph abstraction over a Spark edge DataFrame.

Semantics mirror GraphIt's graph construction (reference
src/runtime_lib/infra_gapbs/builder.h):

- vertex universe is ``[0, max_id + 1)`` — ``FindMaxNodeID(el) + 1``
  (builder.h:210-211); isolated ids below the max exist and get default
  property values;
- ``squish``: per-source neighbor lists sorted, deduplicated, self-loops
  removed (builder.h:147-149), so kernels always run on a simple directed
  graph;
- ``out_degrees`` counts distinct non-self-loop out-neighbors *after*
  squish (intrinsics.h:424-430) — PageRank divides by this degree;
- ``transpose`` flips edge direction (intrinsics.h:525-529) — zero-cost
  column swap here;
- ``relabel`` renumbers vertices by decreasing degree
  (intrinsics.h:237-264, builder.h RelabelByDegree) — triangle counting
  orients its edges by the same (degree, id) order without renumbering;
- ``symmetrize`` is the undirected view CC/LPA/TC run on; a persisted
  graph builds it once and owns it.

Physically the edge table is hash-partitioned by ``src`` and persisted so
every superstep join reuses the partitioning (the analogue of GraphIt's
cache/NUMA segmentation schedules, schedule.h:92-125). The CSR analogue is
``adjacency()``: ``(src, nbrs: array<long> sorted)`` blocks.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

SRC, DST, WEIGHT = "src", "dst", "weight"


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for small driver-side rows
    (tuples), built as a local relation through Arrow.

    ``createDataFrame`` on a Python list parallelizes the pickled rows,
    so every job that scans the frame starts Python workers to unpickle
    them again (~1 s per scan at local[8] on a 4-core host). An Arrow
    table becomes a LocalRelation that the JVM scans by itself."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


class LinkGraph:
    """A simple directed graph backed by a squished Spark edge DataFrame."""

    def __init__(
        self,
        edges: DataFrame,
        *,
        squished: bool = False,
        num_partitions: int | None = None,
        persist: bool = True,
        num_vertices: int | None = None,
        pre_partitioned: bool = False,
    ):
        self.spark: SparkSession = edges.sparkSession
        self.weighted = WEIGHT in edges.columns
        cols = [SRC, DST] + ([WEIGHT] if self.weighted else [])
        edges = edges.select(
            F.col(SRC).cast("long").alias(SRC),
            F.col(DST).cast("long").alias(DST),
            *([F.col(WEIGHT).cast("long").alias(WEIGHT)] if self.weighted else []),
        )
        # Vertex universe comes from the RAW edge list, BEFORE squish
        # (builder.h:210 FindMaxNodeID runs on the edge list as read) — a
        # self-loop at the max id still defines the universe.
        self._raw_edges = edges
        if not squished:
            edges = self._squish(edges)
        if num_partitions is None:
            num_partitions = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        self.num_partitions = num_partitions
        # Hash-partition by src once; every per-superstep join on src then
        # shuffles only the (small) vertex-state side, not the edge table.
        # sortWithinPartitions pins a canonical row order so float
        # reductions (rank sums) add in the same order on every run and
        # every re-materialization of the cache — resume-from-snapshot
        # stays byte-identical, not just allclose.
        # pre_partitioned=True skips this shuffle: the input already
        # carries a src partitioning (a bucketed table scan — shuffling
        # it would throw the bucketing away).
        if pre_partitioned:
            self.edges = edges
        else:
            self.edges = edges.repartition(
                num_partitions, SRC
            ).sortWithinPartitions(SRC, DST)
        self._persisted = persist
        if persist:
            self.edges = self.edges.persist(StorageLevel.MEMORY_AND_DISK)
        # Caller-supplied universe (e.g. a serialized graph's header
        # num_nodes, which outranks max-id+1 when trailing vertices are
        # isolated); None = derive FindMaxNodeID+1 from the raw edges.
        self._num_vertices: int | None = num_vertices
        self._num_edges: int | None = None
        self._out_degrees: DataFrame | None = None
        self._adjacency: DataFrame | None = None
        self._vertices: DataFrame | None = None
        # the memoized undirected view of a persisted graph, and frames
        # a derivation persisted for this graph (relabel's range frame):
        # both are released by unpersist()
        self._undirected: LinkGraph | None = None
        self._symmetric = False  # built by symmetrize(): E = Eᵀ
        self._owned: list[DataFrame] = []

    # -- construction -----------------------------------------------------

    @staticmethod
    def _squish(edges: DataFrame) -> DataFrame:
        """GAPBS SquishGraph: drop self-loops, dedup (builder.h:147-149).

        Weighted graphs keep the MIN weight per (src,dst) — the reference's
        weighted dedup keeps an arbitrary duplicate (std::unique compares
        dest id only); min is the deterministic choice and is what every
        shortest-path semantics wants."""
        e = edges.filter(F.col(SRC) != F.col(DST))
        if WEIGHT in edges.columns:
            return e.groupBy(SRC, DST).agg(F.min(WEIGHT).alias(WEIGHT))
        return e.dropDuplicates([SRC, DST])

    @classmethod
    def from_csr(
        cls,
        spark: SparkSession,
        matrix=None,
        *,
        indptr=None,
        indices=None,
        data=None,
        weighted: bool = False,
        **kw,
    ) -> "LinkGraph":
        """The reference Python-bindings ingest (`module.set_graph(
        csr_matrix)`, apps/python_bindings/*/): build a LinkGraph from a
        CSR adjacency — either a scipy-style matrix object (anything
        with .tocsr() / .indptr / .indices / .data / .shape) or raw
        indptr/indices[/data] arrays. weighted=True takes edge weights
        from `data`. The vertex universe is the CSR's row count, so
        trailing isolated vertices survive (CSRGraph::num_nodes
        semantics). Driver-side expansion by design — this is the
        small-matrix Python-API path, not the crawl-scale ingest
        (that's Parquet / pages_to_edges)."""
        import numpy as np
        import pandas as pd

        if matrix is not None:
            if hasattr(matrix, "tocsr"):
                matrix = matrix.tocsr()
            indptr = np.asarray(matrix.indptr)
            indices = np.asarray(matrix.indices)
            data = np.asarray(matrix.data)
            n = matrix.shape[0]
        else:
            indptr = np.asarray(indptr)
            indices = np.asarray(indices)
            n = len(indptr) - 1
        src = np.repeat(
            np.arange(n, dtype=np.int64), np.diff(indptr).astype(np.int64)
        )
        cols = {"src": src, "dst": np.asarray(indices, dtype=np.int64)}
        if weighted:
            if data is None:
                raise ValueError("weighted=True requires data")
            cols["weight"] = np.asarray(data, dtype=np.int64)
        kw.setdefault("num_vertices", int(n))
        return cls(spark.createDataFrame(pd.DataFrame(cols)), **kw)

    @classmethod
    def from_pairs(cls, spark: SparkSession, pairs, **kw) -> "LinkGraph":
        """Small-graph constructor for tests: list of (src, dst[, weight])."""
        weighted = bool(pairs) and len(pairs[0]) == 3
        schema = "src long, dst long" + (", weight long" if weighted else "")
        return cls(local_frame(spark, pairs, schema), **kw)

    # -- cardinalities -----------------------------------------------------

    @property
    def num_vertices(self) -> int:
        if self._num_vertices is None:
            row = self._raw_edges.agg(
                F.greatest(F.max(SRC), F.max(DST)).alias("m")
            ).collect()[0]
            self._num_vertices = int(row["m"]) + 1 if row["m"] is not None else 0
        return self._num_vertices

    @property
    def num_edges(self) -> int:
        if self._num_edges is None:
            self._num_edges = self.edges.count()
        return self._num_edges

    # -- derived tables ----------------------------------------------------

    def vertices(self) -> DataFrame:
        """All vertex ids ``[0, n)`` including isolated ones (builder.h:210)."""
        if self._vertices is None:
            self._vertices = self.spark.range(self.num_vertices).select(
                F.col("id").cast("long").alias("id")
            )
        return self._vertices

    def out_degrees(self) -> DataFrame:
        """(id, out_degree) for every vertex; 0 for sinks/isolated.

        Degree = distinct non-self-loop out-neighbors, post-squish
        (reference intrinsics.h:424-430).
        """
        if self._out_degrees is None:
            deg = self.edges.groupBy(F.col(SRC).alias("id")).agg(
                F.count("*").alias("out_degree")
            )
            self._out_degrees = (
                self.vertices()
                .join(deg, "id", "left")
                .select("id", F.coalesce("out_degree", F.lit(0)).alias("out_degree"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._out_degrees

    def adjacency(self) -> DataFrame:
        """CSR-like blocks ``(src, nbrs: array<long>)``, sorted ascending —
        the Spark analogue of GAPBS CSR with sorted neighbor lists
        (builder.h:147); sorted arrays make ``array_intersect`` a merge.

        Scale note: a crawl-scale hub's neighbor array lives in one row,
        so this representation is for degree-BOUNDED graphs (triangle
        counting builds it on the degree-ORIENTED DAG, whose forward
        degree is O(sqrt(E))); the flat edge table is the primary
        representation for unbounded-degree traversals."""
        if self._adjacency is None:
            self._adjacency = (
                self.edges.groupBy(SRC)
                .agg(F.sort_array(F.collect_list(DST)).alias("nbrs"))
                .repartition(self.num_partitions, SRC)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._adjacency

    # -- transforms --------------------------------------------------------

    def transpose(self) -> "LinkGraph":
        """Reverse edges (intrinsics.h:525-529); already-squished input.

        The vertex universe is forwarded explicitly: the transposed
        graph's raw edges are the SQUISHED edges, so re-deriving
        max-id+1 would shrink the universe when the top id was isolated
        or self-loop-only (or when the caller supplied a serialized
        header's num_nodes)."""
        cols = [F.col(DST).alias(SRC), F.col(SRC).alias(DST)]
        if self.weighted:
            cols.append(F.col(WEIGHT))
        return LinkGraph(
            self.edges.select(*cols),
            squished=True,
            num_partitions=self.num_partitions,
            # derived graphs start UNPERSISTED regardless of the base's
            # state: a kernel holds its input's cache in a persisted()
            # block, and inheriting persist from a shared long-lived
            # base (e.g. benchqueries' memoized graph) would persist a
            # new DF per derivation that nobody ever releases.
            persist=False,
            num_vertices=self.num_vertices,
        )

    def symmetrize(self) -> "LinkGraph":
        """Undirected view: E ∪ Eᵀ, re-deduplicated (GAPBS ``-s`` flag —
        CC/LPA/TC semantics are defined on the symmetrized graph).

        A persisted graph builds its view once: every call returns the
        same persisted view, which this graph owns — kernels see it as
        already persisted and leave it (and its memoized degree table)
        cached, and ``unpersist()`` releases it with the graph. An
        unpersisted graph returns a fresh, unpersisted view per call,
        which the caller holds in its own ``persisted()`` block. A view
        is its own symmetrization: it returns itself."""
        if self._symmetric:
            return self
        view = self._undirected
        if view is not None and view._persisted:
            return view
        back = [F.col(DST).alias(SRC), F.col(SRC).alias(DST)]
        if self.weighted:
            back.append(F.col(WEIGHT))
        both = self.edges.unionByName(self.edges.select(*back))
        # Forward the universe: E ∪ Eᵀ is built from squished edges, so
        # a max id that was self-loop-only (or a serialized header's
        # trailing isolated vertices) would otherwise vanish here.
        view = LinkGraph(
            both, squished=False, num_partitions=self.num_partitions,
            persist=self._persisted, num_vertices=self.num_vertices,
        )
        view._symmetric = True
        if self._persisted:
            self._undirected = view
        return view

    def contract(self, mapping: DataFrame) -> DataFrame:
        """Quotient/rollup edge table: map each endpoint through
        ``mapping`` (columns ``id, group``) and count parallel edges —
        ``(src, dst, weight)`` at the group level, self-loops (intra-group
        links) INCLUDED.

        This is the host-graph rollup of web-graph processing (page-level
        links → host/domain-level counts, the shape of the published
        Common-Crawl host webgraphs). Wrap the result in ``LinkGraph`` to
        run kernels on the quotient graph — squish then removes the
        intra-group self-loops, per simple-graph semantics; keep the raw
        table when the intra-group counts themselves are the product.

        Plan: two V-group-sized joins against the E-sized edge table
        (Catalyst/AQE broadcasts the mapping when small) and one
        map-side-combined groupBy — no extra shuffle of the edge table
        beyond its cached src partitioning.
        """
        m = mapping.select(
            F.col(mapping.columns[0]).cast("long").alias("id"),
            F.col(mapping.columns[1]).cast("long").alias("group"),
        )
        return (
            self.edges.join(m.withColumnRenamed("id", SRC), SRC)
            .select(F.col("group").alias("__gsrc"), DST)
            .join(m.withColumnRenamed("id", DST), DST)
            .groupBy(
                F.col("__gsrc").alias(SRC), F.col("group").alias(DST)
            )
            .agg(F.count("*").alias(WEIGHT))
        )

    def relabel_worth_it(
        self, num_samples: int = 1000, seed: int = 17
    ) -> bool:
        """The GAPBS/reference worth-relabelling test (intrinsics.h:
        239-256 ``builtin_relabel``): skip when average degree < 10,
        else sample up to ``num_samples`` out-degrees of
        positive-degree vertices (the reference's SourcePicker skips
        degree-0 sources) and relabel only when the degree distribution
        is skewed — ``sample_mean / 1.3 > sample_median``.

        The reference samples with a seeded RNG; here the sample is the
        ``num_samples`` smallest md5(id, seed) hashes — equally uniform
        over vertices, but deterministic across runs and engines (the
        engine's standard reproducible-draw device, kernels/walks.py).
        At scale this plans as a TakeOrdered over the V-sized degree
        table — no global sort materialization.
        """
        n, m = self.num_vertices, self.num_edges
        if n == 0 or m // n < 10:
            return False
        sampled = (
            self.out_degrees()
            .filter(F.col("out_degree") > 0)
            .orderBy(F.md5(F.concat_ws(",", F.col("id"), F.lit(seed))))
            .limit(num_samples)
            .select("out_degree")
            .collect()
        )
        if not sampled:
            return False
        degs = sorted(r["out_degree"] for r in sampled)
        mean = sum(degs) / len(degs)
        median = degs[len(degs) // 2]
        return mean / 1.3 > median

    def relabel_if_worth_it(self, **kw) -> "LinkGraph":
        """``edges.relabel()`` with the reference's sampling gate: the
        degree-sorted renumbering only pays when high-degree vertices
        exist to cluster (builtin_relabel returns the input graph
        unchanged otherwise)."""
        return self.relabel_by_degree() if self.relabel_worth_it(**kw) else self

    def relabel_by_degree(self) -> "LinkGraph":
        """Renumber vertices by decreasing out-degree (ties: old id asc) —
        GraphIt ``edges.relabel()`` (intrinsics.h:237-264). New id 0 is the
        highest-degree vertex. Scale notes: the rank is computed as a
        range-partitioned distributed sort (plans/ranking.py), not a
        single-partition global Window; the V-sized mapping then joins the
        edge table with Catalyst/AQE picking broadcast vs shuffle. The
        returned graph owns the sort's persisted range frame: its
        ``unpersist()`` releases it."""
        from graphit_spark.plans.ranking import dense_rank_ids

        ranged: list[DataFrame] = []
        mapping = dense_rank_ids(
            self.out_degrees(),
            [F.desc("out_degree"), F.asc("id")],
            out_col="new_id",
            release=ranged,
        ).select("id", "new_id")
        e = (
            self.edges.join(mapping.withColumnRenamed("id", SRC), SRC)
            .select(F.col("new_id").alias(SRC), DST,
                    *([WEIGHT] if self.weighted else []))
            .join(mapping.withColumnRenamed("id", DST), DST)
            .select(SRC, F.col("new_id").alias(DST),
                    *([WEIGHT] if self.weighted else []))
        )
        # New ids are a dense rank over the FULL vertex universe
        # (out_degrees() spans vertices()), so the universe size is
        # preserved exactly — forward it.
        relabeled = LinkGraph(
            e, squished=True, num_partitions=self.num_partitions,
            persist=False, num_vertices=self.num_vertices,
        )
        relabeled._owned = ranged
        return relabeled

    def save_bucketed(
        self, table: str, buckets: int | None = None, path: str | None = None
    ) -> None:
        """Persist the squished edge table as a Spark bucketed table
        (bucketBy src, sorted (src, dst) within buckets). A bucketed
        scan reports its hash partitioning to Catalyst, so later
        sessions join edges ⋈ state on src with NO edge-side exchange —
        the cross-session analogue of the in-session repartition+persist
        (the brief's 'bucketing for co-located joins')."""
        b = buckets or self.num_partitions
        w = (
            self.edges.write.format("parquet")
            .mode("overwrite")
            .bucketBy(b, SRC)
            .sortBy(SRC, DST)
        )
        if path is not None:
            w = w.option("path", path)  # external table at the given dir
        w.saveAsTable(table)

    @classmethod
    def load_bucketed(
        cls, spark: SparkSession, table: str, **kw
    ) -> "LinkGraph":
        """Reopen a save_bucketed table: already squished, already
        src-partitioned by the bucketing — no repartition shuffle."""
        return cls(
            spark.table(table), squished=True, pre_partitioned=True, **kw
        )

    @contextmanager
    def persisted(self):
        """Hold this graph's edge cache for the ``with`` block. A graph
        the caller persisted passes through untouched, so nested kernel
        calls hold nothing. Otherwise the block persists the edges, so a
        persist=False graph is not re-derived from source (and
        re-squished) every superstep, and on exit — on return and on
        raise alike — ``unpersist()`` releases exactly that: the edge
        cache and the derived tables and view built inside the block.
        A kernel's result is checkpointed, so it outlives the hold."""
        if self._persisted:
            yield
            return
        self.edges = self.edges.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted = True
        try:
            yield
        finally:
            self.unpersist()

    def unpersist(self) -> None:
        """Release the edge cache, the memoized derived tables and the
        undirected view this graph owns."""
        for df in (self.edges, self._out_degrees, self._adjacency, *self._owned):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
        if self._undirected is not None:
            self._undirected.unpersist()
            self._undirected = None
        # let a later persisted() block re-cache (the DataFrames stay
        # valid — only their cached blocks are dropped)
        self._persisted = False


def edge_diff(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Crawl-over-crawl edge diff: (src, dst, status) where status is
    'added' (new only), 'removed' (old only) or 'kept' (both). Inputs
    are plain (src, dst[, ...]) edge DataFrames — two snapshots of the
    link graph; duplicate edges within a snapshot are collapsed first,
    so the diff is over edge SETS (the reference's graphs are sets too:
    SURVEY §2.1 squish semantics).

    Scale shape: one distinct per side (map-side combined hash agg) and
    one full-outer equi-join on (src, dst) — both shuffle on the edge
    key, uniform by construction, no skew pivot. At 10^12 edges this is
    the plan a crawl-delta job wants: no driver state, no collect."""
    o = old_edges.select("src", "dst").distinct().withColumn(
        "in_old", F.lit(True)
    )
    n = new_edges.select("src", "dst").distinct().withColumn(
        "in_new", F.lit(True)
    )
    return o.join(n, ["src", "dst"], "full_outer").select(
        "src",
        "dst",
        F.when(F.col("in_old").isNotNull() & F.col("in_new").isNotNull(), F.lit("kept"))
        .when(F.col("in_old").isNotNull(), F.lit("removed"))
        .otherwise(F.lit("added"))
        .alias("status"),
    )


def vertex_churn(diff: DataFrame) -> DataFrame:
    """Per-vertex churn summary over an edge_diff result: for every
    vertex touched by a CHANGED edge, how many out-/in-edges appeared
    and disappeared between the snapshots — the per-host signal a
    recrawl scheduler ranks on. Emits (id, out_added, out_removed,
    in_added, in_removed); 'kept' edges contribute nothing and vertices
    with no change emit no row. Two V-bounded aggregations + one
    full-outer join on id — scale-clean."""
    ch = diff.filter(F.col("status") != "kept")
    added = (F.col("status") == "added").cast("long")
    removed = (F.col("status") == "removed").cast("long")
    outs = ch.groupBy(F.col("src").alias("id")).agg(
        F.sum(added).alias("out_added"),
        F.sum(removed).alias("out_removed"),
    )
    ins = ch.groupBy(F.col("dst").alias("id")).agg(
        F.sum(added).alias("in_added"),
        F.sum(removed).alias("in_removed"),
    )
    return (
        outs.join(ins, "id", "full_outer")
        .na.fill(0, ["out_added", "out_removed", "in_added", "in_removed"])
    )
