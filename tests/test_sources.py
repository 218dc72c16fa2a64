from graphit_spark import LinkGraph
from graphit_spark.sources import (
    read_edge_list,
    read_weighted_edge_list,
    write_edge_list,
)
from graphit_spark.sources.edgelist import read_mtx


def test_el_roundtrip(spark, tmp_path):
    p = tmp_path / "g.el"
    p.write_text("% comment\n# also comment\n0 1\n1 2\n\n2 0\n")
    df = read_edge_list(spark, str(p))
    assert sorted((r["src"], r["dst"]) for r in df.collect()) == [
        (0, 1),
        (1, 2),
        (2, 0),
    ]
    out = tmp_path / "out_el"
    write_edge_list(df, str(out))
    back = read_edge_list(spark, str(out))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_wel(spark, tmp_path):
    p = tmp_path / "g.wel"
    p.write_text("0 1 5\n1 2 3\n")
    df = read_weighted_edge_list(spark, str(p))
    g = LinkGraph(df, persist=False)
    assert g.weighted
    assert sorted(map(tuple, g.edges.collect())) == [(0, 1, 5), (1, 2, 3)]


def test_mtx_one_indexed(spark, tmp_path):
    p = tmp_path / "g.mtx"
    p.write_text("%%MatrixMarket matrix coordinate\n% c\n3 3 2\n1 2\n3 1\n")
    df = read_mtx(spark, str(p))
    assert sorted(map(tuple, df.collect())) == [(0, 1), (2, 0)]


def test_read_gr(spark, tmp_path):
    from graphit_spark.sources.edgelist import read_gr

    p = tmp_path / "g.gr"
    p.write_text(
        "c DIMACS comment\np sp 4 3\na 1 2 7\na 2 3 1\n\na 3 1 5\n"
    )
    rows = sorted(
        (r["src"], r["dst"], r["weight"])
        for r in read_gr(spark, str(p)).collect()
    )
    # ids as-read, no re-index (reader.h:70-85)
    assert rows == [(1, 2, 7), (2, 3, 1), (3, 1, 5)]


def test_read_metis(spark, tmp_path):
    from graphit_spark.sources.edgelist import read_metis

    p = tmp_path / "g.graph"
    # 3 vertices: 0-{1,2}, 1-{0}, 2-{0}; metis is 1-indexed
    p.write_text("% comment\n3 3\n2 3\n1\n1\n")
    rows = sorted(
        (r["src"], r["dst"]) for r in read_metis(spark, str(p)).collect()
    )
    assert rows == [(0, 1), (0, 2), (1, 0), (2, 0)]


def test_read_metis_fmt1_now_supported(spark, tmp_path):
    """fmt=1 used to be rejected; it now parses edge weights (round-2,
    matching reader.h:106-131)."""
    from graphit_spark.sources.edgelist import read_metis

    p = tmp_path / "g.graph"
    p.write_text("2 1 1\n2 5\n1 5\n")
    assert sorted(map(tuple, read_metis(spark, str(p)).collect())) == [
        (0, 1, 5), (1, 0, 5),
    ]


def test_read_metis_isolated_vertex_keeps_numbering(spark, tmp_path):
    from graphit_spark.sources.edgelist import read_metis

    p = tmp_path / "g.graph"
    # vertex 1 isolated (empty line) — vertex 2's line must still map to id 2
    p.write_text("3 1\n3\n\n1\n")
    rows = sorted(
        (r["src"], r["dst"]) for r in read_metis(spark, str(p)).collect()
    )
    assert rows == [(0, 2), (2, 0)]


class TestSerializedGraph:
    def test_reference_4sg_matches_4el(self, spark):
        """The reference repo ships 4.sg serialized from 4.el — reading
        the binary CSR must reproduce the squished edge set and the
        header universe (reader.h:322-374)."""
        from graphit_spark.sources import read_sg
        from graphit_spark.sources.serialized import read_header

        sg = sorted(
            map(tuple, read_sg(spark, "/root/reference/test/graphs/4.sg").collect())
        )
        el = read_edge_list(spark, "/root/reference/test/graphs/4.el")
        squished = sorted(
            {(r["src"], r["dst"]) for r in el.collect() if r["src"] != r["dst"]}
        )
        assert sg == squished
        directed, num_edges, num_nodes = read_header(
            spark, "/root/reference/test/graphs/4.sg"
        )
        assert directed and num_edges == len(sg)
        assert num_nodes == LinkGraph(el, persist=False).num_vertices

    def test_sg_roundtrip_preserves_isolated_universe(self, spark, tmp_path):
        """write → load round-trip keeps edges AND the header vertex
        universe (id 9 is isolated: only reachable via the squished-away
        self-loop, but num_nodes must still say 10)."""
        from graphit_spark.sources import load_sg_graph, write_sg

        g = LinkGraph.from_pairs(
            spark, [(0, 1), (1, 2), (2, 0), (5, 3), (9, 9)], persist=False
        )
        p = str(tmp_path / "g.sg")
        write_sg(g, p)
        back = load_sg_graph(spark, p)
        assert back.num_vertices == 10
        assert sorted(map(tuple, back.edges.collect())) == sorted(
            map(tuple, g.edges.collect())
        )

    def test_wsg_roundtrip_weighted(self, spark, tmp_path):
        from graphit_spark.sources import load_sg_graph, write_sg

        g = LinkGraph.from_pairs(
            spark, [(0, 1, 4), (1, 2, 7), (2, 0, 1), (3, 1, 2)], persist=False
        )
        p = str(tmp_path / "g.wsg")
        write_sg(g, p)
        back = load_sg_graph(spark, p)
        assert back.weighted
        assert sorted(map(tuple, back.edges.collect())) == [
            (0, 1, 4), (1, 2, 7), (2, 0, 1), (3, 1, 2),
        ]

    def test_suffix_weight_mismatch_raises(self, spark, tmp_path):
        import pytest

        from graphit_spark.sources import write_sg

        unweighted = LinkGraph.from_pairs(spark, [(0, 1)], persist=False)
        weighted = LinkGraph.from_pairs(spark, [(0, 1, 3)], persist=False)
        with pytest.raises(ValueError):
            write_sg(unweighted, str(tmp_path / "g.wsg"))
        with pytest.raises(ValueError):
            write_sg(weighted, str(tmp_path / "g.sg"))


def test_metis_weighted_fmt1(spark, tmp_path):
    """fmt=1: neighbor/weight tokens alternate (reader.h:106-131)."""
    from graphit_spark.sources.edgelist import read_metis

    p = tmp_path / "w.graph"
    p.write_text("3 3 1\n2 5 3 7\n1 5\n1 7\n")
    df = read_metis(spark, str(p))
    assert sorted(map(tuple, df.collect())) == [
        (0, 1, 5), (0, 2, 7), (1, 0, 5), (2, 0, 7),
    ]
    assert LinkGraph(df, persist=False).weighted


def test_metis_fmt100_and_reject(spark, tmp_path):
    from graphit_spark.sources.edgelist import read_metis

    p = tmp_path / "f100.graph"
    p.write_text("2 1 100\n2\n1\n")
    df = read_metis(spark, str(p))
    assert sorted(map(tuple, df.collect())) == [(0, 1), (1, 0)]

    import pytest

    bad = tmp_path / "bad.graph"
    bad.write_text("2 1 11\n2\n1\n")
    with pytest.raises(ValueError):
        read_metis(spark, str(bad))


def test_mtx_symmetric_weighted(spark, tmp_path):
    """Banner-driven semantics (reader.h:147-200): real field reads
    weights, symmetric emits both directions."""
    from graphit_spark.sources.edgelist import read_mtx

    p = tmp_path / "sw.mtx"
    p.write_text(
        "%%MatrixMarket matrix coordinate real symmetric\n"
        "% comment\n3 3 2\n1 2 5\n3 1 7\n"
    )
    df = read_mtx(spark, str(p))
    assert sorted(map(tuple, df.collect())) == [
        (0, 1, 5), (0, 2, 7), (1, 0, 5), (2, 0, 7),
    ]

    import pytest

    bad = tmp_path / "cx.mtx"
    bad.write_text("%%MatrixMarket matrix coordinate complex general\n1 1 1\n1 1 1 1\n")
    with pytest.raises(ValueError):
        read_mtx(spark, str(bad))


def test_reference_4mtx_is_symmetrized_4el(spark):
    """The reference ships 4.mtx as 'integer symmetric': honoring the
    banner must reproduce exactly the symmetrized 4.el edge set."""
    from graphit_spark.sources.edgelist import read_mtx

    mtx = LinkGraph(
        read_mtx(spark, "/root/reference/test/graphs/4.mtx"), persist=False
    )
    el = LinkGraph(
        read_edge_list(spark, "/root/reference/test/graphs/4.el"),
        persist=False,
    ).symmetrize()
    got = sorted((r["src"], r["dst"]) for r in mtx.edges.collect())
    assert got == sorted(map(tuple, el.edges.collect()))


class TestAstarBin:
    def test_monaco_counts_match_reference(self, spark):
        """monaco.bin (the reference A* demo input) loads with the same
        post-squish vertex/edge counts and weight sum the compiled
        reference runtime reports (n=1590, m=4258, wsum=45543078 --
        harness against builtin_loadWeightedEdgesFromFile)."""
        from pyspark.sql import functions as F

        from graphit_spark.sources import read_bin

        edges, coords = read_bin(
            spark, "/root/reference/test/graphs/monaco.bin"
        )
        g = LinkGraph(edges, persist=False)
        assert g.num_vertices == 1590
        assert g.num_edges == 4258
        assert g.edges.agg(F.sum("weight")).collect()[0][0] == 45543078
        assert coords.count() == 1590

    def test_astar_with_haversine_heuristic(self, spark):
        """The reference's actual A* pipeline end to end: load
        monaco.bin, haversine lower bounds from the coordinates
        (astar.gt + astar_distance_loader.cpp), and the A* target
        distance equals plain Dijkstra/delta-stepping's."""
        import math

        from pyspark.sql import functions as F

        from graphit_spark.kernels import astar, sssp_delta_stepping
        from graphit_spark.sources import read_bin
        from graphit_spark.sources.serialized import EARTH_RADIUS_CM

        edges, coords = read_bin(
            spark, "/root/reference/test/graphs/monaco.bin"
        )
        g = LinkGraph(edges, persist=False)
        source, target = 0, 1200
        t = coords.filter(F.col("id") == target).collect()[0]
        lat2, lon2 = math.radians(t["lat"]), math.radians(t["lon"])
        lat1 = F.radians("lat")
        lon1 = F.radians("lon")
        hav = (
            F.pow(F.sin((F.lit(lat2) - lat1) / 2), 2)
            + F.cos(lat1) * F.lit(math.cos(lat2))
            * F.pow(F.sin((F.lit(lon2) - lon1) / 2), 2)
        )
        h = coords.select(
            "id",
            (2 * F.asin(F.sqrt(hav)) * F.lit(EARTH_RADIUS_CM))
            .cast("long").alias("h"),
        )
        got = astar(g, source, target, heuristic=h, delta=100_000).filter(
            F.col("id") == target
        ).collect()[0]["dist"]
        exp = {
            r["id"]: r["dist"]
            for r in sssp_delta_stepping(g, source, delta=100_000).collect()
        }[target]
        assert got == exp and got is not None


def test_gzipped_edge_list_reads_transparently(spark, tmp_path):
    """Crawl-scale edge dumps ship gzipped; Spark's text source infers
    the codec from the extension, so .el.gz loads through the same
    reader — pinned here so a reader rewrite cannot silently drop it."""
    import gzip

    p = str(tmp_path / "g.el.gz")
    with gzip.open(p, "wt") as f:
        f.write("# comment\n0 1\n1 2\n2 0\n")
    got = sorted(
        (r["src"], r["dst"])
        for r in read_edge_list(spark, p).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 0)]
