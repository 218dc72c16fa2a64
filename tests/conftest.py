import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphit_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="graphit-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s


@pytest.fixture(scope="session")
def entry_query(spark):
    """``entry_query(name, sf_dir)``: the registry query's DataFrame,
    built once per session. The oracle mirror (test_entry) and the plan
    audits (test_plans) inspect the same frames; a query's kernels run
    at build time, so building it twice doubles that work."""
    import __spark_entry__ as entrymod

    built: dict = {}

    def get(name: str, sf_dir: str):
        if (name, sf_dir) not in built:
            built[name, sf_dir] = entrymod.queries()[name](spark, sf_dir)
        return built[name, sf_dir]

    yield get
    built.clear()


@pytest.fixture(scope="session")
def golden_edges():
    """The golden small graph (FIXTURES.md §5): 14 vertices, raw edge list
    WITH duplicates and self-loops (exercises squish), heavy hub vertex 0.
    Deterministic literal — mirrors reference test/graphs/4.el semantics."""
    import random

    rng = random.Random(42)
    edges = []
    # hub: vertex 0 connects to everyone, both directions
    for v in range(1, 14):
        edges.append((0, v))
        edges.append((v, 0))
    # a ring 1-2-...-13-1
    for v in range(1, 14):
        edges.append((v, 1 + (v % 13)))
    # some chords + duplicates + self loops
    for _ in range(60):
        a, b = rng.randrange(14), rng.randrange(14)
        edges.append((a, b))  # may be dup or self-loop
    for v in range(14):
        edges.append((v, v))  # explicit self loops
    edges += edges[:20]  # explicit duplicates
    return edges
