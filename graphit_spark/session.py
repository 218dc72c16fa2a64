"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the same configuration profile is
what we'd submit with ``spark-submit --py-files`` on a real cluster
(AQE, skew-join handling, Arrow). GraphIt's compile-time schedule knobs
(reference include/graphit/midend/schedule.h) map to these runtime confs.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def build_zip(zpath: str) -> str:
    """Zip the graphit_spark package's ``.py`` files into ``zpath`` (the
    ``--py-files`` artifact) and return ``zpath``. The zip is written
    next to ``zpath`` first and moved into place whole."""
    import graphit_spark

    pkg_dir = os.path.dirname(os.path.abspath(graphit_spark.__file__))
    tmp = f"{zpath}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    arc = os.path.join(
                        "graphit_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, arc)
    os.replace(tmp, zpath)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Ship graphit_spark to executors (programmatic --py-files).

    Python workers don't inherit the driver's sys.path mutations, so any
    mapInPandas/pandas_udf closure that references this package would die
    with ModuleNotFoundError when the driver script runs from outside the
    repo — in local mode AND on a real cluster. addPyFile is the same
    mechanism spark-submit --py-files uses."""
    import graphit_spark

    zpath = os.path.join(
        tempfile.gettempdir(),
        f"graphit_spark-{graphit_spark.__version__}-{os.getpid()}.zip",
    )
    if not os.path.exists(zpath):
        build_zip(zpath)
    spark.sparkContext.addPyFile(zpath)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "graphit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the link-graph engine.

    shuffle_partitions defaults to the core count: iterative graph jobs
    re-shuffle every superstep, so over-partitioning multiplies task
    overhead 20-100x across iterations (the analogue of GraphIt's
    grain-size schedule, reference src/midend/par_for_lower.cpp).
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # PySpark 4 otherwise records the Python call site of every
        # Column/functions call in the JVM: ~5 extra py4j round trips
        # per call, and kernels build plans from thousands of calls
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # generated classes are cached by source text; the default 100
        # entries thrash once a superstep's stages, their broadcasts and
        # the caller's own queries exceed it, and every miss is a Janino
        # compile (~20 ms) on the query's critical path. 14 kernel tests
        # compiled 1,882 classes with 100 entries and 753 with 5,000.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def stop_spark() -> None:
    """Stop the active session (needed between parallelism levels in the
    scaling bench — master is fixed per SparkContext)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
