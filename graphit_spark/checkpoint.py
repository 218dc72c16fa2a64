"""Superstep checkpointing with per-partition lineage + metrics.

The north rule requires every superstep to checkpoint frontier and score
DataFrames as snapshots with per-partition lineage so a killed run resumes
mid-algorithm. GraphIt has no analogue (it is single-node batch); this is
the Spark-iteration necessity (lineage truncation) promoted to a feature.

Preferred backend is an Iceberg table (snapshot per superstep); Iceberg
jars are not present in this environment, so the default backend is a
Parquet snapshot directory per iteration plus a JSON manifest recording
iteration, row counts per written Parquet file (each file is one writing
task's partition), wall time, and arbitrary metrics. The layout is
append-only and atomic (manifest written last), so a crash mid-write
leaves the previous iteration as the resume point.

A snapshot runs no Spark job besides the write. The read-back reuses
the written frame's schema (no inference job), the row counts come from
the Parquet footers of the written files (read on the driver, no count
job), and aggregates the caller observed on the frame
(``plans.state.observe``) are computed by the write job itself and land
in the manifest's metrics through callables read after that job.

Layout:
    <root>/<name>/it=<k>/part-*.parquet
    <root>/<name>/it=<k>/_MANIFEST.json
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

try:  # Iceberg backend requires the spark-iceberg runtime jar.
    import pyiceberg  # noqa: F401  # pragma: no cover

    HAVE_ICEBERG = True
except ImportError:
    HAVE_ICEBERG = False


class SnapshotStore:
    """Durable per-superstep snapshots for one named DataFrame stream."""

    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        os.makedirs(self.dir, exist_ok=True)

    def _it_dir(self, iteration: int) -> str:
        return os.path.join(self.dir, f"it={iteration}")

    def write(
        self, df: DataFrame, iteration: int, metrics: dict | None = None
    ) -> DataFrame:
        """Write snapshot for `iteration`, return the re-read DataFrame
        (reading back truncates lineage — the plan no longer grows).

        `metrics` go into the manifest. A value that is callable is
        called once the write job has run — e.g. ``lambda: seen["err"]``
        records an aggregate ``plans.state.observe`` attached to `df`,
        as computed by the write job."""
        path = self._it_dir(iteration)
        t0 = time.time()
        df.write.mode("overwrite").parquet(path)
        back = df.sparkSession.read.schema(df.schema).parquet(path)
        part_rows = {
            f: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.startswith("part-")
        }
        manifest = {
            "iteration": iteration,
            "rows": sum(part_rows.values()),
            "partitions": part_rows,
            "elapsed_write_sec": time.time() - t0,
            "metrics": {
                k: v() if callable(v) else v
                for k, v in (metrics or {}).items()
            },
        }
        tmp = os.path.join(path, "_MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(path, "_MANIFEST.json"))
        return back

    def complete_iterations(self) -> list[int]:
        """Iterations whose manifest exists (i.e. fully committed)."""
        out = []
        if not os.path.isdir(self.dir):
            return out
        for d in os.listdir(self.dir):
            if d.startswith("it=") and os.path.exists(
                os.path.join(self.dir, d, "_MANIFEST.json")
            ):
                out.append(int(d[3:]))
        return sorted(out)

    def latest(self) -> int | None:
        its = self.complete_iterations()
        return its[-1] if its else None

    def read(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.parquet(self._it_dir(iteration))

    def manifest(self, iteration: int) -> dict:
        with open(os.path.join(self._it_dir(iteration), "_MANIFEST.json")) as f:
            return json.load(f)
