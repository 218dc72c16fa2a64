"""Iteration-state checkpointing that stays flat over hundreds of rounds.

Root cause this module exists for (measured on Spark 4.1.2, see
BENCH/PLANS.md "iterated checkpoint" entry): ``df.localCheckpoint()``
truncates the plan to a ``LogicalRDD`` but INHERITS the original plan's
``Statistics``. Join stats compose as PRODUCTS of child ``sizeInBytes``
(SizeInBytesOnlyStatsPlanVisitor), so when a fixpoint kernel's round
plan references its own state more than once — CC's gather + two
pointer-jump hops (state appears twice per join), k-truss's decrement
(scored joined against peel-derived-from-scored), BFS/SSSP's
merge-with-candidates — the checkpointed state's inherited sizeInBytes
bit-length MULTIPLIES each round. The number stays a BigInteger, so
nothing overflows; instead every stats call (join planning,
InjectRuntimeFilter, AQE) pays Toom-Cook multiplication on an integer
whose bit-length grows geometrically: profiled at 2.0 s → 6.3 s →
28 s → 90 s per pointer-jump hop on a 1.5k-vertex warm CC run, with a
jstack showing 380+ s of driver CPU inside BigInteger.multiply under
``SizeInBytesOnlyStatsPlanVisitor``, and an OutOfMemoryError at
default driver memory. Flat 42-node plans, bounded storage, constant
job counts — exactly the "iterated localCheckpoint chain degrades
superlinearly" symptom kernels/truss.py previously worked around with
a parquet spill (parquet reads reset stats to real file sizes, which
is why that worked).

``fresh_checkpoint`` fixes it at the source: checkpoint eagerly, then
rebuild the DataFrame from the SAME checkpointed InternalRow RDD via
``SparkSession.internalCreateDataFrame`` — no recomputation, no
Python-side row round-trip, and the rebuilt ``LogicalRDD`` carries no
inherited stats (it reports the session default sizeInBytes, a
CONSTANT, so round N+1's products are the same size as round 1's).
Kernels that want a broadcast of the small state still get one: they
hint it explicitly (F.broadcast), which bypasses size estimation.

``internalCreateDataFrame`` is ``private[sql]`` in Scala — public in
bytecode, reachable from py4j, and stable across Spark 3.x/4.x — but
guard anyway: any failure falls back to the plain checkpointed frame,
which is merely slower, never wrong.

Release semantics (measured, Spark 4.1.2): ``DataFrame.unpersist()`` on
a localCheckpointed frame — stripped or not — only touches the SQL
cacheManager and is a NO-OP for the checkpoint's RDD blocks; the blocks
otherwise linger until the JVM ContextCleaner garbage-collects the RDD
(async, unbounded lag under driver memory pressure — the exact moment
you need the release). The kernels' ``prev.unpersist()`` discipline
therefore only worked by GC luck. ``fresh_checkpoint`` now captures the
persisted RDD (``LogicalRDD.rdd()``) and binds an instance-level
``unpersist`` on the returned frame that unpersists THAT RDD — every
existing call site becomes a real, immediate release. Releasing a
localCheckpointed RDD makes it unrecomputable (Spark logs a warning we
silence once), which is exactly the contract: kernels release only
SUPERSEDED state, and every consumer of live state holds an EAGER
checkpoint of its own.

Round aggregates (``observe``): a superstep's stopping rule and
direction choice need a few global numbers — an L1 error, a changed-row
count, a frontier degree sum. Computing them with a ``count()`` or
``collect()`` after the round's checkpoint costs one more job per number,
each a full scan of rows the checkpoint just wrote. ``observe`` attaches
them to the frame instead, so they are computed inside whatever job
materializes it (``fresh_checkpoint``, a Parquet write, any action) and
read back on the driver without another job.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Observation

_WARN_SILENCED = False


def _silence_unpersist_warning(spark) -> None:
    """The 'locally checkpointed ... cannot be recomputed' WARN fires on
    every intentional release — once per superseded round. Lower that
    one logger to ERROR (log4j2), best-effort."""
    global _WARN_SILENCED
    if _WARN_SILENCED:
        return
    _WARN_SILENCED = True
    try:  # pragma: no cover - logging cosmetics only
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass


def fresh_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager) + strip inherited Statistics.

    Drop-in replacement for ``df.localCheckpoint(eager=True)`` in
    fixpoint loops. Returns a DataFrame over the checkpointed RDD whose
    stats do not compound across rounds (see module docstring), and
    whose ``unpersist()`` actually frees the checkpoint's blocks."""
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        ck_rdd = jdf.queryExecution().analyzed().rdd()  # the persisted RDD
        stripped = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(stripped, spark)
    except Exception:  # pragma: no cover - py4j surface drift
        return ck

    def _unpersist(blocking: bool = False):
        _silence_unpersist_warning(spark)
        try:
            ck_rdd.unpersist(blocking)
        except Exception:  # pragma: no cover - already released / gone
            pass
        return out

    out.unpersist = _unpersist
    return out


class Observed(Mapping):
    """The aggregates ``observe`` attached to a frame, read after the job
    that materialized it.

    Values are fetched on first access and never by waiting forever.
    They reach the driver through the asynchronous listener bus, so a
    read that finds none waits (bounded) for the bus to drain the
    events already posted — the materializing job's completion among
    them — and raises if there are still none: that job has not run.
    ``Observation.get`` would park the driver instead. An aggregate that
    is null (a sum over no rows) reads as 0."""

    # bound on waiting for the listener bus to deliver posted events
    DRAIN_TIMEOUT_MS = 120_000

    def __init__(self, obs: Observation, names: list[str], sc):
        self._obs = obs
        self._names = names
        self._sc = sc
        self._values: dict | None = None

    def _delivered(self) -> bool:
        # getRowOrEmpty waits at most ~100 ms; Observation.get forever
        return self._obs._jo.getRowOrEmpty().isDefined()

    def _get(self) -> dict:
        if self._values is None:
            if not self._delivered():
                try:
                    self._sc._jsc.sc().listenerBus().waitUntilEmpty(
                        self.DRAIN_TIMEOUT_MS
                    )
                except Exception:  # bus still busy: decided below
                    pass
            if not self._delivered():
                raise RuntimeError(
                    f"observed aggregates {self._names} were not delivered: "
                    "the observed frame has not been materialized by a job"
                )
            self._values = {
                k: 0 if v is None else v for k, v in self._obs.get.items()
            }
        return self._values

    def __getitem__(self, name: str):
        return self._get()[name]

    def __iter__(self):
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


def observe(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Observed]:
    """``df`` with the named aggregate expressions attached, and the
    ``Observed`` mapping that reads their values once a job has
    materialized the returned frame — e.g. ``fresh_checkpoint`` or
    ``SnapshotStore.write``. The aggregates cost no job of their own."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(k) for k, c in aggs.items()))
    return out, Observed(obs, list(aggs), df.sparkSession.sparkContext)


def counted_checkpoint(
    df: DataFrame, **aggs: Column
) -> tuple[DataFrame, Observed]:
    """``fresh_checkpoint`` of ``df``, with its row count (``rows``) and
    any further ``aggs`` observed on the checkpoint job — the emptiness
    test of a fixpoint loop without an ``isEmpty()``/``count()`` job."""
    from pyspark.sql import functions as F

    df, seen = observe(df, rows=F.count(F.lit(1)), **aggs)
    return df.transform(fresh_checkpoint), seen
