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

Package rule: a frame that is ever released comes from
``fresh_checkpoint`` / ``counted_checkpoint``, the superstep driver or
``bind_release``; a raw ``localCheckpoint`` is only for a terminal frame
nobody releases. A kernel holds the cache of the graph it traverses in
a ``with graph.persisted():`` block — never an ``unpersist()`` of the
graph — so the hold ends on return and on raise alike, and frames it
keeps across the driver's rounds are released on raise by
``release_on_raise``. ``tests/test_superstep_jobs.py`` pins the rule.

Round aggregates (``observe``): a superstep's stopping rule and
direction choice need a few global numbers — an L1 error, a changed-row
count, a frontier degree sum. Computing them with a ``count()`` or
``collect()`` after the round's checkpoint costs one more job per number,
each a full scan of rows the checkpoint just wrote. ``observe`` attaches
them to the frame instead, so they are computed inside whatever job
materializes it (``fresh_checkpoint``, a Parquet write, any action) and
read back on the driver without another job.

Superstep driver (``superstep``): a kernel states what one round
computes — a ``step(state, rnd)`` that builds the next state lazily —
and the driver owns how rounds execute: materialization, the round's
observed aggregates, release of superseded state and round-scoped
intermediates, the change count and the round budget. Its docstring is
the one statement of that lifecycle contract.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, functions as F

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
    df, seen = observe(df, rows=F.count(F.lit(1)), **aggs)
    return df.transform(fresh_checkpoint), seen


def bind_release(df: DataFrame, *owners: DataFrame) -> DataFrame:
    """``df`` — a frame derived from the materialized ``owners`` (e.g. a
    projection of a kernel's final state) — whose ``unpersist()``
    releases the owners' blocks, so a kernel's caller can free what its
    result reads."""
    releases = [owner.unpersist for owner in owners]  # before rebinding

    def _unpersist(blocking: bool = False):
        for release in releases:
            release(blocking)
        return df

    df.unpersist = _unpersist
    return df


@contextmanager
def release_on_raise(frames: list[DataFrame]):
    """Release every frame in ``frames`` if the block raises — the
    materialized frames a kernel keeps across its driver's rounds (the
    tables its rounds read, the result parts they append). On return the
    kernel keeps them."""
    try:
        yield
    except BaseException:
        for df in frames:
            df.unpersist()
        raise


class Round:
    """One superstep, as its step function sees it.

    ``index`` is the round number (counting from the driver's ``start``);
    ``seen`` holds the aggregates observed on the previous round's
    materialization (``None`` in a call's first round); ``aggs`` are the
    aggregate expressions the driver observes on each round's state. A
    step may set further attributes (e.g. the direction it chose) for a
    ``materialize`` callback to record."""

    def __init__(self, index: int, seen: Observed | None,
                 aggs: dict[str, Column]):
        self.index = index
        self.seen = seen
        self.aggs = aggs
        self._cks: list[tuple[DataFrame, Observed | None]] = []
        self._seen: Observed | None = None

    def checkpoint(self, df: DataFrame, **aggs: Column):
        """``fresh_checkpoint`` of an intermediate that lives only within
        this round; the driver releases it once the round's state is
        materialized. With ``aggs``, returns ``(frame, Observed)``. A
        frame checkpointed with ``**rnd.aggs`` may be returned by the
        step as the round's state: the driver adopts it without a
        second job."""
        seen = None
        if aggs:
            df, seen = observe(df, **aggs)
        ck = fresh_checkpoint(df)
        self._cks.append((ck, seen))
        return (ck, seen) if aggs else ck

    def own(self, df: DataFrame) -> DataFrame:
        """Hand an already materialized intermediate (e.g. the result of
        a nested ``superstep``) to the round: the driver releases it with
        the round's checkpoints."""
        self._cks.append((df, None))
        return df

    def observe(self, df: DataFrame) -> DataFrame:
        """``df`` with the round's aggregates attached — for a step whose
        state drops a column an aggregate reads (e.g. the old rank of an
        error norm): the step projects after this, and the driver then
        observes nothing more."""
        df, self._seen = observe(df, **self.aggs)
        return df

    def _observed(self, df: DataFrame) -> tuple[bool, Observed | None]:
        """(adopted, seen): whether ``df`` is one of this round's
        checkpoints, and the round aggregates already attached."""
        for ck, seen in self._cks:
            if ck is df:
                if self.aggs and (seen is None or set(self.aggs) - set(seen)):
                    raise ValueError(
                        "a step returned a round checkpoint that does not "
                        "observe the round's aggregates (rnd.aggs)"
                    )
                return True, seen
        return False, self._seen


def superstep(
    state: DataFrame,
    step: Callable[[DataFrame, Round], DataFrame],
    *,
    rounds: int | None = None,
    max_rounds: int | None = None,
    start: int = 0,
    checkpoint_start: bool = True,
    changed: Column | None = None,
    until: Callable[[Observed], bool] | None = None,
    materialize: Callable[[DataFrame, Round, Observed | None], DataFrame]
    | None = None,
    log: list | None = None,
    **aggs: Column,
) -> DataFrame:
    """Run ``step`` round after round and return the last materialized
    state.

    Lifecycle contract. The driver owns ``state`` from the call on: it
    checkpoints it first (skip with ``checkpoint_start=False`` when it is
    already materialized, e.g. a snapshot read). Then, per round ``i``
    (from ``start``):

    - ``step(state, rnd)`` builds the next state lazily from the current
      one; ``rnd.checkpoint`` materializes intermediates the round reads
      more than once, and ``rnd.own`` hands over ones made otherwise.
    - The driver materializes the new state in one job —
      ``fresh_checkpoint``, or ``materialize(df, rnd, seen)`` (e.g. a
      ``SnapshotStore.write``) — with ``aggs`` observed on that job, plus
      ``changed``: the count of rows where the boolean expression
      ``changed`` holds. ``seen`` maps each name to its value; it is the
      next round's ``rnd.seen`` and is appended to ``log``.
    - Once the new state is materialized, the driver releases the
      superseded state — the frame it holds, never one derived from it,
      so the release is real — and every round checkpoint.
    - The loop stops when ``until(seen)`` holds; with ``changed`` and no
      ``until``, when ``changed`` counts 0.
    - When ``step`` or ``materialize`` raises — a nested ``superstep``
      out of budget among them — or the budget below runs out, the
      driver releases the state it holds and the round's checkpoints
      and owned frames, then re-raises.

    The budget is one of two contracts, named by the keyword:

    - ``rounds=N``: a fixed-iteration contract — at most N rounds
      (counting from 0, so ``N - start`` in this call), an early stop
      when the stop rule holds, never an error.
    - ``max_rounds=N``: a fixpoint — the stop rule is the answer's
      correctness condition, so running out of budget with changes still
      pending raises instead of returning a truncated answer — also when
      the budget runs no round (``N <= start``).

    Returns the last materialized frame itself (``state`` if no round
    ran), so the caller's ``unpersist()`` releases its blocks."""
    if (rounds is None) == (max_rounds is None):
        raise TypeError("superstep takes exactly one of rounds= / max_rounds=")
    if changed is not None:
        aggs = {"changed": F.count(F.when(changed, 1)), **aggs}
        if until is None:
            until = lambda seen: seen["changed"] == 0  # noqa: E731
    if max_rounds is not None and until is None:
        raise TypeError("a max_rounds= fixpoint needs changed= or until=")
    if checkpoint_start:
        start_ck = fresh_checkpoint(state)
        state.unpersist()
        state = start_ck
    seen = None
    rnd = None
    try:
        for i in range(start, rounds if max_rounds is None else max_rounds):
            rnd = Round(i, seen, aggs)
            new = step(state, rnd)
            adopted, seen = rnd._observed(new)
            if seen is None and aggs:
                new, seen = observe(new, **aggs)
            if materialize is not None:
                new = materialize(new, rnd, seen)
            elif not adopted:
                new = fresh_checkpoint(new)
            state.unpersist()
            for ck, _ in rnd._cks:
                if ck is not new:
                    ck.unpersist()
            state, rnd = new, None
            if log is not None:
                log.append(seen)
            if until is not None and until(seen):
                break
        else:
            if max_rounds is not None:
                raise RuntimeError(
                    f"fixpoint did not converge within max_rounds={max_rounds} "
                    "rounds: changes are still pending, so the state is not "
                    "the answer — raise the budget above the graph's depth"
                )
    except BaseException:
        state.unpersist()
        if rnd is not None:  # the round that raised
            for ck, _ in rnd._cks:
                ck.unpersist()
        raise
    return state
