"""Shared plan-shaping helpers for CPU-bound stages."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-bound stage (Python UDF, heavy array expressions)
    gets cluster parallelism.

    Two ways a frame arrives under-partitioned: a small table is one
    scan partition, and AQE coalesces post-shuffle partitions toward
    the 64 MB advisory size — both are byte-oriented policies that
    serialize compute-per-row work on one core. An EXPLICIT
    repartition(n) is exempt from AQE coalescing, so it sticks. At
    real scale the input already has ≥ cores partitions and this is a
    no-op (checking the partition count costs only plan conversion,
    no job)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def rebalanced(df: DataFrame, *cols: str) -> DataFrame:
    """AQE-sized layout for a partitioned WRITE (optimization guide §6:
    coalesce on write / REBALANCE before the write), keyed by the
    partition columns when given. Unlike a hash ``repartition(col)``,
    REBALANCE lets AQE coalesce a tiny batch to one file per directory,
    fan a large batch out to advisory-sized files, AND split a skewed
    key across writer tasks — a hash repartition serializes a hot key
    (a hot IVF centroid, a hot hive partition) into ONE task at 100 TB.
    Every persisted-store write goes through it: the compute side of a
    store pass is deliberately spread across cores (:func:`spread`), so
    an unrebalanced write lands one file per (task × hive directory) —
    for a judge-slice-sized batch ~32 near-empty files per table per
    append, each of which the probe then pays listing and a file open
    for (measured: store probes reading 100+ file committed sets as
    ~200-task scan jobs). No-op semantics: row→file placement only."""
    return df.hint("rebalance", *[F.col(c) for c in cols])


def concurrently(*thunks) -> list:
    """Run independent eager thunks from one thread each and return
    their results in submission order (optimization guide §2.6 —
    overlap independent jobs): the scheduler back-fills one chain's
    driver-side gaps and straggler tails with the other's tasks.

    Each thunk runs through ``pyspark.util.inheritable_thread_target``,
    so its jobs carry the caller's job description, job group and
    scheduler pool (each thunk a copy of its own); a plain pool thread
    starts with none of them, and its jobs would lose the caller's
    ``bench:<name>`` label. Every thunk is awaited before any result is
    read, and the first exception (in submission order) is re-raised
    only then: a failing thunk never leaves a sibling's jobs running
    past the call, so a store write that raises still publishes
    nothing half-done. A single thunk runs inline; several need an
    active session, in PySpark's default pinned thread mode.

    Concurrent jobs over one persisted parent compute each partition
    once (block-level locking makes later arrivals wait), so sharing a
    cached frame across thunks costs no recomputation."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    # one wrapper per thunk: each takes its own copy of the caller's
    # properties (and, through the session, its job tags), so a label
    # one thunk sets never reaches a sibling
    session = SparkSession.active()
    targets = [inheritable_thread_target(session)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
    return [f.result() for f in futures]


def fresh_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` that also RESETS Catalyst's size
    statistics — REQUIRED wherever checkpointed frames chain through
    joins (iterative rounds, and outputs fed back in as inputs).

    ``Dataset.checkpoint`` propagates the ORIGIN plan's estimated
    stats into the resulting LogicalRDD, and the default size-only
    estimator MULTIPLIES child sizes through every join — so chaining
    checkpoints through join rounds compounds ``sizeInBytes``
    multiplicatively: the BigInt's digit count doubles per chained
    round, and after a dozen chained rounds the DRIVER spends its
    time inside ``BigInteger.multiply`` during estimation (measured
    on 50-row inputs: connected-components rounds of 2 s → 10 s →
    31 s → 147 s; a jstack shows Thread-3 burning minutes in
    ``multiplyToomCook3``). Rebuilding the DataFrame from the
    checkpointed ``InternalRow`` RDD (``internalCreateDataFrame`` —
    zero data movement, the same persisted blocks) drops the origin
    stats back to the conf-default leaf size: chained digit counts
    stay flat (measured 19 → 19 per round instead of doubling).

    Falls back to the plain checkpoint if the (package-private but
    bytecode-public) JVM surface ever moves — correctness is
    unaffected, only the chained-stats pathology returns. Use
    :func:`release_checkpoint` to free the blocks; it follows the
    rebuilt frame back to its checkpoint source."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(new_jdf, df.sparkSession)
    except Exception:
        return ck
    # release_checkpoint must unpersist the ORIGINAL checkpointed RDD
    # (the rebuilt plan's rdd is a wrapper over it; unpersisting the
    # wrapper would free nothing)
    out._fde_ckpt_source = ck
    return out


def release_checkpoint(df: DataFrame) -> None:
    """Release the block storage behind a ``localCheckpoint``'d (or
    :func:`fresh_checkpoint`'d) frame.

    Iterative operators truncate lineage with an eager localCheckpoint
    per round; the backing RDD blocks stay pinned in executor storage
    for the whole session unless explicitly unpersisted (neither
    ``spark.catalog.clearCache()`` nor cleanup-on-GC reaches them
    promptly from Python). Call this on the PREVIOUS round's
    checkpointed frame once the next round is materialized — after
    release the frame is NOT recomputable (the checkpoint cut its
    lineage), so it must never be referenced again.

    ``df`` must be the direct localCheckpoint result (its analyzed
    plan is the LogicalRDD holding the persisted RDD) or a
    :func:`fresh_checkpoint` result (followed back to its source);
    anything else is left untouched. Best-effort: failures are
    swallowed — a leaked block degrades performance, a raise here
    would fail a correct query."""
    src = getattr(df, "_fde_ckpt_source", None)
    if src is not None:
        df = src
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


#: Power-of-1024 exponent of each size-conf suffix Spark accepts.
_BYTE_UNITS = {
    "b": 0, "k": 1, "kb": 1, "m": 2, "mb": 2, "g": 3, "gb": 3,
    "t": 4, "tb": 4, "p": 5, "pb": 5,
}


def byte_string_as_bytes(text: str) -> int:
    """A Spark size conf (``64m``, ``1g``, ``10b``, a bare byte count;
    any case) in bytes — the parse ``JavaUtils.byteStringAsBytes``
    applies, done here instead of through a private JVM class."""
    m = re.fullmatch(r"([0-9]+)([a-z]+)?", text.strip().lower())
    unit = (m.group(2) or "b") if m else None
    if unit not in _BYTE_UNITS:
        raise ValueError(
            f"invalid byte string {text!r}: expected a whole number with "
            f"an optional suffix in {sorted(_BYTE_UNITS)}"
        )
    return int(m.group(1)) * 1024 ** _BYTE_UNITS[unit]


def advisory_partition_bytes(spark) -> int:
    """The session's ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    in bytes: the size AQE aims each post-shuffle partition (and so
    each rebalanced write's file) at."""
    return byte_string_as_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    )
