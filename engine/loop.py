"""The iterative-loop policy every engine loop shares: pinned planner conf,
scale-adaptive loop partitions, one lineage-cutting state step, and one
release of what the engine materialized.

**Pinned planner conf** (:func:`iterative_conf`): AQE off (it re-plans
every one of the O(iterations) materializations — measured ~5x
per-iteration overhead at small scale, no benefit for these static shapes)
and shuffled-hash over sort-merge (SMJ would re-sort the edge cache every
iteration). The loop's ``spark.sql.shuffle.partitions`` is sized from the
loop's own input (:func:`_loop_partitions`) against the session value read
ONCE on entry, so a second sizing inside the same block never reads a cap
the first one already lowered. Everything is restored on exit, so
relational queries keep AQE.

**The state step** (:func:`step`): every state a loop feeds back into
itself is materialized by ``localCheckpoint(eager=True)`` with the
caller's convergence scalars observed on that same job. Spark 4.1's
``localCheckpoint`` does more than truncate lineage:
``LogicalRDD.fromDataset`` copies the *origin plan's* statistics and
constraints onto the checkpointed leaf (carried so CBO keeps size hints
across a checkpoint). For a one-shot checkpoint that is a free win. For a
loop whose body references its state more than once it is a time bomb:

    sizeInBytes(join) = PRODUCT of the children's sizeInBytes
    (SizeInBytesOnlyStatsPlanVisitor.visitJoin -> default), so a body with
    two state references computes   s_{k+1} ~ s_k ** 2  —  the carried
    BigInt DOUBLES ITS DIGIT COUNT EVERY ITERATION, and the driver ends up
    single-threadedly multiplying million-digit BigIntegers inside
    Toom-Cook (jstack: 100% CPU in BigInteger.multiplyToomCook3 under
    SizeInBytesOnlyStatsPlanVisitor). LPA's vote/merge body is such a
    loop (tests/test_loop.py measures it on a 41-vertex path).

So :func:`step` REBUILDS the DataFrame around the same checkpointed RDD
with ``originStats``/``originConstraints`` dropped — keeping the
partitioning and ordering metadata (exchange elimination still credits the
hash partitioning) while the leaf's stats revert to the bounded default.
The lost size hint only stops the planner from broadcasting a small state
on its own (the join is then co-partitioned or shuffled); explicit
``broadcast()`` hints, such as PageRank's state broadcast, are unaffected.
Materializations that no loop feeds back (neighbour
lists, oriented edges, warm-start inputs) keep a plain ``localCheckpoint``,
whose carried stats still steer broadcast choices.

**Release** (:func:`release`): the one way the engine frees a frame it
materialized. ``DataFrame.unpersist()`` only drops CacheManager entries,
and a checkpoint has none: its blocks belong to the RDD under its
``LogicalRDD`` leaf, which stays in executor storage until a driver GC
lets the ContextCleaner find it. At 10^9 edges every such leftover state
is O(E) of memory or disk. ``release`` therefore unpersists that RDD for
a checkpointed frame (every :func:`step` output and every
``localCheckpoint``), ``unpersist()``s a ``persist()``ed one, and raises
``TypeError`` for anything else (a projection of a checkpoint, say), so
a release that would free nothing fails loudly. The rule: release a
frame once no unmaterialized plan reads it, and never release a frame
the caller gets back, nor one a returned lazy frame reads. A read after
release fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``; Spark cannot
recompute a local checkpoint.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Target bytes per loop shuffle partition (guide §2.2: 100 MB - 1 GB per
# reduce partition).
LOOP_TARGET_PARTITION_BYTES = 128 << 20

_PARTITIONS = "spark.sql.shuffle.partitions"
_LOGICAL_RDD = "org.apache.spark.sql.execution.LogicalRDD"


def _loop_partitions(
    spark: SparkSession, session_p: int, rows: int, row_bytes: int
) -> int:
    """Scale-adaptive shuffle partition count for an iteration loop.

    The loops run with AQE off, so the static count is binding — and the
    session default is sized for the whole relational surface (2x cores
    locally; O(total-input-bytes/128MB) on a cluster, per engine.session),
    not for one loop's O(E) working set. Derive the loop's count from ITS
    input instead (guide §2.2 "fewer, larger reduce partitions"):
    ceil(rows*row_bytes / LOOP_TARGET_PARTITION_BYTES), floored at the
    task-slot count (every core gets work at any size) and capped at the
    session value (the deployment's chosen upper bound). At bench scale
    (3.45M edges, 32 cores) the floor binds — 32 partitions measured
    0.71 s vs 1.2 s per pagerank iteration against the 2x-cores default
    (interleaved A/B, tools/probe_iter.py); at cluster scale the bytes
    term dominates and grows with the data, so tasks stay ~target-sized.
    """
    cores = _executor_cores(spark)
    by_bytes = -(-int(rows) * row_bytes // LOOP_TARGET_PARTITION_BYTES)
    return max(1, min(max(by_bytes, cores), max(session_p, cores)))


def _executor_cores(spark: SparkSession) -> int:
    """Concurrent task slots — the loop partition floor. NOT
    ``defaultParallelism``: engine.session sets ``spark.default.parallelism``
    to 2x the core count, which is a parallelism default, not the slot
    count. ``local[N]`` is parsed directly; on a cluster the scheduler's
    ``defaultParallelism`` (total cores when ``spark.default.parallelism``
    is unset) is the available proxy — at worst a 2x-high floor there,
    where the bytes term dominates anyway."""
    master = spark.sparkContext.master
    if master.startswith("local["):
        n = master[6:].rstrip("]")
        if n != "*":
            return int(n)
        return os.cpu_count() or 2
    return spark.sparkContext.defaultParallelism


@contextmanager
def iterative_conf(
    spark: SparkSession, rows: int | None = None, row_bytes: int = 16
):
    """Pin the loop planner conf (module docstring); restore on exit.

    ``rows``: when the loop's input row count is known up front, the
    loop's shuffle partitions are sized from it on entry. Yields
    ``size(rows, row_bytes=16) -> int``, which applies the same rule
    mid-loop for operators whose size is first observed on their setup
    materialization; it always caps at the session value captured here."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.join.preferSortMergeJoin",
            _PARTITIONS,
        )
    }
    session_p = int(saved[_PARTITIONS])

    def size(rows: int, row_bytes: int = 16) -> int:
        p = _loop_partitions(spark, session_p, rows, row_bytes)
        conf.set(_PARTITIONS, str(p))
        return p

    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.join.preferSortMergeJoin", "false")
    if rows is not None:
        size(rows, row_bytes)
    try:
        yield size
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def fingerprint(*cols: str) -> dict[str, Column]:
    """State fingerprint for :func:`step`: row count ``n`` and the xor of
    the rows' ``xxhash64(*cols)`` ``h`` — the convergence checksum of the
    CC, LPA and k-core loops. xor is overflow-free under ANSI mode and
    order/partitioning-insensitive, and the states are distinct by
    construction, so xor-cancellation needs a genuine 64-bit collision."""
    return {
        "n": F.count(F.lit(1)),
        "h": F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)),
    }


def step(df: DataFrame, **observed: Column) -> tuple[DataFrame, Row]:
    """Materialize one loop state in ONE job: observe the ``observed``
    aggregates (name -> Column) on it, ``localCheckpoint(eager=True)`` it
    and drop the carried origin statistics (module docstring). Returns the
    new state and a Row of the observed values (empty when none asked).
    Riding the materialization spares a dedicated probe job per round."""
    obs = Observation()
    if observed:
        df = df.observe(obs, *(c.alias(k) for k, c in observed.items()))
    out = _strip_origin_stats(df.localCheckpoint(eager=True))
    return out, Row(**obs.get) if observed else Row()


def _strip_origin_stats(df: DataFrame) -> DataFrame:
    """Rebuild a just-checkpointed DataFrame around the same checkpointed
    RDD minus the carried originStats/originConstraints.

    No-op (returns ``df``) when the optimized plan is not a LogicalRDD
    leaf — a future Spark renamed the node; degrading to the unstripped
    frame is always correct, merely slower at high iteration counts
    (tests/test_loop.py then fails)."""
    spark = df.sparkSession
    jvm = spark._sc._jvm
    old = df._jdf.queryExecution().optimizedPlan()
    if old.getClass().getName() != _LOGICAL_RDD:
        return df
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    mod = getattr(getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$")
    plan = mod.apply(
        old.output(),
        old.rdd(),
        old.outputPartitioning(),
        old.outputOrdering(),
        old.isStreaming(),
        old.stream(),
        spark._jsparkSession,
        none,
        none,
    )
    jdf = getattr(jvm.org.apache.spark.sql.classic, "Dataset").ofRows(
        spark._jsparkSession, plan
    )
    return DataFrame(jdf, spark)


def release(*dfs: DataFrame) -> None:
    """Free checkpointed or persisted frames (module docstring); raise
    ``TypeError`` on any other frame, which would stay in storage."""
    for df in dfs:
        if df.storageLevel != StorageLevel.NONE:
            df.unpersist()
            continue
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getName() != _LOGICAL_RDD:
            raise TypeError(
                "release() takes a checkpointed or persisted frame; this "
                f"one reads {plan.nodeName()}, so nothing would be freed"
            )
        plan.rdd().unpersist(False)
