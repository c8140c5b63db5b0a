"""Per-iteration state materialization that stays O(1) in plan-stat size.

Spark 4.1's ``DataFrame.localCheckpoint`` does more than truncate lineage:
``LogicalRDD.fromDataset`` copies the *origin plan's* statistics and
constraints onto the checkpointed leaf (SPARK-39748 family — carried so
AQE/CBO keep size hints across a checkpoint). For a one-shot checkpoint
that is a free win. For an ITERATIVE loop it is a time bomb whenever the
loop body references the state more than once:

    sizeInBytes(join) = PRODUCT of the children's sizeInBytes
    (SizeInBytesOnlyStatsPlanVisitor.visitJoin -> default), so a body with
    two state references computes   s_{k+1} ~ s_k ** 2  —  the carried
    BigInt DOUBLES ITS DIGIT COUNT EVERY ITERATION. By iteration ~22 the
    driver is single-threadedly multiplying million-digit BigIntegers
    inside Toom-Cook (measured on this host: katz_centrality hit 2,379
    digits by iteration 6 and minutes/iteration past ~20; jstack shows
    100% CPU in java.math.BigInteger.multiplyToomCook3 under
    SizeInBytesOnlyStatsPlanVisitor).

``pagerank.py`` escapes by accident: its staged plan's optimized output
fails ``LogicalRDD.buildOutputAssocForRewrite`` (the rewrite silently
degrades to None and the leaf falls back to defaultSizeInBytes — measured
52 digits after 40 iterations). Accident is not architecture, so loops
that feed a checkpoint back into themselves should materialize through
:func:`fresh_checkpoint`, which localCheckpoints and then REBUILDS the
DataFrame around the same checkpointed RDD with ``originStats``/
``originConstraints`` dropped — keeping the partitioning and ordering
metadata (exchange elimination still credits the hash partitioning) while
the leaf's stats revert to the bounded default.

Inside ``iterative_conf`` loops the lost size hint changes nothing: AQE
is off and every broadcast decision is an explicit ``broadcast()`` hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_LOGICAL_RDD = "org.apache.spark.sql.execution.LogicalRDD"


def strip_origin_stats(df: DataFrame) -> DataFrame:
    """Rebuild a just-checkpointed DataFrame around the same checkpointed
    RDD minus the carried originStats/originConstraints.

    No-op (returns ``df``) when the optimized plan is not a LogicalRDD
    leaf — the caller didn't checkpoint, or a future Spark renamed the
    node; degrading to the unstripped frame is always correct, merely
    slower at high iteration counts."""
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


def fresh_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` + :func:`strip_origin_stats` — the
    materialization every self-feeding iterative loop should use."""
    return strip_origin_stats(df.localCheckpoint(eager=True))


def observed_checkpoint(
    df: DataFrame, *cols: str
) -> tuple[DataFrame, tuple[int, int]]:
    """``localCheckpoint(eager=True)`` with the state fingerprint (row
    count, xor of the rows' ``xxhash64(*cols)``) OBSERVED on the same job —
    the convergence checksum of the CC, LPA and k-core loops. xor is
    overflow-free under ANSI mode and order/partitioning-insensitive, and
    the states are distinct by construction, so xor-cancellation needs a
    genuine 64-bit collision. Riding the materialization spares a
    dedicated checksum scan per round; the two scalars are the only
    per-round driver traffic."""
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    ).localCheckpoint(eager=True)
    vals = obs.get
    return out, (int(vals["n"]), int(vals["h"]))
