"""k-core decomposition — neighborhood-density analytics (SURVEY.md Table A
C1, same family as triangles/LPA: Verum's notebooks read coreness off the
context graph to rank how embedded an entity is in its neighborhood).

Coreness via the **h-index fixpoint** (Lü, Zhou, Zhang & Stanley, "The
H-index of a network node and its relation to degree and coreness", Nature
Communications 2016 — public knowledge): initialize every vertex estimate
to its degree, then synchronously replace each estimate with the h-index of
its neighbors' estimates (the largest h such that at least h neighbors have
estimate >= h). The sequence is elementwise non-increasing and
integer-valued, so it terminates, and its fixpoint is exactly the core
number. This formulation is Spark-shaped: per round one join (estimates to
the static neighbor table) and one per-vertex ordered pass — no mutable
priority queue like the classic sequential peel (Batagelj–Zaversnik).

Per-iteration plan (mirrors lpa.py's co-partitioned loop):
  - ``nbrs`` (u, v) — undirected simple view, hash-partitioned ONCE by v;
  - estimates stay hash(vid)-partitioned; the join renames vid->v, which
    preserves partitioning, so the O(E) side never reshuffles;
  - h-index per vertex WITHOUT collecting neighbor lists: window
    row_number over (u ordered by est desc), then h = max(least(est, rn))
    — a sort of each adjacency run, O(deg log deg), skew bounded by max
    degree (intrinsic: any h-index evaluation reads the whole
    neighborhood). No arrays, no Python, whole-stage codegen throughout.
  - convergence by the count+xxhash64 state checksum CC and LPA use
    (engine.loop.fingerprint), observed on each state's ``step`` job;
    each superseded state released.

Round complexity: the fixpoint needs rounds proportional to how far wrong
the degree initialization is along chains (a path graph takes O(n) rounds
— same lower bound as distributed peeling). Real link graphs (power-law,
small diameter) converge in tens of rounds; ``max_iter`` caps pathological
inputs and ``converged`` reports honestly.

Oracle: ``networkx.core_number`` exact (tests/test_kcore.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.graph import neighbours
from engine.loop import fingerprint, iterative_conf, release, step


@dataclass
class KCoreResult:
    cores: DataFrame  # (vid, core)
    iterations: int
    converged: bool


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
) -> KCoreResult:
    """Core number of every vertex (isolated vertices -> 0).

    ``vertices``: optional (vid, ...) to include edge-less vertices, same
    contract as the other algorithms."""
    # Scale-adaptive loop partitioning (engine.loop) needs the size before
    # the nbrs layout commits a partition count; the symmetric view
    # doubles the rows (row_bytes=32 ~ 2 x 16B edge rows).
    with iterative_conf(spark, rows=edges.count(), row_bytes=32):
        return _kcore_loop(spark, edges, vertices, max_iter)


def _kcore_loop(spark, edges, vertices, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nbrs = neighbours(edges).repartition(P, "v").localCheckpoint(eager=True)
    # est0 = degree; the h-operator only ever lowers it (guarded by least()
    # below), so the loop is a monotone descent onto the coreness fixpoint.
    est, prev_cs = step(
        nbrs.groupBy(F.col("v").alias("vid"))
        .agg(F.count(F.lit(1)).cast("int").alias("est")),
        **fingerprint("vid", "est"),
    )

    w = Window.partitionBy("u").orderBy(F.desc("est"), "v")
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        ranked = (
            nbrs.join(est.withColumnRenamed("vid", "v"), "v")
            .withColumn("rn", F.row_number().over(w))
        )
        # h-index of the neighbor estimates: with values sorted descending,
        # h = max_i min(value_i, i). groupBy(u) lands on the window's own
        # hash(u) partitioning — no extra exchange.
        hidx = ranked.groupBy(F.col("u").alias("vid")).agg(
            F.max(F.least("est", "rn")).cast("int").alias("h")
        )
        new_est, cs = step(
            est.join(hidx, "vid", "left")
            .select("vid", F.least("est", F.coalesce("h", F.lit(0))).alias("est")),
            **fingerprint("vid", "est"),
        )
        release(est)
        est = new_est
        if cs == prev_cs:
            converged = True
            break
        prev_cs = cs

    cores = est.withColumnRenamed("est", "core")
    if vertices is not None:
        cores = vertices.select("vid").join(cores, "vid", "left").select(
            "vid", F.coalesce("core", F.lit(0)).alias("core")
        )
    release(nbrs)
    return KCoreResult(cores, it, converged)
