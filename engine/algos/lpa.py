"""Synchronous label propagation with a deterministic spec (SURVEY.md §5.3).

Exact-match LPA requires removing every source of nondeterminism that the
usual async/randomized formulations carry (networkx's builtin
``asyn_lpa_communities`` is randomized and unusable as an exact oracle):

  (a) undirected view: edges ∪ reversed, self-loops dropped, parallel edges
      collapsed (a neighbor votes once regardless of multiplicity);
  (b) synchronous rounds — every label updates from the round-i state;
  (c) new label = most frequent neighbor label, ties -> smallest label id;
  (d) isolated vertices keep their own label;
  (e) converged when no label changes, when the state 2-cycles (oscillation
      breaker: if state_i == state_{i-2}, take the elementwise min of the
      two states and stop), or at max_iter.

The same spec is implemented in tests/oracle_lpa.py; the engine must match
it exactly (BASELINE.json north_rule: "label propagation ... exact").

Vote counting is two builtin aggregations (groupBy(vid,label).count ->
max-of-struct), never a collected neighbor list; the max-of-struct trick
(`max(struct(cnt, -label))`) gets "highest count, ties -> smallest label"
in one partial-aggregable pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.graph import neighbours, undirected
from engine.loop import fingerprint, iterative_conf, release, step


@dataclass
class LPAResult:
    labels: DataFrame  # (vid, label)
    iterations: int
    converged: bool


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
) -> LPAResult:
    # Scale-adaptive loop partitioning; size known before the nbrs/vids
    # layouts commit a partition count (symmetric view: row_bytes=32).
    with iterative_conf(spark, rows=edges.count(), row_bytes=32):
        return _lpa_loop(spark, edges, vertices, max_iter)


def _lpa_loop(spark, edges, vertices, max_iter):
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    # vids partitioned by vid: the per-iteration update join then finds all
    # three inputs (vids, best, labels) co-partitioned — zero exchanges.
    vids = vertices.select("vid").repartition(P, "vid").localCheckpoint(eager=True)

    # (a) undirected simple neighbor list, partitioned ONCE by the join key
    # v: the per-iteration vote join reshuffles neither the O(E) edge table
    # nor the O(V) label state (labels stay hash(vid) and the vid->v rename
    # preserves the partitioning through the projection).
    nbrs = neighbours(edges).repartition(P, "v").localCheckpoint(eager=True)

    labels, cs = step(
        vids.select("vid", F.col("vid").alias("label")),
        **fingerprint("vid", "label"),
    )
    sums = [cs]  # every state's checksum; only the last state is kept

    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        votes = (
            nbrs.join(labels.withColumnRenamed("vid", "v"), "v")
            .groupBy(F.col("u").alias("vid"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # (c): max count, ties -> smallest label, via max(struct(cnt,-label)).
        best = votes.groupBy("vid").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("b")
        ).select("vid", (-F.col("b.nl")).alias("label"))
        # (d): vertices with no neighbors keep their current label.
        new_labels, cs = step(
            vids.join(best, "vid", "left")
            .join(labels.withColumnRenamed("label", "old"), "vid", "left")
            .select("vid", F.coalesce("label", "old").alias("label")),
            **fingerprint("vid", "label"),
        )
        if cs == sums[-1]:
            converged = True
        elif len(sums) >= 2 and cs == sums[-2]:
            # (e) oscillation breaker: 2-cycle -> elementwise min of both.
            merged, _ = step(new_labels.join(
                labels.withColumnRenamed("label", "label_b"), "vid"
            ).select("vid", F.least("label", "label_b").alias("label")))
            release(new_labels)
            new_labels = merged
            converged = True
        sums.append(cs)
        release(labels)
        labels = new_labels
        if converged:
            break

    release(nbrs, vids)
    return LPAResult(labels, it, converged)


def community_edge_stats(
    spark: SparkSession, edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Per-community integer aggregates over the undirected simple view of
    ``edges``: ``(label, l_c, deg_c)`` with L_c = intra-community edge
    count and deg_c = summed degrees of the community's vertices — the
    exact ingredients modularity is assembled from (Newman & Girvan
    2004), exposed as a DataFrame so the quality machinery is witnessable
    value-level (driver g16). Two aggregates, no iteration; the result is
    materialized (localCheckpoint) so callers get community-count-sized
    rows with no live lineage.

    Raises when ``labels`` is not a full partition of the edge endpoints:
    inner joins would silently DROP edges with an unlabeled endpoint from
    the intra/degree sums while they still count in m, skewing Q —
    networkx raises NotAPartition for the same input (ADVICE r3). Under
    coverage, ``sum(deg_c) == 2m`` exactly, which is the check."""
    und = undirected(edges).localCheckpoint(eager=True)
    m = und.count()
    lab = labels.select("vid", "label")
    lab_a = lab.select(F.col("vid").alias("a"), F.col("label").alias("la"))
    lab_b = lab.select(F.col("vid").alias("b"), F.col("label").alias("lb"))
    tagged = und.join(lab_a, "a").join(lab_b, "b")
    intra = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    deg = (
        tagged.select(F.col("la").alias("label"))
        .unionByName(tagged.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("deg_c"))
    )
    stats = (
        deg.join(intra, "label", "left")
        .select("label", F.coalesce("l_c", F.lit(0)).alias("l_c"), "deg_c")
        .localCheckpoint(eager=True)
    )
    release(und)
    n_tagged2 = stats.agg(F.sum("deg_c")).collect()[0][0] or 0
    if int(n_tagged2) != 2 * m:
        release(stats)
        raise ValueError(
            f"labels do not cover every edge endpoint: {m - n_tagged2 // 2} "
            f"of {m} undirected edges have an unlabeled endpoint — "
            f"modularity over a partial partition is undefined "
            f"(networkx: NotAPartition)"
        )
    return stats


