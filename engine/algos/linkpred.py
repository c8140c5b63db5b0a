"""Neighborhood-overlap link scores — common neighbors, Jaccard, Adamic–
Adar (Adamic & Adar 2003; Liben-Nowell & Kleinberg CIKM'03 — public
knowledge). Verum's analysts rank candidate relationships by how much
context two entities share ([R verum scoring notebooks, reconstructed —
SURVEY.md Table A C1/S3]); these are the standard closed-form scores for
that question, computed set-orientedly over the (src, dst) edge table.

Two modes, one output schema ``(a, b, common, jaccard, adamic_adar)`` with
``a < b``:

- **Candidate scoring** (``pairs`` given): the 100-TB path. Scoring is two
  equi-joins of the candidate pairs against the adjacency table — cost
  O(sum of candidate endpoint degrees), never all-pairs. Candidates come
  from wherever the workload finds them (existing edges, LSH buckets, a
  k-hop query).
- **Enumeration** (``pairs=None``): discover every pair with >= 1 common
  neighbor by expanding wedge pairs per center vertex, with the SAME
  capped-group policy as the co-occurrence derivation (derive.py J3): a
  center's wedge fan-out is quadratic in its degree, so centers above
  ``center_cap`` are dropped, counted and logged — never silently, never
  collected first. Real hubs (a ``lang`` vertex adjacent to half the
  corpus) produce no informative overlap scores anyway; cap policy is the
  documented trade.

Adamic–Adar weights each shared neighbor c by 1/ln(deg(c)); deg(c) >= 2
always holds for a common neighbor, so the log never vanishes. Oracles:
``networkx`` ``jaccard_coefficient`` / ``adamic_adar_index`` and a brute
all-pairs sweep (tests/test_linkpred.py).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.graph import neighbours
from engine.loop import iterative_conf

log = logging.getLogger(__name__)


def _degrees(adj: DataFrame) -> DataFrame:
    return adj.groupBy("v").agg(F.count(F.lit(1)).cast("int").alias("deg"))


def _finish(cn: DataFrame, deg: DataFrame) -> DataFrame:
    """Attach endpoint degrees and derive jaccard; cn = (a, b, common, aa).

    LEFT joins: a candidate pair may reference a vertex with no
    (non-self) edges at all — it keeps its row with degree 0 and scores
    0.0 (the one-row-per-candidate contract); an empty neighborhood
    union yields jaccard 0, matching networkx."""
    denom = F.col("da") + F.col("db") - F.col("common")
    return (
        cn.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")),
                "a", "left")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")),
              "b", "left")
        .select(
            "a", "b", "common",
            F.coalesce("da", F.lit(0)).alias("da"),
            F.coalesce("db", F.lit(0)).alias("db"),
            "aa",
        )
        .select(
            "a", "b", "common",
            F.when(denom > 0, F.col("common") / denom)
            .otherwise(F.lit(0.0)).alias("jaccard"),
            F.col("aa").alias("adamic_adar"),
        )
    )


def link_scores(
    spark: SparkSession,
    edges: DataFrame,
    pairs: DataFrame | None = None,
    center_cap: int = 256,
    min_common: int = 1,
    log_dropped: bool = True,
) -> DataFrame:
    """(a, b, common, jaccard, adamic_adar) per scored pair.

    ``pairs``: optional (a, b) candidates — order-normalized internally;
    pairs with zero common neighbors are kept (score 0) so the caller gets
    one row per candidate. Without ``pairs``, enumerates pairs with
    ``common >= min_common`` under the ``center_cap`` policy.
    """
    with iterative_conf(spark):
        # Symmetric simple adjacency (v, nbr); the returned scores read it.
        adj = neighbours(edges).select(
            F.col("u").alias("v"), F.col("v").alias("nbr")
        ).localCheckpoint(eager=True)
        deg = _degrees(adj)
        if pairs is not None:
            return _score_candidates(pairs, adj, deg)
        return _enumerate(adj, deg, center_cap, min_common, log_dropped)


def _score_candidates(pairs: DataFrame, adj: DataFrame, deg: DataFrame) -> DataFrame:
    norm = pairs.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    # Common neighbors of (a, b) = adjacency joined from both endpoints on
    # the shared nbr; the nbr's own degree rides along for the AA weight.
    wdeg = adj.join(deg.withColumnRenamed("v", "nbr").withColumnRenamed("deg", "dn"),
                    "nbr")
    cn = (
        norm.join(wdeg.select(F.col("v").alias("a"), "nbr", "dn"), "a")
        .join(adj.select(F.col("v").alias("b"), "nbr"), ["b", "nbr"], "inner")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("common"),
            F.sum(F.lit(1.0) / F.log("dn")).alias("aa"),
        )
    )
    scored = norm.join(cn, ["a", "b"], "left").select(
        "a", "b",
        F.coalesce("common", F.lit(0)).alias("common"),
        F.coalesce("aa", F.lit(0.0)).alias("aa"),
    )
    return _finish(scored, deg)


def _enumerate(
    adj: DataFrame, deg: DataFrame, center_cap: int, min_common: int,
    log_dropped: bool,
) -> DataFrame:
    # Wedge pairs per center, cap applied to the center's degree BEFORE the
    # quadratic explode (same shape as derive._membership_groups).
    centers = (
        adj.join(deg, "v")
        .groupBy("v", "deg")
        .agg(F.sort_array(F.collect_set("nbr")).alias("nbrs"))
        .withColumn("capped", F.size("nbrs") > center_cap)
    )
    if log_dropped:
        dropped = centers.filter("capped").agg(
            F.count(F.lit(1)).alias("centers"), F.sum(F.size("nbrs")).alias("adj")
        ).collect()[0]
        if dropped["centers"]:
            log.warning(
                "link_scores enumeration dropped %s centers over cap=%s "
                "(%s adjacency rows) — counted, not silent",
                dropped["centers"], center_cap, dropped["adj"],
            )
    wedges = (
        # deg >= 2: degree-1 centers have no wedge pairs (and 1/ln(1) would
        # be a transient Infinity in the weight column).
        centers.filter(~F.col("capped") & (F.col("deg") >= 2))
        .select((F.lit(1.0) / F.log("deg")).alias("w"), "nbrs")
        .select("w", F.explode("nbrs").alias("a"), "nbrs")
        .select("w", "a",
                F.explode(F.filter("nbrs", lambda x: x > F.col("a"))).alias("b"))
    )
    cn = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("int").alias("common"), F.sum("w").alias("aa")
    ).filter(F.col("common") >= min_common)
    return _finish(cn, deg)
