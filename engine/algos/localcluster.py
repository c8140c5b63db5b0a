"""Local graph clustering — personalized-PageRank sweep cut.

Andersen–Chung–Lang 2006 ("Local graph partitioning using PageRank
vectors" — public knowledge; the PPR-Nibble family): given a seed set,
compute a personalized-PageRank vector, order the touched vertices by
score/degree, and return the prefix with the minimum CONDUCTANCE

    phi(S) = cut(S) / min(vol(S), vol(V \\ S))

over the undirected simple view of the graph. This is Verum's context
query promoted from "k hops around the seed" (engine/algos/query.py) to
"the cohesive community around the seed": the answer set follows the
graph's own cut structure instead of a fixed radius.

Scale shape:

- The PPR vector comes from the dense personalized
  ``engine.algos.pagerank.pagerank`` on the undirected view: O(E) per
  iteration, and every vertex in the seeds' component gets a positive
  score, so the positive support can be all of V.
- The sweep is bounded by ``top_k`` (default 10k): a distributed top-k
  (``orderBy(...).limit(top_k)``) cuts the positive support to at most
  ``top_k`` rows BEFORE the single-partition row_number window, then the
  rank map is broadcast into a single O(E) scan of the canonical edge set
  that bins every edge by min-rank and max-rank. Cut and volume for ALL
  prefixes fall out of two running sums over the K-row sweep table:

      cut(k) = #edges{min_rank <= k} - #edges{max_rank <= k}

  (an edge is cut by prefix k iff exactly one endpoint is ranked <= k),
  so there is no per-prefix pass — one job prices every candidate cut.
- Driver traffic: scalars (total volume, the argmin row) and the K-row
  sweep table only; ``members`` stays a DataFrame.

Conductance is over the UNDIRECTED SIMPLE graph (graph.neighbours:
self-loops dropped, parallel edges collapsed; degree = number of
distinct neighbors), the standard ACL setting. Directed input is
symmetrized internally; the PPR scores that define the sweep ORDER may
be computed on the directed graph by passing ``scores`` explicitly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from engine.algos.pagerank import pagerank
from engine.graph import neighbours
from engine.loop import release


@dataclass(frozen=True)
class SweepResult:
    """Full sweep curve + the best prefix.

    sweep: (sweep_rank, vid, score, deg, vol, cut, conductance) — one row
        per swept vertex, ordered by sweep_rank; conductance is null where
        undefined (vol == 0 or the prefix swallows the whole volume).
    members: (vid, sweep_rank, score) — the argmin-conductance prefix.
    best_rank / best_conductance: the argmin (ties -> smallest prefix).
    support: number of positive-score vertices that entered the sweep.
    truncated: True when support exceeded ``top_k`` and the tail was cut
        (the returned minimum is then a minimum over the examined
        prefixes, not necessarily the global sweep minimum).
    """

    sweep: DataFrame
    members: DataFrame
    best_rank: int
    best_conductance: float
    support: int
    truncated: bool


def _bin_edges_by_rank(canon: DataFrame, rank_map: DataFrame, k_max: int) -> DataFrame:
    """(r_min, r_max) per canonical edge — the one O(E) pass that prices
    every sweep prefix. The rank map (<= top_k rows) is BROADCAST into
    both endpoint joins, so this pass adds no shuffle of the edge table
    (plan-asserted in test_plans_ops.py); unranked endpoints get rank
    K+1 so the min/max binning is total."""
    inf = F.lit(k_max + 1)
    return (
        canon.join(
            F.broadcast(rank_map.withColumnRenamed("vid", "src")
                        .withColumnRenamed("sweep_rank", "r_src")),
            "src", "left")
        .join(
            F.broadcast(rank_map.withColumnRenamed("vid", "dst")
                        .withColumnRenamed("sweep_rank", "r_dst")),
            "dst", "left")
        .select(
            F.least(F.coalesce("r_src", inf), F.coalesce("r_dst", inf))
            .alias("r_min"),
            F.greatest(F.coalesce("r_src", inf), F.coalesce("r_dst", inf))
            .alias("r_max"),
        )
    )


def ppr_sweep(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame | list[int],
    alpha: float = 0.85,
    tol: float = 1e-5,
    top_k: int = 10_000,
    scores: DataFrame | None = None,
) -> SweepResult:
    """Seeded sweep cut: PPR scores -> score/degree order -> min-phi prefix.

    ``seeds``: (vid, mass) DataFrame or a plain list of vids (uniform
    mass). ``scores``: optional precomputed (vid, value) ranking vector —
    pass yesterday's converged PPR, a directed-graph PPR, or any other
    ordering heuristic; when None, an unweighted personalized PageRank on
    the undirected view is computed here.
    """
    if isinstance(seeds, list):
        if not seeds:
            raise ValueError("ppr_sweep: empty seed list")
        seeds = spark.createDataFrame(
            [(int(v), 1.0) for v in seeds], "vid long, mass double"
        )

    # Materialized ONCE: the r5 shape recomputed this O(E) distinct for
    # every consumer (degree pass, sweep binning, volume count) — four
    # full symmetric-view jobs for one sweep.
    und = neighbours(edges).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("deg")
    )

    if scores is None:
        scores = pagerank(
            spark, und, alpha=alpha, tol=tol, weighted=False,
            personalization=seeds,
        ).ranks

    # Sweep order: score/degree desc (ACL), ties by score then vid so the
    # order — and therefore every downstream number — is deterministic.
    # Isolated vertices (no surviving undirected edge) have no degree row
    # and cannot affect any cut; the inner join drops them.
    scored = (
        scores.filter(F.col("value") > 0)
        .join(deg, "vid")
        .select("vid", F.col("value").alias("score"), "deg")
    )
    order = [
        (F.col("score") / F.col("deg")).desc(),
        F.col("score").desc(),
        F.col("vid").asc(),
    ]
    # The support count is observed on the same job that cuts the scored
    # set to its top_k rows (a distributed top-k, no single-partition
    # shuffle of the whole support); the row_number window then sees at
    # most top_k rows. The order is total, so the cut keeps exactly the
    # first top_k vertices of the full sweep order.
    sobs = Observation()
    ranked = (
        scored.observe(sobs, F.count(F.lit(1)).alias("n"))
        .orderBy(*order)
        .limit(top_k)
        .withColumn("sweep_rank", F.row_number().over(Window.orderBy(*order)))
        .localCheckpoint(eager=True)
    )
    support = int(sobs.get["n"] or 0)
    k_max = min(support, top_k)
    if k_max == 0:
        raise ValueError(
            "ppr_sweep: no positive-score vertex survived — seeds absent "
            "from the graph (or isolated); check the seed vids"
        )

    rank_map = ranked.select("vid", "sweep_rank")
    canon = und.filter(F.col("src") < F.col("dst")).select("src", "dst")
    binned = _bin_edges_by_rank(canon, rank_map, k_max)
    cnt_min = (
        binned.filter(F.col("r_min") <= k_max)
        .groupBy(F.col("r_min").alias("sweep_rank"))
        .agg(F.count(F.lit(1)).alias("n_min"))
    )
    cnt_max = (
        binned.filter(F.col("r_max") <= k_max)
        .groupBy(F.col("r_max").alias("sweep_rank"))
        .agg(F.count(F.lit(1)).alias("n_max"))
    )

    # Total volume = sum of simple degrees = 2 * #canonical edges. One
    # scalar to the driver.
    tot_vol = 2 * canon.count()

    # K-row sweep table; running sums give vol/cut for every prefix at
    # once. Single-partition window over <= top_k rows — bounded.
    w = (
        Window.orderBy("sweep_rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vol_c = F.sum("deg").over(w)
    cut_c = F.sum(F.coalesce("n_min", F.lit(0))).over(w) - F.sum(
        F.coalesce("n_max", F.lit(0))
    ).over(w)
    denom = F.least(vol_c, F.lit(tot_vol) - vol_c)
    sweep = (
        ranked.join(cnt_min, "sweep_rank", "left")
        .join(cnt_max, "sweep_rank", "left")
        .select(
            "sweep_rank", "vid", "score", "deg",
            vol_c.alias("vol"),
            cut_c.alias("cut"),
            F.when(denom > 0, cut_c / denom).alias("conductance"),
        )
        .localCheckpoint(eager=True)
    )
    # the rank map's and edge view's jobs are done once the sweep table is
    # materialized; release their checkpoint blocks (the returned `sweep`
    # is caller-owned)
    release(ranked, und)

    best = (
        sweep.filter(F.col("conductance").isNotNull())
        .orderBy(F.col("conductance").asc(), F.col("sweep_rank").asc())
        .select("sweep_rank", "conductance")
        .first()
    )
    if best is None:
        raise ValueError(
            "ppr_sweep: conductance undefined at every prefix (the swept "
            "set already covers the seed's entire component and the rest "
            "of the graph is empty) — nothing to cut"
        )
    members = sweep.filter(F.col("sweep_rank") <= best.sweep_rank).select(
        "vid", "sweep_rank", "score"
    )
    return SweepResult(
        sweep=sweep,
        members=members,
        best_rank=int(best.sweep_rank),
        best_conductance=float(best.conductance),
        support=support,
        truncated=support > top_k,
    )
