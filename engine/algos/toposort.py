"""Topological layering of a DAG — synchronous Kahn peel.

Kahn 1962 (public knowledge). Layer 0 = vertices with zero in-degree;
layer k+1 = vertices whose remaining in-degree reaches zero once layer k
is removed. The layer number equals the LONGEST-path depth from any
source, and grouping by layer reproduces ``networkx.topological_
generations`` exactly — that is the test oracle.

Cycle honesty: vertices on or downstream of a directed cycle are never
peeled. They come back in ``unlayered`` with ``is_dag=False`` — a data
property reported, not raised (the SCC module's partial-label policy);
``require_dag=True`` upgrades it to a loud ValueError for pipelines that
must refuse cyclic inputs. The iteration cap is different: hitting
``max_depth`` while progress continues raises (a truncated layering is
silently wrong, the k-core policy).

Scale notes: the edge table is NEVER rewritten — each round is one
frontier×edges equi-join on src (edges can stay hash-partitioned on src
for the whole loop) plus one partial-aggregable groupBy(dst) count and
one join updating the remaining-degree table, which only SHRINKS. Rounds
= DAG depth, the same bound any parallel formulation pays. Loop state
(degree table) goes through ``engine.loop.step`` and is released per
round; the only driver-side values are scalar counts.

Verum parity: the reference's NetworkX toolkit exposes DAG utilities via
nx directly (SURVEY.md Table A); this is the set-oriented rebuild for
the repo->path->lang dependency DAG the engine derives.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.loop import iterative_conf, release, step


@dataclass
class TopoResult:
    layers: DataFrame  # (vid, layer) — only peeled vertices; layer 0 = sources
    unlayered: DataFrame  # (vid) — on or downstream of a cycle (empty for a DAG)
    is_dag: bool
    depth: int  # number of layers assigned (0 for an all-cycle graph)


def topological_layers(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_depth: int = 100_000,
    require_dag: bool = False,
) -> TopoResult:
    """Longest-path layering of the directed graph (src, dst). Self-loops
    count as cycles. Parallel edges are collapsed (in-degree is counted
    over DISTINCT (src, dst) so duplicates don't inflate the peel gate).
    """
    # Scale-adaptive loop partitioning (engine.loop).
    with iterative_conf(spark, rows=edges.count()):
        return _kahn(spark, edges, vertices, max_depth, require_dag)


def _kahn(spark, edges, vertices, max_depth, require_dag):
    e, _ = step(edges.select("src", "dst").distinct())
    if vertices is None:
        verts = (
            e.select(F.col("src").alias("vid"))
            .unionByName(e.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        verts = vertices.select("vid")

    # Remaining in-degree; vertices with no incoming edge start at 0.
    deg, _ = step(
        verts.join(
            e.groupBy(F.col("dst").alias("vid")).agg(
                F.count(F.lit(1)).alias("d")
            ),
            "vid",
            "left",
        ).select("vid", F.coalesce("d", F.lit(0)).alias("d"))
    )

    # Per-layer frontiers stay cached until the end; the layer table is
    # assembled lazily from them and materialized ONCE after the peel
    # (the r5 shape re-checkpointed the growing union every round). The
    # frontier count is observed on the frontier's own materialization.
    frontiers: list[DataFrame] = []
    for _ in range(max_depth + 1):
        frontier, f = step(
            deg.filter(F.col("d") == 0).select("vid"), n=F.count(F.lit(1))
        )
        if f["n"] == 0:
            release(frontier)
            break
        frontiers.append(frontier)
        # Decrement successors of the peeled layer; drop the peeled rows.
        dec = (
            e.join(frontier.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        new_deg, _ = step(
            deg.join(frontier, "vid", "left_anti")
            .join(dec, "vid", "left")
            .select("vid", (F.col("d") - F.coalesce("c", F.lit(0))).alias("d"))
        )
        release(deg)
        deg = new_deg
    else:
        raise ValueError(
            f"topological_layers still peeling at max_depth={max_depth} — "
            "a truncated layering is silently wrong; raise max_depth "
            "(DAG depth exceeds the cap)"
        )

    unlayered, u = step(deg.select("vid"), n=F.count(F.lit(1)))
    remaining = u["n"]
    release(deg, e)
    if remaining > 0 and require_dag:
        sample = [r.vid for r in unlayered.limit(5).collect()]
        raise ValueError(
            f"input graph is not a DAG: {remaining} vertices on or "
            f"downstream of a directed cycle (e.g. vids {sample})"
        )
    if not frontiers:
        layers = spark.createDataFrame([], "vid long, layer int")
    else:
        layers, _ = step(reduce(DataFrame.unionByName, (
            fr.select("vid", F.lit(k).alias("layer"))
            for k, fr in enumerate(frontiers)
        )))
        release(*frontiers)
    return TopoResult(
        layers=layers,
        unlayered=unlayered,
        is_dag=(remaining == 0),
        depth=len(frontiers),
    )
