"""Verum's context query: k-hop ego subgraph with dont_follow pruning.

Rebuild of the reference's ``app.query(topic, max_depth, dont_follow)``
([R verum/__init__.py::app.query -> plugins/networkx.py::query,
reconstructed — SURVEY.md Table A Q1]): BFS from the topic's seed vertices
to ``max_depth`` hops, traversing edges in BOTH directions (context is a
neighborhood, not a reachability cone), *including* but never *expanding
through* vertices whose type is in ``dont_follow`` (the reference default
pruned ``enrichment``/``classification`` fan-out nodes; our vertex types
make ``lang``/``commit`` the natural analogues — a popular lang would
otherwise connect everything to everything at depth 2).

Returns the induced subgraph. Depth is small (<=4) so the frontier loop
needs no durable checkpointing; `left_anti` maintains the visited set
(SURVEY.md Table B J4/J5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.graph import neighbours
from engine.loop import iterative_conf, release, step


def context_query(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    topic: DataFrame,
    max_depth: int = 4,
    dont_follow: tuple[str, ...] = ("lang", "commit"),
) -> tuple[DataFrame, DataFrame]:
    """(sub_vertices(vid, name, vtype, depth), induced sub_edges)."""
    with iterative_conf(spark):
        return _query_loop(spark, vertices, edges, topic, max_depth, dont_follow)


def _query_loop(spark, vertices, edges, topic, max_depth, dont_follow):
    # Self-loops dropped: the left_anti against visited removes them anyway.
    nbrs = neighbours(edges).localCheckpoint(eager=True)
    typed = vertices.select("vid", "vtype")

    visited = topic.select("vid").distinct().withColumn("depth", F.lit(0))
    frontier = visited
    for d in range(1, max_depth + 1):
        expandable = frontier.join(typed, "vid").filter(
            ~F.col("vtype").isin(list(dont_follow))
        ).select("vid")
        nxt, found = step(
            nbrs.join(expandable.withColumnRenamed("vid", "u"), "u", "left_semi")
            .select(F.col("v").alias("vid"))
            .distinct()
            .join(visited.select("vid"), "vid", "left_anti")
            .withColumn("depth", F.lit(d)),
            n=F.count(F.lit(1)),
        )
        if found["n"] == 0:
            release(nxt)
            break
        new_visited, _ = step(visited.unionByName(nxt))
        # Both reads of the previous round's states are now materialized.
        # Round 1's frontier is the topic frame, which no step made.
        if frontier is not visited:
            release(frontier, visited)
        frontier, visited = nxt, new_visited

    # The result reads edges and the visited set only.
    release(nbrs)
    if frontier is not visited:
        release(frontier)
    sub_vertices = vertices.join(visited, "vid").select("vid", "name", "vtype", "depth")
    keep = visited.select("vid")
    sub_edges = (
        edges.join(keep.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst", "rel", "weight")
    )
    return sub_vertices, sub_edges
