"""Incremental graph maintenance — the daily-update path at corpus scale.

A 10^12-file corpus is not re-derived nightly: a day's batch is a tiny
fraction of it, and a full rebuild would rescan 100 TB to change a few GB
of edges. This module maintains the derived graph between batches with
work proportional to the BATCH, not the corpus. State carried forward
(all columnar, parquet-friendly):

    membership   (content_hash, repo)               distinct content facts
    name_edges   (src_name, dst_name, rel, weight)  the merged edge table
    vertices     (vid, name, vtype)                 vids STABLE across updates

Two properties, both tested (tests/test_incremental.py):

1. **Equivalence** — after ``update_graph``, the name-space edge table is
   EXACTLY what ``derive.build_graph`` would produce over old ∪ new rows
   (same edges, same weights). Cooccur uses per-hash inclusion-exclusion:
   each content_hash group contributes to pair weights independently of
   every other hash, so for the hashes the batch touches we subtract their
   old contribution and add their new one — hashes the batch never saw are
   never rescanned. The per-group cap (derive.COOCCUR_CAP) composes for
   free: a group that crosses the cap contributes nothing on the new side,
   which removes its old pairs via the subtraction.
2. **Vid stability** — names already in ``vertices`` keep their vid; new
   names get vids past the previous maximum. Downstream per-vertex state
   (PageRank warm starts via ``pagerank(initial_ranks=...)``, stored
   component labels) stays valid across updates — THE reason incremental beats
   rebuild even when a rebuild were affordable.

Rebuilt semantics, not code, of the reference's enrichment-merge loop
([R verum/__init__.py::app.run_enrichments + plugins/neo4j.py::enrich
MERGE-on-uri upsert — reconstructed, SURVEY.md §0]): Verum merges one
atomic fact at a time into a mutable graph store; at Spark scale the unit
of merge is a batch and the store is an immutable columnar snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine.derive import (
    COOCCUR_CAP,
    content_membership,
    cooccur_name_edges,
    cooccur_pairs,
    derive_graph,
    derive_structural_edges,
)
from engine.graph import assign_vertex_ids, encode_edges


def merge_cooccur(
    prev_membership: DataFrame,
    batch_membership: DataFrame,
    prev_pairs: DataFrame,
    cap: int = COOCCUR_CAP,
    log_dropped: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Returns (membership', pairs') after folding a batch in.

    Inclusion-exclusion over AFFECTED hashes only: pairs' =
    prev_pairs - pairs(old facts of affected hashes)
               + pairs(all facts of affected hashes).
    Weights are integer-valued doubles (hash counts), so the subtraction is
    exact; pairs whose weight reaches 0 drop out entirely.

    ``fresh`` (the batch's truly-new facts) feeds four downstream plans, so
    its lineage is cut with an eager localCheckpoint — one O(batch) job
    here, no cache entry to baby-sit afterwards (same pattern as
    graph._assign_vertex_ids_scalable). The semi-join on affected hashes is
    left to the optimizer (AQE broadcasts it when the batch is small; a
    huge backfill batch shuffles, which is then the right plan).
    """
    fresh = batch_membership.join(
        prev_membership, ["content_hash", "repo"], "left_anti"
    ).localCheckpoint(eager=True)
    affected = fresh.select("content_hash").distinct()
    old_aff = prev_membership.join(affected, "content_hash", "semi")
    merged_m = prev_membership.unionByName(fresh)
    new_aff = old_aff.unionByName(fresh)

    minus = cooccur_pairs(old_aff, cap, log_dropped=False).select(
        "a", "b", (-F.col("weight")).alias("weight")
    )
    plus = cooccur_pairs(new_aff, cap, log_dropped=log_dropped)
    merged_pairs = (
        prev_pairs.unionByName(plus)
        .unionByName(minus)
        .groupBy("a", "b")
        .agg(F.sum("weight").alias("weight"))
        .filter(F.col("weight") > 0)
    )
    return merged_m, merged_pairs


def extend_vertices(prev_vertices: DataFrame, name_edges: DataFrame) -> DataFrame:
    """vids for new names start past the previous max; old vids untouched.

    New names are ranked lexicographically among themselves (same
    deterministic, parallelism-invariant assignment as a fresh build —
    graph.assign_vertex_ids), then offset by 1 + max(prev vid).

    Vertices are monotone: a name whose last edge disappeared (its cooccur
    group crossed the cap) keeps its vertex row — per-vertex state keyed on
    it stays resolvable, and a later batch may re-edge it."""
    names = (
        name_edges.select(F.col("src_name").alias("name"))
        .unionByName(name_edges.select(F.col("dst_name").alias("name")))
        .distinct()
    )
    new_names = names.join(
        prev_vertices.select("name"), "name", "left_anti"
    )
    row = prev_vertices.agg(F.max("vid").alias("m")).collect()[0]
    base = int(row["m"]) + 1 if row["m"] is not None else 0
    fresh = assign_vertex_ids(new_names).select(
        (F.col("vid") + F.lit(base)).cast("long").alias("vid"), "name", "vtype"
    )
    return prev_vertices.select("vid", "name", "vtype").unionByName(fresh)


def update_graph(
    prev_vertices: DataFrame,
    prev_name_edges: DataFrame,
    prev_membership: DataFrame,
    new_source: DataFrame,
    cap: int = COOCCUR_CAP,
    include_cooccur: bool = True,
    log_dropped: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Fold a source batch into the maintained graph state.

    Returns (vertices, edges, name_edges, membership) — the first two are
    the (vid-encoded) graph every algorithm consumes, the last two are the
    state to carry into the next batch. All four are plain DataFrames: the
    caller owns persistence (typically parquet snapshots per batch, or the
    checkpointed-lineage sink in engine/io.py)."""
    prev_struct = prev_name_edges.filter(F.col("rel") != "cooccur")
    batch_struct = derive_structural_edges(new_source)
    struct = (
        prev_struct.unionByName(batch_struct)
        .dropDuplicates(["src_name", "dst_name", "rel"])
    )

    if include_cooccur:
        prev_pairs = prev_name_edges.filter(F.col("rel") == "cooccur").select(
            F.split(F.col("src_name"), ":", 2).getItem(1).alias("a"),
            F.split(F.col("dst_name"), ":", 2).getItem(1).alias("b"),
            "weight",
        )
        membership, pairs = merge_cooccur(
            prev_membership,
            content_membership(new_source),
            prev_pairs,
            cap,
            log_dropped=log_dropped,
        )
        name_edges = struct.unionByName(cooccur_name_edges(pairs))
    else:
        membership = prev_membership.unionByName(
            content_membership(new_source)
        ).distinct()
        name_edges = struct

    # localCheckpoint, NOT persist: checkpoint blocks are tied to the
    # returned DataFrame's lifetime (ContextCleaner reclaims them on GC),
    # so a driver folding many daily batches never accumulates pinned cache
    # blocks with no release path (ADVICE r3 / VERDICT r3 item 6 — the same
    # no-outliving-persists policy as dedup._seal).
    name_edges = name_edges.localCheckpoint(eager=True)
    vertices = extend_vertices(prev_vertices, name_edges).localCheckpoint(
        eager=True
    )
    edges = encode_edges(name_edges, vertices)
    return vertices, edges, name_edges, membership


def initial_state(
    source: DataFrame,
    cap: int = COOCCUR_CAP,
    include_cooccur: bool = True,
    log_dropped: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Bootstrap the four-way state from the first corpus snapshot.

    The derivation of derive.build_graph (identical vids and edges), plus
    the name_edges/membership state ``update_graph`` needs."""
    vertices, edges, name_edges = derive_graph(
        source, cap, include_cooccur, log_dropped=log_dropped
    )
    return vertices, edges, name_edges, content_membership(source)
