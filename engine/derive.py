"""Edge derivation — the rebuild of Verum's enrichment phase.

The reference enriches one atomic fact at a time by calling plugins that each
emit a small NetworkX graph ([R verum/__init__.py::app.run_enrichments and
plugins/{dns,tld,cymru,...}.py::run — reconstructed, SURVEY.md §0]). The
Spark rebuild is set-oriented: one pass over the source corpus derives ALL
edges of each kind as columnar projections (SURVEY.md Table A E1/E2/M1):

    repo->path, path->lang, repo->commit   (structural "describedBy" links)
    repo<->repo content-hash co-occurrence ("leadsTo"-style affinity links)

Everything is Spark-builtin except the mandated per-row invariant check,
which pits a vectorized Arrow pandas-UDF sha256 against ``F.sha2`` row by
row (BASELINE.json input_hint: "per-row invariant vs reference: content
sha256 equality").
"""

from __future__ import annotations

import hashlib
import logging

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from engine.graph import assign_vertex_ids, encode_edges

log = logging.getLogger("verum_spark.derive")

COOCCUR_CAP = 20  # max repos per content-hash group before the group is dropped


@pandas_udf(StringType())
def sha256_udf(content: pd.Series) -> pd.Series:
    """Arrow-vectorized sha256 (batch in, batch out — no per-row Python UDF).

    This is the "reference side" of the per-row invariant: the reference
    hashes content with Python hashlib; the engine hashes with the JVM
    builtin ``F.sha2``. Equality per row is asserted by
    :func:`hash_invariant_violations`.
    """
    return content.map(lambda s: hashlib.sha256((s or "").encode("utf-8")).hexdigest())


def with_content_hash(source: DataFrame) -> DataFrame:
    """Engine hot path: JVM-side sha256, whole-stage-codegen friendly."""
    return source.withColumn("content_hash", F.sha2(F.col("content"), 256))


def hash_invariant_violations(source: DataFrame) -> int:
    """Count rows where pandas-UDF sha256 != F.sha2 (must be 0)."""
    df = source.select(
        F.sha2(F.col("content"), 256).alias("jvm"),
        sha256_udf(F.col("content")).alias("py"),
    )
    return df.filter(F.col("jvm") != F.col("py")).count()


def _name(vtype: str, value) -> F.Column:
    return F.concat(F.lit(vtype), F.lit(":"), value)


def derive_structural_edges(source: DataFrame) -> DataFrame:
    """repo->path, path->lang, repo->commit as name-space edges.

    One scan of the source emits all three kinds (explode of a 3-struct
    array), then ONE distinct bounds the multiset — the distinct is the
    Spark analogue of the reference's MERGE-on-uri dedup when storing a
    graph ([R plugins/neo4j.py::enrich, reconstructed]). ``rel`` rides in
    the distinct key, and the three kinds are disjoint on it, so
    distinct-of-union == union-of-per-kind-distincts exactly; the r5 shape
    (three select->distinct branches) scanned the source three times and
    paid three exchanges for the same rows (guide §2.4; measured 2.1 s ->
    1.0 s warm at 2M source rows, row set identical)."""
    kinds = F.array(
        F.struct(
            _name("repo", F.col("repo")).alias("src_name"),
            _name("path", F.col("path")).alias("dst_name"),
            F.lit("repo_path").alias("rel"),
        ),
        F.struct(
            _name("path", F.col("path")).alias("src_name"),
            _name("lang", F.col("lang")).alias("dst_name"),
            F.lit("path_lang").alias("rel"),
        ),
        F.struct(
            _name("repo", F.col("repo")).alias("src_name"),
            _name("commit", F.col("commit")).alias("dst_name"),
            F.lit("repo_commit").alias("rel"),
        ),
    )
    return (
        source.select(F.explode(kinds).alias("e"))
        .select("e.src_name", "e.dst_name", "e.rel")
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def content_membership(source: DataFrame) -> DataFrame:
    """Distinct (content_hash, repo) facts — the ONLY state cooccur needs.

    Kept as a first-class projection because incremental updates
    (engine/incremental.py) maintain it between batches: each hash group
    contributes to pair weights independently, so a batch only reprocesses
    the hashes it touches."""
    return with_content_hash(source).select("content_hash", "repo").distinct()


def cooccur_pairs(
    membership: DataFrame, cap: int = COOCCUR_CAP, log_dropped: bool = True
) -> DataFrame:
    """Unordered repo pairs (a, b, weight) from (content_hash, repo) facts;
    weight = #shared hashes.

    The cap is applied per hash group BEFORE the explode: groups of more
    than ``cap`` repos are dropped and counted, never silently — identical
    content shared by thousands of repos (empty files, LICENSEs) would
    otherwise explode quadratically (SURVEY.md §7.3.2). ``collect_set``
    per hash is safe because Spark's partial aggregation bounds the
    map-side state, and ``sort_array`` makes pair order deterministic."""
    groups = (
        membership.groupBy("content_hash")
        .agg(F.sort_array(F.collect_set("repo")).alias("repos"))
        .withColumn("n_repos", F.size("repos"))
        .filter(F.col("n_repos") >= 2)
        .withColumn("capped", F.col("n_repos") > F.lit(cap))
    )
    if log_dropped:
        dropped = groups.filter("capped").agg(
            F.count(F.lit(1)).alias("groups"), F.sum("n_repos").alias("repos")
        ).collect()[0]
        if dropped["groups"]:
            log.warning(
                "cooccur: dropped %d over-cap content groups (cap=%d, %d repo "
                "memberships) — counted, not silent",
                dropped["groups"], cap, dropped["repos"],
            )
    return (
        groups.filter(~F.col("capped"))
        .select(F.explode("repos").alias("a"), "repos")
        .select("a", F.explode(F.filter("repos", lambda x: x > F.col("a"))).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def derive_cooccur_edges(
    hashed: DataFrame, cap: int = COOCCUR_CAP, log_dropped: bool = True
) -> DataFrame:
    """Unordered repo pairs sharing content, weight = #shared hashes.

    The groupBy+double-explode form (not a raw self-join on content_hash) so
    the cap is applied *before* the quadratic blowup (SURVEY.md Table B J3).
    """
    return cooccur_name_edges(
        cooccur_pairs(
            hashed.select("content_hash", "repo").distinct(), cap, log_dropped
        )
    )


def cooccur_name_edges(pairs: DataFrame) -> DataFrame:
    """Repo pairs (a, b, weight) as name-space ``cooccur`` edges."""
    return pairs.select(
        _name("repo", F.col("a")).alias("src_name"),
        _name("repo", F.col("b")).alias("dst_name"),
        F.lit("cooccur").alias("rel"),
        "weight",
    )


def derive_name_edges(
    source: DataFrame, cooccur_cap: int = COOCCUR_CAP, include_cooccur: bool = True,
    log_dropped: bool = True,
) -> DataFrame:
    """All edge kinds in name space (src_name, dst_name, rel, weight)."""
    hashed = with_content_hash(source)
    edges = derive_structural_edges(source)
    if include_cooccur:
        edges = edges.unionByName(
            derive_cooccur_edges(hashed, cooccur_cap, log_dropped=log_dropped)
        )
    return edges


def derive_graph(
    source: DataFrame, cooccur_cap: int = COOCCUR_CAP, include_cooccur: bool = True,
    log_dropped: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """source corpus -> (vertices, edges, name_edges): the one derivation
    behind :func:`build_graph` and ``incremental.initial_state``.

    ``name_edges`` is persisted: the vid assignment's first job stores it
    and ``encode_edges`` reads it back. A lazy ``localCheckpoint`` would be
    freed with its frames, but costs jobs at local[4] on perfbench's score
    corpus: planned adaptively it runs its shuffle stage when declared
    (derive 14 -> 15 jobs); planned with AQE off it left derive at 14 but
    moved PageRank's jobs from 20 to 22. A later call on the same source
    reuses the cached entry. ``vertices`` is the checkpoint
    ``assign_vertex_ids`` already made."""
    name_edges = derive_name_edges(
        source, cooccur_cap, include_cooccur, log_dropped=log_dropped
    ).persist(StorageLevel.MEMORY_AND_DISK)
    names = name_edges.select(F.col("src_name").alias("name")).unionByName(
        name_edges.select(F.col("dst_name").alias("name"))
    )
    vertices = assign_vertex_ids(names)
    return vertices, encode_edges(name_edges, vertices), name_edges


def build_graph(
    source: DataFrame, cooccur_cap: int = COOCCUR_CAP, include_cooccur: bool = True,
    log_dropped: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """source corpus -> (vertices, edges) with dense long vids.

    The full derive phase (SURVEY.md §3.2 phase 1). Content never survives
    past hashing — check ``explain()``: the scan that feeds structural edges
    must not read the ``content`` column at all (column pruning).
    """
    vertices, edges, _ = derive_graph(
        source, cooccur_cap, include_cooccur, log_dropped=log_dropped
    )
    return vertices, edges
