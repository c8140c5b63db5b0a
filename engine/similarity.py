"""Similarity search over embedding columns (array<float>).

Four operators:

- ``cosine_topk`` — exact brute force: broadcast the (small) query set, one
  pass over the corpus, per-query top-k via TakeOrdered-style window. The
  dot product is ``F.aggregate(F.zip_with(...))`` — pure JVM, no UDF.
- ``srp_topk`` — LSH scale path: Signed Random Projection. P deterministic
  seeded hyperplanes (driver-side literals) hash every vector to banded
  sign-bit buckets; candidates = vectors sharing >= 1 band bucket with the
  query (over-cap buckets dropped, never silently); exact re-rank only
  within candidates. O(N) bucketing + O(candidates*Q) re-rank.
- ``ivf_topk`` — IVF scale path: nearest-coarse-centroid cell assignment,
  nprobe-cell probing per query, exact re-rank within probed cells. The
  coarse quantizer is a seeded stand-in (the harness/oracle fixture).
- ``embedding_neardup`` — cosine near-duplicate pairs: SRP blocking + exact
  double-precision verify (the dedup-family member).

Every hashing/assignment decision is a left-associative double fold over
literal vectors, bit-reproducible in DuckDB SQL — which is how the driver
value-verifies all four (s1/s2/s3/d6).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Adds ``_norm`` AND widens the embedding to array<double> first.

    The widening matters for cross-engine verification: over array<float>,
    ``zip_with(x*y)`` rounds every product to float32 before the double
    fold, so near-tie cosines could round differently than an engine
    computing in double and flip (rank, neighbor_id) rows (ADVICE r2). With
    the exact float->double widening the whole rerank is a left-associative
    double fold, bit-reproducible in DuckDB as ``e[1]*f[1] + e[2]*f[2] +
    ...`` — the same discipline ``embedding_neardup`` already used."""
    return emb.withColumn(col, F.col(col).cast("array<double>")).withColumn(
        "_norm", _norm(F.col(col))
    )


def cosine_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5, id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — exact top-k by cosine; ties break
    by neighbor id for full determinism; the query itself is excluded."""
    corpus = with_norm(emb, emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("v"), F.col("_norm").alias("nv")
    )
    qs = with_norm(queries, emb_col).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q"), F.col("_norm").alias("nq")
    )
    joined = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot(F.col("v"), F.col("q")) / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 4).alias("cos"))
    )


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def srp_buckets(
    emb: DataFrame, dim: int, n_planes: int = 16, bands: int = 4,
    id_col: str = "vec_id", emb_col: str = "embedding", seed: int = 42,
) -> DataFrame:
    """(id, band, bkey) — one row per band; bkey packs that band's sign bits."""
    planes = _planes(dim, n_planes, seed)
    per_band = n_planes // bands
    band_cols = []
    for b in range(bands):
        bits = None
        for j in range(per_band):
            p = planes[b * per_band + j]
            plane_lit = F.array(*[F.lit(float(x)) for x in p])
            bit = (_dot(F.col(emb_col), plane_lit) > 0).cast("long") * F.lit(2 ** j)
            bits = bit if bits is None else bits + bit
        band_cols.append(F.struct(F.lit(b).alias("band"), bits.alias("bkey")))
    return emb.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", "bk.band", "bk.bkey")


def srp_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
    n_planes: int = 16, bands: int = 4, id_col: str = "vec_id",
    emb_col: str = "embedding", seed: int = 42,
    bucket_cap: int = 1024,
) -> DataFrame:
    """Approximate top-k: SRP-LSH candidate generation + exact re-rank.

    ``bucket_cap`` bounds the per-query candidate volume: corpus buckets
    larger than the cap are dropped from candidate generation (the same
    no-silent-caps policy as the dedup LSH operators — at 10^9 vectors a
    hot bucket of near-identical embeddings would otherwise fan every
    matching query out to millions of rerank pairs). Raise band bits, not
    the cap, to keep recall at scale."""
    cb = srp_buckets(emb, dim, n_planes, bands, id_col, emb_col, seed)
    sizes = cb.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("n"))
    ok = sizes.filter(F.col("n") <= bucket_cap).select("band", "bkey")
    qb = srp_buckets(queries, dim, n_planes, bands, id_col, emb_col, seed).select(
        F.col("id").alias("query_id"), "band", "bkey"
    )
    cand = (
        cb.join(ok, ["band", "bkey"], "left_semi")
        .join(qb, ["band", "bkey"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )
    corpus = with_norm(emb, emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("v"), F.col("_norm").alias("nv")
    )
    qs = with_norm(queries, emb_col).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q"), F.col("_norm").alias("nq")
    )
    cos = _dot(F.col("v"), F.col("q")) / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.join(corpus, "neighbor_id").join(F.broadcast(qs), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 4).alias("cos"))
    )


def embedding_neardup(
    emb: DataFrame, threshold: float = 0.35, dim: int = 64,
    n_planes: int = 16, bands: int = 4, id_col: str = "vec_id",
    emb_col: str = "embedding", seed: int = 42, bucket_cap: int = 64,
    log_dropped: bool = False,
) -> DataFrame:
    """(a, b, cos) embedding-cosine near-duplicate pairs — the last member of
    the dedup family (exact / MinHash / SimHash / n-gram Jaccard / embedding
    cosine): SRP-LSH blocking + exact verify, never all-pairs.

    Scale shape is identical to MinHash LSH: band buckets with the
    2..bucket_cap size window (over-cap buckets dropped and logged — the
    no-silent-caps policy), pair generation only within allowed buckets,
    then the exact cosine filter on candidates. Recall is the SRP collision
    probability (1-theta/pi per plane), tested in test_text_dedup.

    The cosine is computed in DOUBLE after an exact float->double widening,
    with a left-associative fold — bit-reproducible in any engine that
    evaluates `e[1]*f[1] + e[2]*f[2] + ...` in double, which is what lets
    the driver's DuckDB oracle (d6) value-verify pairs AND cosines with no
    tolerance."""
    from engine.dedup import _bucket_pairs

    b = srp_buckets(emb, dim, n_planes, bands, id_col, emb_col, seed).select(
        "id", "band", F.col("bkey").alias("key")
    )
    pairs = _bucket_pairs(b, bucket_cap, log_dropped, "embed_neardup")
    dbl = emb.select(
        F.col(id_col).alias("id"), F.col(emb_col).cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    va = dbl.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = dbl.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.join(va, "a").join(vb, "b")
        .select("a", "b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 4).alias("cos"))
    )


# ------------------------------------------------------------------- IVF


def _ivf_centroids(dim: int, n_centroids: int, seed: int = 7) -> np.ndarray:
    """Deterministic coarse-quantizer centroids: seeded random directions,
    untrained (the harness/oracle fixture — the literals are inlined into
    the DuckDB mirror at import time, before any data is visible). A
    trained quantizer would change only these literal values, not the
    query plan."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_centroids, dim)


def _sqdist(col, cvec) -> F.Column:
    """Squared L2 distance to a literal centroid — left-associative double
    fold (float elements widen exactly), bit-reproducible in any engine that
    evaluates (e[1]-c1)^2 + (e[2]-c2)^2 + ... in double."""
    lit = F.array(*[F.lit(float(x)) for x in cvec])
    return F.aggregate(
        F.zip_with(col, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def ivf_assignments(
    emb: DataFrame, dim: int = 64, n_centroids: int = 16,
    id_col: str = "vec_id", emb_col: str = "embedding", seed: int = 7,
) -> DataFrame:
    """(id, cid): nearest-centroid cell per vector (ties -> lowest cid,
    via first-occurrence array_position). One codegen'd projection — the
    inverted file is just a groupBy/join key, never a driver-side index."""
    cents = _ivf_centroids(dim, n_centroids, seed)
    dists = [_sqdist(F.col(emb_col), cents[j]) for j in range(n_centroids)]
    arr = F.array(*dists)
    cid = (F.array_position(arr, F.array_min(arr)) - 1).cast("int")
    return emb.select(F.col(id_col).alias("id"), cid.alias("cid"))


def ivf_topk(
    emb: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
    n_centroids: int = 16, nprobe: int = 2,
    id_col: str = "vec_id", emb_col: str = "embedding", seed: int = 7,
) -> DataFrame:
    """Approximate top-k via IVF: assign the corpus to coarse cells, probe
    each query's ``nprobe`` nearest cells, exact cosine re-rank within the
    probed cells only. The LSH-free sibling of ``srp_topk``: candidate
    volume is corpus/n_centroids * nprobe per query, tuned by cell count —
    at 10^9 vectors n_centroids grows to ~sqrt(N) and probing stays a
    broadcast-able (query_id, cid) table joined against the cell-bucketed
    corpus. The coarse cells are the seeded stand-in (which the s3 harness
    oracle mirrors)."""
    cents = _ivf_centroids(dim, n_centroids, seed)
    corpus_cells = ivf_assignments(emb, dim, n_centroids, id_col, emb_col, seed)
    qdists = [_sqdist(F.col(emb_col), cents[j]) for j in range(n_centroids)]
    ranked = F.array(*[
        F.struct(qdists[j].alias("d"), F.lit(j).alias("j"))
        for j in range(n_centroids)
    ])
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(F.slice(F.sort_array(ranked), 1, nprobe)).alias("p"),
    ).select("query_id", F.col("p.j").cast("int").alias("cid"))
    cand = (
        probes.join(corpus_cells, "cid")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )
    corpus = with_norm(emb, emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("v"),
        F.col("_norm").alias("nv"),
    )
    qs = with_norm(queries, emb_col).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q"),
        F.col("_norm").alias("nq"),
    )
    cos = _dot(F.col("v"), F.col("q")) / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.join(corpus, "neighbor_id").join(F.broadcast(qs), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 4).alias("cos"))
    )
