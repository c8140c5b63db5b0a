"""Graph tables: schemas, dense vertex ids, CSR-like and bucketed layouts.

The engine's graph representation is a pair of immutable columnar tables
(SURVEY.md §1.2) — the idiomatic Spark form of the reference's single
in-memory ``networkx.MultiDiGraph`` [R verum/__init__.py, reconstructed]:

    vertices(vid: long, name: string, vtype: string)
    edges(src: long, dst: long, rel: string, weight: double)

``name`` plays the role of Verum's ``uri`` node identity
("class=attribute&key=ip&value=..." [R CAGS node helpers]) as ``vtype:value``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.loop import release


# Above this many distinct names the window path's single-reducer global
# sort becomes the job's bottleneck task; switch to the range-partitioned
# prefix-sum path (identical output, measured crossover well below this).
SCALABLE_VID_MIN_NAMES = 1_000_000


def assign_vertex_ids(names: DataFrame, scalable: bool | None = None) -> DataFrame:
    """Dense, deterministic ``vid`` in 0..N-1 from a ``name`` column.

    ``vid`` is the global rank of ``name`` in lexicographic order — identical
    at any parallelism. Two physical strategies produce that same output:

    - window path (small N): ``row_number() over (order by name)`` — one
      global sort through a single reducer. Cheapest below ~10^6 names.
    - scalable path (large N): range-partition on name, per-partition counts
      -> driver prefix-sum offsets (P scalars), vid = offset[pid] + local
      row_number. The heaviest task is one range bucket, not the whole
      vertex set — this is what survives 10^9 vertices (VERDICT r1 item 6).
      Output is independent of where the sampled range boundaries fall,
      because global rank is invariant to the partition cut points.

    ``scalable=None`` picks by a cheap count; pass True/False to force.
    """
    distinct = names.select("name").distinct()
    cached = False
    if scalable is None:
        # The dispatch count would otherwise recompute the distinct for the
        # assignment pass — cache it across both.
        distinct = distinct.persist()
        cached = True
        scalable = distinct.count() >= SCALABLE_VID_MIN_NAMES
    if not scalable:
        w = Window.orderBy("name")
        out = distinct.select(
            (F.row_number().over(w) - 1).cast("long").alias("vid"),
            F.col("name"),
            F.split(F.col("name"), ":", 2).getItem(0).alias("vtype"),
        )
        if cached:
            out = out.localCheckpoint(eager=True)
            release(distinct)
        return out
    out = _assign_vertex_ids_scalable(distinct)
    if cached:
        release(distinct)
    return out


def _assign_vertex_ids_scalable(distinct_names: DataFrame) -> DataFrame:
    """Range-partitioned prefix-sum vid assignment (no single-task sort).

    The pid column is frozen by an eager persist before it is consumed by
    two jobs (counts, final select) so range-boundary sampling cannot
    diverge between them.

    The local rank within a range partition comes from
    ``monotonically_increasing_id`` over the in-partition sort — mid is
    pid*2^33 + a per-partition row counter, so (mid - pid*2^33) IS the
    0-based rank of the row in its sorted partition. A window
    ``partitionBy(pid)`` would demand hashpartitioning(pid) and re-shuffle
    every row — rows that are ALREADY physically grouped by pid (guide
    §2.4: the exchange bought nothing; measured 8.4 s -> 4.6 s for the
    whole assignment at V=1.46M, output row-set identical). Determinism:
    rank is read off the frozen persisted layout, same discipline as the
    pid column itself."""
    spark = distinct_names.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        distinct_names.repartitionByRange(P, "name")
        .sortWithinPartitions("name")
        .select(
            "name",
            F.spark_partition_id().alias("pid"),
            F.monotonically_increasing_id().alias("mid"),
        )
        .persist()
    )
    local_rank = F.col("mid") - F.col("pid").cast("long") * F.lit(1 << 33)
    rows = ranged.groupBy("pid").agg(
        F.count(F.lit(1)).alias("n"), F.max(local_rank).alias("top")
    ).collect()
    # The rank arithmetic rests on that bit layout; a partition whose max
    # local rank is not its count - 1 means it no longer holds.
    broken = [r["pid"] for r in rows if r["top"] + 1 != r["n"]]
    if broken:
        release(ranged)
        raise RuntimeError(
            "monotonically_increasing_id is no longer pid*2^33 + a "
            f"per-partition row counter (partitions {broken[:5]}): the "
            "scalable vid assignment would emit wrong vids"
        )
    counts = {r["pid"]: r["n"] for r in rows}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "pid int, off long"
        )
    )
    out = (
        ranged.join(off_df, "pid")
        .select(
            (F.col("off") + local_rank).cast("long").alias("vid"),
            F.col("name"),
            F.split(F.col("name"), ":", 2).getItem(0).alias("vtype"),
        )
        # Materialize (cuts lineage to the pid-sampling) so the ranged cache
        # can be released immediately; otherwise it must stay pinned forever
        # to keep recomputation deterministic.
        .localCheckpoint(eager=True)
    )
    release(ranged)
    return out


def encode_edges(name_edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Replace string endpoints with dense long vids (two shuffle joins, once
    per derivation — long-key joins are what every iteration then pays for,
    SURVEY.md §4.3.3)."""
    v = vertices.select("vid", "name")
    return (
        name_edges.join(v.withColumnRenamed("vid", "src"), name_edges.src_name == v.name)
        .drop("name", "src_name")
        .join(
            v.withColumnRenamed("vid", "dst").withColumnRenamed("name", "dst_n"),
            F.col("dst_name") == F.col("dst_n"),
        )
        .drop("dst_n", "dst_name")
        .select("src", "dst", "rel", "weight")
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("dst").alias("vid")).agg(
        F.sum("weight").alias("in_w"), F.count(F.lit(1)).alias("in_deg")
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Undirected simple view as one row per edge: (a, b) with a < b —
    endpoints ordered, self-loops dropped, parallel and reciprocal edges
    collapsed. The view triangles, degree profiles, density and
    modularity are defined on."""
    return (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def undirected_degrees(und: DataFrame) -> DataFrame:
    """(vid, deg) over an :func:`undirected` view: vertices of degree 0
    have no row."""
    return (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def neighbours(edges: DataFrame) -> DataFrame:
    """Symmetric neighbour list (u, v): both orientations of
    :func:`undirected`, so self-loops are dropped and parallel and
    reciprocal edges collapsed. The view LPA, k-core, the context query,
    link scores and the sweep cut walk."""
    und = undirected(edges)
    return und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def scoring_projection(edges: DataFrame, reverse_damping: float = 0.5) -> DataFrame:
    """Verum's multigraph->scoring-graph projection (SURVEY.md Table A S1,
    [R plugins/networkx.py digraph projection, reconstructed]): collapse
    parallel edges (sum weights) and add reverse edges at reduced weight so
    relevance also flows against edge direction."""
    collapsed = edges.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    rev = collapsed.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        (F.col("weight") * reverse_damping).alias("weight"),
    )
    return (
        collapsed.unionByName(rev)
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


# ---------------------------------------------------------------- CSR layout


def save_edges_csr(edges: DataFrame, path: str, buckets: int = 32) -> None:
    """Persist edges in the CSR-like layout (BASELINE.json north_star):
    hash-partitioned on src into ``buckets`` directories, each file sorted
    by (src, dst) — src-sorted runs are the columnar analogue of CSR
    adjacency.

    What this layout buys on re-read: Parquet min/max stats on the sorted
    src column give rowgroup skipping for subgraph reads, and directory
    pruning serves single-bucket scans. It does NOT carry hash-partitioning
    metadata into the next session's query plans — ``partitionBy`` writes
    directories, not a bucketed table — so joins over a re-read still
    shuffle the edge side once. For the shuffle-free re-read guarantee use
    :func:`save_edges_bucketed` (ADVICE r1).
    """
    (
        edges.withColumn("src_bucket", F.pmod(F.xxhash64("src"), F.lit(buckets)))
        .repartition(buckets, "src_bucket")
        # src_bucket leads the sort so the dynamic-partition writer's
        # required ordering is already satisfied — otherwise it re-sorts by
        # src_bucket alone (unstably) and destroys the (src, dst) runs.
        .sortWithinPartitions("src_bucket", "src", "dst")
        .write.mode("overwrite")
        .partitionBy("src_bucket")
        .parquet(path)
    )


def load_edges_csr(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).select("src", "dst", "rel", "weight")


def save_edges_bucketed(edges: DataFrame, table: str, buckets: int = 32) -> None:
    """Persist edges as a BUCKETED table: ``bucketBy(src) + sortBy(src,dst)``.

    Unlike the directory layout above, bucket metadata survives in the
    catalog, so a re-read exposes ``HashPartitioning(src, buckets)`` to the
    planner: ``groupBy(src)`` aggregations and equi-joins on src run with
    NO exchange on the edge side — the per-iteration shuffle of a PageRank
    loop then moves only the O(V) rank state, never the O(E) edges. Set
    ``buckets`` equal to the loop's ``spark.sql.shuffle.partitions`` so the
    rank side's hash partitioning lines up with the bucket count.

    When every vid fits in int32, src/dst are cast to int BEFORE the write.
    Casting must happen here, at ingest, because a cast on top of the
    bucketed scan would invalidate HashPartitioning(src)
    (Murmur3 hash(int) != hash(long)) and re-introduce the O(E) exchange;
    narrowing at save time gives readers rows a third smaller AND the
    shuffle-free scan (measured 27%/iteration on the bigint layout at 3.4M
    edges). One extra O(E) max() aggregation at ingest pays for it.
    """
    max_vid = edges.agg(F.greatest(F.max("src"), F.max("dst"))).collect()[0][0]
    if max_vid is not None and int(max_vid) < 2**31 - 1:
        edges = edges.withColumn("src", F.col("src").cast("int")).withColumn(
            "dst", F.col("dst").cast("int")
        )
    (
        # Cluster by the bucket key BEFORE the write: the bucket id is
        # pmod(Murmur3(src), buckets) — the same function repartition
        # uses — so each writer task holds exactly one bucket and emits
        # ONE file. Without it every input partition writes into every
        # bucket: up to partitions x buckets small files, each task
        # sorting all its bucket groups (guide §6: small files hurt the
        # writer AND every subsequent scan). The repartition runs after
        # the narrowing cast so the write-side hash matches the int
        # layout readers see.
        edges.repartition(buckets, "src")
        .write.mode("overwrite")
        .bucketBy(buckets, "src")
        .sortBy("src", "dst")
        .format("parquet")
        .saveAsTable(table)
    )


def load_edges_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table).select("src", "dst", "rel", "weight")


def reciprocity(edges: DataFrame) -> float:
    """Fraction of directed edges whose reverse also exists (Newman et al.
    2002 convention — == ``networkx.reciprocity``): the basic directed-
    graph shape statistic (a link graph of mutual endorsements looks very
    different from a strict hierarchy at the same density). One distinct
    pass + one self-join on the reversed key + two scalar counts.
    Self-loops are excluded (networkx counts a self-loop as reciprocal;
    the derived link graphs here never contain one — documented
    divergence, asserted in tests on loop-free graphs). Returns nan for
    an edgeless graph, like networkx raising on empty."""
    simple = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = simple.count()
    if n == 0:
        release(simple)
        return float("nan")
    mutual = simple.join(
        simple.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "semi",
    ).count()
    release(simple)
    return float(mutual) / float(n)


def graph_density(edges: DataFrame, directed: bool = True) -> float:
    """|E| / (|V|·(|V|-1)) (halved denominator when undirected) over the
    simple loop-free view — == ``networkx.density``. Two scalar jobs."""
    if directed:
        simple = (
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    else:
        simple = undirected(edges)
    simple = simple.localCheckpoint(eager=True)
    m = simple.count()
    nv = (
        simple.select(F.col("a").alias("vid"))
        .unionByName(simple.select(F.col("b").alias("vid")))
        .distinct()
        .count()
    )
    release(simple)
    if nv <= 1:
        return 0.0
    pairs = nv * (nv - 1) if directed else nv * (nv - 1) / 2
    return float(m) / pairs
