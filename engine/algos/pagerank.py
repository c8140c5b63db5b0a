"""PageRank as an iterative DataFrame algorithm — the engine flagship.

Semantics: damped PageRank with dangling-mass redistribution, optionally
*personalized* (a teleport-mass DataFrame), which is exactly the rebuild of
Verum's topic-sensitive score propagation — the reference delegated scoring
to ``networkx.pagerank(personalization=topic_nodes)``
([R plugins/networkx.py::score_subgraph, reconstructed — SURVEY.md Table A
S2]); the north rule grades the plain damped variant and the personalized
one is a parameter away (SURVEY.md §7.3.4).

Scale design (the parts that must survive 10^12 edges):

- **Edges shuffle once, state moves per iteration.** The edge table is
  normalized (weight / out-weight), pre-partitioned on ``src`` and persisted
  before the loop. Each iteration then moves only the O(V) rank state: as a
  broadcast (small V — the gather is then map-side against the partitioned
  edge cache, zero edge movement) or as a hash shuffle (large V), picked
  by V against ``BROADCAST_STATE_MAX_V``.
- **Dangling-free linear system, ONE action per iteration.** The loop
  iterates ``x <- (1-alpha)*p + alpha*G*x`` with G the out-edge split
  alone (no dangling column) and returns ``pi = x / ||x||_1``. That is the
  damped-PageRank fixpoint with dangling mass sent along the teleport
  vector p: pi solves ``(I - alpha*G) pi = ((1-alpha) + alpha*d'pi) p``,
  a scalar multiple of x's equation (Del Corso, Gulli & Romani, "Fast
  PageRank Computation via a Sparse Linear System", 2005). The whole
  iteration — gather join, aggregation, update join, new-state
  materialization — is a single Spark job; the L1 delta and the iterate's
  total mass ride that same job (``engine.loop.step``). No
  driver scalar enters the plan, so every iteration's physical plan and
  generated code are identical and Spark's codegen cache serves every
  iteration after the first without compiling. On a DAG (the
  repo->path->lang / repo->commit link graph) G is nilpotent: x is exact
  after longest-path+1 updates and the loop stops one iteration later. On
  cyclic graphs the contraction modulus is alpha*rho(G) <= alpha.
- **Hub skew: partial aggregation.** ``groupBy(dst).sum`` map-side
  partial aggregation bounds a mega-hub's reducer input to ONE partial
  row per map partition — for an algebraic aggregate this is already the
  two-phase skew split, done by Tungsten for free
  (``tests/test_pagerank.py`` pins the partial aggregate below the
  gather's exchange). An explicit salted gather (``groupBy(dst, salt)``
  then ``groupBy(dst)``) gave the same values but cost a full extra
  exchange per iteration: 2.06 s/iter against 1.26 s/iter without it at
  10.3M edges on local[32].
- **Constant-depth plans + resumability**: each iteration's state is a
  Parquet checkpoint, re-read as the next iteration's input (lineage cut);
  resume picks up from the last committed manifest (io.RunCheckpoint).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from engine.io import RunCheckpoint
from engine.loop import iterative_conf, release, step


@dataclass
class PageRankResult:
    ranks: DataFrame  # (vid, value)
    iterations: int
    converged: bool
    l1_delta: float
    metrics: list[dict[str, Any]] = field(default_factory=list)
    resumed_from: int | None = None


# Above this many vertices the per-iteration broadcast of the rank state
# stops paying for itself vs a hash shuffle of the same rows. Measured on
# this host: at V=1.46M, broadcast mode runs 9.4 s/iter with high variance
# (broadcast build + cleanup churn) vs 5.6 s/iter shuffled; at V~10^3 the
# broadcast path wins ~3x (no shuffle at all against the partitioned edge
# cache). Threshold sits where the state stops being dimension-table-sized.
BROADCAST_STATE_MAX_V = 100_000

STATE_COLS = ("vid", "p", "value")


def _prepare_edges(
    edges: DataFrame,
    weighted: bool,
    partitions: int,
    pre_partitioned: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (norm_edges(src,dst,cw), out_vids(vid)); cw = transition
    probability src->dst."""
    w = F.col("weight") if weighted else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("cw")
    )
    if not pre_partitioned:
        # One explicit shuffle so every iteration's gather join finds the
        # edge side already clustered by src. Skipped when the input comes
        # from a bucketed table (graph.save_edges_bucketed): the scan then
        # already exposes HashPartitioning(src) and the groupBy/join above
        # preserved it, so repartitioning would be a wasted O(E) shuffle.
        norm = norm.repartition(partitions, "src")
    return norm, out_w.select(F.col("src").alias("vid"))


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    weighted: bool = True,
    personalization: DataFrame | None = None,
    checkpoint: RunCheckpoint | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    edges_pre_partitioned: bool = False,
    initial_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run damped PageRank until the relative L1 step is below ``tol``
    (``||x_k+1 - x_k||_1 < tol * ||x_k+1||_1``, the linear-system iterate
    of the module docstring) or ``max_iter`` iterations.

    Parameters mirror ``networkx.pagerank`` where they overlap (alpha,
    personalization, weight handling, dangling mass distributed by the
    teleport vector) so the t2 oracle comparison is apples-to-apples.

    ``personalization``: optional (vid, mass) DataFrame — Verum's topic
    seed set; normalized over the graph's vertices (graph vids it lacks get
    mass 0, vids outside the graph are ignored). Raises ``ValueError`` when
    no positive mass lands on a graph vertex.

    ``edges_pre_partitioned``: True when ``edges`` comes from a bucketed
    table clustered by src (graph.save_edges_bucketed with buckets ==
    shuffle partitions) — skips the loop's one-time O(E) repartition.

    ``initial_ranks``: optional (vid, value) DataFrame to warm-start the
    iteration from — typically yesterday's converged ranks after an
    incremental edge update. The update is an affine contraction, so the
    fixpoint is init-independent: a warm start reaches the SAME ranks, just
    in far fewer iterations when the graph changed little. Vids absent from
    ``initial_ranks`` (new vertices) get their teleport mass; the vector is
    L1-normalized and then scaled by ``(1-alpha) / (1-alpha + alpha*dm0)``,
    dm0 being its share on dangling vertices, so a converged prior starts
    exactly at the new iterate's fixpoint ``x``. Ignored when ``resume``
    finds a checkpoint (the checkpoint is the closer start).

    Checkpointed states hold the unnormalized iterate ``x``; each
    iteration's manifest records its total ``mass``.
    """
    if not 0.0 <= alpha < 1.0:
        raise ValueError(f"alpha must be in [0, 1), got {alpha}")
    # Scale-adaptive loop partitioning needs the input size BEFORE the
    # edge table is laid out (the gather join's co-partitioning contract
    # ties the cached edge layout to the loop's shuffle partitioning).
    # Callers pass materialized edge tables, so this count is a cached
    # scan; the bucketed path is exempt — its partitioning IS the saved
    # bucket count, which the session value already matches.
    loop_rows = None if edges_pre_partitioned else edges.count()
    with iterative_conf(spark, rows=loop_rows):
        return _pagerank_loop(
            spark, edges, vertices, alpha, tol, max_iter, weighted,
            personalization, checkpoint, checkpoint_every, resume,
            edges_pre_partitioned, initial_ranks,
        )


def _gather_update(norm, ranks, cols, bcast):
    """ONE synchronous update ``x <- (1-alpha)*p + alpha*G*x`` as a
    DataFrame expression: gather edges(src)⋈ranks -> per-dst contribution
    sum (partially aggregated map-side) -> update joined
    back onto the state. Returns (vid, p, value, diff); shared by the main
    loop and mid-iteration salvage so both run the same expression tree.
    Salvaged partitions are numerically equivalent to an uninterrupted run
    within float-sum associativity (partial-sum order is partition-order
    dependent); the resume test asserts equality at 1e-12.

    ``cols``: the Column subtrees from :func:`_update_cols`. They hold no
    per-iteration value, so the loop builds them ONCE (cuts the
    per-iteration py4j expression-building chatter, measured
    ~0.1s/iteration) and every iteration's plan is identical."""
    gathered = norm.join(
        bcast(ranks.select(F.col("vid").alias("src"), "value")), "src"
    )
    contribs = gathered.groupBy("dst").agg(cols["cw_value_sum"].alias("c"))
    value = cols["value"]
    return (
        ranks.withColumnRenamed("value", "old")
        .join(bcast(contribs.withColumnRenamed("dst", "vid")), "vid", "left")
        .select(
            "vid",
            "p",
            value.alias("value"),
            F.abs(value - F.col("old")).alias("diff"),
        )
    )


def _update_cols(p_col, alpha):
    """Column subtrees of the update: (1-alpha)*p + alpha*coalesce(c, 0)."""
    return {
        "cw_value_sum": F.sum(F.col("cw") * F.col("value")),
        "value": (1.0 - alpha) * p_col
        + alpha * F.coalesce(F.col("c"), F.lit(0.0)),
    }


def _pagerank_loop(
    spark, edges, vertices, alpha, tol, max_iter, weighted, personalization,
    checkpoint, checkpoint_every, resume, edges_pre_partitioned, initial_ranks,
) -> PageRankResult:
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Narrow vertex ids to int32 when they fit (dense vids fit up to 2^31
    # vertices — comfortably past the 10^9-vertex target): join keys and
    # the cached edge table shrink by a third, measured ~14%/iteration at
    # 10.3M edges. Weights/values stay float64 — numerics are untouched.
    if vertices is not None:
        max_vid = vertices.agg(F.max("vid")).collect()[0][0]
    else:
        max_vid = edges.agg(
            F.greatest(F.max("src"), F.max("dst"))
        ).collect()[0][0]
    # Edge-side narrowing is SKIPPED on the bucketed-table path: casting
    # src/dst on top of the bucketed scan would invalidate its
    # HashPartitioning(src) (Murmur3 hash(int) != hash(long)), forcing the
    # planner to re-shuffle the O(E) edge side — exactly the exchange the
    # bucket layout exists to avoid. graph.save_edges_bucketed instead
    # narrows AT SAVE TIME when the vids fit, so the bucketed scan is
    # already int32; here we only align the O(V) state side to the edge
    # key type (an int==bigint join would cast the EDGE key to bigint and
    # re-shuffle it — same trap from the other direction).
    fits = max_vid is not None and int(max_vid) < 2**31 - 1
    src_is_int = dict(edges.dtypes).get("src") == "int"
    narrow_edges = fits and not edges_pre_partitioned and not src_is_int
    narrow_state = narrow_edges or (fits and src_is_int)
    if narrow_edges:
        edges = edges.withColumn("src", F.col("src").cast("int")).withColumn(
            "dst", F.col("dst").cast("int")
        )
    if narrow_state:
        if vertices is not None:
            vertices = vertices.withColumn("vid", F.col("vid").cast("int"))
        if personalization is not None:
            personalization = personalization.withColumn(
                "vid", F.col("vid").cast("int")
            )
        if initial_ranks is not None:
            initial_ranks = initial_ranks.withColumn(
                "vid", F.col("vid").cast("int")
            )
    norm, out_vids = _prepare_edges(
        edges, weighted, P, pre_partitioned=edges_pre_partitioned
    )
    norm.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = norm.count()  # materialize the one-time edge shuffle

    if vertices is None:
        vids = (
            edges.select(F.col("src").alias("vid"))
            .unionByName(edges.select(F.col("dst").alias("vid")))
            .distinct()
        )
    else:
        vids = vertices.select("vid")

    # Static per-vertex column p: the seed mass on each graph vertex (seeds
    # outside the graph drop out here), or null for the uniform teleport;
    # p_col turns it into the teleport vector.
    if personalization is not None:
        base = vids.join(personalization, "vid", "left").select(
            "vid", F.coalesce(F.col("mass"), F.lit(0.0)).alias("p")
        )
    else:
        base = vids.select("vid", F.lit(None).cast("double").alias("p"))
    base = base.repartition(P, "vid").persist(StorageLevel.MEMORY_AND_DISK)
    row = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("tot")
    ).collect()[0]
    n, tot = row["n"], row["tot"]
    if n == 0:
        release(base, norm)
        return PageRankResult(
            vids.select(
                F.col("vid").cast("long").alias("vid"), F.lit(0.0).alias("value")
            ),
            0, True, 0.0,
        )
    if personalization is None:
        p_col = F.coalesce(F.col("p"), F.lit(1.0 / n))
    elif tot is not None and float(tot) > 0.0:
        p_col = F.col("p") / F.lit(float(tot))
    else:
        release(base, norm)
        raise ValueError(
            f"personalization mass on graph vertices must sum > 0 (got "
            f"{tot!r}): seeds absent from the graph, or an empty or "
            "all-zero teleport vector, leave no stationary distribution"
        )
    bcast = F.broadcast if n <= BROADCAST_STATE_MAX_V else (lambda df: df)

    start_iter = 0
    resumed_from = None
    metrics: list[dict[str, Any]] = []
    if resume and checkpoint is not None and checkpoint.latest() is not None:
        # Any stored iterate resumes to the same fixpoint (the update
        # converges from every start), normalized states included.
        start_iter = checkpoint.latest()
        resumed_from = start_iter
        prev = checkpoint.read(spark, start_iter).select("vid", "value")
        ranks = base.join(bcast(prev), "vid").select(*STATE_COLS)
        metrics = checkpoint.metrics_history()
    elif initial_ranks is not None:
        # Warm start: one O(V) shuffle to align the prior ranks with the
        # hash(vid)-partitioned state, teleport mass for new vids, one
        # scalar job for the L1 normalizer and the dangling share. All
        # one-time costs — the loop itself is identical to a cold run.
        filled = (
            base.join(
                initial_ranks.select("vid", F.col("value").alias("iv")),
                "vid",
                "left",
            )
            .join(out_vids.withColumn("out_ok", F.lit(True)), "vid", "left")
            .select(
                "vid",
                "p",
                F.coalesce(F.col("iv"), p_col).alias("v0"),
                F.col("out_ok").isNull().alias("dang"),
            )
        )
        # Checkpoint BEFORE the normalizer aggregate: otherwise the O(V)
        # join runs twice — once for the sums, again when ranks is
        # checkpointed below (ADVICE r3).
        filled = filled.localCheckpoint(eager=True)
        row = filled.agg(
            F.sum("v0").alias("tot"),
            F.sum(F.when(F.col("dang"), F.col("v0"))).alias("dm"),
        ).collect()[0]
        tot_v0 = float(row["tot"] or 0.0)
        if not tot_v0 > 0.0:
            raise ValueError(
                f"initial_ranks total mass must be > 0 (got {tot_v0!r})"
            )
        # pi0 = v0/tot_v0, scaled by (1-alpha)/(1-alpha + alpha*dm0): the
        # iterate x that a converged pi0 corresponds to.
        dm0 = float(row["dm"] or 0.0) / tot_v0
        scale = (1.0 - alpha) / ((1.0 - alpha + alpha * dm0) * tot_v0)
        ranks = filled.select("vid", "p", (F.col("v0") * scale).alias("value"))
    else:
        ranks = base.select("vid", "p", p_col.alias("value"))
    ranks, row = step(ranks, mass=F.sum("value"))
    if initial_ranks is not None and resumed_from is None:
        release(filled)
    # The materialized iterate behind ``ranks`` (None once a Parquet
    # snapshot is the state of record).
    held = ranks
    # The normalizer when no iteration runs (a resume at max_iter); every
    # iteration then observes its own iterate's mass.
    mass = float(row["mass"])

    converged = False
    delta = float("inf")
    # Built once: the update holds no per-iteration value (module docstring).
    cols = _update_cols(p_col, alpha)

    # ---- mid-iteration salvage (north rule): a crash DURING iteration
    # start_iter+1's state write left a staging marker and a subset of its
    # hash(vid)-partitioned files. Recompute ONLY the missing hash
    # partitions — the update is filtered on pmod(hash(vid), P) so the
    # gather/agg shuffle carries just the missing share of the state — then
    # seal the iteration and continue the loop from it.
    if resume and checkpoint is not None and resumed_from is not None:
        it_s = start_iter + 1
        sal = checkpoint.staging_info(it_s)
        if sal is not None:
            done = checkpoint.staged_partitions(it_s)
            p_s = int(sal["n_partitions"])
            missing = sorted(set(range(p_s)) - set(done))
            if missing:
                # Clear the crashed write's committer debris FIRST: stale
                # committed task dirs under _temporary/0 would otherwise be
                # merged by the append job's commitJob, duplicating rows for
                # those hash partitions in the sealed state (ADVICE r2).
                checkpoint.clear_job_debris(it_s)
                new_full = _gather_update(norm, ranks, cols, bcast).select(
                    *STATE_COLS
                )
                part = F.pmod(F.hash("vid"), F.lit(p_s))
                new_full.filter(part.isin(missing)).repartition(
                    p_s, "vid"
                ).write.mode("append").parquet(checkpoint.state_path(it_s))
            state = checkpoint.read(spark, it_s).select(*STATE_COLS)
            row = (
                state.withColumnRenamed("value", "nv")
                .join(ranks.select("vid", "value"), "vid")
                .agg(
                    F.sum(F.abs(F.col("nv") - F.col("value"))).alias("delta"),
                    F.sum("nv").alias("mass"),
                )
                .collect()[0]
            )
            delta, mass = _relative_step(row)
            m = _iter_metrics(it_s, delta, mass, 0.0, n_edges, n)
            m["salvaged_partitions"] = len(missing)
            metrics.append(m)
            checkpoint.commit(it_s, m, list(state.columns))
            start_iter = it_s
            release(held)
            held = None
            ranks = state
            if delta < tol:
                converged = True

    it = start_iter
    loop_start = (max_iter + 1) if converged else (start_iter + 1)
    observed = {"delta": F.sum("diff"), "mass": F.sum("value")}
    for it in range(loop_start, max_iter + 1):
        t0 = time.monotonic()
        new = _gather_update(norm, ranks, cols, bcast)

        if checkpoint is not None and (it % checkpoint_every == 0):
            # Observe BELOW the slimming select: the delta/mass metrics
            # ride the write job, but the snapshot excludes ``diff``.
            obs = Observation(f"pr_{it}")
            staged = new.observe(
                obs, *(c.alias(k) for k, c in observed.items())
            ).select(*STATE_COLS)
            # Stage marker + hash(vid) alignment: the explicit repartition
            # pins file part-index == pmod(hash(vid), P) so a crash between
            # here and commit() is recoverable per-partition (salvage
            # above). In shuffled-state mode the update join already left
            # the rows hash(vid)-partitioned, so the exchange collapses; in
            # broadcast-state mode it moves only the O(V) state.
            checkpoint.stage_marker(it, P)
            checkpoint.write_data(staged.repartition(P, "vid"), it)
            delta, mass = _relative_step(obs.get)
            wall = time.monotonic() - t0
            m = _iter_metrics(it, delta, mass, wall, n_edges, n)
            metrics.append(m)
            checkpoint.commit(it, m, list(staged.columns))
            # The parquet snapshot is now the state of record.
            if held is not None:
                release(held)
                held = None
            ranks = checkpoint.read(spark, it).select(*STATE_COLS)
        else:
            # The in-memory state keeps ``diff``: the delta/mass metrics
            # ride the materialization, which observes the frame it stores.
            cached, row = step(new, **observed)
            delta, mass = _relative_step(row)
            wall = time.monotonic() - t0
            metrics.append(_iter_metrics(it, delta, mass, wall, n_edges, n))
            if held is not None:
                release(held)
            held = cached
            ranks = cached.select(*STATE_COLS)

        if delta < tol:
            converged = True
            break

    release(norm, base)
    # pi = x / ||x||_1 (x >= 0). API stability: vids go back out as long
    # regardless of the internal narrowing decision.
    out = ranks.select(
        F.col("vid").cast("long").alias("vid"),
        (F.col("value") / mass).alias("value"),
    )
    return PageRankResult(out, it, converged, delta, metrics, resumed_from)


def _relative_step(vals) -> tuple[float, float]:
    """(||x_k+1 - x_k||_1 / ||x_k+1||_1, ||x_k+1||_1) from an observed or
    collected (delta, mass) row. The mass is >= (1-alpha) > 0: x is
    nonnegative and carries at least the teleport term."""
    mass = float(vals["mass"])
    return float(vals["delta"] or 0.0) / mass, mass


def _iter_metrics(
    it: int, delta: float, mass: float, wall: float, n_edges: int, n: int,
) -> dict:
    """``l1_delta`` is the relative step the stopping rule reads; ``mass``
    is the iterate's L1 norm, the normalizer of its ranks."""
    return {
        "iter": it,
        "l1_delta": delta,
        "mass": mass,
        "wall_s": wall,
        "edges_per_s": n_edges / wall if wall > 0 else None,
        "n_edges": n_edges,
        "n_vertices": n,
    }
