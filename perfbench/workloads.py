"""The benchmark workloads: ``score`` (cold batch scoring) and ``refresh``
(maintained state: context queries, fold, warm checkpointed PageRank).

Each is a single-client closed loop in one process: the next call into the
engine starts when the previous one has returned and its result has been
consumed. A workload has a set-up and a warm-up pass (neither measured), a
measured window of whole passes that lasts at least ``--seconds`` and a
fixed least number of passes, and oracle checks that run after the window. Span names are the layer names
of ``run.py``'s per-layer metrics.
"""

from __future__ import annotations

import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from engine import incremental
from engine.algos.cc import connected_components
from engine.algos.lpa import label_propagation
from engine.algos.pagerank import pagerank
from engine.algos.query import context_query
from engine.algos.triangles import triangle_count
from engine.datagen import rmat_edges, source_files
from engine.derive import build_graph
from engine.io import RunCheckpoint
from perfbench import oracles
from perfbench.stats import Ledger, median, tree_cpu_seconds
from perfbench.trace import Tracer

MEM = StorageLevel.MEMORY_AND_DISK
TOL = 1e-6
SETUP_REPEATS = 3  # corpus generations per run; setup_s takes their median


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    ledger: Ledger
    seed: int
    seconds: float
    work: Path
    shape: dict = field(default_factory=dict)
    setup_s: float = 0.0
    passes: list = field(default_factory=list)  # wall seconds per pass
    pass_cpu: list = field(default_factory=list)  # CPU seconds per pass


def _run_window(ctx: Ctx, one_pass, min_passes: int,
                max_passes: int | None = None) -> list:
    """Closed loop of whole passes until ``ctx.seconds`` have elapsed and
    at least ``min_passes`` passes are measured, or ``max_passes`` are;
    returns one record per completed pass for the checks.

    The first pass is a warm-up that runs before the window, in a
    ``warmup`` span: it is checked but not measured, so Spark's code
    generation and the JIT compiler's first work on the pass's plans stay
    out of the metrics. A fixed ``min_passes`` keeps the number of passes a median
    is taken over from depending on how busy the host is.

    ``one_pass(i)`` returns its record; the record's optional ``"after"``
    callable (collecting results for the oracles, releasing caches) runs
    outside the pass span and adds its dict to the record."""
    checks: list = []
    t0 = time.perf_counter()
    i = 0
    while True:
        measured = i > 0
        cpu0 = tree_cpu_seconds()
        try:
            with ctx.tracer.span("pass" if measured else "warmup", index=i) as s:
                check = one_pass(i)
        except Exception:
            # The ledger has counted the failed operation; the passes that
            # completed are still checked and reported.
            traceback.print_exc(file=sys.stderr)
            return checks
        if measured:
            ctx.pass_cpu.append(tree_cpu_seconds() - cpu0)
            ctx.passes.append(s.seconds)
        after = check.pop("after", None)
        if after is not None:
            check.update(after())
        checks.append(check)
        i += 1
        if not measured:
            t0 = time.perf_counter()
        elif len(ctx.passes) == max_passes or (
                time.perf_counter() - t0 >= ctx.seconds and len(ctx.passes) >= min_passes):
            return checks


def _corpus(ctx: Ctx, rows: int, repos: int):
    """Generate and persist the seeded no-content corpus ``SETUP_REPEATS``
    times; returns the last copy and the median generation time."""
    src, times = None, []
    for _ in range(SETUP_REPEATS):
        if src is not None:
            src.unpersist(blocking=True)
        with ctx.ledger.operation(), ctx.tracer.span("datagen", rows=rows) as s:
            src = source_files(ctx.spark, rows, repos, seed=ctx.seed,
                               with_content=False).persist(MEM)
            src.count()
        times.append(s.seconds)
    return src, median(times)


def _collect_and_release(v, e) -> dict:
    g = oracles.Graph.collect(v, e)
    v.unpersist()
    e.unpersist()
    return {"g": g}


def _materialize(*dfs):
    out = [df.persist(MEM) for df in dfs]
    counts = [df.count() for df in out]
    return out, counts


# ---------------------------------------------------------------- score

SCORE_ROWS, SCORE_REPOS = 5_000, 50
LPA_ROUNDS = 5
# The corpus graph has triangles only through content co-occurrence, whose
# Arrow UDF content generation would cost every run several seconds of
# Python worker start-up; triangles are counted on a seeded R-MAT graph
# (engine.datagen.rmat_edges) instead.
RMAT_SCALE, RMAT_EDGES = 11, 20_000
MIN_PASSES = 2  # measured, after one warm-up pass


def score(ctx: Ctx) -> None:
    """Cold batch scoring. No-content corpus -> structural ``build_graph``
    -> cold PageRank to 1e-6, connected components and 5 label-propagation
    rounds; plus a triangle count of a seeded R-MAT graph. "Cold" is the
    PageRank start; the JVM is warmed by one unmeasured pass first."""
    sp, tr, led = ctx.spark, ctx.tracer, ctx.ledger
    src, gen_s = _corpus(ctx, SCORE_ROWS, SCORE_REPOS)
    with led.operation(), tr.span("datagen.rmat") as s_rmat:
        rmat = rmat_edges(sp, RMAT_SCALE, RMAT_EDGES, seed=ctx.seed).persist(MEM)
        rmat.count()
    ctx.setup_s += gen_s + s_rmat.seconds
    rmat_g = oracles.Graph.collect(
        rmat.select(F.col("src").alias("vid")).union(rmat.select("dst")).distinct(), rmat)
    ctx.shape.update(rows=SCORE_ROWS, rmat_edges=RMAT_EDGES)

    def one_pass(i):
        with led.operation() as op_g, tr.span("derive.build_graph") as s_g:
            v, e = build_graph(src, include_cooccur=False)
            (v, e), (nv, ne) = _materialize(v, e)
        s_g.attrs.update(vertices=nv, edges=ne)
        with led.operation() as op_t, tr.span("triangles") as s_t:
            tri = triangle_count(sp, rmat)
        s_t.attrs["count"] = tri
        with led.operation() as op_pr, tr.span("pagerank") as s_pr:
            r = pagerank(sp, e, vertices=v, tol=TOL)
            ranks = r.ranks.toPandas()
        s_pr.attrs.update(iterations=r.iterations, edges=ne)
        with led.operation() as op_cc, tr.span("cc") as s_cc:
            c = connected_components(sp, e, v)
            cc = c.labels.toPandas()
        s_cc.attrs["rounds"] = c.rounds
        with led.operation() as op_lpa, tr.span("lpa"):
            lp = label_propagation(sp, e, v, max_iter=LPA_ROUNDS).labels.toPandas()
        ctx.shape.update(V=nv, E=ne, triangles=tri, pagerank_iterations=r.iterations,
                         cc_rounds=c.rounds)
        return dict(after=lambda: _collect_and_release(v, e), op_g=op_g, nv=nv, ne=ne,
                    op_t=op_t, tri=tri, op_pr=op_pr, ranks=ranks, op_cc=op_cc, cc=cc,
                    op_lpa=op_lpa, lpa=lp)

    want_tri = oracles.triangles(rmat_g)
    for c in _run_window(ctx, one_pass, MIN_PASSES):
        g = c["g"]
        led.check(c["op_g"], (len(g.vids), len(g.src)) == (c["nv"], c["ne"]),
                  "build_graph counts")
        led.check(c["op_t"], c["tri"] == want_tri, f"triangles {c['tri']} != {want_tri}")
        want, _ = oracles.pagerank(g, tol=1e-12)
        got = dict(zip(c["ranks"]["vid"].tolist(), c["ranks"]["value"].tolist()))
        led.check(c["op_pr"], oracles.ranks_match(got, want), "pagerank vs numpy")
        comp = oracles.components(g)
        got_cc = dict(zip(c["cc"]["vid"].tolist(), c["cc"]["label"].tolist()))
        led.check(c["op_cc"], got_cc == comp, "components vs networkx")
        # Labels only travel along edges: each stays inside its component.
        lp = dict(zip(c["lpa"]["vid"].tolist(), c["lpa"]["label"].tolist()))
        led.check(c["op_lpa"], set(lp) == set(comp)
                  and all(comp.get(l) == comp[u] for u, l in lp.items()),
                  "label propagation labels leave their component")


# ---------------------------------------------------------------- refresh

REFRESH_ROWS, REFRESH_REPOS = 5_000, 50
BATCH_PERMILLE = 5  # each batch is ~0.5% of the corpus
MIN_BATCHES, MAX_BATCHES = 3, 5  # measured, after one warm-up batch
QUERIES_PER_BATCH = 2
QUERY_DEPTH = 3
DONT_FOLLOW = ("lang", "commit")
CHECKPOINT_EVERY = 5


def _split(src, seed: int, n_batches: int, permille: int):
    """``n_batches`` disjoint seeded batches of ~``permille``/1000 of the
    rows each (materialized), and the remaining rows as the base corpus."""
    bucket = F.pmod(F.xxhash64("repo", "path", F.lit(seed)), F.lit(1000))
    batches = [
        src.filter((bucket >= b * permille) & (bucket < (b + 1) * permille))
        .localCheckpoint(eager=True)
        for b in range(n_batches)
    ]
    return batches, src.filter(bucket >= n_batches * permille)


def refresh(ctx: Ctx) -> None:
    """Maintained ``initial_state`` -> per batch: seeded context queries, an
    ``update_graph`` fold of a ~0.5% batch and a warm-start PageRank to 1e-6
    writing a ``RunCheckpoint`` every ``CHECKPOINT_EVERY`` iterations. The
    first batch is a warm-up; the window measures the batches after it."""
    sp, tr, led = ctx.spark, ctx.tracer, ctx.ledger

    ckpt_root = ctx.work / "checkpoints"
    src, gen_s = _corpus(ctx, REFRESH_ROWS, REFRESH_REPOS)
    t1 = time.perf_counter()
    batches, base = _split(src, ctx.seed, 1 + MAX_BATCHES, BATCH_PERMILLE)
    batch_rows = [df.count() for df in batches]
    with led.operation(), tr.span("incremental.initial_state"):
        v, e, name_edges, membership = incremental.initial_state(base, include_cooccur=False)
        (e,), _ = _materialize(e)
    ctx.setup_s += gen_s + time.perf_counter() - t1
    g = oracles.Graph.collect(v, e, with_types=True)
    # The maintained ranks of the pre-fold graph, as a converged earlier
    # run leaves them: its exact fixpoint, given to the engine as input.
    prior, _ = oracles.pagerank(g, tol=1e-12)
    prior_df = sp.createDataFrame(list(prior.items()), "vid long, value double")
    ctx.shape.update(rows=REFRESH_ROWS, base_V=len(g.vids), base_E=len(g.src))
    rng = np.random.default_rng(ctx.seed)
    state = dict(v=v, e=e, name_edges=name_edges, membership=membership,
                 prior=prior_df, g=g)

    def one_pass(b):
        g = state["g"]  # the graph this batch's queries run on
        pool = np.array(sorted(u for u, t in g.vtype.items() if t in ("repo", "path")))
        topics = [int(x) for x in rng.choice(pool, QUERIES_PER_BATCH, replace=False)]
        queries = []
        for q in topics:
            with led.operation() as op_q, tr.span("query", topic=q) as s_q:
                sv, se = context_query(sp, state["v"], state["e"],
                                       sp.createDataFrame([(q,)], "vid long"),
                                       max_depth=QUERY_DEPTH, dont_follow=DONT_FOLLOW)
                got = {r["vid"]: r["depth"] for r in sv.select("vid", "depth").collect()}
                n_edges = se.count()
            s_q.attrs["vertices"] = len(got)
            queries.append((op_q, q, got, n_edges))
        with led.operation() as op_f, tr.span("incremental.fold") as s_f:
            v2, e2, ne2, m2 = incremental.update_graph(
                state["v"], state["name_edges"], state["membership"], batches[b],
                include_cooccur=False)
            (e2,), (n_e2,) = _materialize(e2)
        s_f.attrs["batch_rows"] = batch_rows[b]
        ck = RunCheckpoint(str(ckpt_root), run_id=f"batch{b}", spark=sp)
        with led.operation() as op_pr, tr.span("pagerank") as s_pr:
            r = pagerank(sp, e2, vertices=v2, tol=TOL, initial_ranks=state["prior"],
                         checkpoint=ck, checkpoint_every=CHECKPOINT_EVERY)
            ranks = r.ranks.toPandas()
        s_pr.attrs.update(iterations=r.iterations, edges=n_e2)
        ctx.shape.update(pagerank_iterations=r.iterations)

        def after():
            if tr.enabled:
                files = [p for p in Path(ck.dir).rglob("*") if p.is_file()]
                s_pr.attrs.update(ckpt_files=len(files),
                                  ckpt_bytes=sum(p.stat().st_size for p in files))
            shutil.rmtree(ck.dir, ignore_errors=True)
            g2 = oracles.Graph.collect(v2, e2, with_types=True)
            state["e"].unpersist()
            state.update(v=v2, e=e2, name_edges=ne2, membership=m2, g=g2,
                         prior=sp.createDataFrame(ranks))
            ctx.shape.update(V=len(g2.vids), E=len(g2.src))
            return {"g2": g2}

        return dict(after=after, g=g, queries=queries, op_pr=op_pr, ranks=ranks, span=s_pr)

    for c in _run_window(ctx, one_pass, MIN_BATCHES, MAX_BATCHES):
        g = c["g"]
        for op_q, q, got, n_edges in c["queries"]:
            want = oracles.context(g, [q], QUERY_DEPTH, DONT_FOLLOW)
            led.check(op_q, got == want
                      and n_edges == oracles.induced_edges(g, set(want)),
                      f"context_query({q}) vs BFS")
        cold, _ = oracles.pagerank(c["g2"], tol=1e-12)
        got = dict(zip(c["ranks"]["vid"].tolist(), c["ranks"]["value"].tolist()))
        led.check(c["op_pr"], oracles.ranks_match(got, cold), "warm ranks vs cold solve")
        _, c["span"].attrs["cold_iterations"] = oracles.pagerank(c["g2"], tol=TOL)


WORKLOADS = {"score": score, "refresh": refresh}
