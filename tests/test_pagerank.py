"""t2: PageRank parity vs the reference's scorer semantics (NetworkX).

The tiny-corpus test runs at alpha=0.85 / tol=1e-9 (strict, BASELINE 1e-6
target with two orders of margin). Hand-graph tests run at alpha=0.5 so
power iteration converges in ~25 rounds — parity must hold at any alpha and
the sandbox has a ~0.4 s/job floor (SURVEY §7.5), so this keeps the suite
fast without weakening the 1e-6 assertion (L1 tol 1e-7 bounds distance to
the fixpoint by tol*a/(1-a) < 1e-6 already at a=0.5).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.algos.pagerank import pagerank
from tests.conftest import edges_df, vertices_df
from tests.oracles import nx_digraph, pagerank_oracle

HAND_GRAPHS = {
    "chain_dangling": ([0, 1, 2, 3], [(0, 1), (1, 2), (2, 3)]),
    "star_hub": (list(range(7)), [(i, 0) for i in range(1, 7)]),
    "two_components_cycle": ([0, 1, 2, 3, 4, 5], [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (5, 5)]),
    "weighted_multi": (
        [0, 1, 2],
        [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 0, 1.0), (0, 1, 1.0)],
    ),
}


def _compare(spark, vids, pairs, alpha, tol, atol=1e-6, personalization=None):
    v = vertices_df(spark, vids)
    e = edges_df(spark, pairs)
    pers_df = None
    pers_nx = None
    if personalization:
        pers_nx = personalization
        pers_df = spark.createDataFrame(
            [(int(k), float(m)) for k, m in personalization.items()],
            "vid long, mass double",
        )
    res = pagerank(
        spark, e, vertices=v, alpha=alpha, tol=tol, max_iter=300,
        personalization=pers_df,
    )
    ours = {r.vid: r.value for r in res.ranks.collect()}
    g = nx_digraph(vids, [(p[0], p[1], p[2] if len(p) > 2 else 1.0) for p in pairs])
    ref = pagerank_oracle(g, alpha=alpha, personalization=pers_nx)
    assert set(ours) == set(ref)
    ks = sorted(ours)
    a = np.array([ours[k] for k in ks])
    b = np.array([ref[k] for k in ks])
    assert np.allclose(a, b, atol=atol), f"max diff {np.abs(a - b).max()}"
    assert abs(a.sum() - 1.0) < 1e-9
    return res


@pytest.mark.parametrize("name", sorted(HAND_GRAPHS))
def test_hand_graphs_match_oracle(spark, name):
    vids, pairs = HAND_GRAPHS[name]
    _compare(spark, vids, pairs, alpha=0.5, tol=1e-7)


def test_corpus_graph_matches_oracle_strict(spark, tiny_graph, tiny_nx):
    v, e = tiny_graph
    res = pagerank(spark, e, vertices=v, alpha=0.85, tol=1e-9, max_iter=300)
    assert res.converged
    ours = {r.vid: r.value for r in res.ranks.collect()}
    ref = pagerank_oracle(tiny_nx, alpha=0.85)
    ks = sorted(ours)
    a = np.array([ours[k] for k in ks])
    b = np.array([ref[k] for k in ks])
    assert np.allclose(a, b, atol=1e-6), f"max diff {np.abs(a - b).max()}"
    # rank mass conservation (t0 invariant)
    assert abs(a.sum() - 1.0) < 1e-9


def test_personalized_matches_oracle(spark):
    """Verum's topic-sensitive scoring = personalization (Table A S2)."""
    vids, pairs = HAND_GRAPHS["two_components_cycle"]
    _compare(
        spark, vids, pairs, alpha=0.5, tol=1e-7,
        personalization={0: 1.0, 3: 1.0},
    )


def test_gather_aggregates_partially_below_its_exchange(spark, tiny_graph):
    """The engine's hub-skew handling: the gather's ``sum(cw*value)`` is
    algebraic, so a partial HashAggregate runs map-side, under the Exchange
    on ``dst``, and a mega-hub's reducer receives one partial row per map
    partition instead of one row per in-edge. A gather that stops being a
    partially aggregated sum fails here (the star_hub oracle test keeps the
    hub's values checked)."""
    from engine.algos.pagerank import _gather_update, _prepare_edges, _update_cols
    from engine.loop import iterative_conf

    _, e = tiny_graph
    with iterative_conf(spark):
        P = int(spark.conf.get("spark.sql.shuffle.partitions"))
        norm, out_vids = _prepare_edges(e, True, P)
        ranks = out_vids.select(
            "vid", F.lit(1.0).alias("p"), F.lit(1.0).alias("value")
        )
        new = _gather_update(
            norm, ranks, _update_cols(F.col("p"), 0.85), F.broadcast
        )
        plan = new._jdf.queryExecution().executedPlan().toString()
    lines = [ln.lstrip(" :+-") for ln in plan.splitlines()]
    exchanges = [
        i for i, ln in enumerate(lines) if ln.startswith("Exchange hashpartitioning(dst")
    ]
    assert len(exchanges) == 1, plan
    below = next(ln for ln in lines[exchanges[0] + 1:] if "Aggregate" in ln)
    assert "HashAggregate(keys=[dst" in below and "partial_sum(" in below, plan


def test_empty_graph(spark):
    v = vertices_df(spark, [0, 1, 2])
    e = edges_df(spark, []).filter("src IS NOT NULL")
    res = pagerank(spark, e, vertices=v, tol=1e-6, max_iter=10)
    vals = [r.value for r in res.ranks.collect()]
    assert len(vals) == 3
    assert np.allclose(vals, 1 / 3)


def test_personalization_must_have_positive_mass(spark, tiny_graph):
    """An empty or all-zero teleport vector must fail loudly, not emit NaNs
    (ADVICE r1)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    v, e = tiny_graph
    zero = v.select("vid", F.lit(0.0).alias("mass")).limit(3)
    with _pytest.raises(ValueError, match="personalization mass"):
        pagerank(spark, e, vertices=v, personalization=zero, max_iter=2)


def test_personalization_mass_off_the_graph_fails_loudly(spark):
    """Positive seed mass that lands only on vids outside the graph leaves
    a zero teleport vector: a ValueError naming the absent seeds, not a
    ZeroDivisionError from the first iteration's step."""
    e = edges_df(spark, [(0, 1), (1, 2)])
    absent = spark.createDataFrame([(99, 1.0)], "vid long, mass double")
    with pytest.raises(ValueError, match="seeds absent"):
        pagerank(spark, e, personalization=absent, max_iter=5)


# ring + a few chords: connected, non-trivial stationary vector
RING_CHORDS = [(i, (i + 1) % 30) for i in range(30)] + [
    (0, 15), (7, 22), (11, 3), (18, 9)
]


def test_warm_start_same_fixpoint_fewer_iterations(spark):
    """initial_ranks warm start (incremental-update path): after a small
    edge perturbation, warm-starting from the old converged ranks must
    reach the SAME fixpoint as a cold run (the damped update is an affine
    contraction — init-independent limit) in strictly fewer iterations."""
    vids = list(range(30))
    pairs = RING_CHORDS
    v = vertices_df(spark, vids)
    e_old = edges_df(spark, pairs)
    r_old = pagerank(spark, e_old, vertices=v, alpha=0.85, tol=1e-10,
                     max_iter=300)
    assert r_old.converged

    # perturb: two new chords, one new vertex hanging off the ring
    pairs2 = pairs + [(5, 27), (29, 13), (2, 30), (30, 2)]
    v2 = vertices_df(spark, vids + [30])
    e_new = edges_df(spark, pairs2)
    cold = pagerank(spark, e_new, vertices=v2, alpha=0.85, tol=1e-10,
                    max_iter=300)
    warm = pagerank(spark, e_new, vertices=v2, alpha=0.85, tol=1e-10,
                    max_iter=300, initial_ranks=r_old.ranks)
    assert cold.converged and warm.converged
    a = {r.vid: r.value for r in cold.ranks.collect()}
    b = {r.vid: r.value for r in warm.ranks.collect()}
    assert a.keys() == b.keys()
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], atol=1e-8)
    assert abs(sum(b.values()) - 1.0) < 1e-9
    assert warm.iterations < cold.iterations, (
        f"warm {warm.iterations} !< cold {cold.iterations}"
    )


def test_warm_start_zero_mass_fails_loudly(spark):
    v = vertices_df(spark, [0, 1, 2])
    e = edges_df(spark, [(0, 1), (1, 2), (2, 0)])
    zero = v.select("vid", F.lit(0.0).alias("value"))
    with pytest.raises(ValueError, match="initial_ranks total mass"):
        pagerank(spark, e, vertices=v, initial_ranks=zero, max_iter=2)


def _compiled_classes(spark):
    """Generated classes compiled so far in this JVM (Spark's codegen
    metrics count one compilation-time sample per compiled class)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_loop_compiles_nothing_per_iteration(spark):
    """No per-iteration value enters the plan, so every iteration's
    generated code is identical: once a short run has warmed Spark's
    codegen cache, a longer run on the same graph compiles nothing. The
    ring gets one dangling vertex: a loop that wrote the per-iteration
    dangling mass into its plan would compile anew every iteration."""
    v = vertices_df(spark, range(31))
    e = edges_df(spark, RING_CHORDS + [(2, 30)])
    pagerank(spark, e, vertices=v, tol=0.0, max_iter=4)
    before = _compiled_classes(spark)
    res = pagerank(spark, e, vertices=v, tol=0.0, max_iter=12)
    compiled = _compiled_classes(spark) - before  # before ranks are collected
    assert res.iterations == 12
    assert compiled == 0, f"{compiled} classes compiled by a warm call"


def test_dag_exact_in_depth_plus_two_iterations(spark):
    """On a DAG the link matrix is nilpotent: the iterate is exact after
    longest-path+1 updates and the next one confirms it (chain_dangling:
    longest path 3, so at most 5 iterations even at alpha=0.85)."""
    vids, pairs = HAND_GRAPHS["chain_dangling"]
    res = pagerank(
        spark, edges_df(spark, pairs), vertices=vertices_df(spark, vids),
        alpha=0.85, tol=1e-12, max_iter=300,
    )
    assert res.converged
    assert res.iterations <= 5, res.iterations
    ours = {r.vid: r.value for r in res.ranks.collect()}
    ref = pagerank_oracle(
        nx_digraph(vids, [(s, d, 1.0) for s, d in pairs]), alpha=0.85
    )
    ks = sorted(ref)
    a = np.array([ours[k] for k in ks])
    assert np.allclose(a, [ref[k] for k in ks], atol=1e-9)
    assert abs(a.sum() - 1.0) < 1e-9


def test_alpha_outside_unit_interval_fails_loudly(spark):
    """alpha = 1 leaves the linear system without its teleport term (the
    iterate has no fixpoint of positive mass on a graph with dangling
    vertices): rejected before any Spark work."""
    v = vertices_df(spark, [0, 1])
    e = edges_df(spark, [(0, 1)])
    for alpha in (1.0, -0.1):
        with pytest.raises(ValueError, match="alpha"):
            pagerank(spark, e, vertices=v, alpha=alpha)
