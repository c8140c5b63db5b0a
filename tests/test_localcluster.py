"""PPR sweep cut (engine/algos/localcluster.py) vs networkx — exact
conductance/volume/cut parity at every prefix of the engine's own sweep
order, planted-community recovery, explicit-scores determinism, and the
error/truncation contracts."""

from __future__ import annotations

import networkx as nx
import pytest

from engine.algos.localcluster import ppr_sweep
from tests.conftest import edges_df


def _sweep_rows(res):
    return [r.asDict() for r in res.sweep.orderBy("sweep_rank").collect()]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _check_curve_vs_nx(g: nx.Graph, res):
    """Every (vol, cut, conductance) row must equal the nx computation on
    the same prefix (prefixes taken from the engine's own order, so the
    check is order-agnostic yet value-exact — integer arithmetic both
    sides)."""
    rows = _sweep_rows(res)
    prefix: set = set()
    tot = 2 * g.number_of_edges()
    for row in rows:
        prefix.add(row["vid"])
        assert row["vol"] == nx.volume(g, prefix), row
        assert row["cut"] == nx.cut_size(g, prefix), row
        denom = min(nx.volume(g, prefix), tot - nx.volume(g, prefix))
        if denom > 0:
            assert row["conductance"] == pytest.approx(
                nx.conductance(g, prefix), abs=1e-12
            ), row
        else:
            assert row["conductance"] is None, row


def test_sweep_curve_matches_networkx_random_graph(spark):
    g = nx.gnm_random_graph(40, 120, seed=11)
    g.remove_nodes_from([v for v in list(g.nodes) if g.degree(v) == 0])
    res = ppr_sweep(spark, edges_df(spark, list(g.edges)), seeds=[0], tol=1e-7)
    assert res.support > 0 and not res.truncated
    _check_curve_vs_nx(g, res)
    # best_* is the argmin of the returned curve
    defined = [r for r in _sweep_rows(res) if r["conductance"] is not None]
    want = min(defined, key=lambda r: (r["conductance"], r["sweep_rank"]))
    assert res.best_rank == want["sweep_rank"]
    assert res.best_conductance == pytest.approx(want["conductance"], abs=1e-12)
    assert res.members.count() == res.best_rank


def test_recovers_planted_clique_community(spark):
    # Two K8 cliques joined by ONE bridge edge; seeding inside clique A
    # must return exactly clique A (phi(A) = 1/57; any other prefix cuts
    # clique-internal edges or drags in B's bridge endpoint at cut 7).
    a = list(range(8))
    b = list(range(100, 108))
    pairs = (
        [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
        + [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
        + [(0, 100)]
    )
    res = ppr_sweep(spark, edges_df(spark, pairs), seeds=[3], tol=1e-8)
    got = {r.vid for r in res.members.collect()}
    assert got == set(a)
    assert res.best_conductance == pytest.approx(1 / 57, abs=1e-12)


def test_explicit_scores_define_the_order(spark):
    # A path 0-1-2-3; hand scores force the order 2, 3, 1, 0 (score/deg:
    # 2 -> 8/2, 3 -> 3/1, 1 -> 4/2, 0 -> 1/1) regardless of any PPR.
    pairs = [(0, 1), (1, 2), (2, 3)]
    scores = spark.createDataFrame(
        [(0, 1.0), (1, 4.0), (2, 8.0), (3, 3.0)], "vid long, value double"
    )
    res = ppr_sweep(spark, edges_df(spark, pairs), seeds=[0], scores=scores)
    rows = _sweep_rows(res)
    assert [r["vid"] for r in rows] == [2, 3, 1, 0]
    # hand-checked curve: vol/cut over prefixes {2},{2,3},{2,3,1},{all}
    assert [(r["vol"], r["cut"]) for r in rows] == [
        (2, 2), (3, 1), (5, 1), (6, 0)]
    # best = prefix {2,3,1}: phi = 1/min(5, 1) = 1 vs {2,3}: 1/3 -> min 1/3
    assert res.best_rank == 2
    assert res.best_conductance == pytest.approx(1 / 3, abs=1e-12)


def test_directed_input_is_symmetrized(spark):
    # Directed path ring; conductance is over the undirected view.
    pairs = [(i, (i + 1) % 6) for i in range(6)]
    g = nx.Graph(pairs)
    res = ppr_sweep(spark, edges_df(spark, pairs), seeds=[0], tol=1e-7)
    _check_curve_vs_nx(g, res)


def test_seed_missing_raises(spark):
    with pytest.raises(ValueError, match="seeds absent"):
        ppr_sweep(spark, edges_df(spark, [(0, 1)]), seeds=[99])
    with pytest.raises(ValueError, match="empty seed list"):
        ppr_sweep(spark, edges_df(spark, [(0, 1)]), seeds=[])


def test_top_k_truncation_is_flagged(spark):
    g = nx.gnm_random_graph(30, 90, seed=5)
    g.remove_nodes_from([v for v in list(g.nodes) if g.degree(v) == 0])
    res = ppr_sweep(
        spark, edges_df(spark, list(g.edges)), seeds=[0], tol=1e-7, top_k=5
    )
    assert res.truncated
    assert res.sweep.count() == 5
    assert res.support > 5
    # the truncated curve still prices its prefixes exactly
    _check_curve_vs_nx(g, res)


def test_sweep_edge_binning_broadcast_only(spark):
    # localcluster._bin_edges_by_rank: the O(E) prefix-pricing pass must
    # broadcast the (<= top_k)-row rank map, never shuffle the edge table
    from engine.algos.localcluster import _bin_edges_by_rank

    canon = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    ).cache()
    canon.count()
    rank_map = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "vid long, sweep_rank int"
    )
    binned = _bin_edges_by_rank(canon, rank_map, 10)
    plan = _plan(binned)
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("Exchange hashpartitioning") == 0
