"""k-core decomposition: h-index-fixpoint core numbers must equal
``networkx.core_number`` exactly."""

from __future__ import annotations

import networkx as nx
import pytest

from engine.algos.kcore import core_numbers
from tests.conftest import edges_df, vertices_df

HAND_GRAPHS = {
    # path: cores all 1 — exercises the slow chain-propagation regime
    "path": [(i, i + 1) for i in range(8)],
    # clique K5 with a tail: clique cores 4, tail decays 1
    "clique_tail": [(i, j) for i in range(5) for j in range(i + 1, 5)]
    + [(4, 5), (5, 6)],
    # star: hub and leaves all core 1
    "star": [(0, i) for i in range(1, 9)],
    # two triangles joined by a bridge: every vertex core 2, the bridge
    # edge itself is not in any 2-core-breaking position
    "two_triangles_bridge": [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (0, 3)],
}


def _nx_graph(pairs):
    g = nx.Graph()
    g.add_edges_from(pairs)
    return g


@pytest.mark.parametrize("name", sorted(HAND_GRAPHS))
def test_core_numbers_hand_graphs(spark, name):
    pairs = HAND_GRAPHS[name]
    res = core_numbers(spark, edges_df(spark, pairs))
    assert res.converged
    got = {r.vid: r.core for r in res.cores.collect()}
    assert got == nx.core_number(_nx_graph(pairs))


def test_core_numbers_random_graph(spark):
    g = nx.gnm_random_graph(120, 420, seed=7)
    pairs = list(g.edges)
    res = core_numbers(spark, edges_df(spark, pairs))
    assert res.converged
    got = {r.vid: r.core for r in res.cores.collect()}
    want = nx.core_number(g)
    # isolated vertices (possible in gnm) never reach the edge table; the
    # vertices= contract covers them separately below
    assert got == {v: c for v, c in want.items() if g.degree[v] > 0}


def test_isolated_vertices_core_zero(spark):
    pairs = [(0, 1), (1, 2), (2, 0)]
    v = vertices_df(spark, [0, 1, 2, 9])
    res = core_numbers(spark, edges_df(spark, pairs), vertices=v)
    got = {r.vid: r.core for r in res.cores.collect()}
    assert got == {0: 2, 1: 2, 2: 2, 9: 0}


def test_core_numbers_on_fixture_graph(spark, tiny_graph, tiny_nx):
    _, e = tiny_graph
    res = core_numbers(spark, e)
    assert res.converged
    got = {r.vid: r.core for r in res.cores.collect()}
    want = nx.core_number(tiny_nx.to_undirected())
    assert got == want
