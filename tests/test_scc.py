"""SCC (coloring + trim) vs networkx.strongly_connected_components —
exact, canonical label = min member vid."""

from __future__ import annotations

import networkx as nx
import pytest

from engine.algos.scc import strongly_connected_components
from tests.conftest import edges_df, vertices_df

HAND_GRAPHS = {
    # pure DAG: every vertex its own SCC (all work done by trim)
    "dag": [(0, 1), (0, 2), (1, 3), (2, 3)],
    # one 3-cycle with an entry and an exit tail
    "cycle_with_tails": [(9, 0), (0, 1), (1, 2), (2, 0), (2, 8)],
    # two 2-cycles joined by a one-way bridge (chain of SCCs)
    "two_cycles_bridge": [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2)],
    # nested: big cycle with an inner chord making one big SCC
    "chorded_cycle": [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)],
    # directed path (worst case for trimming depth)
    "path": [(i, i + 1) for i in range(6)],
}


def _nx_labels(pairs, extra_vids=()):
    g = nx.DiGraph()
    g.add_edges_from(pairs)
    g.add_nodes_from(extra_vids)
    out = {}
    for comp in nx.strongly_connected_components(g):
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


@pytest.mark.parametrize("name", sorted(HAND_GRAPHS))
def test_scc_hand_graphs(spark, name):
    pairs = HAND_GRAPHS[name]
    res = strongly_connected_components(spark, edges_df(spark, pairs))
    assert res.converged
    got = {r.vid: r.label for r in res.labels.collect()}
    assert got == _nx_labels(pairs)


def test_scc_random_digraph(spark):
    g = nx.gnm_random_graph(60, 180, seed=23, directed=True)
    pairs = list(g.edges)
    res = strongly_connected_components(spark, edges_df(spark, pairs))
    assert res.converged
    got = {r.vid: r.label for r in res.labels.collect()}
    want = _nx_labels(pairs)
    want = {v: l for v, l in want.items() if g.degree(v) > 0}
    assert got == want


def test_scc_extra_vertices_are_singletons(spark):
    pairs = [(0, 1), (1, 0)]
    v = vertices_df(spark, [0, 1, 7])
    res = strongly_connected_components(spark, edges_df(spark, pairs), vertices=v)
    got = {r.vid: r.label for r in res.labels.collect()}
    assert got == {0: 0, 1: 0, 7: 7}


def test_scc_labels_partition_every_vertex_once(spark):
    g = nx.gnm_random_graph(40, 160, seed=2, directed=True)
    res = strongly_connected_components(spark, edges_df(spark, list(g.edges)))
    rows = res.labels.collect()
    vids = [r.vid for r in rows]
    assert len(vids) == len(set(vids))  # each vertex assigned exactly once


def test_inner_exhaustion_reports_nonconvergence(spark):
    """A long cycle whose coloring cannot reach fixpoint within max_inner
    must come back converged=False with NO wrong labels (code-review
    regression: false roots used to be captured silently)."""
    n = 12
    pairs = [(i, (i + 1) % n) for i in range(n)]
    res = strongly_connected_components(
        spark, edges_df(spark, pairs), max_inner=3
    )
    assert not res.converged
    # nothing assigned: trimming removes nothing and coloring never settled
    assert res.labels.count() == 0
    # with room to converge the same graph is one component
    res2 = strongly_connected_components(spark, edges_df(spark, pairs))
    assert res2.converged
    got = {r.vid: r.label for r in res2.labels.collect()}
    assert got == {v: 0 for v in range(n)}
