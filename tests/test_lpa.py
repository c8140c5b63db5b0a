"""t2: label propagation vs the deterministic-spec oracle (SURVEY.md §5.3)."""

import random

import pytest

from engine.algos.lpa import label_propagation
from tests.conftest import edges_df, vertices_df
from tests.oracle_lpa import lpa_oracle

HAND = {
    "two_cliques_bridge": (
        list(range(8)),
        [(0, 1), (0, 2), (1, 2), (0, 3), (1, 3), (2, 3),
         (4, 5), (4, 6), (5, 6), (4, 7), (5, 7), (6, 7), (3, 4)],
    ),
    "two_cycle_oscillator": ([0, 1], [(0, 1)]),
    "square_oscillator": ([0, 1, 2, 3], [(0, 1), (1, 2), (2, 3), (3, 0)]),
    "isolated": ([0, 1, 2], [(0, 1)]),
    "star": (list(range(6)), [(0, i) for i in range(1, 6)]),
}


def _check(spark, vids, pairs):
    v = vertices_df(spark, vids)
    e = edges_df(spark, pairs)
    res = label_propagation(spark, e, v, max_iter=30)
    ours = {r.vid: r.label for r in res.labels.collect()}
    ref = lpa_oracle(vids, pairs, max_iter=30)
    assert ours == ref


@pytest.mark.parametrize("name", sorted(HAND))
def test_hand_graphs(spark, name):
    _check(spark, *HAND[name])


def test_random_graphs_exact(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(4, 30)
        m = rng.randint(0, n * 2)
        vids = list(range(n))
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        _check(spark, vids, pairs)


def test_corpus_graph_matches_oracle(spark, tiny_graph):
    v, e = tiny_graph
    res = label_propagation(spark, e, v, max_iter=30)
    ours = {r.vid: r.label for r in res.labels.collect()}
    vids = [r.vid for r in v.select("vid").collect()]
    pairs = [(r.src, r.dst) for r in e.select("src", "dst").collect()]
    assert ours == lpa_oracle(vids, pairs, max_iter=30)


def _modularity(spark, e, labels):
    """Newman Q assembled from the integer rows ``community_edge_stats``
    returns (driver query g16): sum_c [L_c/m - (deg_c/2m)^2]."""
    from engine.algos.lpa import community_edge_stats

    rows = community_edge_stats(spark, e, labels).collect()
    m = sum(r.deg_c for r in rows) // 2
    return sum(r.l_c / m - (r.deg_c / (2.0 * m)) ** 2 for r in rows)


def test_modularity_matches_networkx(spark):
    import networkx as nx
    from engine.algos.lpa import label_propagation

    # two dense blobs + a sparse bridge: clear community structure
    pairs = (
        [(i, j) for i in range(6) for j in range(i + 1, 6)]
        + [(i, j) for i in range(6, 12) for j in range(i + 1, 12)]
        + [(0, 6)]
    )
    e = edges_df(spark, pairs)
    res = label_propagation(spark, e)
    labels = {r.vid: r.label for r in res.labels.collect()}
    got = _modularity(spark, e, res.labels)

    g = nx.Graph(pairs)
    comms = {}
    for v, l in labels.items():
        comms.setdefault(l, set()).add(v)
    want = nx.algorithms.community.modularity(g, list(comms.values()))
    assert got == pytest.approx(want, abs=1e-12)
    assert got > 0.3  # the two blobs are a genuinely modular split


def test_modularity_single_community_is_zero_minus_degree_term(spark):
    import networkx as nx
    from pyspark.sql import functions as F

    pairs = [(0, 1), (1, 2), (2, 0)]
    e = edges_df(spark, pairs)
    one = (
        e.select(F.col("src").alias("vid")).unionByName(
            e.select(F.col("dst").alias("vid"))
        ).distinct().select("vid", F.lit(0).alias("label"))
    )
    got = _modularity(spark, e, one)
    g = nx.Graph(pairs)
    want = nx.algorithms.community.modularity(g, [set(g.nodes)])
    assert got == pytest.approx(want, abs=1e-12)
