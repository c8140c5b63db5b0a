"""Transitive near-dup clustering (dedup_clusters) vs a
networkx connected-components oracle over the candidate-pair graph."""

import networkx as nx
import pytest

from engine.dedup import dedup_clusters, minhash_candidates


def pairs_df(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "a long, b long")


def oracle_clusters(pairs):
    g = nx.Graph()
    g.add_edges_from(pairs)
    out = {}
    for comp in nx.connected_components(g):
        canon = min(comp)
        for d in comp:
            out[d] = canon
    return out


CASES = {
    "chain": [(1, 2), (2, 3), (3, 4)],          # one transitive cluster
    "two_clusters": [(1, 2), (5, 6), (6, 7)],
    "self_and_dup_pairs": [(1, 2), (2, 1), (3, 3), (3, 9)],
    "star": [(10, 1), (10, 2), (10, 3)],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_clusters_match_networkx(spark, name):
    pairs = CASES[name]
    got = {
        r.doc_id: r.canonical_id
        for r in dedup_clusters(spark, pairs_df(spark, pairs)).collect()
    }
    ref = oracle_clusters(pairs)
    assert got == ref, name


def test_end_to_end_with_minhash_candidates(spark):
    # two literal duplicates + one unique doc: the full pipeline
    # (shingle -> minhash -> band -> cc) clusters the pair under its min id
    # and leaves the unique doc out
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different content here " * 8)],
        "doc_id long, text string",
    )
    cands = minhash_candidates(docs).select("a", "b")
    got = {r.doc_id: r.canonical_id for r in dedup_clusters(spark, cands).collect()}
    assert got == {1: 1, 2: 1}
