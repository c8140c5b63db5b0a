"""t1: CSR-like edge layout, scoring projection, degrees, report ops."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine.graph import (
    in_degrees,
    load_edges_csr,
    neighbours,
    save_edges_csr,
    scoring_projection,
)
from engine.report import top_k
from tests.conftest import edges_df


def test_csr_roundtrip_and_sorted_runs(spark, tiny_graph, tmp_path):
    _, e = tiny_graph
    path = str(tmp_path / "edges_csr")
    save_edges_csr(e, path, buckets=4)
    back = load_edges_csr(spark, path)
    assert back.count() == e.count()
    assert set(back.columns) == {"src", "dst", "rel", "weight"}
    # bucket layout on disk
    buckets = [d for d in os.listdir(path) if d.startswith("src_bucket=")]
    assert len(buckets) == 4
    # src-sorted runs inside each file (the CSR property)
    f = next(
        os.path.join(path, buckets[0], x)
        for x in os.listdir(os.path.join(path, buckets[0]))
        if x.endswith(".parquet")
    )
    t = pq.read_table(f, columns=["src", "dst"]).to_pydict()
    pairs = list(zip(t["src"], t["dst"]))
    assert pairs == sorted(pairs)


def test_in_degrees(spark):
    e = edges_df(spark, [(i, 0, 0.5) for i in range(1, 9)] + [(0, 1, 2.0)])
    got = {r.vid: (r.in_w, r.in_deg) for r in in_degrees(e).collect()}
    assert got == {0: (4.0, 8), 1: (2.0, 1)}


def test_neighbours_collapses_and_drops_loops(spark):
    e = edges_df(spark, [(0, 1), (1, 0), (0, 1), (1, 1), (2, 1)])
    got = sorted((r.u, r.v) for r in neighbours(e).collect())
    assert got == [(0, 1), (1, 0), (1, 2), (2, 1)]


def test_scoring_projection_adds_damped_reverse(spark):
    """Verum S1: reverse edges at half weight so relevance flows upstream."""
    e = edges_df(spark, [(0, 1, 2.0)])
    s = {(r.src, r.dst): r.weight for r in scoring_projection(e, 0.5).collect()}
    assert s == {(0, 1): 2.0, (1, 0): 1.0}


def test_top_k_report(spark, tiny_graph):
    v, _ = tiny_graph
    scores = v.select("vid", (F.col("vid") * 1.0).alias("value"))
    t = top_k(scores, v, k=5).collect()
    assert len(t) == 5
    assert [r.vid for r in t] == sorted([r.vid for r in t], reverse=True)


def test_scalable_vid_assignment_matches_window_path(spark, tiny_graph):
    """The range-partition + prefix-sum path must produce EXACTLY the vids of
    the row_number window path (VERDICT r1 item 6): vid = global rank of
    name, invariant to where the sampled range boundaries fall."""
    from engine.graph import assign_vertex_ids

    v, _ = tiny_graph
    names = v.select("name")
    window = {r.name: r.vid for r in assign_vertex_ids(names, scalable=False).collect()}
    scalable = {r.name: r.vid for r in assign_vertex_ids(names, scalable=True).collect()}
    assert window == scalable
    # dense 0..N-1
    assert sorted(scalable.values()) == list(range(len(scalable)))
    # vtype column intact on the scalable path
    row = assign_vertex_ids(names, scalable=True).filter("name LIKE 'repo:%'").first()
    assert row.vtype == "repo"


def test_scalable_vid_assignment_checks_the_id_layout(spark, tiny_graph, monkeypatch):
    """The scalable path reads local ranks off the monotonically_increasing_id
    bit layout; an id that is not pid*2^33 + a row counter must fail loudly,
    not yield shifted vids."""
    import pytest

    from engine.graph import assign_vertex_ids

    v, _ = tiny_graph
    mid = F.monotonically_increasing_id
    monkeypatch.setattr(F, "monotonically_increasing_id", lambda: mid() + 1)
    with pytest.raises(RuntimeError, match="monotonically_increasing_id"):
        assign_vertex_ids(v.select("name"), scalable=True)


def test_scalable_vid_parallelism_invariant(spark, tiny_graph):
    """Same vids regardless of shuffle partition count (partition boundaries
    move, global ranks don't)."""
    from engine.graph import assign_vertex_ids

    v, _ = tiny_graph
    names = v.select("name")
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = {r.name: r.vid for r in assign_vertex_ids(names, scalable=True).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = {r.name: r.vid for r in assign_vertex_ids(names, scalable=True).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b


def test_bucketed_table_no_edge_exchange(spark, tiny_graph):
    """ADVICE r1: the zero-edge-shuffle claim must be REALIZED — a bucketed
    (bucketBy src) table re-read exposes HashPartitioning(src), so
    groupBy(src) and the PageRank prep run with no Exchange on the edge
    side, and pagerank(edges_pre_partitioned=True) matches the plain run."""
    import numpy as np
    from engine.algos.pagerank import pagerank, _prepare_edges
    from engine.loop import iterative_conf
    from engine.graph import load_edges_bucketed, save_edges_bucketed

    v, e = tiny_graph
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    save_edges_bucketed(e, "edges_bucketed_test", buckets=P)
    back = load_edges_bucketed(spark, "edges_bucketed_test")
    assert back.count() == e.count()

    # groupBy on the bucket column: no shuffle above the scan
    plan = (
        back.groupBy("src").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan

    # the whole _prepare_edges chain stays exchange-free on the edge side
    with iterative_conf(spark):
        norm, _ = _prepare_edges(back, True, P, pre_partitioned=True)
        nplan = norm._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in nplan, nplan

    r_plain = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6)
    r_bucket = pagerank(
        spark, back, vertices=v, tol=0.0, max_iter=6, edges_pre_partitioned=True
    )
    a = {r.vid: r.value for r in r_plain.ranks.collect()}
    b = {r.vid: r.value for r in r_bucket.ranks.collect()}
    assert a.keys() == b.keys()
    assert np.allclose(
        [a[k] for k in sorted(a)], [b[k] for k in sorted(b)], atol=1e-12
    )
    spark.sql("DROP TABLE IF EXISTS edges_bucketed_test")


def test_reciprocity_matches_networkx(spark):
    import networkx as nx
    import pytest
    from engine.graph import reciprocity

    g = nx.gnm_random_graph(30, 120, seed=9, directed=True)
    got = reciprocity(edges_df(spark, list(g.edges)))
    assert got == pytest.approx(nx.reciprocity(g), abs=1e-12)
    # hand graphs: pure hierarchy -> 0, full 2-cycle -> 1
    assert reciprocity(edges_df(spark, [(0, 1), (1, 2)])) == 0.0
    assert reciprocity(edges_df(spark, [(0, 1), (1, 0)])) == 1.0
    import math
    assert math.isnan(reciprocity(edges_df(spark, [(3, 3)])))


def test_density_matches_networkx(spark):
    import networkx as nx
    import pytest
    from engine.graph import graph_density

    gd = nx.gnm_random_graph(25, 90, seed=4, directed=True)
    assert graph_density(edges_df(spark, list(gd.edges))) == pytest.approx(
        nx.density(gd), abs=1e-12
    )
    gu = nx.gnm_random_graph(25, 60, seed=5)
    pairs = list(gu.edges) + [(b, a) for a, b in gu.edges]
    assert graph_density(
        edges_df(spark, pairs), directed=False
    ) == pytest.approx(nx.density(gu), abs=1e-12)
