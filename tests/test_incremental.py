"""Incremental graph maintenance (engine/incremental.py): folding batches
into the maintained state must equal a full rebuild over the union, and old
vertices must keep their vids (the warm-start/stored-label contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.datagen import source_files
from engine.derive import build_graph, derive_name_edges
from engine.incremental import initial_state, update_graph

EDGE_COLS = ["src_name", "dst_name", "rel", "weight"]


def _edge_set(name_edges):
    return {
        (r.src_name, r.dst_name, r.rel, round(float(r.weight), 9))
        for r in name_edges.select(*EDGE_COLS).collect()
    }


def _full_edge_set(source, cap):
    return _edge_set(derive_name_edges(source, cap, log_dropped=False))


@pytest.fixture(scope="module")
def split_source(spark):
    """One deterministic corpus split into three deterministic batches."""
    src = source_files(spark, 600, 12).cache()
    src.count()
    bucket = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4))
    parts = [
        src.filter(bucket < 2),       # initial snapshot (~half)
        src.filter(bucket == 2),      # day-1 batch
        src.filter(bucket == 3),      # day-2 batch
    ]
    return src, parts


def test_two_batches_match_full_rebuild(spark, split_source):
    src, (p0, p1, p2) = split_source
    cap = 6  # small enough that batches push some content groups over it
    v, e, ne, m = initial_state(p0, cap=cap, log_dropped=False)
    assert _edge_set(ne) == _full_edge_set(p0, cap)
    vids0 = {r.name: r.vid for r in v.collect()}

    v, e, ne, m = update_graph(v, ne, m, p1, cap=cap, log_dropped=False)
    assert _edge_set(ne) == _full_edge_set(p0.unionByName(p1), cap)

    v, e, ne, m = update_graph(v, ne, m, p2, cap=cap, log_dropped=False)
    assert _edge_set(ne) == _full_edge_set(src, cap)

    # vid stability: every initial name keeps its vid through both updates
    vids2 = {r.name: r.vid for r in v.collect()}
    assert all(vids2[n] == i for n, i in vids0.items())
    # new names got ids past the old max, still dense + unique
    assert len(set(vids2.values())) == len(vids2)
    assert min(set(vids2.values()) - set(vids0.values()), default=10**9) > max(
        vids0.values()
    )

    # the vid-encoded edge table agrees with the name-space one
    full_v, full_e = build_graph(src, cooccur_cap=cap, log_dropped=False)
    assert e.count() == full_e.count()
    by_name = {
        (r.sn, r.dn, r.rel): float(r.weight)
        for r in e.join(
            v.select(F.col("vid").alias("src"), F.col("name").alias("sn")), "src"
        )
        .join(v.select(F.col("vid").alias("dst"), F.col("name").alias("dn")), "dst")
        .select("sn", "dn", "rel", "weight")
        .collect()
    }
    assert {
        (a, b, r): w for (a, b, r, w) in _full_edge_set(src, cap)
    } == {(a, b, r): round(w, 9) for (a, b, r), w in by_name.items()}


def test_cap_crossing_removes_stale_pairs(spark):
    """A content group pushed OVER the cap by a batch must retract the pairs
    it contributed before — matching the full rebuild exactly."""
    def rows(repos, h):
        return [(r, f"f{h}.py", "c0", "python", f"content-{h}") for r in repos]

    cap = 3
    old = spark.createDataFrame(
        rows(["r1", "r2", "r3"], "shared") + rows(["r1"], "solo"),
        "repo string, path string, commit string, lang string, content string",
    )
    batch = spark.createDataFrame(
        rows(["r4"], "shared"),
        "repo string, path string, commit string, lang string, content string",
    )
    v, e, ne, m = initial_state(old, cap=cap, log_dropped=False)
    before = {t for t in _edge_set(ne) if t[2] == "cooccur"}
    assert len(before) == 3  # r1-r2, r1-r3, r2-r3

    v, e, ne, m = update_graph(v, ne, m, batch, cap=cap, log_dropped=False)
    after = {t for t in _edge_set(ne) if t[2] == "cooccur"}
    assert after == set()  # group of 4 > cap: contributions retracted
    assert _edge_set(ne) == _full_edge_set(old.unionByName(batch), cap)
    # monotone vertices: the repo names stay resolvable (with no edges)
    assert {r.name for r in v.collect()} >= {"repo:r1", "repo:r2", "repo:r3"}


def test_duplicate_batch_is_a_noop_on_edges(spark, split_source):
    """Re-delivering rows already folded in (at-least-once upstream) must
    not change any weight: membership is distinct facts, structural dedups."""
    _, (p0, p1, _) = split_source
    cap = 6
    v, e, ne, m = initial_state(p0, cap=cap, log_dropped=False)
    v, e, ne, m = update_graph(v, ne, m, p1, cap=cap, log_dropped=False)
    want = _edge_set(ne)
    v2, e2, ne2, m2 = update_graph(v, ne, m, p1, cap=cap, log_dropped=False)
    assert _edge_set(ne2) == want
