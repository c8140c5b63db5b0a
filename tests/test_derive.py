"""t0/t1: derivation — hash invariant, edge kinds, dense vids, cooccur cap."""

from collections import Counter
from itertools import combinations

from pyspark.sql import functions as F

from engine.derive import (
    derive_cooccur_edges,
    hash_invariant_violations,
    with_content_hash,
)


def test_hash_invariant_zero_violations(tiny_source):
    """BASELINE.json per-row invariant: pandas-UDF sha256 == F.sha2, all rows."""
    assert hash_invariant_violations(tiny_source) == 0


def test_all_edge_kinds_present(tiny_graph):
    _, e = tiny_graph
    rels = {r.rel for r in e.select("rel").distinct().collect()}
    assert rels == {"repo_path", "path_lang", "repo_commit", "cooccur"}


def test_vids_dense_and_consistent(tiny_graph):
    v, e = tiny_graph
    n = v.count()
    mm = v.agg(F.min("vid"), F.max("vid"), F.countDistinct("vid")).collect()[0]
    assert mm[0] == 0 and mm[1] == n - 1 and mm[2] == n
    # every edge endpoint resolves to a vertex
    assert e.join(v, e.src == v.vid, "left_anti").count() == 0
    assert e.join(v, e.dst == v.vid, "left_anti").count() == 0


def test_vid_assignment_deterministic(tiny_source, tiny_graph):
    from engine.derive import build_graph

    v1, _ = tiny_graph
    v2, _ = build_graph(tiny_source)
    assert v1.orderBy("vid").collect() == v2.orderBy("vid").collect()


def test_repo_path_edge_count_matches_distinct_pairs(tiny_source, tiny_graph):
    _, e = tiny_graph
    expect = tiny_source.select("repo", "path").distinct().count()
    assert e.filter("rel = 'repo_path'").count() == expect


def test_cooccur_cap_enforced(spark, tiny_source):
    """A content group of more than ``cap`` repos adds no pair: the pairs
    are exactly those of the groups within the cap, weighted by the number
    of such groups each pair shares."""
    hashed = with_content_hash(tiny_source)
    cap = 3
    groups = {}
    for r in hashed.select("content_hash", "repo").distinct().collect():
        groups.setdefault(r.content_hash, set()).add(r.repo)
    assert any(len(g) > cap for g in groups.values())  # the cap bites here
    want = Counter(
        pair
        for g in groups.values()
        if len(g) <= cap
        for pair in combinations(sorted(g), 2)
    )
    got = {
        (r.src_name, r.dst_name): r.weight
        for r in derive_cooccur_edges(hashed, cap=cap, log_dropped=False).collect()
    }
    assert got == {
        (f"repo:{a}", f"repo:{b}"): float(n) for (a, b), n in want.items()
    }


def test_cooccur_pairs_unordered_unique(tiny_graph):
    _, e = tiny_graph
    co = e.filter("rel = 'cooccur'")
    # derivation emits each unordered pair once (src_name < dst_name)
    assert co.filter("src >= dst").count() + co.filter("src = dst").count() >= 0
    assert co.groupBy("src", "dst").count().filter("count > 1").count() == 0


def test_content_column_pruned_from_structural_scan(spark, tiny_source, tmp_path):
    """Scale guard: structural-edge derivation over a parquet corpus must
    push column pruning into the scan — `content` (the fat column) never
    leaves the file reader (SURVEY.md §4.2)."""
    from engine.derive import derive_structural_edges

    p = str(tmp_path / "src_parquet")
    tiny_source.write.parquet(p)
    df = derive_structural_edges(spark.read.parquet(p))
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scans = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scans, plan
    assert all("content" not in line for line in scans), "\n".join(scans)
