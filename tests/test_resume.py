"""t5: checkpoint / resume / determinism (BASELINE.json resumability)."""

import os
import shutil

import numpy as np
import pytest

from engine import loop
from engine.algos.pagerank import pagerank
from engine.io import MANIFEST, STAGING, RunCheckpoint


@pytest.fixture()
def ckpt_base(tmp_path):
    return str(tmp_path / "runs")


def _vals(df):
    return {r.vid: r.value for r in df.collect()}


def test_resume_equals_uninterrupted(spark, tiny_graph, ckpt_base):
    v, e = tiny_graph
    # Fixed-iteration runs: equality of the resumed vs uninterrupted
    # trajectory is the property; convergence depth is covered elsewhere.
    full = RunCheckpoint(ckpt_base, "full")
    r_full = pagerank(spark, e, vertices=v, tol=0.0, max_iter=12, checkpoint=full)

    part = RunCheckpoint(ckpt_base, "part")
    pagerank(spark, e, vertices=v, tol=0.0, max_iter=4, checkpoint=part)
    assert part.latest() == 4
    r_res = pagerank(
        spark, e, vertices=v, tol=0.0, max_iter=12, checkpoint=part, resume=True
    )
    assert r_res.resumed_from == 4
    assert r_res.iterations == r_full.iterations
    a, b = _vals(r_full.ranks), _vals(r_res.ranks)
    ks = sorted(a)
    # Both runs read identical per-iteration parquet states, so the only
    # divergence source is the reducer merge order of float partial sums
    # within an iteration (~1e-17/iter, non-compounding past the next
    # checkpoint round-trip). Usually bit-identical; assert to 1e-12 —
    # six orders stricter than the 1e-6 parity target.
    assert max(abs(a[k] - b[k]) for k in ks) < 1e-12


def test_resume_ignores_undeclared_uncommitted_iteration(spark, tiny_graph, ckpt_base):
    """Crash debris WITHOUT a staging declaration (unknown layout) must be
    ignored: resume restarts from the last COMMITTED iteration."""
    v, e = tiny_graph
    ck = RunCheckpoint(ckpt_base, "crash")
    pagerank(spark, e, vertices=v, tol=0.0, max_iter=3, checkpoint=ck)
    assert ck.latest() == 3
    # fake an uncommitted iter=4: copy state dir, no MANIFEST, no STAGING
    src_dir = os.path.dirname(ck.state_path(3))
    dst_dir = os.path.dirname(ck.state_path(4))
    shutil.copytree(src_dir, dst_dir)
    os.remove(os.path.join(dst_dir, MANIFEST))
    staging = os.path.join(dst_dir, STAGING)
    if os.path.exists(staging):
        os.remove(staging)
    assert ck.latest() == 3  # uncommitted iteration invisible
    assert ck.staging_info(4) is None
    r = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6, checkpoint=ck, resume=True)
    assert r.resumed_from == 3


def test_mid_iteration_salvage(spark, tiny_graph, ckpt_base):
    """Crash DURING iteration 5's partitioned state write (staging marker +
    half the hash-partition files): resume recomputes only the missing
    partitions, seals iteration 5, and the final trajectory matches an
    uninterrupted run to 1e-12."""
    v, e = tiny_graph
    n_v = v.count()
    full = RunCheckpoint(ckpt_base, "mfull")
    r_full = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6, checkpoint=full)

    crash = RunCheckpoint(ckpt_base, "mcrash")
    pagerank(spark, e, vertices=v, tol=0.0, max_iter=5, checkpoint=crash)
    assert crash.latest() == 5
    # demote iteration 5 to "crashed mid-write": drop its manifest and half
    # of its hash-partitioned files, keep the staging marker the writer left
    state_dir = crash.state_path(5)
    parts = sorted(
        f for f in os.listdir(state_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) >= 2
    for f in parts[::2]:
        os.remove(os.path.join(state_dir, f))
    os.remove(os.path.join(os.path.dirname(state_dir), MANIFEST))
    assert crash.latest() == 4
    assert crash.staging_info(5) is not None
    kept = crash.staged_partitions(5)
    assert 0 < len(kept) < len(parts)

    r = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6, checkpoint=crash, resume=True)
    assert r.resumed_from == 4
    sal = [h for h in crash.metrics_history() if h["iter"] == 5][0]
    assert sal["salvaged_partitions"] >= 1
    # the sealed iteration 5 holds exactly one row per vertex (no dup/loss)
    assert sum(p["rows"] for p in crash.manifest(5)["partitions"]) == n_v
    a, b = _vals(r_full.ranks), _vals(r.ranks)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_salvage_clears_committer_debris_and_truncated_files(
    spark, tiny_graph, ckpt_base, monkeypatch
):
    """Crash mid-write can leave (a) committed task dirs under the
    FileOutputCommitter v1 job-attempt path ``_temporary/0`` — which the
    salvage append's commitJob would otherwise merge, duplicating rows —
    and (b) a part file truncated mid-stream, whose corrupt footer would
    fail the post-salvage read. Salvage must clear both (ADVICE r2).

    The fixture needs at least 3 state files. The loop's partition count
    is floored at the executor's task slots, and at this scale equals it,
    so the slot count is pinned to 4 rather than read from the host."""
    monkeypatch.setattr(loop, "_executor_cores", lambda spark: 4)
    v, e = tiny_graph
    n_v = v.count()
    full = RunCheckpoint(ckpt_base, "dfull")
    r_full = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6, checkpoint=full)

    crash = RunCheckpoint(ckpt_base, "dcrash")
    pagerank(spark, e, vertices=v, tol=0.0, max_iter=5, checkpoint=crash)
    state_dir = crash.state_path(5)
    parts = sorted(
        f for f in os.listdir(state_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) >= 3
    # (a) stale committed task dir under _temporary/0 holding a full copy of
    # a partition file that WILL also be recomputed by the salvage append
    task_dir = os.path.join(state_dir, "_temporary", "0", "task_000_m_000000")
    os.makedirs(task_dir)
    shutil.copy(os.path.join(state_dir, parts[0]), os.path.join(task_dir, parts[0]))
    # (b) truncate one kept file mid-stream (corrupt footer), remove another
    # outright — both become "missing" partitions for salvage
    trunc = os.path.join(state_dir, parts[0])
    sz = os.path.getsize(trunc)
    with open(trunc, "r+b") as fh:
        fh.truncate(sz // 2)
    os.remove(os.path.join(state_dir, parts[1]))
    os.remove(os.path.join(os.path.dirname(state_dir), MANIFEST))
    assert crash.latest() == 4
    kept = crash.staged_partitions(5)  # also deletes the truncated file
    assert len(kept) == len(parts) - 2
    assert not os.path.exists(trunc)

    r = pagerank(spark, e, vertices=v, tol=0.0, max_iter=6, checkpoint=crash, resume=True)
    assert r.resumed_from == 4
    assert not os.path.exists(os.path.join(state_dir, "_temporary"))
    # sealed iteration 5: exactly one row per vertex — the stale task dir
    # did not resurrect a duplicate partition
    assert sum(p["rows"] for p in crash.manifest(5)["partitions"]) == n_v
    state5 = crash.read(spark, 5)
    assert state5.count() == n_v
    assert state5.select("vid").distinct().count() == n_v
    a, b = _vals(r_full.ranks), _vals(r.ranks)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_manifest_lineage_and_metrics(spark, tiny_graph, ckpt_base):
    v, e = tiny_graph
    ck = RunCheckpoint(ckpt_base, "meta")
    pagerank(spark, e, vertices=v, tol=0.0, max_iter=2, checkpoint=ck)
    m = ck.manifest(1)
    assert m["iter"] == 1
    assert m["partitions"] and all(
        p["rows"] >= 0 and p["bytes"] > 0 for p in m["partitions"]
    )
    for key in ("l1_delta", "wall_s", "edges_per_s", "n_edges", "n_vertices"):
        assert key in m["metrics"]
    # history accessor
    hist = ck.metrics_history()
    assert [h["iter"] for h in hist] == [1, 2]


_PAR_INVARIANCE_SCRIPT = r"""
import sys
import numpy as np
from engine.datagen import source_files
from engine.derive import build_graph
from engine.session import get_spark
from engine import loop
from engine.algos.pagerank import pagerank

ref = None
for par in (2, 8):
    s = get_spark(par, app_name=f"t5-par{par}", shuffle_partitions=par)
    try:
        src = source_files(s, 200, 10).cache()
        src.count()
        v, e = build_graph(src, log_dropped=False)
        r = pagerank(s, e, vertices=v, tol=0.0, max_iter=12)
        vals = {row.vid: row.value for row in r.ranks.collect()}
    finally:
        s.stop()
    if ref is None:
        ref = vals
    else:
        ks = sorted(ref)
        assert set(vals) == set(ref)
        d = max(abs(ref[k] - vals[k]) for k in ks)
        print("MAXDIFF", d)
        assert d < 1e-12, d
print("PAR_INVARIANCE_OK")
"""


def test_parallelism_invariance():
    """Same job at local[2] vs local[8] -> allclose 1e-12 (SURVEY §5.2 t5).
    Runs in a subprocess: getOrCreate would otherwise reuse the suite's
    shared local[n] context and ignore the master setting."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    # Strip the parent session's gateway vars: inherited, they would attach
    # the subprocess to THIS JVM and silently reuse its local[n] master.
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith(("PYSPARK_GATEWAY", "SPARK_CONNECT"))
    }
    env["PYTHONPATH"] = repo
    out = subprocess.run(
        [sys.executable, "-c", _PAR_INVARIANCE_SCRIPT],
        capture_output=True, text=True, timeout=900, cwd=repo, env=env,
    )
    assert "PAR_INVARIANCE_OK" in out.stdout, out.stdout + out.stderr


def test_hadoop_fs_backend_file_uri(spark, tiny_graph, tmp_path):
    """The checkpoint filesystem (hdfs:// / s3a:// on a cluster) exercised
    through the Java LocalFileSystem via a file:// URI: manifest
    write/read, lineage from footers, committed_iters, resume read."""
    v, e = tiny_graph
    base = f"file://{tmp_path}/runs"
    ck = RunCheckpoint(base, "hfs", spark=spark)
    r = pagerank(spark, e, vertices=v, tol=0.0, max_iter=3, checkpoint=ck)
    assert ck.committed_iters() == [1, 2, 3]
    man = ck.manifest(3)
    assert man["iter"] == 3 and man["partitions"]
    assert sum(p["rows"] for p in man["partitions"]) == v.count()
    # resume through a reopened handle on the same URI
    ck2 = RunCheckpoint(base, "hfs", spark=spark)
    r2 = pagerank(
        spark, e, vertices=v, tol=0.0, max_iter=5, checkpoint=ck2, resume=True
    )
    assert r2.resumed_from == 3 and r2.iterations == 5
    # trajectory identical to an uninterrupted run under a schemeless path
    ck3 = RunCheckpoint(str(tmp_path / "runs_local"), "plain")
    r3 = pagerank(spark, e, vertices=v, tol=0.0, max_iter=5, checkpoint=ck3)
    a, b = _vals(r2.ranks), _vals(r3.ranks)
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)
