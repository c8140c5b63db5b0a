"""engine.loop: the loop conf's sizing, the state step's plan statistics
and the release of superseded states.

A loop state that carries its origin plan's statistics squares its size
estimate every round when the loop body reads it twice, so after a dozen
rounds the planner multiplies numbers tens of thousands of bits long. The
step drops those statistics; the returned frames must then estimate the
same size after 4 rounds as after 12. This also checks at runtime the
``LogicalRDD$.apply`` internals the stripping relies on: if a Spark upgrade
makes it a no-op, the estimates grow again and these tests fail."""

from __future__ import annotations

import pytest

from engine.algos.kcore import core_numbers
from engine.algos.lpa import label_propagation
from engine.algos.pagerank import pagerank
from engine.algos.query import context_query
from engine.algos.sssp import shortest_paths
from engine.loop import _executor_cores, iterative_conf, release, step
from tests.conftest import edges_df, vertices_df

PATH = [(i, i + 1) for i in range(40)]  # 41 vertices, 40 edges


def _run(spark, name, rounds):
    e = edges_df(spark, PATH)
    if name == "lpa":
        r = label_propagation(spark, e, max_iter=rounds)
        return r.labels, r.iterations
    if name == "kcore":
        r = core_numbers(spark, e, max_iter=rounds)
        return r.cores, r.iterations
    src = spark.createDataFrame([(0,)], "vid long")
    r = shortest_paths(spark, e, src, max_iter=rounds)
    return r.distances, r.iterations


@pytest.mark.parametrize("name", ["lpa", "kcore", "sssp"])
def test_loop_state_statistics_do_not_grow(spark, name):
    stats = {}
    for rounds in (4, 12):
        df, iterations = _run(spark, name, rounds)
        assert iterations == rounds  # no early fixpoint on a 41-vertex path
        # Read on the JVM side: py4j refuses ints past 4,300 digits.
        stats[rounds] = df._jdf.queryExecution().optimizedPlan().stats()
    assert stats[4].simpleString() == stats[12].simpleString()
    assert stats[12].sizeInBytes() < 2**63  # the leaf's bounded default


def test_size_caps_at_the_session_value_read_on_entry(spark):
    """A second sizing inside one block caps at the session partition
    count, not at the value the first sizing set."""
    conf = spark.conf
    session_p = int(conf.get("spark.sql.shuffle.partitions"))
    cores = _executor_cores(spark)
    with iterative_conf(spark, rows=1) as size:
        assert conf.get("spark.sql.adaptive.enabled") == "false"
        assert int(conf.get("spark.sql.shuffle.partitions")) == cores
        assert size(10**12) == max(session_p, cores)
        assert int(conf.get("spark.sql.shuffle.partitions")) == max(session_p, cores)
    assert int(conf.get("spark.sql.shuffle.partitions")) == session_p


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_loops_release_superseded_states(spark):
    """Storage grows by at most the one frame each result reads: LPA's
    labels, the query's visited set, PageRank's last iterate. A driver GC
    during a call can only lower the count (the ContextCleaner frees
    unreachable RDDs), so an upper bound is what holds."""
    e = edges_df(spark, PATH)
    v = vertices_df(spark, range(41))
    topic = spark.createDataFrame([(0,)], "vid long")
    runs = {
        "lpa": lambda: label_propagation(spark, e, max_iter=12).labels,
        "query": lambda: context_query(
            spark, v, e, topic, max_depth=4, dont_follow=()
        )[0],
        "pagerank": lambda: pagerank(spark, e, tol=1e-9).ranks,
    }
    grew = {}
    for name, run in runs.items():
        before = _persistent_rdds(spark)
        run().collect()
        grew[name] = _persistent_rdds(spark) - before
    assert all(n <= 1 for n in grew.values()), grew


def test_release_frees_a_state_and_refuses_a_projection(spark):
    state, _ = step(edges_df(spark, PATH))
    with pytest.raises(TypeError):
        release(state.select("src"))
    before = _persistent_rdds(spark)
    release(state)
    assert _persistent_rdds(spark) == before - 1
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        state.count()
