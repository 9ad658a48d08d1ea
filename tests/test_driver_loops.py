"""Driver regime of the small-input graph loops (CC, k-core, BFS, LPA).

Below ``core.DRIVER_LOOP_EDGE_LIMIT`` each loop collects its edge list and
iterates in numpy on the driver.  The kernels must return exactly the rows
the partitioned Spark loops return; the Spark side is forced by zeroing
the gate, the same way the CC tests force the shuffle regime.  Example
counts stay low because every Spark-side example is a multi-job loop."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from lachesis_spark.llm import dedup as D
from lachesis_spark.operators import core
from lachesis_spark.plans import graph_algos as G

SET = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

raw_edges = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda t: t[0] != t[1]),
    min_size=1,
    max_size=40,
)

# two components, several isolated pairs
COMPONENTS = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (30, 31)]
# the path 0-1-2 and the 4-cycle 5-6-7-8 leave every vote tied
TIED = [(0, 1), (1, 2), (5, 6), (6, 7), (7, 8), (5, 8)]
CHAIN = [(i, i + 1) for i in range(199)]  # 200 nodes


def _und(spark, edges):
    """Canonical undirected edge frame (a < b, distinct), like
    ``undirected_edges``."""
    und = sorted({(min(a, b), max(a, b)) for a, b in edges})
    return spark.createDataFrame(und, "a long, b long"), len(und)


def _both_regimes(monkeypatch, run):
    """Rows from the driver kernel and from the Spark loop (gate zeroed)."""
    driver = sorted(tuple(r) for r in run().collect())
    with monkeypatch.context() as mp:
        mp.setattr(core, "DRIVER_LOOP_EDGE_LIMIT", 0)
        spark_side = sorted(tuple(r) for r in run().collect())
    return driver, spark_side


@SET
@given(edges=raw_edges)
@example(edges=COMPONENTS)
@example(edges=CHAIN)
def test_cc_driver_matches_spark(spark, monkeypatch, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a_id long, b_id long"
    )
    # the Spark loop needs one sweep per chain hop, plus the probe chunk
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: D.cc_converged(pairs, max_sweeps=2 * len(CHAIN))
    )
    assert driver == spark_side


@SET
@given(edges=raw_edges, k=st.integers(1, 4))
@example(edges=COMPONENTS, k=2)
def test_kcore_driver_matches_spark(spark, monkeypatch, edges, k):
    und, m = _und(spark, edges)
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: G.kcore_layers(und, k, n_parts=2, m=m)
    )
    assert driver == spark_side


@SET
@given(edges=raw_edges, src=st.integers(0, 25))
@example(edges=COMPONENTS, src=10)  # nodes 1-4, 20-21, 30-31 unreachable
@example(edges=COMPONENTS, src=99)  # source outside the graph
def test_bfs_driver_matches_spark(spark, monkeypatch, edges, src):
    und, m = _und(spark, edges)
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: G.sssp_hops(und, src, n_parts=2, m=m)
    )
    assert driver == spark_side


@SET
@given(edges=raw_edges)
@example(edges=TIED)
@example(edges=[])
def test_lpa_driver_matches_spark(spark, monkeypatch, edges):
    und, m = _und(spark, edges)
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: G.lpa_labels(und, n_parts=2, m=m)
    )
    assert driver == spark_side


def test_cc_driver_raises_when_sweeps_run_out(spark):
    pairs = spark.createDataFrame(CHAIN, "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.cc_converged(pairs, max_sweeps=1)


def test_cc_below_gate_runs_fixed_job_count(spark):
    """Below the gate the job count does not grow with chain depth: the
    per-sweep Spark loop would add a probe job every two sweeps."""
    sc = spark.sparkContext
    jobs = {}
    for n in (20, 200):
        group = f"cc-driver-regime-{n}"
        sc.setJobGroup(group, group)
        try:
            pairs = spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
            )
            labels = {r["canonical_id"] for r in D.cc_converged(pairs).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert labels == {0}
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[20] == jobs[200] <= 8, jobs


def test_driver_frame_aggregates_plan_no_exchange(spark):
    """A driver result sits on one partition, so an aggregate or sort over
    it (what the registry queries run next) plans no exchange."""
    import numpy as np

    df = core.driver_frame(spark, node=np.arange(50), lbl=np.arange(50) % 7)
    assert [f.dataType.simpleString() for f in df.schema] == ["bigint", "bigint"]
    plan = (
        df.groupBy("lbl").count().orderBy("lbl")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
