"""Driver regime of the small-input loops: the graph loops (CC, k-core,
BFS, LPA) and the LA loops (inverse, power iteration).

Below ``core.DRIVER_LOOP_ROW_LIMIT`` each loop collects its edge list or
matrix and iterates in numpy on the driver.  The kernels must return the
rows the partitioned Spark loops return (exactly for the integer graph
results, to rounding for the LA ones); the Spark side is forced by zeroing
the gate.  Example counts stay low because every Spark-side example is a
multi-job loop."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lachesis_spark.llm import dedup as D
from lachesis_spark.operators import core
from lachesis_spark.plans import graph_algos as G
from lachesis_spark.plans import la, la_dsl
from tests.conftest import SF_SMOKE, jobs_in_group

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
# two chains bridged by (4, 10), plus an isolated pair
BRIDGED = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (4, 10)]
CHAIN = [(i, i + 1) for i in range(199)]  # 200 nodes
_ids = np.random.RandomState(3).permutation(200)
SHUFFLED_CHAIN = [(int(a), int(b)) for a, b in zip(_ids[:-1], _ids[1:])]


def _und(spark, edges):
    """Canonical undirected edge frame (a < b, distinct), like
    ``undirected_edges``."""
    und = sorted({(min(a, b), max(a, b)) for a, b in edges})
    return spark.createDataFrame(und, "a long, b long")


def _both_regimes(monkeypatch, run):
    """Rows from the driver kernel and from the Spark loop (gate zeroed)."""
    driver = sorted(tuple(r) for r in run().collect())
    with monkeypatch.context() as mp:
        mp.setattr(core, "DRIVER_LOOP_ROW_LIMIT", 0)
        spark_side = sorted(tuple(r) for r in run().collect())
    return driver, spark_side


@SET
@given(edges=raw_edges)
@example(edges=COMPONENTS)
@example(edges=BRIDGED)
@example(edges=CHAIN)
@example(edges=SHUFFLED_CHAIN)
def test_cc_driver_matches_spark(spark, monkeypatch, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a_id long, b_id long"
    )
    driver, spark_side = _both_regimes(monkeypatch, lambda: D.cc_converged(pairs))
    assert driver == spark_side


@SET
@given(edges=raw_edges, k=st.integers(1, 4))
@example(edges=COMPONENTS, k=2)
def test_kcore_driver_matches_spark(spark, monkeypatch, edges, k):
    und = _und(spark, edges)
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: G.kcore_layers(und, k, n_parts=2)
    )
    assert driver == spark_side


@SET
@given(edges=raw_edges, src=st.integers(0, 25))
@example(edges=COMPONENTS, src=10)  # nodes 1-4, 20-21, 30-31 unreachable
@example(edges=COMPONENTS, src=99)  # source outside the graph
def test_bfs_driver_matches_spark(spark, monkeypatch, edges, src):
    und = _und(spark, edges)
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: G.sssp_hops(und, src, n_parts=2)
    )
    assert driver == spark_side


@SET
@given(edges=raw_edges)
@example(edges=TIED)
@example(edges=[])
def test_lpa_driver_matches_spark(spark, monkeypatch, edges):
    und = _und(spark, edges)
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: G.lpa_labels(und, n_parts=2)
    )
    assert driver == spark_side


def _path_both_ways(spark, k):
    """The 2k (u, v) rows of a k-edge path in both directions, over three
    partitions: the frame shape the gate probes."""
    e = spark.range(0, k, 1, 3).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def test_driver_edges_bounds_at_the_gate(spark, monkeypatch):
    """The probe's own collect is the size check: at the gate the whole
    frame comes back in one job, one row over it comes back as None, and
    the empty frame is under any gate."""
    monkeypatch.setattr(core, "DRIVER_LOOP_ROW_LIMIT", 8)
    g, jobs = jobs_in_group(
        spark, "driver-edges-at-gate", lambda: core.driver_edges(_path_both_ways(spark, 4))
    )
    assert jobs == 1
    nodes, u, v = g
    assert list(nodes) == [0, 1, 2, 3, 4]
    assert sorted(zip(nodes[u].tolist(), nodes[v].tolist())) == sorted(
        [(i, i + 1) for i in range(4)] + [(i + 1, i) for i in range(4)]
    )
    over = _path_both_ways(spark, 5).limit(9)  # one row over the gate
    assert core.driver_edges(over) is None
    assert [len(a) for a in core.driver_edges(over.limit(0))] == [0, 0, 0]
    monkeypatch.setattr(core, "DRIVER_LOOP_ROW_LIMIT", 0)
    assert [len(a) for a in core.driver_edges(over.limit(0))] == [0, 0, 0]


def test_loops_switch_regime_at_the_gate(spark, monkeypatch):
    """A loop whose directed edges fill the gate runs its driver kernel;
    at a gate one row smaller it runs the Spark loop, to the same rows.
    An empty edge list takes the driver path even at a zero gate."""
    calls = []
    kernel = G._kcore_driver
    monkeypatch.setattr(G, "_kcore_driver", lambda *a: calls.append(1) or kernel(*a))
    und = _und(spark, COMPONENTS)  # 7 edges, 14 directed rows
    rows = {}
    for gate in (14, 13):
        monkeypatch.setattr(core, "DRIVER_LOOP_ROW_LIMIT", gate)
        rows[gate] = sorted(tuple(r) for r in G.kcore_layers(und, 2, n_parts=2).collect())
        assert len(calls) == 1, gate
    assert rows[14] == rows[13]
    monkeypatch.setattr(core, "DRIVER_LOOP_ROW_LIMIT", 0)
    assert G.kcore_layers(und.limit(0), 2, n_parts=2).count() == 0
    assert len(calls) == 2


def test_cc_driver_raises_when_sweeps_run_out(spark, monkeypatch):
    """One round cannot label a 200-node chain, on either side of the gate."""
    pairs = spark.createDataFrame(CHAIN, "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.cc_converged(pairs, max_sweeps=1)
    monkeypatch.setattr(core, "DRIVER_LOOP_ROW_LIMIT", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.cc_converged(pairs, max_sweeps=1)


def test_cc_below_gate_runs_fixed_job_count(spark):
    """Below the gate the job count does not grow with chain depth: the
    per-sweep Spark loop would add a probe job every two sweeps."""
    jobs = {}
    for n in (20, 200):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
        )
        rows, jobs[n] = jobs_in_group(
            spark, f"cc-driver-regime-{n}", lambda: D.cc_converged(pairs).collect()
        )
        assert {r["canonical_id"] for r in rows} == {0}
    assert jobs[20] == jobs[200] == 5, jobs


@pytest.mark.parametrize("query,expected", [
    ("graph_kcore", 3), ("graph_sssp", 3), ("graph_lpa", 3),
    ("graph_common_neighbors", 3),
])
def test_graph_query_driver_path_job_count(spark, query, expected):
    """Under the gate a graph query runs three jobs: the edge distinct's
    shuffle stage, the probe collect and the final collect.  No pre-gate
    checkpoint, count or (m, n) aggregate runs."""
    fn = getattr(G, query)
    fn(spark, SF_SMOKE).collect()  # the first read infers the table schema
    _, jobs = jobs_in_group(
        spark, f"{query}-driver-jobs", lambda: fn(spark, SF_SMOKE).collect()
    )
    assert jobs == expected, jobs


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


def _seeded_matrices():
    """(name, matrix, spd): well-conditioned SPD and non-symmetric ones."""
    out = []
    for seed, n in ((1, 6), (2, 12)):
        rng = np.random.RandomState(seed)
        b = rng.uniform(-1.0, 1.0, (n, n))
        out.append((f"spd{n}", b @ b.T + n * np.eye(n), True))
        out.append((f"nonsym{n}", b + n * np.eye(n), False))
    return out


MATRICES = _seeded_matrices()
MATRIX_IDS = [name for name, _, _ in MATRICES]


def _coo(spark, m):
    n = m.shape[0]
    return spark.createDataFrame(
        [(i, j, float(m[i, j])) for i in range(n) for j in range(n)],
        "i int, j int, v double",
    )


@pytest.mark.parametrize("name,m,spd", MATRICES, ids=MATRIX_IDS)
def test_inverse_driver_matches_spark(spark, monkeypatch, name, m, spd):
    n = m.shape[0]

    def dense():
        out = np.zeros((n, n))
        for r in la.inverse_auto(_coo(spark, m), spd=spd).collect():
            out[int(r["i"]), int(r["j"])] = r["v"]
        return out

    driver = dense()
    with monkeypatch.context() as mp:
        mp.setattr(core, "DRIVER_LOOP_ROW_LIMIT", 0)
        spark_side = dense()
    assert np.abs(driver - np.linalg.inv(m)).max() < 1e-12, name
    assert np.abs(driver - spark_side).max() < 1e-9, name


@pytest.mark.parametrize("name,m,spd", MATRICES, ids=MATRIX_IDS)
def test_power_iteration_driver_matches_spark(spark, monkeypatch, name, m, spd):
    driver, spark_side = _both_regimes(
        monkeypatch, lambda: la.dominant_eigenpair(_coo(spark, m))
    )
    assert [r[0] for r in driver] == [r[0] for r in spark_side] == list(range(len(m)))
    # both sides round to 1e-6, so a last-bit difference can flip one unit
    diff = np.abs(np.array(driver)[:, 1:] - np.array(spark_side)[:, 1:]).max()
    assert diff <= 1.01e-6, name


def test_power_iteration_job_count_does_not_grow_with_steps(spark, monkeypatch):
    """Below the gate the steps run in numpy: 16 steps launch exactly the
    jobs 8 steps do, where the Spark loop checkpoints every step."""
    # the first read of a table file infers its schema (one job, cached
    # per file version by binding.read_parquet); take it before counting
    la.la_power_iteration(spark, SF_SMOKE).collect()
    jobs = {}
    for iters in (8, 16):
        monkeypatch.setattr(la, "POWER_ITERS", iters)
        rows, jobs[iters] = jobs_in_group(
            spark, f"power-driver-regime-{iters}",
            lambda: la.la_power_iteration(spark, SF_SMOKE).collect(),
        )
        assert len(rows) == 64
    assert jobs[8] == jobs[16], jobs


@pytest.mark.parametrize("query,schema", [
    (la.la_inverse_identity, "struct<i:bigint,j:int,v:double>"),
    (la_dsl.la_dsl_inverse, "struct<i:bigint,j:int,v:double>"),
    (la.la_power_iteration, "struct<j:int,x:double,eigval:double>"),
], ids=["la_inverse_identity", "la_dsl_inverse", "la_power_iteration"])
def test_la_queries_keep_output_schema(spark, query, schema):
    assert query(spark, SF_SMOKE).schema.simpleString() == schema
