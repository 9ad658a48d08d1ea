"""Iterative workloads: PageRank, KMeans, feed-forward NN inference.

Reference analogs (SURVEY.md §2.7): PageRank (reference
src/tests/source/PageRank.cc), KMeans (src/tests/source/TestKMeans.cc), and
FF neural-net inference (src/FF/headers/SimpleFF.h:30) — all expressed in
the reference as client-driven loops of JoinComp + AggregateComp.  Here each
iteration is the same join+agg dataflow on DataFrames; the Python loop only
*builds* the plan, execution stays distributed.

Oracles: fixed iteration counts let DuckDB verify the full fixpoint as a
chain of unrolled CTEs — the driver hash-compares real multi-iteration
convergence, not just one step.

Scale notes:
- PageRank caches the (edges ⋈ out-degree) relation once; each iteration is
  one shuffle on dst.  At 100 TB the rank vector co-partitions with edges on
  src (bucketBy) so the contribution join is shuffle-free; AQE handles the
  power-law skew of popular dst nodes.
- KMeans broadcasts k×dim centroids per iteration (tiny) and does one
  map-side-combined groupBy per iteration — the canonical Lloyd's dataflow.
- FF and LSTM inference are dense numpy kernels over the embeddings'
  Arrow batches (one narrow ``mapInArrow`` stage, no join or shuffle): the
  weights are a few KB of md5-derived numpy arrays built on the driver,
  and the DuckDB oracle derives the same values from the same md5 bits,
  so both engines compute one network with no weight files.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.functions import hashing as H

from lachesis_spark.binding import base_table

from lachesis_spark.operators.core import barrier as _barrier

# ---------------------------------------------------------------------------
# PageRank over a user-interaction graph derived from events
PR_ITERS = 5
PR_DAMP = 0.85
PR_MOD = 100  # dst = event_id % PR_MOD


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = base_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("user_id").alias("src"),
            (F.col("event_id") % PR_MOD).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


# checkpoint cadence for long-horizon loops: every k iterations the state
# DataFrame is localCheckpoint-ed (eager), truncating the growing lineage
# the same way inverse_newton does (plans/la.py) — without it, plan size and
# optimizer time grow linearly with iterations and a 20+-iteration run
# re-derives the whole chain on any recomputation.
ITER_CHECKPOINT_EVERY = 5


def _maybe_checkpoint(df: DataFrame, it: int, iters: int,
                      every: int = ITER_CHECKPOINT_EVERY) -> DataFrame:
    """Checkpoint mid-loop state every ``every`` iterations (never the final
    one — the caller returns that plan to the engine as-is)."""
    if every and (it + 1) % every == 0 and (it + 1) < iters:
        return df.transform(_barrier, eager=True)
    return df


def pagerank_run(edges: DataFrame, iters: int = PR_ITERS,
                 damp: float = PR_DAMP) -> DataFrame:
    """Damped PageRank loop over a prepared (src, dst) edge DataFrame;
    dangling mass dropped (nodes with no out-edges contribute nothing — the
    reference's formulation, reference src/tests/source/PageRank.cc).

    Layout-aware at scale: when ``edges`` comes from a bucketed set
    (``catalog.write_set(bucket_by=(n, ["src"]))``), the out-degree
    aggregation AND the edges⋈deg join are Exchange-free, and the per-
    iteration contribution join only shuffles the node-sized rank vector —
    never the corpus-sized edge list (proven by
    test_iterative.py::test_pagerank_bucketed_edges_shuffles_only_ranks).
    Lineage is truncated every ITER_CHECKPOINT_EVERY iterations.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # contribution edge list reused every iteration — cache it
    contrib_edges = edges.join(deg, "src").cache()

    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    for it in range(iters):
        contribs = (
            contrib_edges.join(pr, contrib_edges["src"] == pr["node"])
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damp) / n)
                    + F.lit(damp) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        pr = _maybe_checkpoint(pr, it, iters)
    return pr


def pagerank(spark, sf_dir):
    """5 damped iterations over the events-derived graph (oracle-gated
    against the unrolled-CTE DuckDB fixpoint)."""
    return pagerank_run(_edges(spark, sf_dir), PR_ITERS)


def pagerank_converged(edges: DataFrame, tol: float = 1e-7,
                       damp: float = PR_DAMP, max_iters: int = 200) -> DataFrame:
    """PageRank iterated to an L1 fixpoint instead of a guessed iteration
    count — the production form (same policy as llm.dedup.cc_converged: the
    fixed-depth query stays as the DuckDB-unrollable oracle form, this one
    stops when the rank vector stops moving).

    Convergence test costs one node-sized join+agg per iteration; the rank
    frame is checkpointed each iteration so lineage stays one step deep.
    Damped power iteration contracts by ``damp`` per step, so max_iters is
    a defensive bound, not a tuning knob."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = edges.join(deg, "src").cache()
    pr = nodes.withColumn("pr", F.lit(1.0 / n)).transform(_barrier, eager=True)
    for _ in range(max_iters):
        contribs = (
            contrib_edges.join(pr, contrib_edges["src"] == pr["node"])
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        new = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damp) / n)
                    + F.lit(damp) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
            .transform(_barrier, eager=True)
        )
        delta = (
            new.join(pr.withColumnRenamed("pr", "old"), "node")
            .agg(F.sum(F.abs(F.col("pr") - F.col("old"))).alias("d"))
            .collect()[0]["d"]
        )
        pr = new
        if delta is not None and delta < tol:
            break
    else:  # pragma: no cover - defensive bound
        raise RuntimeError(f"pagerank did not converge in {max_iters} iterations")
    contrib_edges.unpersist()
    nodes.unpersist()
    return pr


def _pagerank_sql() -> str:
    base = f"""
edges AS (
  SELECT DISTINCT user_id AS src, event_id % {PR_MOD} AS dst
  FROM events WHERE user_id <> event_id % {PR_MOD}
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"""
    its = []
    for i in range(1, PR_ITERS + 1):
        its.append(f"""
c{i} AS (
  SELECT e.dst, sum(p.pr / d.deg) AS inflow
  FROM edges e JOIN deg d ON e.src = d.src JOIN pr{i - 1} p ON e.src = p.node
  GROUP BY e.dst
),
pr{i} AS (
  SELECT n.node,
         {(1.0 - PR_DAMP)!r} / (SELECT n FROM nn)
           + {PR_DAMP!r} * coalesce(c.inflow, 0.0) AS pr
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst
)""")
    return f"WITH {base},{','.join(its)}\nSELECT node, pr FROM pr{PR_ITERS}"


# ---------------------------------------------------------------------------
# KMeans over the embeddings table (Lloyd's algorithm, fixed start + iters)
KM_K = 4
KM_ITERS = 3


def _emb_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = base_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )


def _km_assign(df: DataFrame, cents: dict) -> DataFrame:
    """``df`` plus each row's nearest centroid id in ``cluster`` (squared
    L2 against the literal centroids; ties go to the lowest id)."""
    structs = []
    for c, vec in sorted(cents.items()):
        cl = F.array(*[F.lit(x) for x in vec])
        d = F.aggregate(
            F.zip_with(F.col("e"), cl, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d.alias("d"), F.lit(c).alias("c")))
    return df.withColumn("cluster", F.least(*structs)["c"])


def kmeans_assign(spark, sf_dir):
    """3 Lloyd iterations, centroids seeded from vec_id 0..3; returns the
    final (vec_id, cluster) assignment.  Centroids are collected to the
    driver each round (k×dim doubles) and re-broadcast as literals — data
    never leaves the executors."""
    emb = _emb_arr(spark, sf_dir).cache()
    cents = {
        int(r["vec_id"]): [float(x) for x in r["e"]]
        for r in emb.filter(F.col("vec_id") < KM_K).collect()
    }

    for _ in range(KM_ITERS):
        assigned = _km_assign(emb, cents)
        new_cents = (
            assigned.select("cluster", F.posexplode("e").alias("j", "v"))
            .groupBy("cluster", "j")
            .agg(F.avg("v").alias("v"))
            .collect()
        )
        cents = {}
        for r in new_cents:
            cents.setdefault(int(r["cluster"]), {})[int(r["j"])] = float(r["v"])
        cents = {c: [d[j] for j in sorted(d)] for c, d in cents.items()}

    return _km_assign(emb, cents).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


def kmeans_converged(spark, sf_dir, tol: float = 1e-9, max_iters: int = 200):
    """Lloyd's algorithm iterated until the centroids stop moving (max L2
    shift < tol) instead of a fixed count — the production form.
    Convergence detection is FREE: the centroids already live on the
    driver (k×dim doubles per round), so the shift is driver arithmetic —
    no extra cluster work per iteration, unlike CC/PageRank where the
    state is distributed.  Returns (assignment frame, iterations run)."""
    emb = _emb_arr(spark, sf_dir).cache()
    try:
        cents = {
            int(r["vec_id"]): [float(x) for x in r["e"]]
            for r in emb.filter(F.col("vec_id") < KM_K).collect()
        }

        it = 0
        for it in range(1, max_iters + 1):
            assigned = _km_assign(emb, cents)
            new_rows = (
                assigned.select("cluster", F.posexplode("e").alias("j", "v"))
                .groupBy("cluster", "j")
                .agg(F.avg("v").alias("v"))
                .collect()
            )
            new = {}
            for r in new_rows:
                new.setdefault(int(r["cluster"]), {})[int(r["j"])] = float(r["v"])
            new = {c: [d[j] for j in sorted(d)] for c, d in new.items()}
            shift = max(
                sum((a - b) ** 2 for a, b in zip(new[c], cents.get(c, new[c])))
                for c in new
            )
            cents = new
            if shift < tol:
                break
        else:  # pragma: no cover - defensive bound
            raise RuntimeError(f"kmeans did not converge in {max_iters} iterations")
        out = _km_assign(emb, cents).select(
            "vec_id", F.col("cluster").cast("int").alias("cluster")
        )
        rows = [tuple(r) for r in out.collect()]
    finally:
        emb.unpersist()
    return (
        spark.createDataFrame(rows, "vec_id bigint, cluster int"),
        it,
    )


def _kmeans_sql() -> str:
    coo = """
coo AS (
  SELECT vec_id AS i, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent0 AS (SELECT i AS c, j, v FROM coo WHERE i < 4)"""
    its = []
    # KM_ITERS centroid updates, then one final assignment with the last
    # centroids (mirrors the Spark loop: assign/update ×N, assign once more)
    for it in range(1, KM_ITERS + 2):
        its.append(f"""
d{it} AS (
  SELECT a.i, ct.c, sum((a.v - ct.v) * (a.v - ct.v)) AS d
  FROM coo a JOIN cent{it - 1} ct ON a.j = ct.j
  GROUP BY a.i, ct.c
),
a{it} AS (
  SELECT i, c AS cluster FROM (
    SELECT i, c, row_number() OVER (PARTITION BY i ORDER BY d, c) AS rn FROM d{it}
  ) WHERE rn = 1
)""")
        if it <= KM_ITERS:
            its.append(f"""
cent{it} AS (
  SELECT a.cluster AS c, coo.j, avg(coo.v) AS v
  FROM a{it} a JOIN coo ON a.i = coo.i
  GROUP BY a.cluster, coo.j
)""")
    return (
        f"WITH {coo},{','.join(its)}\n"
        f"SELECT i AS vec_id, CAST(cluster AS INTEGER) AS cluster FROM a{KM_ITERS + 1}"
    )


# ---------------------------------------------------------------------------
# Feed-forward NN inference: relu(X·W1 + b1)·W2 + b2, argmax class.
# Weights are md5-derived in [-1, 1] so both engines build the same network.
FF_DIM = 64
FF_HID = 16
FF_CLS = 4


def _sql_w(tag: str, a: str, b: str) -> str:
    h = H.sql_h60(f"'{tag}|' || CAST({a} AS VARCHAR) || '|' || CAST({b} AS VARCHAR)")
    return f"(({h} % 2001 - 1000) / 1000.0)"


def _py_w(tag: str, a: int, b: int) -> float:
    """The _sql_w weight as a Python float: identical md5-derived value
    (h60 = first 15 md5 hex digits; % 2001 - 1000 over 1000.0 is the
    same IEEE division both engines perform on the same integer)."""
    h = int(hashlib.md5(f"{tag}|{a}|{b}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def _w_mat(tag: str, rows: int, cols: int) -> np.ndarray:
    """The (rows, cols) matrix of ``_py_w(tag, r, c)``; a bias is the
    (1, cols) row ``_w_mat(tag, 1, cols)`` (the oracle's a = 0)."""
    return np.array([[_py_w(tag, r, c) for c in range(cols)] for r in range(rows)])


def _map_embeddings(spark, sf_dir, schema: str, kernel) -> DataFrame:
    """One narrow mapInArrow stage over the embeddings: ``kernel(ids, x)``
    turns a batch's vec_id column and its (n, FF_DIM) float64 embedding
    matrix into a RecordBatch of ``schema``.

    The size guard keeps every row FF_DIM wide, which the reshape into x
    needs.  The generated data is fixed-width, so it drops nothing (the
    oracle's unnest would drop an empty vector and partial-sum a ragged
    one)."""

    def run(batches):
        for batch in batches:
            x = batch.column("embedding").flatten().to_numpy()
            yield kernel(batch.column("vec_id"),
                         x.astype(np.float64).reshape(-1, FF_DIM))

    return (
        base_table(spark, sf_dir, "embeddings")
        .filter(F.size("embedding") == FF_DIM)
        .select("vec_id", "embedding")
        .mapInArrow(run, schema)
    )


def ff_inference(spark, sf_dir):
    """relu(x·W1 + b1)·W2 + b2 per vector, argmax class (ties -> lowest
    class id, matching the oracle's row_number ORDER BY score DESC, cls:
    numpy's argmax returns the first maximum)."""
    w1, b1 = _w_mat("w1", FF_DIM, FF_HID), _w_mat("b1", 1, FF_HID)
    w2, b2 = _w_mat("w2", FF_HID, FF_CLS), _w_mat("b2", 1, FF_CLS)

    def kernel(ids, x):
        scores = np.maximum(x @ w1 + b1, 0.0) @ w2 + b2
        return pa.RecordBatch.from_arrays(
            [ids, pa.array(scores.argmax(axis=1).astype(np.int32)),
             pa.array(scores.max(axis=1))],
            names=["vec_id", "pred_class", "score"],
        )

    return _map_embeddings(
        spark, sf_dir, "vec_id bigint, pred_class int, score double", kernel
    )


def _ff_sql() -> str:
    return f"""
WITH coo AS (
  SELECT vec_id AS i, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
w1 AS (SELECT j, h, {_sql_w('w1', 'j', 'h')} AS w
       FROM range({FF_DIM}) t1(j), range({FF_HID}) t2(h)),
b1 AS (SELECT h, {_sql_w('b1', '0', 'h')} AS w FROM range({FF_HID}) t(h)),
hid AS (
  SELECT m.i, m.h, greatest(m.x + b1.w, 0.0) AS hv
  FROM (
    SELECT coo.i, w1.h, sum(coo.v * w1.w) AS x
    FROM coo JOIN w1 ON coo.j = w1.j GROUP BY coo.i, w1.h
  ) m JOIN b1 ON m.h = b1.h
),
w2 AS (SELECT h, cls, {_sql_w('w2', 'h', 'cls')} AS w
       FROM range({FF_HID}) t1(h), range({FF_CLS}) t2(cls)),
b2 AS (SELECT cls, {_sql_w('b2', '0', 'cls')} AS w FROM range({FF_CLS}) t(cls)),
scores AS (
  SELECT m.i, m.cls, m.s + b2.w AS score
  FROM (
    SELECT hid.i, w2.cls, sum(hid.hv * w2.w) AS s
    FROM hid JOIN w2 ON hid.h = w2.h GROUP BY hid.i, w2.cls
  ) m JOIN b2 ON m.cls = b2.cls
)
SELECT i AS vec_id, CAST(cls AS INTEGER) AS pred_class, score FROM (
  SELECT i, cls, score,
         row_number() OVER (PARTITION BY i ORDER BY score DESC, cls ASC) AS rn
  FROM scores
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# LSTM cell inference, LSTM_T timesteps over the embedding vectors.
# Reference analog: src/LSTM/headers/LSTMThreeWaySum.h (gate sums with
# sigmoid/tanh activation over aligned matrix blocks), LSTMTwoSum.h,
# LSTMHiddenState.h (hidden-state matmul + tanh) — there composed as
# JoinComps over FFMatrixBlock; here the same block math runs in numpy on
# each Arrow batch, the four gates side by side in one weight matrix,
# md5-derived weights as in ff_inference.
LSTM_HID = 8
# Sequence depth: the reference's LSTM workload processes full sequences
# (src/LSTM/headers/).  A step is one (n, H)·(H, 4H) matmul inside the
# batch, so depth costs executor arithmetic only: no job, stage or plan
# node per step.
LSTM_T = 8


def lstm_inference(spark, sf_dir):
    """h_T for each embedding vector after LSTM_T steps with x_t = the
    vector at every step, h_0 = c_0 = 0.  Output (vec_id, h, hv).

    W (FF_DIM, 4H), U (H, 4H) and b (1, 4H) hold the i, f, o, g gates
    side by side, so x·W runs once and each step is one hh·U."""
    hid = LSTM_HID
    w = np.hstack([_w_mat(f"W{g}", FF_DIM, hid) for g in "ifog"])
    u = np.hstack([_w_mat(f"U{g}", hid, hid) for g in "ifog"])
    b = np.hstack([_w_mat(f"b{g}", 1, hid) for g in "ifog"])

    def sig(z):
        return 1.0 / (1.0 + np.exp(-z))

    def kernel(ids, x):
        xw = x @ w
        c = hh = np.zeros((len(x), hid))
        for _ in range(LSTM_T):
            i, f, o, g = np.split(xw + hh @ u + b, 4, axis=1)
            c = sig(f) * c + sig(i) * np.tanh(g)
            hh = sig(o) * np.tanh(c)
        return pa.RecordBatch.from_arrays(
            [ids.take(np.repeat(np.arange(len(x)), hid)),
             pa.array(np.tile(np.arange(hid, dtype=np.int64), len(x))),
             pa.array(hh.ravel())],
            names=["vec_id", "h", "hv"],
        )

    return _map_embeddings(spark, sf_dir, "vec_id bigint, h bigint, hv double", kernel)


def _lstm_sql() -> str:
    def wsql(tag, a, b):
        return {gt: _sql_w(f"{tag}{gt}", a, b) for gt in "ifog"}

    w, u, bb = wsql("W", "j", "h"), wsql("U", "hj", "h"), wsql("b", "0", "h")
    sig = "1.0 / (1.0 + exp(-({x})))"
    # this DuckDB build has no tanh(); overflow-safe identity instead
    tanh = "(1.0 - 2.0 / (exp(2.0 * ({x})) + 1.0))"
    parts = [f"""
coo AS (
  SELECT vec_id AS i, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
W AS (SELECT j, h, {w['i']} AS wi, {w['f']} AS wf, {w['o']} AS wo, {w['g']} AS wg
      FROM range({FF_DIM}) t1(j), range({LSTM_HID}) t2(h)),
U AS (SELECT hj, h, {u['i']} AS wi, {u['f']} AS wf, {u['o']} AS wo, {u['g']} AS wg
      FROM range({LSTM_HID}) t1(hj), range({LSTM_HID}) t2(h)),
b AS (SELECT h, {bb['i']} AS wi, {bb['f']} AS wf, {bb['o']} AS wo, {bb['g']} AS wg
      FROM range({LSTM_HID}) t(h)),
xw AS (
  SELECT coo.i, W.h, sum(coo.v * W.wi) AS xi, sum(coo.v * W.wf) AS xf,
         sum(coo.v * W.wo) AS xo, sum(coo.v * W.wg) AS xg
  FROM coo JOIN W ON coo.j = W.j GROUP BY coo.i, W.h
),
s1 AS (
  SELECT xw.i, xw.h,
         {sig.format(x='xw.xi + b.wi')} * {tanh.format(x='xw.xg + b.wg')} AS c,
         {sig.format(x='xw.xo + b.wo')}
           * {tanh.format(x=f"{sig.format(x='xw.xi + b.wi')} * {tanh.format(x='xw.xg + b.wg')}")} AS hh
  FROM xw JOIN b ON xw.h = b.h
)"""]
    for t in range(2, LSTM_T + 1):
        parts.append(f""",
hu{t} AS (
  SELECT s.i, U.h, sum(s.hh * U.wi) AS ui, sum(s.hh * U.wf) AS uf,
         sum(s.hh * U.wo) AS uo, sum(s.hh * U.wg) AS ug
  FROM s{t - 1} s JOIN U ON s.h = U.hj GROUP BY s.i, U.h
),
pre{t} AS (
  SELECT xw.i, xw.h,
         xw.xi + hu.ui + b.wi AS pi, xw.xf + hu.uf + b.wf AS pf,
         xw.xo + hu.uo + b.wo AS po, xw.xg + hu.ug + b.wg AS pg,
         s.c AS c_prev
  FROM xw JOIN hu{t} hu ON xw.i = hu.i AND xw.h = hu.h
  JOIN b ON xw.h = b.h
  JOIN s{t - 1} s ON xw.i = s.i AND xw.h = s.h
),
s{t} AS (
  SELECT i, h,
         {sig.format(x='pf')} * c_prev + {sig.format(x='pi')} * {tanh.format(x='pg')} AS c,
         {sig.format(x='po')}
           * {tanh.format(x=f"{sig.format(x='pf')} * c_prev + {sig.format(x='pi')} * {tanh.format(x='pg')}")} AS hh
  FROM pre{t}
)""")
    return (
        "WITH " + "".join(parts)
        + f"\nSELECT i AS vec_id, h, hh AS hv FROM s{LSTM_T}"
    )


# ---------------------------------------------------------------------------
# GMM: one EM iteration (spherical unit-variance components, the reference's
# TestGmm* workload shape — src/tests/source/TestGmmLazy.cc).  E-step:
# softmax responsibilities from squared distances; M-step: weighted means +
# component weights.  Deterministic init: mu_c = vector c, w uniform.
GMM_K = 3


def _gmm_step(coo: DataFrame, mu: DataFrame, n: int) -> DataFrame:
    """One EM step: E = stable softmax responsibilities from squared
    distances to ``mu`` (c, j, mu); M = weighted means + component weights.
    Returns (c, j, mu, w) — slice (c, j, mu) to feed the next step."""
    from pyspark.sql import Window

    # squared distance to each component (join on dimension, agg per (i, c))
    d2 = (
        coo.join(F.broadcast(mu), "j")
        .groupBy("i", "c")
        .agg(F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))).alias("d2"))
    )
    # E-step: numerically-stable softmax over components (uniform weights
    # cancel), r(i,c) = exp(-(d2-dmin)/2) / Σ_c exp(-(d2-dmin)/2)
    w_i = Window.partitionBy("i")
    r = (
        d2.withColumn("dmin", F.min("d2").over(w_i))
        .withColumn("u", F.exp(-(F.col("d2") - F.col("dmin")) / 2))
        .withColumn("r", F.col("u") / F.sum("u").over(w_i))
        .select("i", "c", "r")
    )
    # M-step
    w_new = r.groupBy("c").agg((F.sum("r") / F.lit(float(n))).alias("w"))
    mu_new = (
        r.join(coo, "i")
        .groupBy("c", "j")
        .agg((F.sum(F.col("r") * F.col("v")) / F.sum("r")).alias("mu"))
    )
    return mu_new.join(w_new, "c").select("c", "j", "mu", "w")


def gmm_em_run(spark, sf_dir, iters: int = 1) -> DataFrame:
    """EM loop from the deterministic init (mu_c = vector c, uniform w);
    state lineage truncated every ITER_CHECKPOINT_EVERY iterations so a
    long-horizon fit doesn't accrete an unbounded plan."""
    emb = _emb_arr(spark, sf_dir).cache()
    coo = emb.select(F.col("vec_id").alias("i"), F.posexplode("e").alias("j", "v"))
    n = emb.count()
    mu = coo.filter(F.col("i") < GMM_K).select(
        F.col("i").alias("c"), "j", F.col("v").alias("mu")
    )
    out = None
    for it in range(iters):
        out = _gmm_step(coo, mu, n)
        mu = _maybe_checkpoint(out.select("c", "j", "mu"), it, iters)
    return out.select(F.col("c").cast("int").alias("c"), "j", "mu", "w")


def gmm_em(spark, sf_dir):
    """Returns the updated (component, j, mu, w) after one EM step."""
    return gmm_em_run(spark, sf_dir, iters=1)


def _gmm_sql() -> str:
    return f"""
WITH coo AS (
  SELECT vec_id AS i, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
mu0 AS (SELECT i AS c, j, v AS mu FROM coo WHERE i < {GMM_K}),
d2 AS (
  SELECT coo.i, mu0.c, sum((coo.v - mu0.mu) * (coo.v - mu0.mu)) AS d2
  FROM coo JOIN mu0 ON coo.j = mu0.j GROUP BY coo.i, mu0.c
),
stab AS (
  SELECT i, c, exp(-(d2 - min(d2) OVER (PARTITION BY i)) / 2) AS u FROM d2
),
r AS (SELECT i, c, u / sum(u) OVER (PARTITION BY i) AS r FROM stab),
nn AS (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS n FROM coo),
w_new AS (SELECT c, sum(r) / (SELECT n FROM nn) AS w FROM r GROUP BY c),
mu_new AS (
  SELECT r.c, coo.j, sum(r.r * coo.v) / sum(r.r) AS mu
  FROM r JOIN coo ON r.i = coo.i GROUP BY r.c, coo.j
)
SELECT CAST(m.c AS INTEGER) AS c, m.j, m.mu, w.w
FROM mu_new m JOIN w_new w ON m.c = w.c
"""


# ---------------------------------------------------------------------------
# LDA variational-EM step over documents (the reference's LDA workload —
# src/tests/source/TestLDA.cc runs LDA over (doc, word, count) triples).
# Unlike the mixture-of-unigrams stand-in this replaces (one topic per
# DOCUMENT), this is LDA's actual data flow: each WORD occurrence carries its
# own topic responsibility under a per-document topic mixture θ_d —
# the deterministic variational analog of the reference's Gibbs sampler
# (sampling is nondeterministic and cannot be oracle-gated; the variational
# E-step is the standard deterministic member of the same model family):
#   E-step: γ(d,w,t) ∝ θ_d(t) · φ_t(w), normalized over t per (doc, word)
#   M-step: φ'_t(w) ∝ β + Σ_d n(d,w) · γ(d,w,t)   (β = 1, Laplace)
# θ's per-doc normalizer is constant across t for fixed d, so it cancels in
# γ's normalization — θ enters unnormalized and needs no separate pass.
# Deterministic init: θ_d(t) ∝ 1 + (h60(d|t) % 1000)/1000, likewise φ.
#
# Scale: counts(d, word_id, n) is the sparse doc-term matrix; the E-step is
# counts ⋈ φ (broadcastable: |vocab|×K rows) fanned out ×K, normalized by a
# window over (d, word_id); the M-step is one groupBy(t, word_id) — the
# canonical two-shuffle LDA iteration that scales linearly in corpus nnz.
LDA_K = 3
LDA_VOCAB = 1000  # words hashed into a fixed vocabulary


def _lda_init_u(a_col, b_col):
    """Deterministic unnormalized init weight for a (row, col) id pair."""
    s = F.concat(a_col.cast("string"), F.lit("|"), b_col.cast("string"))
    return 1.0 + (H.h60(s) % 1000) / 1000.0


def _lda_step(counts: DataFrame, theta: DataFrame, phi: DataFrame, nv: int):
    """One variational-EM step.

    E: γ(d,w,t) ∝ θ_d(t)·φ_t(w) normalized over t per (doc, word) — θ's
    per-doc normalizer is constant across t so it cancels and θ may stay
    unnormalized.  M: φ'_t(w) ∝ β + Σ_d n·γ (β=1 Laplace over the observed
    vocab), θ'_d(t) = α + Σ_w n·γ (α=1, unnormalized on purpose).
    Returns (phi_out, theta_new, phi_new_unnorm-as-next-phi).

    ``theta=None`` means "the deterministic init": θ₀ is a pure
    expression of (d, t), so the first step computes it INLINE instead
    of joining a doc×topic frame — that drops the theta-init subtree
    (distinct + crossJoin + shuffle join, doc-sized at scale) from the
    plan, and with the join gone the γ window's (d, word_id) clustering
    is exactly counts' groupBy partitioning, so the window plans with
    zero Exchange.  Later steps (θ now data-dependent) keep the join.
    """
    from pyspark.sql import Window

    w_dw = Window.partitionBy("d", "word_id")
    gamma = counts.join(F.broadcast(phi), "word_id")
    if theta is None:
        gamma = gamma.withColumn("th", _lda_init_u(F.col("d"), F.col("t")))
    else:
        gamma = gamma.join(theta, ["d", "t"])
    gamma = gamma.withColumn("u", F.col("th") * F.col("phi")).withColumn(
        "g", F.col("u") / F.sum("u").over(w_dw)
    )
    wsum = gamma.groupBy("t", "word_id").agg(
        F.sum(F.col("g") * F.col("n")).alias("c")
    )
    tsum = wsum.groupBy("t").agg(F.sum("c").alias("tc"))
    phi_out = wsum.join(F.broadcast(tsum), "t").select(
        "t", "word_id",
        ((F.col("c") + 1.0) / (F.col("tc") + float(nv))).alias("phi"),
    )
    theta_new = gamma.groupBy("d", "t").agg(
        (F.lit(1.0) + F.sum(F.col("g") * F.col("n"))).alias("th")
    )
    return phi_out, theta_new


def lda_em_run(spark, sf_dir, iters: int = 1) -> DataFrame:
    """Variational-EM loop; θ AND φ both update each round (the full
    alternating scheme), with state lineage truncated every
    ITER_CHECKPOINT_EVERY iterations."""
    from lachesis_spark.functions import text as TX

    docs = base_table(spark, sf_dir, "documents")
    words = docs.select(
        F.col("doc_id").alias("d"),
        F.explode(TX.tokens("text")).alias("w"),
    ).select("d", (H.h60(F.lower(F.col("w"))) % LDA_VOCAB).alias("word_id"))
    # counts feeds three consumers (vocab, the E-step join, the eager nv
    # action); without a cache the tokenize+explode pipeline — the expensive
    # part — re-executes once per consumer
    counts = words.groupBy("d", "word_id").agg(F.count(F.lit(1)).alias("n")).cache()

    topics = spark.range(LDA_K).select(F.col("id").alias("t"))
    # φ normalized over the observed vocabulary (the hashed-vocab normalizer
    # is only constant in expectation).  The per-topic normalizer is a
    # window over t rather than a groupBy+join so the vocab×K init frame
    # is scanned ONCE (the join form pasted the whole vocab-distinct +
    # crossJoin subtree into the plan twice); K partitions of ≤LDA_VOCAB
    # rows each — a constant-bounded frame, skew-free by construction.
    from pyspark.sql import Window as _W

    vocab = counts.select("word_id").distinct()
    phi_raw = vocab.crossJoin(F.broadcast(topics)).select(
        "t", "word_id", _lda_init_u(F.col("t"), F.col("word_id")).alias("u")
    )
    phi = phi_raw.select(
        "t", "word_id",
        (F.col("u") / F.sum("u").over(_W.partitionBy("t"))).alias("phi"),
    )
    # θ starts at the deterministic init, unnormalized (normalizer
    # cancels) — None tells the first step to fold it in as an inline
    # expression instead of materializing a doc×topic frame
    theta = None
    nv = vocab.count()
    phi_out = None
    for it in range(iters):
        phi_out, theta = _lda_step(counts, theta, phi, nv)
        phi = _maybe_checkpoint(
            phi_out.select("t", "word_id", "phi"), it, iters
        )
        theta = _maybe_checkpoint(theta, it, iters)
    return phi_out.select(
        F.col("t").cast("int").alias("topic"), "word_id", "phi"
    )


def lda_em(spark, sf_dir):
    """One LDA variational-EM step; returns the updated topic-word rows
    (topic, word_id, phi) for words present in the corpus."""
    return lda_em_run(spark, sf_dir, iters=1)


def _lda_sql() -> str:
    h_tw = H.sql_h60("CAST(t AS VARCHAR) || '|' || CAST(word_id AS VARCHAR)")
    h_dt = H.sql_h60("CAST(d AS VARCHAR) || '|' || CAST(t AS VARCHAR)")
    hw = H.sql_h60("lower(w)")
    return f"""
WITH words AS (
  SELECT doc_id AS d, {hw} % {LDA_VOCAB} AS word_id
  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents)
),
counts AS (SELECT d, word_id, count(*) AS n FROM words GROUP BY d, word_id),
vocab AS (SELECT DISTINCT word_id FROM counts),
topics AS (SELECT unnest(range(0, {LDA_K})) AS t),
phi_raw AS (
  SELECT t, word_id, 1.0 + ({h_tw} % 1000) / 1000.0 AS u FROM vocab, topics
),
z AS (SELECT t, sum(u) AS z FROM phi_raw GROUP BY t),
phi AS (SELECT p.t, p.word_id, p.u / z.z AS phi FROM phi_raw p JOIN z ON p.t = z.t),
gam AS (
  SELECT c.d, c.word_id, p.t, c.n,
         (1.0 + ({h_dt} % 1000) / 1000.0) * p.phi AS u
  FROM counts c JOIN phi p ON c.word_id = p.word_id
),
g AS (
  SELECT d, word_id, t, n,
         u / sum(u) OVER (PARTITION BY d, word_id) AS g
  FROM gam
),
wsum AS (SELECT t, word_id, sum(g * n) AS c FROM g GROUP BY t, word_id),
tsum AS (SELECT t, sum(c) AS tc FROM wsum GROUP BY t),
nv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab)
SELECT CAST(w.t AS INTEGER) AS topic, w.word_id,
       (w.c + 1.0) / (ts.tc + (SELECT v FROM nv)) AS phi
FROM wsum w JOIN tsum ts ON w.t = ts.t
"""


QUERIES = {
    "pagerank": pagerank,
    "kmeans_assign": kmeans_assign,
    "ff_inference": ff_inference,
    "lstm_inference": lstm_inference,
    "gmm_em": gmm_em,
    "lda_em": lda_em,
}

ORACLE = {
    "pagerank": _pagerank_sql(),
    "kmeans_assign": _kmeans_sql(),
    "ff_inference": _ff_sql(),
    "lstm_inference": _lstm_sql(),
    "gmm_em": _gmm_sql(),
    "lda_em": _lda_sql(),
}
