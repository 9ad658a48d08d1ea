"""Similarity search over the ``embeddings`` table (array<float> column).

Reference analog: top-k Jaccard similarity search merged through TopKComp
(reference src/tpchBench/headers/TopJaccard.h:15-37,
src/queryExecution/headers/TopKComp.h:21-37) — generalized here to
embedding-space ANN, the operation a pretraining-data pipeline actually runs.

Two tiers:

- ``ann_bruteforce``  : exact cosine top-k against a query vector.  The
  baseline and the correctness anchor.  O(n·d) — a single scan, no shuffle
  until the final top-k (Spark's TakeOrdered is a per-partition heap +
  driver merge, the same dataflow as the reference's TopKQueue operator+).
- ``ann_lsh``         : random-hyperplane LSH — bucket vectors by the sign
  pattern of ``n_bits`` pseudo-random hyperplanes, probe only the query's
  bucket, exact cosine inside.  The 100 TB path: the scan prunes to one
  bucket (~n/2^bits of the data) and the per-bucket candidate set is
  bounded; recall is tunable by bits/tables.

Hyperplanes must be reproducible in both engines, so component (b, j) of
hyperplane b is ``±1`` chosen by one bit of md5(b||'|'||j) — no RNG, no
Python in the plan (functions.hashing.h60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.functions import hashing as H
from lachesis_spark.functions import vectors as V

from lachesis_spark.binding import base_table

QUERY_VEC_ID = 0
TOP_K = 10
LSH_BITS = 4


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return base_table(spark, sf_dir, "embeddings")


# SQL fragment: embeddings as COO (1-based j to match generate_subscripts).
_SQL_COO = """
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
"""


# ---------------------------------------------------------------------------
# 1. Brute-force cosine top-k
def ann_bruteforce(spark, sf_dir, query_id: int = QUERY_VEC_ID, k: int = TOP_K):
    emb = _emb(spark, sf_dir).select("vec_id", V.to_double_array("embedding").alias("e"))
    q = emb.filter(F.col("vec_id") == query_id).select(F.col("e").alias("qe"))
    scored = (
        emb.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", V.cosine(F.col("e"), F.col("qe")).alias("cos"))
    )
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


ANN_BRUTEFORCE_SQL = f"""
WITH coo AS ({_SQL_COO}),
q AS (SELECT j, v FROM coo WHERE vec_id = {QUERY_VEC_ID}),
dots AS (
  SELECT c.vec_id, sum(c.v * q.v) AS dp,
         sqrt(sum(c.v * c.v)) AS cn
  FROM coo c JOIN q ON c.j = q.j
  WHERE c.vec_id <> {QUERY_VEC_ID}
  GROUP BY c.vec_id
),
qn AS (SELECT sqrt(sum(v * v)) AS n FROM q)
SELECT vec_id, dp / (cn * (SELECT n FROM qn)) AS cos
FROM dots ORDER BY cos DESC, vec_id ASC LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# 2. Random-hyperplane LSH bucketed search
def _hyperplane_sign(b: int, j: int) -> float:
    """±1 from bit 0 of md5(f"{b}|{j}") — the driver-side twin of
    functions.hashing.h60 (same md5, same bit), so the Spark plan embeds
    the signs as literals instead of re-hashing per vector."""
    import hashlib

    h = int(hashlib.md5(f"{b}|{j}".encode()).hexdigest()[:15], 16)
    return float((h & 1) * 2 - 1)


def _signature(e_col, dim: int = 64):
    """LSH signature: bit b = 1 iff dot(e, sign_row_b) > 0.  The hyperplane
    components depend only on (b, j), so they are precomputed literals; the
    per-vector work is one zip_with dot product per bit."""
    sig = F.lit(0)
    for b in range(LSH_BITS):
        w = F.array(*[F.lit(_hyperplane_sign(b, j)) for j in range(1, dim + 1)])
        dot = F.aggregate(
            F.zip_with(e_col, w, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sig


def lsh_signatures(spark, sf_dir):
    """(vec_id, sig): the bucketing key.  At load time this is the column a
    100 TB corpus would be bucketBy'd / partitioned on."""
    emb = _emb(spark, sf_dir).select("vec_id", V.to_double_array("embedding").alias("e"))
    return emb.select("vec_id", "e", _signature(F.col("e")).alias("sig"))


def ann_lsh(spark, sf_dir, query_id: int = QUERY_VEC_ID, k: int = TOP_K):
    sig = lsh_signatures(spark, sf_dir)
    q = sig.filter(F.col("vec_id") == query_id).select(
        F.col("e").alias("qe"), F.col("sig").alias("qsig")
    )
    # partition-pruning analog: only the query's bucket is scanned
    cand = sig.filter(F.col("vec_id") != query_id).join(
        F.broadcast(q), F.col("sig") == F.col("qsig")
    )
    scored = cand.select("vec_id", V.cosine(F.col("e"), F.col("qe")).alias("cos"))
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


def _sql_sig(src: str) -> str:
    """DuckDB text of the same signature over COO source ``src``."""
    bits = []
    for b in range(LSH_BITS):
        arg = f"'{b}|' || CAST(j AS VARCHAR)"
        w = f"(2 * ({H.sql_h60(arg)} & 1) - 1)"
        bits.append(
            f"(CASE WHEN sum(v * {w}) > 0 THEN {1 << b} ELSE 0 END)"
        )
    return f"SELECT vec_id, {' + '.join(bits)} AS sig FROM {src} GROUP BY vec_id"


ANN_LSH_SQL = f"""
WITH coo AS ({_SQL_COO}),
sig AS ({_sql_sig('coo')}),
q AS (SELECT j, v FROM coo WHERE vec_id = {QUERY_VEC_ID}),
qsig AS (SELECT sig FROM sig WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT s.vec_id FROM sig s
  WHERE s.sig = (SELECT sig FROM qsig) AND s.vec_id <> {QUERY_VEC_ID}
),
dots AS (
  SELECT c.vec_id, sum(c.v * q.v) AS dp, sqrt(sum(c.v * c.v)) AS cn
  FROM coo c JOIN q ON c.j = q.j
  WHERE c.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY c.vec_id
),
qn AS (SELECT sqrt(sum(v * v)) AS n FROM q)
SELECT vec_id, dp / (cn * (SELECT n FROM qn)) AS cos
FROM dots ORDER BY cos DESC, vec_id ASC LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# 3. k-NN self-join on LSH buckets: for every vector, its top-3 neighbors
#    within its bucket — the batch (all-queries-at-once) shape of ANN, which
#    is what a dedup/clustering pipeline runs.  Bucket self-join + grouped
#    top-k; no all-pairs blowup.
def knn_bucketed(spark, sf_dir, k: int = 3):
    """Per-bucket exact k-NN via applyInPandas: each LSH bucket's vectors
    form one dense numpy GEMM + per-row top-k, instead of a bucket
    self-join scoring each pair through scalar expressions (~10× fewer
    Catalyst rows; same dataflow shape the dedup GEMM uses).  At scale a
    bucket is one task; hot buckets (near-identical vectors) are the
    pathological skew case and get split by AQE on the groupBy shuffle."""
    import pandas as pd

    sig = lsh_signatures(spark, sf_dir)

    def bucket_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = np.asarray(pdf["e"].tolist(), dtype=np.float64)
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        s = mn @ mn.T
        np.fill_diagonal(s, -np.inf)
        out_a, out_b, out_c, out_r = [], [], [], []
        n = len(ids)
        kk = min(k, n - 1)
        if kk <= 0:
            return pd.DataFrame(
                {"a_id": [], "b_id": [], "cos": [], "rk": []}
            ).astype({"a_id": "int64", "b_id": "int64", "cos": "float64", "rk": "int32"})
        for row in range(n):
            # rank by (cos desc, b_id asc) — deterministic under ties
            cand = sorted(
                ((-s[row, j], ids[j]) for j in range(n) if j != row)
            )[:kk]
            for rk, (negc, bid) in enumerate(cand, start=1):
                out_a.append(ids[row]); out_b.append(bid)
                out_c.append(-negc); out_r.append(rk)
        return pd.DataFrame(
            {"a_id": out_a, "b_id": out_b, "cos": out_c, "rk": out_r}
        ).astype({"a_id": "int64", "b_id": "int64", "cos": "float64", "rk": "int32"})

    return sig.groupBy("sig").applyInPandas(
        bucket_knn, schema="a_id bigint, b_id bigint, cos double, rk int"
    )


KNN_BUCKETED_SQL = f"""
WITH coo AS ({_SQL_COO}),
sig AS ({_sql_sig('coo')}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM coo GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id
),
dots AS (
  SELECT p.a_id, p.b_id, sum(ca.v * cb.v) AS dp
  FROM pairs p
  JOIN coo ca ON ca.vec_id = p.a_id
  JOIN coo cb ON cb.vec_id = p.b_id AND cb.j = ca.j
  GROUP BY p.a_id, p.b_id
),
scored AS (
  SELECT d.a_id, d.b_id, d.dp / (na.nrm * nb.nrm) AS cos
  FROM dots d JOIN norms na ON na.vec_id = d.a_id JOIN norms nb ON nb.vec_id = d.b_id
)
SELECT a_id, b_id, cos, CAST(rk AS INTEGER) AS rk FROM (
  SELECT a_id, b_id, cos,
         row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rk
  FROM scored
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# 4. IVF (inverted-file) ANN: a coarse quantizer (here the deterministic
#    seed centroids vec_id 0..IVF_K-1) partitions vectors into cells; the
#    query probes only its own cell, exact cosine inside.  At 100 TB the
#    cell id is the storage partition key (write-time clustering), so a
#    query reads one cell's files — the IVF counterpart of ann_lsh's
#    hyperplane buckets, with data-adaptive cells instead of random ones.
IVF_K = 4


def _ivf_assign(emb):
    """(vec_id, e, cell): nearest seed centroid by squared distance —
    deterministic tie-break on the lower cell id via struct ordering."""
    cents = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("e").alias("ce")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "e", "cell",
        F.aggregate(
            F.zip_with(F.col("e"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "cell")
    )


def ann_ivf(spark, sf_dir, query_id: int = QUERY_VEC_ID, k: int = TOP_K):
    emb = _emb(spark, sf_dir).select("vec_id", V.to_double_array("embedding").alias("e"))
    assigned = _ivf_assign(emb)
    q = assigned.filter(F.col("vec_id") == query_id).select(
        F.col("e").alias("qe"), F.col("cell").alias("qcell")
    )
    cand = assigned.filter(F.col("vec_id") != query_id).join(
        F.broadcast(q), F.col("cell") == F.col("qcell")
    )
    scored = cand.select("vec_id", V.cosine(F.col("e"), F.col("qe")).alias("cos"))
    return scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)


ANN_IVF_SQL = f"""
WITH coo AS ({_SQL_COO}),
cents AS (SELECT vec_id AS cell, j, v AS cv FROM coo WHERE vec_id < {IVF_K}),
d2 AS (
  SELECT coo.vec_id, cents.cell, sum((coo.v - cents.cv) * (coo.v - cents.cv)) AS d2
  FROM coo JOIN cents ON coo.j = cents.j GROUP BY coo.vec_id, cents.cell
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM d2
  ) WHERE rn = 1
),
q AS (SELECT j, v FROM coo WHERE vec_id = {QUERY_VEC_ID}),
qcell AS (SELECT cell FROM assign WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT vec_id FROM assign
  WHERE cell = (SELECT cell FROM qcell) AND vec_id <> {QUERY_VEC_ID}
),
dots AS (
  SELECT c.vec_id, sum(c.v * q.v) AS dp, sqrt(sum(c.v * c.v)) AS cn
  FROM coo c JOIN q ON c.j = q.j
  WHERE c.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY c.vec_id
),
qn AS (SELECT sqrt(sum(v * v)) AS n FROM q)
SELECT vec_id, dp / (cn * (SELECT n FROM qn)) AS cos
FROM dots ORDER BY cos DESC, vec_id ASC LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# 5. Recall evaluation: IVF vs exact ground truth, per probe.
#    The quality metric an ANN deployment is actually judged by — recall@k
#    of the pruned index against the brute-force baseline, measured over a
#    probe set in ONE distributed plan (all probes share the scan).
ANN_RECALL_PROBES = 8


def ann_recall(spark, sf_dir, k: int = TOP_K, n_probes: int = ANN_RECALL_PROBES):
    """recall@k of ann_ivf against the exact cosine top-k, per probe vector.

    Scale: ground truth is probes×n scored in one crossJoin-broadcast scan
    (probes is tiny); IVF candidates come from the probe's cell only.  Both
    top-k's are per-probe window heads; the recall join moves k rows per
    probe.  At 100 TB the same plan evaluates an index build on a sampled
    probe set — the recall/probe-count trade is the tunable.
    """
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir).select("vec_id", V.to_double_array("embedding").alias("e"))
    probes = emb.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("pid"), F.col("e").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("pid"))
        .select("pid", "vec_id", V.cosine(F.col("e"), F.col("qe")).alias("cos"))
    )
    w = Window.partitionBy("pid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    brute = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("pid", "vec_id")
    )
    assigned = _ivf_assign(emb)
    probe_cells = assigned.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("pid"), F.col("cell").alias("qcell")
    )
    ivf = (
        assigned.join(F.broadcast(probe_cells), F.col("cell") == F.col("qcell"))
        .filter(F.col("vec_id") != F.col("pid"))
        .join(scored, ["pid", "vec_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("pid", "vec_id")
    )
    hits = brute.join(ivf, ["pid", "vec_id"]).groupBy("pid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        brute.groupBy("pid").agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "pid", "left")
        .select(
            F.col("pid").alias("probe_id"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
             / F.col("n_exact")).alias("recall"),
        )
    )


ANN_RECALL_SQL = f"""
WITH coo AS ({_SQL_COO}),
probes AS (SELECT DISTINCT vec_id AS pid FROM coo WHERE vec_id < {ANN_RECALL_PROBES}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM coo GROUP BY vec_id),
dots AS (
  SELECT p.pid, c.vec_id, sum(c.v * q.v) AS dp
  FROM coo c JOIN coo q ON c.j = q.j JOIN probes p ON q.vec_id = p.pid
  WHERE c.vec_id <> p.pid
  GROUP BY p.pid, c.vec_id
),
cosd AS (
  SELECT d.pid, d.vec_id, d.dp / (nc.n * nq.n) AS cos
  FROM dots d JOIN norms nc ON d.vec_id = nc.vec_id
  JOIN norms nq ON d.pid = nq.vec_id
),
brute AS (
  SELECT pid, vec_id FROM (
    SELECT pid, vec_id,
           row_number() OVER (PARTITION BY pid ORDER BY cos DESC, vec_id) AS rn
    FROM cosd) WHERE rn <= {TOP_K}
),
cents AS (SELECT vec_id AS cell, j, v AS cv FROM coo WHERE vec_id < {IVF_K}),
d2 AS (
  SELECT coo.vec_id, cents.cell, sum((coo.v - cents.cv) * (coo.v - cents.cv)) AS d2
  FROM coo JOIN cents ON coo.j = cents.j GROUP BY coo.vec_id, cents.cell
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM d2) WHERE rn = 1
),
pc AS (SELECT a.vec_id AS pid, a.cell FROM assign a JOIN probes p ON a.vec_id = p.pid),
ivf AS (
  SELECT pid, vec_id FROM (
    SELECT pc.pid, a.vec_id,
           row_number() OVER (PARTITION BY pc.pid ORDER BY s.cos DESC, a.vec_id) AS rn
    FROM assign a JOIN pc ON a.cell = pc.cell AND a.vec_id <> pc.pid
    JOIN cosd s ON s.pid = pc.pid AND s.vec_id = a.vec_id
  ) WHERE rn <= {TOP_K}
),
exact_n AS (SELECT pid, count(*) AS n_exact FROM brute GROUP BY pid),
hit_n AS (
  SELECT b.pid, count(*) AS n_hits
  FROM brute b JOIN ivf i ON b.pid = i.pid AND b.vec_id = i.vec_id
  GROUP BY b.pid
)
SELECT e.pid AS probe_id,
       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / e.n_exact AS recall
FROM exact_n e LEFT JOIN hit_n h ON e.pid = h.pid
"""


QUERIES = {
    "ann_bruteforce": ann_bruteforce,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "knn_bucketed": knn_bucketed,
    "ann_recall": ann_recall,
}

ORACLE = {
    "ann_bruteforce": ANN_BRUTEFORCE_SQL,
    "ann_lsh": ANN_LSH_SQL,
    "ann_ivf": ANN_IVF_SQL,
    "knn_bucketed": KNN_BUCKETED_SQL,
    "ann_recall": ANN_RECALL_SQL,
}


# ---------------------------------------------------------------------------
# 5. Johnson-Lindenstrauss random projection + measured distortion — the
#    dimension-reduction step BEFORE ANN at corpus scale.  At 100 TB you
#    don't run 64-dim (or 1024-dim) cosine on every candidate: you project
#    once to d_out dims with a data-independent random matrix (JL lemma:
#    pairwise distances survive within 1±eps), run the cheap ANN tiers on
#    the projection, and re-rank the short-list at full width.  This query
#    is the tune-before-you-run measurement for that trade (ann's twin of
#    dedup_recall): squared-L2 distortion statistics of the projection on
#    a hash-defined probe subset.
#
#    The projection matrix is Rademacher ±1/sqrt(d_out) with signs drawn
#    from md5(j|k) — generated once in plain Python below and embedded as
#    EXACT ±0.25 literals in both engines, so DuckDB replays the entire
#    computation; 0.25 is a dyadic rational, so the literals are exact in
#    binary and the two engines' arithmetic agrees bit-for-bit at the
#    1e-6 rounding the comparator applies.
#
#    100 TB shape: the projection itself is a pure map-side expression
#    (16 fused multiply-add folds per row, whole-stage codegen, no
#    shuffle); the distortion measurement is probe-only (probe_frac^2 of
#    pairs, the dedup_recall pattern) and generates pairs via COO
#    equi-joins on the dimension index -- never a cartesian product.
JL_D_IN = 64
JL_D_OUT = 16
JL_PROBE_MOD = 8


def _jl_matrix(d_out: int = JL_D_OUT):
    """Rademacher ±1/√d_out; the sign of entry (j, k) comes from one md5
    bit, so the matrix is identical everywhere it is regenerated.  The
    scale is dyadic only for d_out ∈ {4, 16, 64}; for other widths the
    1/√d_out factor is applied OUTSIDE the stored signs (exactly once, in
    both engines, as a final multiply) so the embedded literals stay ±1 —
    exact in binary — and the single scaling multiply agrees bit-for-bit."""
    import hashlib

    def sign(j, k):
        h = hashlib.md5(f"jl|{j}|{k}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    return [[sign(j, k) for k in range(d_out)] for j in range(JL_D_IN)]


def _jl_lit(d_out: int = JL_D_OUT):
    """The transposed R matrix (row k = output dim k's ±1 weights) as ONE
    parsed SQL nested-array literal.  ``F.lit`` of the same nested list
    converts 64·d_out doubles element-by-element over py4j — measured
    1.2–1.6 s of pure driver time at d_out=32; one ``F.expr`` parse of
    the equivalent literal is ~20 ms and value-identical (entries are
    ±1.0, exact in binary; repr round-trips)."""
    r = _jl_matrix(d_out)
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(repr(float(r[j][k])) + "D" for j in range(JL_D_IN))
            + ")"
            for k in range(d_out)
        )
        + ")"
    )


def project_embeddings(
    emb: DataFrame, id_col: str = "vec_id", d_out: int = JL_D_OUT
) -> DataFrame:
    """(id, proj: array<double> of d_out) — the whole d_out-wide
    projection is ONE transform-over-sequence expression against a
    nested-literal R matrix: per output dim k it folds
    zip_with(x, R[k]) and scales by 1/√d_out, element-for-element the
    same arithmetic as d_out separate fold columns.  The earlier
    per-dim form built d_out copies of the fold (each with its own
    64-double literal) — ~2k py4j literal conversions that made the
    DRIVER-side plan construction the dominant cost (3–4.6 s of the
    ann_jl_rerank wall clock at d_out=32).  No shuffle, no Python."""
    inv_sqrt = 1.0 / (d_out ** 0.5)
    # row k of the literal = output dim k's weights over the input dims
    r_t = _jl_lit(d_out)
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(d_out - 1)),
        lambda k: F.aggregate(
            F.zip_with(x, F.element_at(r_t, k + 1), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(inv_sqrt),
    )
    return emb.select(F.col(id_col), proj.alias("proj"))


JL_PAIR_BLOCKS = 32  # block-pair fan-out for the probe self-pairing


def ann_jl_distortion(spark, sf_dir, probe_mod: int = JL_PROBE_MOD):
    emb = _emb(spark, sf_dir).where(F.col("vec_id") % probe_mod == 0)
    # One row per probe vector carrying BOTH representations as arrays:
    # the full-width doubles and the JL projection (the same fold
    # expressions project_embeddings emits).  Pairing then moves n·B
    # array rows instead of n·(d_in+d_out) COO rows, and the per-pair
    # squared distances are ROW-LEVEL folds — the old COO form expanded
    # every pair 64-fold (resp. 16-fold) through a sort-merge join on
    # the 64-value dimension index and collapsed it right back with two
    # pair-keyed groupBys (≈2.5M intermediate rows, 2 extra shuffles,
    # and a d_full⋈d_proj re-join that this form never needs).
    inv_sqrt = 1.0 / (JL_D_OUT ** 0.5)
    # one transform-over-sequence fold against the nested-literal R —
    # same arithmetic, ~JL_D_OUT× fewer py4j expression builds (the
    # driver-side construction cost project_embeddings documents)
    r_t = _jl_lit()
    x = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(JL_D_OUT - 1)),
        lambda k: F.aggregate(
            F.zip_with(x, F.element_at(r_t, k + 1), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(inv_sqrt),
    )
    base = emb.select("vec_id", x.alias("x"), proj.alias("p"))
    # Scale-safe all-pairs over the probe set: every unordered pair is
    # produced EXACTLY once through two equi-joins on a B-way blocking
    # key ((vec_id / probe_mod) % B — dense and deterministic), never a
    # cartesian/BNLJ: 'a' fans out to its B ordered block combos, 'b'
    # equi-joins on its own block, and the vec_id< filter keeps each
    # pair once.  Shuffle volume is n·B + n rows of array payload;
    # parallelism is the B² combo grid, independent of key skew.
    combos = spark.createDataFrame(
        [(ga, gb) for ga in range(JL_PAIR_BLOCKS) for gb in range(JL_PAIR_BLOCKS)],
        "ga int, gb int",
    )
    blk = ((F.col("vec_id") / probe_mod) % JL_PAIR_BLOCKS).cast("int")
    a = base.select(
        F.col("vec_id").alias("a"), F.col("x").alias("xa"),
        F.col("p").alias("pa"), blk.alias("ga"),
    ).join(F.broadcast(combos), "ga")
    b = base.select(
        F.col("vec_id").alias("b"), F.col("x").alias("xb"),
        F.col("p").alias("pb"), blk.alias("gb"),
    )
    d2 = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(F.col(u), F.col(v), lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, w: acc + w,
    )
    pairs = (
        a.join(b, "gb")
        .where(F.col("a") < F.col("b"))
        .select(d2("xa", "xb").alias("d2_full"), d2("pa", "pb").alias("d2_proj"))
    )
    ratios = pairs.where(F.col("d2_full") > 0).select(
        (F.col("d2_proj") / F.col("d2_full")).alias("r")
    )
    return ratios.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("r"), 6).alias("mean_ratio"),
        F.round(F.min("r"), 6).alias("min_ratio"),
        F.round(F.max("r"), 6).alias("max_ratio"),
        F.round(
            F.avg(F.when((F.col("r") >= 0.5) & (F.col("r") <= 1.5), 1.0).otherwise(0.0)),
            6,
        ).alias("frac_within_50pct"),
    )


def _jl_r_values_sql(d_out: int = JL_D_OUT) -> str:
    r = _jl_matrix(d_out)
    rows = ", ".join(
        f"({j}, {k}, {int(r[j][k])})"
        for j in range(JL_D_IN)
        for k in range(d_out)
    )
    return f"(VALUES {rows}) r(j, k, v)"


def _jl_scale_sql(d_out: int = JL_D_OUT) -> str:
    # repr() round-trips the exact double, so both engines parse the same
    # binary value
    return repr(1.0 / (d_out ** 0.5))


ANN_JL_DISTORTION_SQL = f"""
WITH probe AS (
  SELECT * FROM embeddings WHERE vec_id % {JL_PROBE_MOD} = 0
),
coo AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM probe
),
r AS (SELECT * FROM {_jl_r_values_sql()}),
proj AS (
  SELECT c.vec_id, r.k AS j, sum(c.v * r.v) * {_jl_scale_sql()} AS v
  FROM coo c JOIN r ON c.j = r.j
  GROUP BY c.vec_id, r.k
),
d_full AS (
  SELECT x.vec_id AS a, y.vec_id AS b, sum((x.v - y.v) ^ 2) AS d2_full
  FROM coo x JOIN coo y ON x.j = y.j AND x.vec_id < y.vec_id
  GROUP BY x.vec_id, y.vec_id
),
d_proj AS (
  SELECT x.vec_id AS a, y.vec_id AS b, sum((x.v - y.v) ^ 2) AS d2_proj
  FROM proj x JOIN proj y ON x.j = y.j AND x.vec_id < y.vec_id
  GROUP BY x.vec_id, y.vec_id
),
ratios AS (
  SELECT d_proj.d2_proj / d_full.d2_full AS r
  FROM d_full JOIN d_proj ON d_full.a = d_proj.a AND d_full.b = d_proj.b
  WHERE d_full.d2_full > 0
)
SELECT count(*) AS n_pairs,
       round(avg(r), 6) AS mean_ratio,
       round(min(r), 6) AS min_ratio,
       round(max(r), 6) AS max_ratio,
       round(avg(CASE WHEN r >= 0.5 AND r <= 1.5 THEN 1.0 ELSE 0.0 END), 6)
         AS frac_within_50pct
FROM ratios
"""

QUERIES["ann_jl_distortion"] = ann_jl_distortion
ORACLE["ann_jl_distortion"] = ANN_JL_DISTORTION_SQL


# -- JL as an ANN tier: over-fetch in projected space, re-rank full-width --
JL_RERANK_D = 32   # projection width for the search tier (2x cost cut)
JL_OVERFETCH = 8   # candidate pool = k * this, in projected space


def ann_jl_rerank(spark, sf_dir, query_id: int = QUERY_VEC_ID, k: int = TOP_K):
    """Two-tier ANN using the JL projection: score COSINE in the
    JL_RERANK_D-dim projected space (JL preserves inner products and
    norms, so projected cosine tracks full cosine; projected L2 alone
    would NOT, because the exact ranking is angular and the embedding
    norms vary), TakeOrdered the top k*JL_OVERFETCH candidates, then
    re-rank ONLY that short-list with exact full-width cosine.  At 100 TB
    the projected scan is the only corpus-wide pass; the re-rank touches
    k*overfetch rows.

    Width/over-fetch are data-dependent knobs tuned BY MEASUREMENT
    (ann_jl_distortion + the recall test): these synthetic embeddings are
    near-isotropic with small neighbor gaps — the hard case for any
    projection — so the tier runs at 32 dims and 8x over-fetch for ~70-80%
    recall@10; production embedding spreads (768-4096 dims, clustered)
    tolerate far more aggressive reduction."""
    pe = project_embeddings(_emb(spark, sf_dir), d_out=JL_RERANK_D)
    qp = pe.where(F.col("vec_id") == query_id).select(F.col("proj").alias("qp"))
    cand = (
        pe.where(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(qp))
        .select("vec_id", V.cosine(F.col("proj"), F.col("qp")).alias("cosp"))
        .orderBy(F.col("cosp").desc(), F.col("vec_id").asc())
        .limit(k * JL_OVERFETCH)
    )
    emb = _emb(spark, sf_dir).select(
        "vec_id", V.to_double_array("embedding").alias("e")
    )
    q = emb.where(F.col("vec_id") == query_id).select(F.col("e").alias("qe"))
    return (
        cand.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", V.cosine(F.col("e"), F.col("qe")).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
    )


ANN_JL_RERANK_SQL = f"""
WITH coo AS ({{_SQL_COO_BRACED}}),
r AS (SELECT * FROM {{_JL_R_VALUES}}),
proj AS (
  SELECT c.vec_id, r.k AS j, sum(c.v * r.v) * {{_JL_SCALE}} AS v
  FROM (SELECT vec_id, j - 1 AS j, v FROM coo) c JOIN r ON c.j = r.j
  GROUP BY c.vec_id, r.k
),
qp AS (SELECT j, v FROM proj WHERE vec_id = {{QID}}),
qpn AS (SELECT sqrt(sum(v * v)) AS n FROM qp),
cand AS (
  SELECT p.vec_id,
         sum(p.v * qp.v) / (sqrt(sum(p.v * p.v)) * (SELECT n FROM qpn))
           AS cosp
  FROM proj p JOIN qp ON p.j = qp.j
  WHERE p.vec_id <> {{QID}}
  GROUP BY p.vec_id
  ORDER BY cosp DESC, p.vec_id ASC LIMIT {{NCAND}}
),
q AS (SELECT j, v FROM coo WHERE vec_id = {{QID}}),
dots AS (
  SELECT c.vec_id, sum(c.v * q.v) AS dp, sqrt(sum(c.v * c.v)) AS cn
  FROM coo c JOIN q ON c.j = q.j
  WHERE c.vec_id IN (SELECT vec_id FROM cand)
  GROUP BY c.vec_id
),
qn AS (SELECT sqrt(sum(v * v)) AS n FROM q)
SELECT vec_id, dp / (cn * (SELECT n FROM qn)) AS cos
FROM dots ORDER BY cos DESC, vec_id ASC LIMIT {{K}}
"""

ANN_JL_RERANK_SQL = (
    ANN_JL_RERANK_SQL
    .replace("{_SQL_COO_BRACED}", _SQL_COO)
    .replace("{_JL_R_VALUES}", _jl_r_values_sql(JL_RERANK_D))
    .replace("{_JL_SCALE}", _jl_scale_sql(JL_RERANK_D))
    .replace("{QID}", str(QUERY_VEC_ID))
    .replace("{NCAND}", str(TOP_K * JL_OVERFETCH))
    .replace("{K}", str(TOP_K))
)

QUERIES["ann_jl_rerank"] = ann_jl_rerank
ORACLE["ann_jl_rerank"] = ANN_JL_RERANK_SQL


# ---------------------------------------------------------------------------
# 8. Scalar-quantized (SQ8) ANN: per-dimension int8 codes, asymmetric
#    distance (full-precision query vs decoded corpus), exact re-score of
#    the short-list.  The memory-compression tier of the ANN family
#    (Faiss's SQ8): 4x smaller vectors than float32, 8x than double, so a
#    100 TB float corpus fits the same executors at 25 TB, and the
#    per-dimension codebook is a d-row broadcast — no training, no
#    codebook shuffle.  Quantization arithmetic is pure doubles, so the
#    oracle reproduces every code and estimate bit-for-bit; the emitted
#    rows carry estimate vs exact per hit, making the quantization error
#    measurable in-plan.
SQ8_LEVELS = 255


def ann_sq8(spark, sf_dir, query_id: int = QUERY_VEC_ID, k: int = TOP_K):
    emb = _emb(spark, sf_dir)
    coo = emb.select(
        "vec_id", F.posexplode(V.to_double_array("embedding")).alias("j0", "v")
    ).select("vec_id", (F.col("j0") + 1).alias("j"), "v")

    stats = coo.groupBy("j").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    q = coo.filter(F.col("vec_id") == query_id).select("j", F.col("v").alias("qv"))
    qn = q.agg(F.sqrt(F.sum(F.col("qv") * F.col("qv"))).alias("qn"))

    code = F.round(
        (F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * SQ8_LEVELS
    )
    vhat = F.when(
        F.col("hi") > F.col("lo"),
        F.col("lo") + code / float(SQ8_LEVELS) * (F.col("hi") - F.col("lo")),
    ).otherwise(F.col("lo"))

    dec = (
        coo.filter(F.col("vec_id") != query_id)
        .join(F.broadcast(stats), "j")
        .withColumn("vhat", vhat)
    )
    scored = (
        dec.join(F.broadcast(q), "j")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("vhat") * F.col("qv")).alias("dp"),
            F.sqrt(F.sum(F.col("vhat") * F.col("vhat"))).alias("cn"),
        )
    )
    topk = (
        scored.crossJoin(F.broadcast(qn))
        .select("vec_id", (F.col("dp") / (F.col("cn") * F.col("qn"))).alias("cos_sq8"))
        .orderBy(F.col("cos_sq8").desc(), F.col("vec_id").asc())
        .limit(k)
    )
    exact = (
        coo.join(F.broadcast(topk), "vec_id")
        .join(F.broadcast(q), "j")
        .groupBy("vec_id", "cos_sq8")
        .agg(
            F.sum(F.col("v") * F.col("qv")).alias("dp"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("cn"),
        )
    )
    return (
        exact.crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("dp") / (F.col("cn") * F.col("qn")), 6).alias("cos_exact"),
            F.round("cos_sq8", 6).alias("cos_sq8"),
            F.round(
                F.abs(F.col("cos_sq8") - F.col("dp") / (F.col("cn") * F.col("qn"))), 6
            ).alias("sq8_err"),
        )
    )


ANN_SQ8_SQL = (
    """
WITH coo AS ({_COO}),
st AS (SELECT j, min(v) AS lo, max(v) AS hi FROM coo GROUP BY j),
q AS (SELECT j, v AS qv FROM coo WHERE vec_id = {QID}),
qn AS (SELECT sqrt(sum(qv * qv)) AS n FROM q),
dec AS (
  SELECT c.vec_id, c.j,
         CASE WHEN s.hi > s.lo
              THEN s.lo + round((c.v - s.lo) / (s.hi - s.lo) * 255) / 255.0
                     * (s.hi - s.lo)
              ELSE s.lo END AS vhat
  FROM coo c JOIN st s ON c.j = s.j
  WHERE c.vec_id <> {QID}
), sq AS (
  SELECT d.vec_id, sum(d.vhat * q.qv) AS dp, sqrt(sum(d.vhat * d.vhat)) AS cn
  FROM dec d JOIN q ON d.j = q.j GROUP BY d.vec_id
), topk AS (
  SELECT vec_id, dp / (cn * (SELECT n FROM qn)) AS cos_sq8
  FROM sq ORDER BY cos_sq8 DESC, vec_id ASC LIMIT {K}
), ex AS (
  SELECT c.vec_id, sum(c.v * q.qv) AS dp, sqrt(sum(c.v * c.v)) AS cn
  FROM coo c JOIN q ON c.j = q.j
  WHERE c.vec_id IN (SELECT vec_id FROM topk)
  GROUP BY c.vec_id
)
SELECT t.vec_id,
       round(e.dp / (e.cn * (SELECT n FROM qn)), 6) AS cos_exact,
       round(t.cos_sq8, 6) AS cos_sq8,
       round(abs(t.cos_sq8 - e.dp / (e.cn * (SELECT n FROM qn))), 6) AS sq8_err
FROM topk t JOIN ex e ON t.vec_id = e.vec_id
"""
    .replace("{_COO}", _SQL_COO)
    .replace("{QID}", str(QUERY_VEC_ID))
    .replace("{K}", str(TOP_K))
)

QUERIES["ann_sq8"] = ann_sq8
ORACLE["ann_sq8"] = ANN_SQ8_SQL
