"""Linear-algebra workload library — the reference's LA DSL algebra
(reference src/linearAlgebraDSL/: transpose, multiply %*%, transpose-multiply
'*, add/subtract, scale, max/min element, rowMax/rowMin/colMax/colMin,
rowSum/colSum, duplicateRow/duplicateCol —
src/linearAlgebraDSL/source/LAEvaluateFunctions.cc:256-341) re-expressed on
DataFrames in COO form (i, j, v): element-wise ops as joins/aggregations,
multiply as the reference's join-on-index + aggregate-sum plan
(LAEvaluateFunctions.cc:213-341).  DuckDB can unnest the same data, so every
query is oracle-gated.

Scale: matmul shuffles on the contraction index, then on (i, j) with
combine-side partial sums — the same dataflow the reference runs
distributed; Catalyst broadcasts the smaller operand when one matrix is
thin.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.binding import base_table
from lachesis_spark.operators import core
from lachesis_spark.operators.core import barrier as _barrier


# ---------------------------------------------------------------------------
# COO representation
def coo_from_embeddings(spark: SparkSession, sf_dir: str, limit: int | None = None) -> DataFrame:
    """Materialize the embeddings table as a COO matrix A (n_vec × dim):
    i = vec_id, j = position, v = value (cast double)."""
    emb = base_table(spark, sf_dir, "embeddings")
    if limit is not None:
        emb = emb.filter(F.col("vec_id") < limit)
    return emb.select(
        F.col("vec_id").alias("i"),
        F.posexplode("embedding").alias("j", "v_raw"),
    ).select("i", "j", F.col("v_raw").cast("double").alias("v"))


COO_SQL = """
  SELECT vec_id AS i, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings {where}
"""


def transpose(a: DataFrame) -> DataFrame:
    """LA transpose (LAPostfixExpressionNode.h:30-32): swap indices — a pure
    projection, no shuffle."""
    return a.select(F.col("j").alias("i"), F.col("i").alias("j"), "v")


def matmul(a: DataFrame, b: DataFrame, n_parts: int | None = None) -> DataFrame:
    """A %*% B on COO: equi-join on the contraction index + group-sum
    (the reference's join-on-block-index + aggregate plan,
    LAEvaluateFunctions.cc:213-341).  Shuffles both sides on the inner index,
    then on (i,j); partial aggregation combines map-side.

    ``n_parts`` scopes the contraction-sum shuffle (the one shuffle this op
    repeats per call when iterated) to the matrix size via an explicit
    ``repartition`` on the joined frame — used by iterative callers
    (:func:`inverse_newton`) so the loop never narrows the session-global
    ``spark.sql.shuffle.partitions`` (which would leak into concurrently
    planned queries in a shared driver).  The join itself is left to
    Catalyst: a small operand with size stats (e.g. a driver-side
    :func:`inverse`) is broadcast, anything else shuffles at the session
    width, AQE-coalesced."""
    aa = a.select(F.col("i").alias("ai"), F.col("j").alias("k"), F.col("v").alias("av"))
    bj = b.select(F.col("i").alias("k2"), F.col("j").alias("bj"), F.col("v").alias("bv"))
    joined = aa.join(bj, F.col("k") == F.col("k2"))
    if n_parts is not None:
        joined = joined.select("ai", "bj", "av", "bv").repartition(n_parts, "ai", "bj")
    return (
        joined.groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
        .agg(F.sum(F.col("av") * F.col("bv")).alias("v"))
    )


def gram(a: DataFrame) -> DataFrame:
    """A' %*% A (the reference's Gram-matrix workload, documentation.md:7)."""
    return matmul(transpose(a), a)


def scale_mult(a: DataFrame, s: float) -> DataFrame:
    return a.withColumn("v", F.col("v") * s)


def add(a: DataFrame, b: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Element-wise add via full-outer-join-free union+sum (sparse-safe).
    ``n_parts`` scopes the group-sum shuffle per-frame (see :func:`matmul`)."""
    u = a.unionByName(b)
    if n_parts is not None:
        u = u.repartition(n_parts, "i", "j")
    return u.groupBy("i", "j").agg(F.sum("v").alias("v"))


def subtract(a: DataFrame, b: DataFrame) -> DataFrame:
    return add(a, scale_mult(b, -1.0))


def row_sum(a: DataFrame) -> DataFrame:
    return a.groupBy("i").agg(F.sum("v").alias("v"))


def col_sum(a: DataFrame) -> DataFrame:
    return a.groupBy("j").agg(F.sum("v").alias("v"))


def row_max(a: DataFrame) -> DataFrame:
    return a.groupBy("i").agg(F.max("v").alias("v"))


def row_min(a: DataFrame) -> DataFrame:
    return a.groupBy("i").agg(F.min("v").alias("v"))


def col_max(a: DataFrame) -> DataFrame:
    return a.groupBy("j").agg(F.max("v").alias("v"))


def col_min(a: DataFrame) -> DataFrame:
    return a.groupBy("j").agg(F.min("v").alias("v"))


def max_element(a: DataFrame) -> DataFrame:
    return a.agg(F.max("v").alias("v"))


def min_element(a: DataFrame) -> DataFrame:
    return a.agg(F.min("v").alias("v"))


def _dense(a: DataFrame) -> np.ndarray:
    """COO ``a`` as a dense numpy matrix on the driver: one Arrow collect,
    sized by the largest index, duplicate (i, j) entries summed (as
    :func:`matmul`'s group-sum treats them)."""
    i, j, v = (c.to_numpy() for c in a.select("i", "j", "v").toArrow().columns)
    n = int(max(i.max(), j.max())) + 1
    m = np.zeros((n, n))
    np.add.at(m, (i, j), v)
    return m


def inverse(a: DataFrame) -> DataFrame:
    """Matrix inverse (LAPostfixExpressionNode.h:30-32) on the driver, the
    reference's strategy: gather the matrix and invert it densely (Eigen
    there, ``numpy.linalg.inv`` here, which raises on a singular matrix).
    Every entry comes back as a one-partition (i, j, v) frame.  Inverse is
    a dense global op — at scale you invert reduced matrices
    (Gram/covariance), never the data matrix itself; :func:`inverse_auto`
    sends anything above the driver gate to :func:`inverse_newton`."""
    inv = np.linalg.inv(_dense(a))
    i, j = np.divmod(np.arange(inv.size), inv.shape[0])
    return core.driver_frame(a.sparkSession, i=i, j=j, v=inv.ravel())


def identity_coo(spark: SparkSession, n: int) -> DataFrame:
    """n×n identity in COO form — a range projection, no shuffle."""
    return spark.range(n).select(
        F.col("id").alias("i"), F.col("id").alias("j"), F.lit(1.0).alias("v")
    )


# Observability for the chunked scheduler: inverse_newton overwrites this
# with its executed step/action counts so tests can pin the fixed-cost
# budget (jobs per call) without parsing the Spark UI.
LAST_INVERSE_STATS: dict[str, int] = {}


def inverse_newton(
    a: DataFrame, n: int | None = None, iters: int = 25, tol: float = 1e-9,
    spd: bool = False, chunk: int = 4,
) -> DataFrame:
    """Fully DISTRIBUTED inverse via Newton–Schulz iteration:

        X₀ = Aᵀ / (‖A‖₁·‖A‖∞),   X_{k+1} = X_k (2I − A X_k)

    Composed entirely from the COO algebra (transpose/scale/matmul/add), so
    every step is a Spark join+agg and only scalars reach the driver.
    Quadratically convergent for any nonsingular A under this init
    (Pan & Schreiber's classic residual bound ‖I − A X₀‖₂ < 1).

    This is the partitioned counterpart of the driver-side :func:`inverse`
    (the reference's Eigen-gather design); :func:`inverse_auto` runs it for
    matrices above the driver gate.  The loop runs in M-SPACE (M = A·X,
    Q = the running product of the per-step polynomials P = 2cI − c²M, so
    X = X₀·Q): each step advances M and Q together via ONE join + ONE
    group-sum over a tagged pair frame — algebraically the step's two
    matmuls, with each matmul's own aggregation fused into the outer add's
    group-sum (the sum is associative) and the two right-multiplications
    by the same P sharing one physical join.

    Steps execute in CHUNKS of ``chunk`` with one residual probe per
    chunk and a LAZY checkpoint per STEP (the probe's job materializes
    the chunk's whole pending RDD chain, so a chunk still costs ≈1 Spark
    action; the per-step checkpoints bound optimizer/codegen cost at one
    step — the fused step references mq 3×, so an uncheckpointed chunk
    grows 3^chunk subtree copies and the probe wall becomes compile time).
    The scaled iteration's residual recursion is deterministic given a
    probed residual, so the intra-chunk re-centering scalars are derived
    analytically and the chunk runs lazily in a single plan.
    Convergence is only ever declared from a PROBED residual below
    ``tol``; when ``iters`` steps run out without one, this raises
    instead of returning an unconverged iterate.  Duplicate (i, j)
    entries of ``a`` sum, as in :func:`matmul`.  For ``spd``, the ‖A‖∞
    probe and the FIRST residual probe are one n-row collect: the
    residual of M₀ = A/‖A‖∞ is an exact per-row function of (row abs-sum,
    max off-diagonal |a_ij|, a_ii), so the first chunk schedules without
    its own probe job.
    """
    spark = a.sparkSession
    # A is referenced by the norm/dimension probes plus M₀ (and the
    # closing Aᵀ·Q matmul on the generic path): materialize it once or its
    # lineage — for a DSL input this is the whole corpus Gram pass —
    # re-executes per reference.  The group-sum makes duplicate entries
    # one entry before any probe reads them.
    a = a.groupBy("i", "j").agg(F.sum("v").alias("v")).transform(_barrier, eager=True)
    if n is None:
        mx = a.agg(F.max("i").alias("mi"), F.max("j").alias("mj")).first()
        n = int(max(mx["mi"], mx["mj"])) + 1
    norms = (
        a.select(
            F.col("i"), F.col("j"), F.abs(F.col("v")).alias("av")
        )
    )
    # Init scaling.  SPD: X₀ = I/‖A‖∞ — valid because for symmetric A the
    # spectral norm is bounded by the row-sum norm, so every eigenvalue of
    # A/‖A‖∞ lies in (0, 1] and ρ(I − A·X₀) < 1; tighter than the generic
    # product-norm scaling (measured 15 → 11 steps on the 64×64 embedding
    # Gram) and X₀ costs no matmul.  Generic: X₀ = Aᵀ/(‖A‖₁·‖A‖∞)
    # (Pan & Schreiber's classic ‖I − A·X₀‖₂ < 1 init).
    norm_1 = None
    res0 = None
    if spd:
        # ONE n-row collect supplies ‖A‖∞ AND the exact first residual of
        # M₀ = A·(1/‖A‖∞): |a_ij·s| == |a_ij|·s exactly for s > 0, so the
        # per-row max off-diagonal |a_ij| and the diagonal value replay
        # the old first probe's arithmetic bit-for-bit on the driver.
        rows = (
            a.groupBy("i").agg(
                F.sum(F.abs(F.col("v"))).alias("s"),
                F.max(
                    F.when(F.col("i") != F.col("j"), F.abs(F.col("v")))
                ).alias("moff"),
                F.max(F.when(F.col("i") == F.col("j"), F.col("v"))).alias("dg"),
            )
        ).collect()
        norm_inf = max(float(r["s"]) for r in rows)
        scale0 = 1.0 / float(norm_inf)
        res0 = 0.0
        ndiag0 = 0
        for r in rows:
            if r["moff"] is not None:
                res0 = max(res0, abs(float(r["moff"]) * scale0))
            if r["dg"] is not None:
                ndiag0 += 1
                res0 = max(res0, abs(float(r["dg"]) * scale0 - 1.0))
        if ndiag0 < n:
            res0 = max(res0, 1.0)
    else:
        norm_inf = (
            norms.groupBy("i").agg(F.sum("av").alias("s")).agg(F.max("s")).first()[0]
        )
        norm_1 = (
            norms.groupBy("j").agg(F.sum("av").alias("s")).agg(F.max("s")).first()[0]
        )
    # Shuffle width is scoped to the matrix via explicit per-frame
    # repartition (never the session-global spark.sql.shuffle.partitions,
    # which would leak into concurrently planned queries in a shared
    # driver — test-locked in tests/test_la.py).  The joins themselves are
    # left to Catalyst.
    n_parts = max(2, min(32, (n * n) // 2048))

    def fused_step(mq: DataFrame, c: float) -> DataFrame:
        # One scaled-Newton step applied to the TAGGED PAIR frame
        # (t = 0 → M_k rows, t = 1 → Q_k rows): both recurrences are the
        # same right-multiplication by P = 2cI − c²M_k,
        #     M' = 2c·M − c²·M·M,   Q' = 2c·Q − c²·Q·M,
        # so one join of the whole pair frame against the M rows plus one
        # group-sum on (t, i, j) advances BOTH matrices — a single shuffle
        # stage and a single join build per step instead of two of each.
        m_side = mq.filter(F.col("t") == 0).select(
            F.col("i").alias("k2"), F.col("j").alias("bj"), F.col("v").alias("bv")
        )
        prod_terms = (
            mq.select("t", F.col("i").alias("ai"), F.col("j").alias("k"), F.col("v").alias("av"))
            .join(m_side, F.col("k") == F.col("k2"))
            .select("t", F.col("ai").alias("i"), F.col("bj").alias("j"),
                    (-c * c * F.col("av") * F.col("bv")).alias("v"))
        )
        u = mq.withColumn("v", F.col("v") * (2.0 * c)).unionByName(prod_terms)
        u = u.repartition(n_parts, "i", "j")
        return u.groupBy("t", "i", "j").agg(F.sum("v").alias("v"))

    # CHUNKED, SCHEDULED, M-SPACE iteration (round-9: the inverse's cost
    # on a reduced-dim matrix is job-COUNT-bound fixed overhead, not
    # FLOPs — the per-step probe + checkpoint pair was 2 Spark actions per
    # step).  Three structural moves:
    #
    #   1. M-space recurrence: with P_k = 2c_kI − c_k²M_k, the next
    #      product is M_{k+1} = A·X_{k+1} = M_k·P_k and the iterate itself
    #      is X_k = X₀·Q_k with Q_k = P₀·P₁⋯P_{k−1} — so after M₀ the loop
    #      never references A (for a DSL input, A's lineage is the corpus
    #      Gram), and X materializes once at the end (X₀ is I/‖A‖∞ for the
    #      SPD init — a scalar — so X = Q/‖A‖∞ is a projection).
    #   2. Analytic c-schedule: the scaled iteration's residual recursion
    #      ρ′ = (ρ/(2−ρ))² is deterministic given a probed residual, so
    #      one probe per chunk of `chunk` steps supplies every re-centering
    #      scalar in the chunk.  Convergence is never assumed from the
    #      schedule — the loop only exits on a PROBED residual < tol (the
    #      entrywise max under-estimates the spectral residual, so a
    #      drifted prediction costs at worst a couple of extra steps, and
    #      probe-derived c's only ever under-scale, which is safe: the
    #      ∞-norm upper bound was tried and rejected because over-scaling
    #      past the symmetric point can regress a step).
    #   3. Fused materialization: M_{k+chunk} and Q_{k+chunk} checkpoint
    #      together as ONE tagged union (one Spark action), and the next
    #      probe is a plain aggregation over the checkpointed M — no
    #      matmul in the probe at all.
    #
    # Net: ONE action per `chunk` steps (the probe; checkpoints are lazy
    # and materialize inside the next probe's job).
    #
    # SCALED Newton–Schulz background (unchanged): under both inits A·X₀
    # is symmetric with real eigenvalues in (0, 1], and every Newton step
    # maps eigenvalue µ to 1 − (1 − µ)², keeping the spectrum in the
    # ONE-SIDED interval [1 − r, 1]; re-centering with c = 2/(2 − r)
    # makes the interval symmetric and contracts the residual to
    # (r/(2 − r))² per step instead of r².  c < 2 always, so every
    # eigenvalue of c·A·X stays inside (0, 2), the Newton basin —
    # scheduled c's can slow convergence but never diverge.
    stats = {"steps": 0, "probes": 0, "checkpoints": 0}
    if spd:
        m0 = scale_mult(a, 1.0 / float(norm_inf))  # M₀ = A·(I/‖A‖∞)
    else:
        m0 = matmul(a, transpose(a), n_parts).withColumn(
            "v", F.col("v") / (float(norm_1) * float(norm_inf))
        )
    # the tagged pair frame: M rows under t = 0, Q rows (Q₀ = I) under
    # t = 1 — the uniform Q-recurrence Q₁ = 2cI − c²·I·M₀ = P₀ needs no
    # special casing when Q starts as explicit identity rows.
    mq = m0.select(F.lit(0).alias("t"), "i", "j", "v").unionByName(
        identity_coo(spark, n).select(F.lit(1).alias("t"), "i", "j", "v")
    )
    # LAZY checkpoint: the next probe's aggregation materializes it, so
    # checkpointing costs no job of its own (same below, per step).
    mq = mq.transform(_barrier)
    stats["checkpoints"] += 1
    plain_applied = False  # did the last executed step use c == 1.0?
    while True:
        # probe: residual I − A·X_k is exactly I − M_k, and M_k sits in the
        # already-checkpointed pair frame — ONE aggregation (no identity
        # join: diagonal entries contribute |v−1|, off-diagonals |v|, and
        # any ABSENT diagonal entry means a residual of exactly 1, covered
        # by the presence count).  The spd init's first residual was
        # already computed on the driver from the norm collect (res0 —
        # bit-identical arithmetic), so the first chunk schedules without
        # a probe job.
        if res0 is not None:
            res, res0 = res0, None
        else:
            pr = (
                mq.filter(F.col("t") == 0)
                .agg(
                    F.max(
                        F.abs(
                            F.when(F.col("i") == F.col("j"), F.col("v") - 1.0)
                            .otherwise(F.col("v"))
                        )
                    ).alias("mx"),
                    F.count(F.when(F.col("i") == F.col("j"), 1)).alias("ndiag"),
                )
                .first()
            )
            res = pr["mx"]
            if res is not None and int(pr["ndiag"]) < n:
                res = max(float(res), 1.0)
            stats["probes"] += 1
        converged = res is not None and float(res) < tol
        # the trailing plain (c = 1) update drives the X·A-side residual —
        # up to cond(A)× the A·X one for non-symmetric A — to res² ≪ tol;
        # with the budget spent, the probed A·X residual has to do.
        if converged and (plain_applied or stats["steps"] >= iters):
            break
        if stats["steps"] >= iters:
            raise RuntimeError(
                f"inverse_newton did not converge: residual {res} >= tol "
                f"{tol} after {iters} steps"
            )
        if converged:
            # converged without a trailing plain step (e.g. X₀ was already
            # the inverse): apply one, exactly as the per-step form did.
            cs = [1.0]
        else:
            # analytic c-schedule for the next `chunk` steps from the
            # probed residual; if the predicted residual crosses tol
            # mid-chunk, end the chunk there with the trailing plain step.
            # (Scheduling ALL remaining steps from one probe was measured
            # SLOWER: the probe under-estimates the spectral residual, so
            # a long prediction drifts and the confirm probe schedules
            # whole extra rounds; re-probing every `chunk` steps corrects
            # course while the probe job doubles as the chunk's executor.)
            r_hat = min(float(res), 1.0 - 1e-12) if res is not None else 1.0 - 1e-12
            cs = []
            while stats["steps"] + len(cs) < iters and len(cs) < max(1, chunk):
                if r_hat < tol:
                    cs.append(1.0)
                    break
                cs.append(2.0 / (2.0 - r_hat))
                rho = r_hat / (2.0 - r_hat)
                r_hat = rho * rho
        # Lazy checkpoint after EVERY step, probe once per chunk: the
        # fused step references mq 3×, so an uncheckpointed chunk grows
        # 3^chunk subtree copies and per-probe wall is dominated by
        # optimizer+codegen over that tree (measured 4.4 s at chunk 2,
        # 60 s at chunk 6).  Per-step lazy checkpoints bound codegen depth
        # at ONE step while the chunk still costs a single ACTION (the
        # next probe materializes the whole pending RDD chain inside one
        # job cascade).
        for c in cs:
            mq = fused_step(mq, c).transform(_barrier)
        stats["steps"] += len(cs)
        stats["checkpoints"] += 1
        plain_applied = cs[-1] == 1.0
        if converged:
            break
    LAST_INVERSE_STATS.clear()
    LAST_INVERSE_STATS.update(stats)
    q = mq.filter(F.col("t") == 1).drop("t")
    # X = X₀·Q — for the SPD init X₀ = I/‖A‖∞ this is a projection; the
    # generic init pays its one closing matmul with Aᵀ.
    if spd:
        return scale_mult(q, 1.0 / float(norm_inf))
    return matmul(transpose(a), q, n_parts).withColumn(
        "v", F.col("v") / (float(norm_1) * float(norm_inf))
    )


def inverse_auto(
    a: DataFrame, n: int | None = None, spd: bool = False
) -> DataFrame:
    """Size-gated inverse dispatcher — the DSL ``inverse()`` keyword's
    entry point (LAPostfixExpressionNode.h:30-32).  At or under the driver
    gate (n² ≤ ``core.DRIVER_LOOP_ROW_LIMIT`` entries) the matrix is
    gathered and inverted on the driver with :func:`inverse`, as the
    reference gathers and Eigen-inverts; anything larger runs the
    partitioned :func:`inverse_newton` iteration, so a ``.pdml`` script
    inverting a corpus-scale matrix never plans a full collect.  Without
    ``n`` the dimension probe is a 1-row max aggregation.  Duplicate
    (i, j) entries sum on both sides of the gate.  ``spd`` is a
    caller-supplied structural guarantee (e.g. the DSL's ``A '* A`` Gram
    provenance): it selects the cheaper symmetric Newton init (no ‖A‖₁
    probe, no M₀/closing matmuls, ~4 fewer steps) — the result is still
    convergence-probed, never assumed."""
    if n is None:
        # lazy barrier: the probe materializes it, so the gather or the
        # Newton loop after it does not re-execute the input's lineage
        # (for a .pdml Gram, a full corpus pass)
        a = a.transform(_barrier)
        mx = a.agg(F.max("i").alias("mi"), F.max("j").alias("mj")).first()
        n = int(max(mx["mi"], mx["mj"])) + 1
    if n * n <= core.DRIVER_LOOP_ROW_LIMIT:
        return inverse(a)
    return inverse_newton(a, n=n, spd=spd)


def duplicate_row(row_vec: DataFrame, n: int) -> DataFrame:
    """duplicateRow (LAEvaluateFunctions.cc:256-341): broadcast a 1×m row
    vector to n×m.  Implemented as explode of a range literal — no shuffle."""
    return row_vec.select(
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("i"),
        F.col("j"),
        F.col("v"),
    )


# ---------------------------------------------------------------------------
# Driver-checkable queries (COO over embeddings, DuckDB-oracle'd)
def _coo_sql(where: str = "") -> str:
    return COO_SQL.format(where=where)


def la_gram(spark, sf_dir):
    """Gram matrix A'A of the embedding matrix (dim×dim = 64×64 output)."""
    return gram(coo_from_embeddings(spark, sf_dir))


LA_GRAM_SQL = f"""
WITH coo AS ({_coo_sql()})
SELECT a.j AS i, b.j AS j, sum(a.v * b.v) AS v
FROM coo a JOIN coo b ON a.i = b.i
GROUP BY a.j, b.j
"""


def la_matmul(spark, sf_dir):
    """A[0:50] %*% A'[,0:80] — rectangular COO matmul (50×80 output)."""
    a = coo_from_embeddings(spark, sf_dir, limit=50)
    bt = transpose(coo_from_embeddings(spark, sf_dir, limit=80))
    return matmul(a, bt)


LA_MATMUL_SQL = f"""
WITH a AS ({_coo_sql('WHERE vec_id < 50')}),
     b AS (SELECT j AS i, i AS j, v FROM ({_coo_sql('WHERE vec_id < 80')}))
SELECT a.i AS i, b.j AS j, sum(a.v * b.v) AS v
FROM a JOIN b ON a.j = b.i
GROUP BY a.i, b.j
"""


def la_transpose_rowsum(spark, sf_dir):
    """rowSum(A') == colSum(A): exercises transpose + rowSum together."""
    return row_sum(transpose(coo_from_embeddings(spark, sf_dir)))


LA_TRANSPOSE_ROWSUM_SQL = f"""
WITH coo AS ({_coo_sql()})
SELECT j AS i, sum(v) AS v FROM coo GROUP BY j
"""


def la_rowmax_colmin(spark, sf_dir):
    """rowMax joined with per-row colMin-of-transpose (same thing) — output
    (i, rmax, rmin)."""
    a = coo_from_embeddings(spark, sf_dir)
    rmax = row_max(a).withColumnRenamed("v", "rmax")
    rmin = row_min(a).withColumnRenamed("v", "rmin")
    return rmax.join(rmin, "i")


LA_ROWMAX_COLMIN_SQL = f"""
WITH coo AS ({_coo_sql()})
SELECT i, max(v) AS rmax, min(v) AS rmin FROM coo GROUP BY i
"""


def la_add_scale(spark, sf_dir):
    """(A + A) - 0.5*A == 1.5*A element-wise; exercises add/subtract/scale."""
    a = coo_from_embeddings(spark, sf_dir, limit=30)
    return subtract(add(a, a), scale_mult(a, 0.5))


LA_ADD_SCALE_SQL = f"""
WITH a AS ({_coo_sql('WHERE vec_id < 30')})
SELECT i, j, sum(v) AS v FROM (
  SELECT i, j, v FROM a
  UNION ALL SELECT i, j, v FROM a
  UNION ALL SELECT i, j, -0.5 * v FROM a
) GROUP BY i, j
"""


def la_dup_colmax(spark, sf_dir):
    """duplicateRow(colMax(A), 5): broadcast a reduced row vector —
    the reference's duplicateRow workload shape."""
    return duplicate_row(col_max(coo_from_embeddings(spark, sf_dir)), 5)


LA_DUP_COLMAX_SQL = f"""
WITH coo AS ({_coo_sql()}),
cm AS (SELECT j, max(v) AS v FROM coo GROUP BY j)
SELECT CAST(t.i AS BIGINT) AS i, cm.j, cm.v FROM cm, range(5) t(i)
"""


def la_extrema(spark, sf_dir):
    """maxElement/minElement in one pass."""
    return coo_from_embeddings(spark, sf_dir).agg(
        F.max("v").alias("max_v"), F.min("v").alias("min_v")
    )


LA_EXTREMA_SQL = f"""
WITH coo AS ({_coo_sql()})
SELECT max(v) AS max_v, min(v) AS min_v FROM coo
"""


def la_inverse_identity(spark, sf_dir):
    """inverse(G) %*% G for the 64×64 Gram matrix — should be ≈ I —
    computed through :func:`inverse_auto`: the Gram is under the driver
    gate, so it is gathered and inverted on the driver as the reference
    does with Eigen; a matrix above the gate runs the partitioned
    :func:`inverse_newton`.

    Tolerance-oracle: the result is rounded at 1e-6 and filtered to its
    nonzero entries, so a numerically-correct inverse yields EXACTLY the 64
    unit diagonal entries — which DuckDB can predict without being able to
    invert (LA_INVERSE_IDENTITY_SQL generates literal I).  Any off-diagonal
    residual above 5e-7, or diagonal drift, breaks the hash match."""
    # lazy barrier: the inverse's gather materializes G for the product
    g = gram(coo_from_embeddings(spark, sf_dir, limit=200)).transform(_barrier)
    prod = matmul(inverse_auto(g, n=64, spd=True), g)
    # round so the result is stable: exact zeros off-diagonal modulo 1e-6
    return prod.select(
        "i", "j", F.round(F.col("v"), 6).alias("v")
    ).filter(F.col("v") != 0.0)


QUERIES = {
    "la_gram": la_gram,
    "la_matmul": la_matmul,
    "la_transpose_rowsum": la_transpose_rowsum,
    "la_rowmax_colmin": la_rowmax_colmin,
    "la_add_scale": la_add_scale,
    "la_dup_colmax": la_dup_colmax,
    "la_extrema": la_extrema,
    "la_inverse_identity": la_inverse_identity,
}

# Tolerance-oracle: DuckDB cannot invert a matrix, but it CAN predict what
# a numerically-correct inverse must produce after la_inverse_identity's
# round(1e-6)+filter(!=0): exactly the 64 unit diagonal entries.  Literal I.
LA_INVERSE_IDENTITY_SQL = """
SELECT CAST(i AS BIGINT) AS i, CAST(i AS INTEGER) AS j,
       CAST(1.0 AS DOUBLE) AS v
FROM range(64) t(i)
"""

ORACLE = {
    "la_gram": LA_GRAM_SQL,
    "la_matmul": LA_MATMUL_SQL,
    "la_transpose_rowsum": LA_TRANSPOSE_ROWSUM_SQL,
    "la_rowmax_colmin": LA_ROWMAX_COLMIN_SQL,
    "la_add_scale": LA_ADD_SCALE_SQL,
    "la_dup_colmax": LA_DUP_COLMAX_SQL,
    "la_extrema": LA_EXTREMA_SQL,
    "la_inverse_identity": LA_INVERSE_IDENTITY_SQL,
}


# ---------------------------------------------------------------------------
# Power iteration for the dominant eigenpair of the covariance G = A'A —
# the top-PC computation (the first step of PCA / spectral embedding).
# Two-phase, matched to the d=64 embedding width:
#
#   1. ONE corpus pass builds G (the same co-keyed join+agg as ``la_gram``:
#      shuffle on the row id, map-side combined) — d×d = 4096 values.
#   2. POWER_ITERS normalized steps v ← G·v / ‖G·v‖ on G alone, zero
#      further corpus reads: in numpy on the driver when G's d² entries
#      fit the driver gate, else as broadcast joins + d-row aggregates on
#      the d²-sized frame.  (When d² itself is too large to materialize,
#      the two-matvec form A'(A·v) per step avoids G at the cost of 2
#      corpus joins per iteration — with d = 64 the Gram route is strictly
#      better: one corpus pass total instead of 2K.)
#
# Iteration count is FIXED so the oracle can unroll the identical
# arithmetic; both engines compute the same K-step iterate, making the
# comparison exact rather than convergence-dependent.  Every oracle CTE is
# MATERIALIZED — the iterate chain references each level twice (value +
# norm), and un-materialized CTE inlining would re-evaluate the whole
# upstream chain 2^K times.
POWER_ITERS = 8


def dominant_eigenpair(g: DataFrame) -> DataFrame:
    """POWER_ITERS normalized power-iteration steps on the square COO
    matrix ``g`` from the constant unit vector, then the Rayleigh quotient
    v'Gv: rows (j int, x, eigval), rounded to 1e-6 and ordered by j.  At or
    under the driver gate (d² ≤ ``core.DRIVER_LOOP_ROW_LIMIT``) ``g`` is
    collected once and the steps run in numpy; above it every step is a
    broadcast join + aggregate with an eager checkpoint of the d-row
    iterate."""
    spark = g.sparkSession
    g = g.transform(_barrier)  # lazy: the dimension probe materializes it
    d = int(g.agg(F.max("j")).collect()[0][0]) + 1  # 1-value bounded collect
    if d * d <= core.DRIVER_LOOP_ROW_LIMIT:
        m = _dense(g)
        x = np.full(d, 1.0 / math.sqrt(d))
        for _ in range(POWER_ITERS):
            x = m @ x
            x /= np.linalg.norm(x)
        out = core.driver_frame(
            spark, j=np.arange(d), x=x, eigval=np.full(d, x @ m @ x)
        ).withColumn("j", F.col("j").cast("int"))
    else:
        # v's key is INT to match the Gram's posexplode index type: join
        # keys stay cast-free and the output schema is unchanged.
        v = spark.createDataFrame(
            [(j, 1.0 / math.sqrt(d)) for j in range(d)], "j int, x double"
        )

        def g_times(v: DataFrame) -> DataFrame:
            return (
                g.join(F.broadcast(v), "j")
                .groupBy("i")
                .agg(F.sum(F.col("v") * F.col("x")).alias("x"))
            )

        for _ in range(POWER_ITERS):
            gv = g_times(v)
            nrm = gv.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
            v = (
                gv.join(F.broadcast(nrm))
                .select(F.col("i").alias("j"), (F.col("x") / F.col("nrm")).alias("x"))
                .transform(_barrier, eager=True)
            )
        # v normalized → Rayleigh quotient v'Gv is the eigenvalue estimate
        gv = g_times(v)
        vr = v.select(F.col("j").alias("vj"), F.col("x").alias("vx"))
        lam = gv.join(F.broadcast(vr), gv.i == vr.vj).agg(
            F.sum(F.col("x") * F.col("vx")).alias("eigval")
        )
        out = v.join(F.broadcast(lam))
    return out.select(
        "j", F.round("x", 6).alias("x"), F.round("eigval", 6).alias("eigval")
    ).orderBy("j")


def la_power_iteration(spark, sf_dir):
    """Dominant eigenpair of the embedding Gram (d = 64): one corpus pass
    builds G, then :func:`dominant_eigenpair`."""
    return dominant_eigenpair(gram(coo_from_embeddings(spark, sf_dir)))


def _power_iteration_sql(iters: int = POWER_ITERS) -> str:
    ctes = [
        f"coo AS MATERIALIZED ({_coo_sql()})",
        "g AS MATERIALIZED (SELECT a.j AS i, b.j AS j, sum(a.v * b.v) AS v"
        " FROM coo a JOIN coo b ON a.i = b.i GROUP BY a.j, b.j)",
        "dims AS MATERIALIZED (SELECT DISTINCT j FROM g)",
        "v0 AS MATERIALIZED"
        " (SELECT j, 1.0 / sqrt((SELECT count(*) FROM dims)) AS x FROM dims)",
    ]
    for k in range(iters):
        ctes.append(
            f"gv{k} AS MATERIALIZED (SELECT g.i, sum(g.v * v.x) AS x"
            f" FROM g JOIN v{k} v USING (j) GROUP BY g.i)"
        )
        ctes.append(
            f"n{k} AS MATERIALIZED (SELECT sqrt(sum(x * x)) AS nrm FROM gv{k})"
        )
        ctes.append(
            f"v{k + 1} AS MATERIALIZED"
            f" (SELECT i AS j, x / (SELECT nrm FROM n{k}) AS x FROM gv{k})"
        )
    ctes.append(
        f"gvf AS MATERIALIZED (SELECT g.i, sum(g.v * v.x) AS x"
        f" FROM g JOIN v{iters} v USING (j) GROUP BY g.i)"
    )
    ctes.append(
        f"lam AS MATERIALIZED (SELECT sum(gvf.x * v.x) AS eigval"
        f" FROM gvf JOIN v{iters} v ON gvf.i = v.j)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT v.j, round(v.x, 6) AS x,"
        f" round((SELECT eigval FROM lam), 6) AS eigval"
        f" FROM v{iters} v ORDER BY v.j"
    )


LA_POWER_ITERATION_SQL = _power_iteration_sql()

QUERIES["la_power_iteration"] = la_power_iteration
ORACLE["la_power_iteration"] = LA_POWER_ITERATION_SQL
