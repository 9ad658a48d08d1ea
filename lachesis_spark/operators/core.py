"""Functional operator algebra — one function per reference Computation.

Reference semantics (file:line cited per operator) re-expressed as lazy
DataFrame transformations.  Nothing here materializes; Catalyst fuses the
whole composition into as few stages as the dependency structure allows, which
replaces the reference's greedy TCAP pipelining
(reference src/queryPlanning/source/TCAPAnalyzer.cc:182-297).

Scale notes are inline per operator: what shuffles, what broadcasts, and what
survives a 1000-executor / 100 TB deployment.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Sequence

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnLike = Column | str


def _col(c: ColumnLike) -> Column:
    return F.col(c) if isinstance(c, str) else c


def barrier_mode(spark) -> str:
    """Which materialization-barrier form fits this deployment.

    ``local``    — local[N] master: ``localCheckpoint`` (executor-memory
                   blocks, lineage truncated).  Free in one JVM; NOT
                   fault-tolerant, which is fine when driver and executor
                   share a process.
    ``reliable`` — a cluster master WITH a checkpoint dir configured:
                   reliable ``checkpoint()`` to the cluster FS (replicated,
                   survives executor loss, still truncates lineage — the
                   right form for plan-growth-bounded loops at 100 TB).
    ``disk``     — a cluster master WITHOUT a checkpoint dir:
                   ``persist(DISK_ONLY)``.  Lineage is KEPT, so a lost
                   executor recomputes instead of failing the query; the
                   trade is that plan growth is not truncated, so loop
                   operators should configure a checkpoint dir in real
                   deployments (documented in SCALE.md); :func:`barrier`
                   warns the first time it takes this form in a process.
    """
    if spark.sparkContext.master.startswith("local"):
        return "local"
    if spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        return "reliable"
    return "disk"


# disk mode warns once per process (see barrier)
_disk_warned = False


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cluster-safe materialization barrier (guide §5).

    Every loop/reuse site in the repo used to call ``localCheckpoint``
    directly.  ``localCheckpoint`` stores blocks on executors WITHOUT
    replication and truncates lineage, so on a real cluster one lost
    executor makes the query unrecoverable mid-run — acceptable only in
    local mode where driver and executors share a JVM.  This seam keeps
    the local behavior byte-identical (same localCheckpoint call, same
    plans) and picks a fault-tolerant form on a cluster master (see
    :func:`barrier_mode`).  Usage: ``df.transform(barrier)`` or
    ``df.transform(barrier, eager=True)``.
    """
    mode = barrier_mode(df.sparkSession)
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    global _disk_warned
    if not _disk_warned:
        _disk_warned = True
        warnings.warn(
            "barrier(): no checkpoint dir on a cluster master, so barriers "
            "persist DISK_ONLY and keep lineage; loop plans grow every "
            "iteration.  Set a checkpoint dir to truncate them.",
            RuntimeWarning,
            stacklevel=2,
        )
    out = df.persist(StorageLevel.DISK_ONLY)
    if eager:
        out.count()
    return out


# Rows at or under which a loop collects its input and iterates in numpy on
# the driver: the graph loops' edges in both directions (dedup.cc_converged,
# graph_algos.kcore_layers / sssp_hops / lpa_labels) and the LA loops' n×n
# matrix entries (la.inverse_auto, la.dominant_eigenpair).  2^19 (i, j, v)
# rows is about 12 MB, where a Spark sweep is a job launch around
# microseconds of work.  An actual size, so corpus-scale inputs keep the
# Spark loops.
DRIVER_LOOP_ROW_LIMIT = 1 << 19


def driver_edges(edges: DataFrame, max_rows: int | None = None):
    """The one small-input gate for the graph loops: a bounded probe.
    ``edges`` holds (u, v) for every edge in both directions.  One Arrow
    collect of at most ``max_rows`` + 1 rows (default
    DRIVER_LOOP_ROW_LIMIT): if at most ``max_rows`` came back, that is the
    whole frame, returned as (sorted node ids, u, v) with u and v as
    indices into the node ids.  Otherwise ``None`` — run the Spark loop.
    The probe computes every partition of ``edges``, so it also
    materializes a lazy barrier the caller put under it."""
    if max_rows is None:
        max_rows = DRIVER_LOOP_ROW_LIMIT
    tbl = edges.limit(max_rows + 1).toArrow()
    if tbl.num_rows > max_rows:
        return None
    u, v = (c.to_numpy().astype(np.int64) for c in tbl.columns)
    nodes, ui = np.unique(u, return_inverse=True)
    return nodes, ui, np.searchsorted(nodes, v)


def driver_frame(spark, **cols) -> DataFrame:
    """A driver kernel's columns as a one-partition LocalRelation: float
    arrays become double columns, everything else long.  Exact size stats,
    and a caller's aggregate or sort plans no exchange."""
    import pyarrow as pa

    arrays = {k: np.asarray(v) for k, v in cols.items()}
    tbl = pa.table({
        k: a.astype(np.float64 if a.dtype.kind == "f" else np.int64)
        for k, a in arrays.items()
    })
    return spark.createDataFrame(tbl).coalesce(1)


def selection(
    df: DataFrame,
    pred: ColumnLike | None = None,
    proj: Sequence[ColumnLike] | None = None,
) -> DataFrame:
    """SelectionComp: filter + per-row projection.

    Reference: src/lambdas/headers/SelectionComp.h:12-23 —
    ``getSelection`` (Lambda<bool>) → ``pred``; ``getProjection``
    (Lambda<Handle<Out>>) → ``proj`` column list.

    Scale: no shuffle.  Predicates/projections built from Column expressions
    stay inside WholeStageCodegen and push down to the Parquet scan; a pandas
    UDF predicate (the native-lambda escape hatch) still pipelines but scans
    all referenced columns — keep filters expression-based where possible.
    """
    out = df
    if pred is not None:
        out = out.filter(_col(pred))
    if proj is not None:
        out = out.select(*[_col(c) for c in proj])
    return out


def multi_selection(
    df: DataFrame,
    pred: ColumnLike | None,
    flat_proj: ColumnLike,
    extra_cols: Sequence[ColumnLike] | None = None,
    out_name: str = "item",
) -> DataFrame:
    """MultiSelectionComp: filter + flatMap (1 row → N rows).

    Reference: src/lambdas/headers/MultiSelectionComp.h:15-24 — the
    projection returns ``Vector<Handle<Out>>`` which TCAP ``FLATTEN``s
    (src/logicalPlan/headers/AtomicComputationClasses.h:219).  Here the
    projection is an array Column and FLATTEN is ``explode``.

    Scale: generate-heavy but shuffle-free; output cardinality is the only
    risk (explode of a 1M-element array in one row → one giant task), so
    upstream data should keep arrays bounded per row.
    """
    out = df if pred is None else df.filter(_col(pred))
    cols = [_col(c) for c in (extra_cols or [])]
    return out.select(*cols, F.explode(_col(flat_proj)).alias(out_name))


def aggregate(
    df: DataFrame,
    key: Sequence[ColumnLike] | None,
    values: Sequence[Column],
) -> DataFrame:
    """AggregateComp / ClusterAggregateComp: group-by-key merge.

    Reference: src/lambdas/headers/AggregateComp.h:27-34 — ``getKeyProjection``
    → ``key`` columns, ``getValueProjection`` + ``Value::operator+`` →
    ``values`` aggregate expressions.  The reference's optional map-side
    combiner (ClusterAggregateComp.h:100-118) is Spark's partial aggregation,
    always on for built-in aggregates.

    Arbitrary ``operator+`` states decompose into built-in aggs (e.g. the
    reference's ``Avg{total,count}`` → sum+count, Q01's 6-field struct →
    6 native aggs); truly opaque merge states go through
    ``functions.lambdas.pandas_udaf`` instead.

    Scale: one hash shuffle on ``key``.  Partial aggregation bounds the
    shuffle volume by (#distinct keys × #map tasks); for high-cardinality
    keys AQE coalesces/splits the reduce side.  ``key=None`` is a global
    aggregate — partials collapse to a single row per task, then one tiny
    reduce; safe at any scale.
    """
    if key:
        return df.groupBy(*[_col(k) for k in key]).agg(*values)
    return df.agg(*values)


def count_all(df: DataFrame) -> DataFrame:
    """Count computation (reference src/builtInPDBObjects/headers/Count.h:16):
    aggregate with constant key.  Returns a 1-row DataFrame so it composes."""
    return df.agg(F.count(F.lit(1)).alias("cnt"))


def join(
    inputs: Sequence[DataFrame],
    equi: Sequence[Column],
    theta: Column | None = None,
    projection: Sequence[ColumnLike] | None = None,
) -> DataFrame:
    """JoinComp: variadic multi-way inner join.

    Reference: src/lambdas/headers/JoinComp.h:43,197-204 — the selection
    lambda's ``==``-over-``&&`` subtrees become hash equi-joins
    (AttAccessLambda.h:147 emits HASHLEFT/HASHRIGHT); any non-equality residue
    becomes cartesian + filter (CPlusPlusLambda.h:314-368); the projection
    sees all matched inputs at once.

    Here: ``inputs`` are chained left-to-right with binary equi-joins
    (``equi[i]`` joins ``inputs[i+1]`` to the accumulated left side); ``theta``
    is the non-equi residue applied after all equi joins (Catalyst evaluates
    it inside the join when possible); ``projection`` sees every input's
    columns, satisfying the all-inputs-at-once contract.

    Scale: Catalyst/AQE picks broadcast vs sort-merge vs shuffled-hash per
    pair the way the reference's planner picks BroadcastJoin vs
    HashPartitionedJoin by source bytes (TCAPAnalyzer.cc:715-760).  Chains
    sharing a key reuse the shuffle partitioning across stages.  A pure-theta
    join (no ``equi``) is an explicit cartesian — as in the reference, it does
    not scale; keep one side tiny.
    """
    if len(inputs) < 2:
        raise ValueError("join needs >= 2 inputs")
    if equi and len(equi) != len(inputs) - 1:
        raise ValueError("need one equi condition per joined input")
    acc = inputs[0]
    for i, right in enumerate(inputs[1:]):
        acc = acc.join(right, on=equi[i], how="inner") if equi else acc.crossJoin(right)
    if theta is not None:
        acc = acc.filter(theta)
    if projection is not None:
        acc = acc.select(*[_col(c) for c in projection])
    return acc


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-mitigating equi-join: manual salting for hot join keys.

    The skewed (left/fact) side gets a deterministic salt in [0, n_salts)
    derived from the whole row, so one hot key's rows spread over n_salts
    shuffle partitions; the right side is replicated once per salt value and
    the join runs on (key, salt).  Results are identical to the plain join —
    every left row still meets every matching right row, exactly once.

    Scale: this is the *static* fallback for the case AQE's runtime skew-join
    split (``spark.sql.adaptive.skewJoin``) can't fix — e.g. a skewed
    *aggregation* feeding the join, or a build side too large to split.  The
    reference's equivalent knob is its hash-partitioned join fan-out
    (JoinComp dispatch; TCAPAnalyzer.cc:715-760 strategy pick).  Cost: the
    right side is materialized n_salts×, so keep it dimension-sized.
    """
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts)
    ).cast("int")
    l_s = left.withColumn("__salt", salt)
    r_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cond = (l_s[left_key] == r_s[right_key]) & (l_s["__salt"] == r_s["__salt"])
    return l_s.join(r_s, cond, "inner").drop("__salt")


def partition(
    df: DataFrame, key: Sequence[ColumnLike], num_partitions: int | None = None
) -> DataFrame:
    """PartitionComp: explicit hash repartitioning by a key lambda.

    Reference: src/lambdas/headers/PartitionComp.h:13-35 — routes objects by
    ``hash(key) % numPartitions`` into a materialized partitioned set that
    later joins/aggs consume partition-locally.  Here the transient form is
    ``repartition`` (a shuffle whose partitioning downstream operators
    reuse); the *persistent* form — the part that actually pays off across
    jobs — is ``Catalog.write_set(..., bucket_by=(n, cols))``, driven by the
    advisor (lachesis_spark.advisor).

    Scale: one shuffle now to save N later — exactly the Lachesis trade.
    """
    cols = [_col(k) for k in key]
    return df.repartition(num_partitions, *cols) if num_partitions else df.repartition(*cols)


def top_k(
    df: DataFrame,
    k: int,
    score: ColumnLike,
    ascending: bool = False,
    tiebreak: Sequence[ColumnLike] | None = None,
) -> DataFrame:
    """TopKComp: global top-k by score.

    Reference: src/queryExecution/headers/TopKComp.h:21-37 — an aggregation
    into a single ``TopKQueue`` whose ``operator+`` merges per-node queues
    (TopKQueue.h:70-80).  Spark's ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject: per-partition heaps of size k merged on the driver
    — the identical algorithm, already distributed.

    ``tiebreak`` columns make the result deterministic under ties (the
    reference's queue is insertion-order-dependent on ties; we do better).

    Scale: no full sort, no shuffle — each task keeps a k-heap; driver merges
    #tasks × k rows.  Safe for k up to ~10^5.
    """
    s = _col(score)
    order = [s.asc() if ascending else s.desc()]
    order += [_col(t).asc() for t in (tiebreak or [])]
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    k: int,
    group: Sequence[ColumnLike],
    score: ColumnLike,
    ascending: bool = False,
    tiebreak: Sequence[ColumnLike] | None = None,
    rank_name: str = "rk",
) -> DataFrame:
    """Grouped top-k via window ranking (the reference reaches this shape by
    keying TopKComp aggregations; reference TopKComp.h:21-37).

    Scale: one shuffle on ``group``; rank truncation happens inside each
    partition so only k rows per group survive.  Skewed groups are split by
    AQE.
    """
    from pyspark.sql import Window

    s = _col(score)
    order = [s.asc() if ascending else s.desc()]
    order += [_col(t).asc() for t in (tiebreak or [])]
    w = Window.partitionBy(*[_col(g) for g in group]).orderBy(*order)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )


def distinct_by(df: DataFrame, key: Sequence[ColumnLike], keep: dict[str, Column] | None = None):
    """Distinct-by-key (the reference expresses distinct as group-by-key with
    a unit value — SURVEY.md §2.8).  ``keep`` selects representative values
    per key (e.g. ``{"doc_id": F.min("doc_id")}``)."""
    if keep:
        return df.groupBy(*[_col(k) for k in key]).agg(
            *[v.alias(n) for n, v in keep.items()]
        )
    return df.select(*[_col(k) for k in key]).distinct()


def flatten_map(
    df: DataFrame, fn: Callable, schema, group: Sequence[ColumnLike] | None = None
) -> DataFrame:
    """Native-lambda flatMap over Arrow batches: the escape hatch for
    MultiSelection projections that are real Python (reference
    CPlusPlusLambda.h:240 inside MultiSelectionComp).

    ``group=None`` → ``mapInPandas`` (per-partition batch iterator, no
    shuffle); with ``group`` → ``applyInPandas`` (one shuffle).
    """
    if group is None:
        return df.mapInPandas(fn, schema=schema)
    return df.groupBy(*[_col(g) for g in group]).applyInPandas(fn, schema=schema)


def parallelism_floor(df: DataFrame, spark=None) -> DataFrame:
    """Re-spread ``df`` when its source offers fewer splits than the cluster
    has cores — the case where an expensive per-row expression downstream
    (JSON parse, regex extraction, shingling, UDF) would otherwise run on a
    handful of tasks.  A big input already scans as many splits
    (maxPartitionBytes), so this is a no-op at scale and costs nothing; only
    a source smaller than cores × one split pays the (tiny, by definition)
    round-robin shuffle.

    The gate reads the ACTUAL scan split count (``rdd.getNumPartitions()``
    — derived from file listing + maxPartitionBytes, no job is launched),
    not the file count: a large corpus stored as a few big parquet files
    still scans as many splits, and must not be round-robined.

    Apply this only where a downstream per-row stage justifies the shuffle
    — aggregate-only consumers should scan the source raw (measured: the
    floor cost quality_classifier/sample_temperature ~0.4 s each at sf0.1
    for zero benefit, while buying shingle/rolling-hash pipelines 2-6×)."""
    spark = spark or df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    return df.repartition(cores)
