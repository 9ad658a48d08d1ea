"""The workloads.  Each runs passes of ops in one closed loop: the next op
starts only after the previous one returned and was checked.

An op returns an :class:`Op` record; a pass returns the list of them plus
its own wall figures.  ``ctx.tracer`` is ``None`` on untraced passes, and
nothing on those passes touches the tracer or the status store.
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
import stats
from spans import count_exchanges

RELATIONAL = (
    "tpch_q01", "tpch_q03", "tpch_q06", "tpch_q09", "tpch_q13", "tpch_q18",
    "op_aggregate", "op_topk", "op_jaccard_topk",
)
ITERATIVE = ("graph_kcore", "graph_sssp", "gmm_em")
PLACEMENT_QUERIES = ["tpch_q03"]
STREAM_FILES = 2


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


@dataclass
class Pass:
    ops: list[Op]
    seconds: float
    extra: dict = field(default_factory=dict)  # workload figures (s, ms, ratios)
    batches_ms: list[float] = field(default_factory=list)


def release_blocks(spark) -> None:
    """Drop cached frames and every persistent RDD (localCheckpoint blocks
    survive clearCache), the way ``bench.py`` does between queries."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def _fail(name: str, t0: float, exc: BaseException) -> Op:
    print(f"# {name} failed: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
    return Op(name, time.perf_counter() - t0, False)


def run_query(ctx, name: str, build, check) -> tuple[Op, list | None]:
    """Build a frame, run its final action (``collect``) and check the rows.

    Traced: the op is split into build (everything the query function does,
    including eager checkpoints and probes), plan (physical planning) and
    action spans, and its jobs are found through a per-op job group."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    try:
        if tr is None:
            df = build()
            rows = df.collect()
            dt = time.perf_counter() - t0
        else:
            tr.start_op(name)
            with tr.span("op", op=name):
                with tr.span("build") as sb:
                    df = build()
                build_jobs = len(tr.jobs())
                with tr.span("plan") as sp:
                    df._jdf.queryExecution().executedPlan()
                with tr.span("action") as sa:
                    rows = df.collect()
            dt = time.perf_counter() - t0
            tr.add("plans.build_s", sb["end"] - sb["start"])
            tr.add("plans.plan_s", sp["end"] - sp["start"])
            tr.add("plans.action_s", sa["end"] - sa["start"])
            tr.add("plans.build_jobs", build_jobs)
            tr.add("plans.action_jobs", len(tr.jobs()) - build_jobs)
            tr.add("exec.exchanges", count_exchanges(df))
            tr.end_op(dt)
    except Exception as e:  # noqa: BLE001 - every failure is counted
        if tr is not None and tr.group is not None:
            tr.end_op(time.perf_counter() - t0)
        release_blocks(ctx.spark)
        return _fail(name, t0, e), None
    ok = check(rows, df.columns)
    if not ok:
        print(f"# {name} wrong answer ({len(rows)} rows)", file=sys.stderr)
    release_blocks(ctx.spark)
    return Op(name, dt, ok), rows


def expected_check(ctx, name: str):
    want = ctx.expected["queries"][name]

    def check(rows, cols):
        return list(stats.answer(rows, cols)) == want
    return check


# -- relational / iterative / streaming ---------------------------------------
class QueryWorkload:
    """Registry queries at the generated sf0.01-sized input, and replays of
    stream queries over the events table split, in time order, into
    ``STREAM_FILES`` files of seed-chosen sizes (each replay admits one file
    per trigger).  A pass runs every op once, in a seed-chosen order."""

    min_passes = 2

    def __init__(self, queries: tuple[str, ...], replays: tuple[str, ...] = ()):
        self.names = list(queries)
        self.replay_names = list(replays)

    def setup(self, ctx) -> None:
        from lachesis_spark.registry import QUERIES

        self.queries = QUERIES
        if self.replay_names:
            self._setup_stream(ctx)

    def run_pass(self, ctx) -> Pass:
        ops, extra, batches = [], {}, []
        for name in ctx.plan.order(self.names + self.replay_names):
            if name in self.replay_names:
                ops.append(self._replay(ctx, *self.replays[name], extra, batches))
                continue
            fn = self.queries[name]
            op, _ = run_query(ctx, name, lambda fn=fn: fn(ctx.spark, ctx.data_dir),
                              expected_check(ctx, name))
            ops.append(op)
        return Pass(ops, sum(o.seconds for o in ops), extra, batches)

    def _setup_stream(self, ctx) -> None:
        from lachesis_spark.streaming import stream

        self.stream = stream
        events = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"))
        self.src = os.path.join(ctx.tmp, "stream")
        d = os.path.join(self.src, "events.parquet")
        os.makedirs(d)
        cuts = [0] + ctx.plan.stream_cuts(events.num_rows, STREAM_FILES) + [events.num_rows]
        now = time.time()
        for i in range(STREAM_FILES):
            p = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(events.slice(cuts[i], cuts[i + 1] - cuts[i]), p)
            # file sources admit oldest-first: mtimes follow time order
            os.utime(p, (now - 100 * (STREAM_FILES - i), now - 100 * (STREAM_FILES - i)))
        self.n_events = events.num_rows
        # row counts of the batch twins (the same transformations over the
        # static table), stored by make_expected.py
        twins = ctx.expected["stream_twins"]
        self.n_types = twins["event_types"]
        self.replays = {
            "stream_tumbling": ("stream_tumbling", stream.stream_tumbling_counts, "complete",
                                twins["stream_tumbling"]),
            "ds_stream_tail": ("ds_stream_tail", None, "complete", None),
        }
        self._seq = 0

    def _progress(self, q) -> list[dict]:
        import json

        return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]

    def _replay(self, ctx, name, build, mode, want, extra, batches):
        from lachesis_spark.sources.lachesis_source import register

        spark, stream, tr = ctx.spark, self.stream, ctx.tracer
        self._seq += 1
        qname = f"pb_{name}_{self._seq}"
        t0 = time.perf_counter()
        try:
            if tr is not None:
                tr.start_op(name)
            with (tr.span("op", op=name) if tr is not None else nullcontext()):
                if name == "ds_stream_tail":
                    # the Python DataSource pins availableNow's end at its first
                    # offset, so drain a processing-time trigger instead
                    register(spark)
                    from pyspark.sql import functions as F

                    df = (spark.readStream.format("lachesis")
                          .option("maxFilesPerTrigger", 1)
                          .load(os.path.join(self.src, "events.parquet"))
                          .groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")))
                    q = (df.writeStream.format("memory").queryName(qname)
                         .outputMode("complete").trigger(processingTime="0 seconds").start())
                    try:
                        q.processAllAvailable()
                    finally:
                        q.stop()
                else:
                    sdf = build(stream.read_events_stream(spark, self.src, max_files_per_trigger=1))
                    with stream._state_partitions(spark):
                        q = stream.run_to_memory(sdf, qname, mode)
            dt = time.perf_counter() - t0
            out = spark.table(qname)
            if name == "ds_stream_tail":
                got = out.collect()
                ok = len(got) == self.n_types and sum(r["cnt"] for r in got) == self.n_events
            else:
                ok = out.count() == want
            spark.catalog.dropTempView(qname)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            if tr is not None and tr.group is not None:
                tr.end_op(time.perf_counter() - t0)
            return _fail(name, t0, e)
        prog = [p for p in self._progress(q) if p.get("numInputRows", 0) > 0]
        batches.extend(p["durationMs"].get("triggerExecution", 0) for p in prog)
        extra["rows"] = extra.get("rows", 0) + sum(p["numInputRows"] for p in prog)
        extra["batch_ms"] = extra.get("batch_ms", 0) + sum(
            p["durationMs"].get("triggerExecution", 0) for p in prog)
        if tr is not None:
            tr.end_op(dt)
            for p in prog:
                d = p["durationMs"]
                tr.add("streaming.batches", 1)
                tr.add("streaming.planning_ms", d.get("queryPlanning", 0))
                tr.add("streaming.add_batch_ms", d.get("addBatch", 0))
                tr.add("streaming.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
                for so in p.get("stateOperators", []):
                    tr.add("streaming.state_commit_ms", so.get("commitTimeMs", 0))
                if name == "ds_stream_tail":
                    tr.add("sources.tail_planning_ms",
                           d.get("queryPlanning", 0) + d.get("latestOffset", 0))
            if prog:
                for so in prog[-1].get("stateOperators", []):
                    tr.add("streaming.state_rows", so.get("numRowsTotal", 0))
                    tr.add("streaming.state_bytes", so.get("memoryUsedBytes", 0))
        if not ok:
            print(f"# {name} wrong answer", file=sys.stderr)
        release_blocks(ctx.spark)
        return Op(name, dt, ok)


# -- placement -----------------------------------------------------------------
class PlacementWorkload:
    """The Lachesis loop on a fresh catalog database per pass: load the base
    tables, run a read set bound through ``binding.catalog_resolver`` while
    recording it into an empty ``advisor.HistoryDB``, choose placements with
    the rule-based ``advise_all``, apply them with ``apply_all``, and re-run
    the same read set."""

    N_BUCKETS = 8
    # a pass is short (7-8 s on 4 cores), so a third one fits the run's time
    # budget, and the median of three passes drops one stalled by the host
    min_passes = 3

    def setup(self, ctx) -> None:
        from lachesis_spark.catalog import Catalog
        from lachesis_spark.registry import QUERIES

        # at the design scale neither join side fits a broadcast, and a
        # broadcast would hide the shuffles placement is about
        ctx.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.queries = QUERIES
        self.cat = Catalog(ctx.spark, os.path.join(ctx.tmp, "catalog"))
        self.lo, self.hi = ctx.plan.key_range(0, datagen.N_ORDERS, datagen.N_ORDERS // 10)
        self._seq = 0

    def _read_set(self, ctx, db, hist, label, times, parity):
        from pyspark.sql import functions as F

        from lachesis_spark import binding
        from lachesis_spark.advisor import capture_usages_from_plan, scan_stat_for_set

        spark, cat = ctx.spark, self.cat
        placed = {"lineitem": "lineitem", "orders": "orders"}

        # integer-valued aggregates only, so flat and placed answers match
        # exactly whatever order a re-layout sums them in
        def ranged():
            return (cat.read_set_pruned(db, "od_range", "o_orderkey", self.lo, self.hi)
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("o_custkey").alias("s")))

        def frag():
            return (cat.read_set(db, "frag").groupBy("l_returnflag")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")))

        reads = [(q, lambda q=q: self.queries[q](spark, ctx.data_dir), ["lineitem", "orders"])
                 for q in PLACEMENT_QUERIES]
        reads += [("range_scan", ranged, ["od_range"]), ("frag_scan", frag, [f"{db}.frag"])]
        ops = []
        with binding.bound(binding.catalog_resolver(cat, db, placed)):
            by_name = {r[0]: r for r in reads}
            for name in ctx.plan.order(list(by_name)):
                build = by_name[name][1]
                holder = {}

                def check(rows, cols, name=name):
                    ans = list(stats.answer(rows, cols))
                    holder["ans"] = ans
                    if name in ctx.expected["queries"]:
                        return ans == ctx.expected["queries"][name]
                    return parity.setdefault(name, ans) == ans

                op, _ = run_query(ctx, f"{label}:{name}", lambda b=build: holder.setdefault("df", b()), check)
                ops.append(op)
                times[name] = op.seconds
                if hist is not None and op.ok:
                    t0 = time.perf_counter()
                    scans = [scan_stat_for_set(cat, db, s) for s in ("frag",) if name == "frag_scan"]
                    hist.record_job(name, op.seconds, capture_usages_from_plan(holder["df"]), scans=scans)
                    if ctx.tracer is not None:
                        ctx.tracer.add("advisor.record_s", time.perf_counter() - t0)
        return ops, {name: ds for name, _, ds in reads}

    def run_pass(self, ctx) -> Pass:
        from lachesis_spark.advisor import HistoryDB, advise_all, apply_all
        from lachesis_spark.binding import base_table

        spark, cat, tr = ctx.spark, self.cat, ctx.tracer
        self._seq += 1
        db = f"p{self._seq}"
        cat.create_database(db)
        extra: dict = {}
        ops: list[Op] = []
        try:
            t0 = time.perf_counter()
            li = base_table(spark, ctx.data_dir, "lineitem")
            od = base_table(spark, ctx.data_dir, "orders")
            cat.write_set(li, db, "lineitem")
            cat.write_set(od, db, "orders")
            # range-scanned set written unclustered, so zone maps prune
            # nothing until the advisor re-clusters it
            cat.write_set(od.repartition(8), db, "od_range")
            cat.write_set(li.repartition(24), db, "frag")
            extra["load_s"] = time.perf_counter() - t0
            src_bytes = _set_bytes(cat, db)

            hist = HistoryDB(":memory:")
            flat, placed, parity = {}, {}, {}
            o1, readers = self._read_set(ctx, db, hist, "flat", flat, parity)
            t0 = time.perf_counter()
            reports = advise_all(hist, n_buckets=self.N_BUCKETS, cores=ctx.cores,
                                 shuffle_partitions=ctx.cores)
            t1 = time.perf_counter()
            resolve = {"lineitem": (db, "lineitem"), "orders": (db, "orders"),
                       "od_range": (db, "od_range"), f"{db}.frag": (db, "frag")}
            applied = apply_all(cat, reports, resolve=resolve, n_buckets=self.N_BUCKETS)
            t2 = time.perf_counter()
            extra["relayout_s"] = t2 - t0
            actions = [[a.dataset.replace(f"{db}.", ""), a.action, a.detail] for a in applied]
            extra["actions"] = actions
            o2, _ = self._read_set(ctx, db, None, "placed", placed, parity)
            ops = o1 + o2
            ok_actions = actions == ctx.expected["placement_actions"]
            if not ok_actions:
                print(f"# placement actions differ: {actions}", file=sys.stderr)
            ops.append(Op("placement_actions", 0.0, ok_actions))
            extra["flat_pass_s"] = sum(flat.values())
            extra["placed_pass_s"] = sum(placed.values())
            extra["stored_bytes_ratio"] = _set_bytes(cat, db) / src_bytes
            if tr is not None:
                tr.add("advisor.advise_s", t1 - t0)
                tr.add("advisor.apply_s", t2 - t1)
                tr.add("advisor.actions", len(applied))
                useful = 0
                for a in applied:
                    qs = [q for q, dss in readers.items() if a.dataset in dss]
                    if qs and sum(placed[q] for q in qs) < sum(flat[q] for q in qs):
                        useful += 1
                tr.add("advisor.useful_frac", useful / len(applied) if applied else 0.0)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            ops.append(_fail("placement_loop", time.perf_counter(), e))
        finally:
            for s in ("lineitem", "orders", "od_range", "frag"):
                spark.sql(f"DROP TABLE IF EXISTS {db}_{s}")
            cat.remove_database(db)
            release_blocks(spark)
        seconds = sum(extra.get(k, 0.0) for k in ("load_s", "relayout_s", "flat_pass_s", "placed_pass_s"))
        return Pass(ops, seconds, extra)


def _set_bytes(cat, db: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(os.path.join(cat.root, db)):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


WORKLOADS = {
    "relational": lambda: QueryWorkload(RELATIONAL, ("ds_stream_tail",)),
    "iterative": lambda: QueryWorkload(ITERATIVE),
    "streaming": lambda: QueryWorkload((), ("stream_tumbling", "ds_stream_tail")),
    "placement": PlacementWorkload,
}
