"""Benchmark of lachesis_spark: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the repository root (the directory holding ``lachesis_spark/``).
Each run is one fresh process with one fresh JVM on ``local[<cores>]``:

1. set-up (``setup_s``): generate the inputs, start the session, run one
   untimed warm pass;
2. measurement: passes of the workload's ops for ``--seconds``, and at
   least the workload's ``min_passes``, one closed loop (the next op starts
   when the previous one has returned);
3. every op's output is checked; a failure or wrong answer is counted.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics (medians over the
traced passes) and the tracing overhead, and writes every span to
``.perfbench/traces/<workload>-<seed>.jsonl``.  The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # hard stop: a run must end well inside 180 s
_TICKS = os.sysconf("SC_CLK_TCK")

# A run measures two or three passes, 18 to 30 op latencies.  Their median
# and tail are printed with the sample count on stderr but are not metrics:
# the median falls between clusters of short and long ops, and moved by 0.3
# of itself between runs on placement, and the tail has too few samples.
# Peak memory follows the JVM's heap and code-cache growth, which differ by
# a quarter from run to run at this input size, so it is a per-layer figure.
END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}  # name -> unit

# per-layer name -> (unit, counter it is read from)
PER_LAYER = {
    "session.start_s": ("s", None), "session.warm_s": ("s", None),
    "session.peak_rss_mb": ("MB", None),
    "binding.reads": ("count", "binding.calls"), "binding.read_s": ("s", "binding.s"),
    "binding.read_jobs": ("count", "binding.jobs"),
    "plans.build_s": ("s", "plans.build_s"), "plans.build_jobs": ("count", "plans.build_jobs"),
    "plans.plan_s": ("s", "plans.plan_s"), "plans.action_s": ("s", "plans.action_s"),
    "plans.action_jobs": ("count", "plans.action_jobs"),
    "operators.barrier_calls": ("count", "operators.calls"),
    "operators.barrier_s": ("s", "operators.s"),
    "operators.barrier_jobs": ("count", "operators.jobs"),
    "exec.stages": ("count", "exec.stages"), "exec.tasks": ("count", "exec.tasks"),
    "exec.run_s": ("s", "exec.run_s"), "exec.cpu_s": ("s", "exec.cpu_s"),
    "exec.busy_frac": ("ratio", None),
    "exec.shuffle_read_bytes": ("B", "exec.shuffle_read_bytes"),
    "exec.shuffle_write_bytes": ("B", "exec.shuffle_write_bytes"),
    "exec.spill_bytes": ("B", "exec.spill_bytes"), "exec.exchanges": ("count", "exec.exchanges"),
    "streaming.batches": ("count", "streaming.batches"),
    "streaming.planning_ms": ("ms", "streaming.planning_ms"),
    "streaming.add_batch_ms": ("ms", "streaming.add_batch_ms"),
    "streaming.commit_ms": ("ms", "streaming.commit_ms"),
    "streaming.state_commit_ms": ("ms", "streaming.state_commit_ms"),
    "streaming.state_rows": ("count", "streaming.state_rows"),
    "streaming.state_bytes": ("B", "streaming.state_bytes"),
    "sources.tail_planning_ms": ("ms", "sources.tail_planning_ms"),
    "streaming.rows_per_s": ("rows/s", None), "streaming.batch_p50_ms": ("ms", None),
    "streaming.batch_p90_ms": ("ms", None),
    "catalog.write_s": ("s", "write.s"), "catalog.bytes_written": ("B", "catalog.bytes_written"),
    "catalog.files_written": ("count", "catalog.files_written"),
    "catalog.rewrite_s": ("s", "rewrite.s"), "catalog.files_read": ("count", "catalog.files_read"),
    "catalog.files_pruned_frac": ("ratio", None), "catalog.stored_bytes_ratio": ("ratio", None),
    "advisor.record_s": ("s", "advisor.record_s"), "advisor.advise_s": ("s", "advisor.advise_s"),
    "advisor.apply_s": ("s", "advisor.apply_s"), "advisor.actions": ("count", "advisor.actions"),
    "advisor.useful_frac": ("ratio", "advisor.useful_frac"),
    "placement.load_s": ("s", None), "placement.relayout_s": ("s", None),
    "placement.flat_pass_s": ("s", None), "placement.placed_pass_s": ("s", None),
    "trace.pass_s": ("s", None), "trace.overhead_s": ("s", None),
}


@dataclass
class Ctx:
    spark: object
    data_dir: str
    tmp: str
    plan: datagen.Plan
    expected: dict
    cores: int
    tracer: object = None


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def open_session(tmp: str, cores: int):
    """Point every temp path at ``tmp``, make the package importable by Spark's
    Python workers, and start a fresh session on ``local[cores]``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # Python DataSource and UDF workers import lachesis_spark themselves
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from lachesis_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf={
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
    })


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat(int(d))[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += [c for c, pp in parent.items() if pp == p]
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, its JVM and the JVM's Python
    workers, counting children they have reaped.  Unlike wall time it leaves
    out time the host took the CPUs away."""
    t = os.times()
    total = t.user + t.system
    proc = jvm_proc()
    for pid in _descendants(proc.pid) if proc is not None else []:
        try:
            total += sum(int(x) for x in _stat(pid)[11:15]) / _TICKS
        except (OSError, IndexError, ValueError):
            pass  # exited meanwhile; its parent counts it once reaped
    return total


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM, in MB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_proc()
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for it and its workers."""
    from pyspark import SparkContext

    proc = jvm_proc()
    kids = _descendants(proc.pid)[1:] if proc is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    end = time.monotonic() + 30
    while any(_alive(k) for k in kids) and time.monotonic() < end:
        time.sleep(0.05)


def layer_metrics(traced: list[dict], extras: list[dict], batches: list[float],
                  start_s: float, warm_s: float, rss_mb: float, cores: int,
                  traced_s: list[float], untraced_s: list[float]) -> dict:
    def med(key, src=traced):
        vals = [c.get(key, 0.0) for c in src]
        return stats.median(vals) if vals else 0.0

    out = {"session.start_s": start_s, "session.warm_s": warm_s,
           "session.peak_rss_mb": rss_mb}
    for name, (_unit, counter) in PER_LAYER.items():
        if counter is not None:
            out[name] = med(counter)
    wall = [c.get("exec.op_wall_s", 0.0) * cores for c in traced]
    out["exec.busy_frac"] = stats.median(
        [c.get("exec.run_s", 0.0) / w if w else 0.0 for c, w in zip(traced, wall)])
    out["catalog.files_pruned_frac"] = stats.median(
        [1.0 - c["catalog.files_read"] / c["catalog.files_total"]
         if c.get("catalog.files_total") else 0.0 for c in traced])
    for name in ("load_s", "relayout_s", "flat_pass_s", "placed_pass_s"):
        out[f"placement.{name}"] = med(name, extras)
    out["catalog.stored_bytes_ratio"] = med("stored_bytes_ratio", extras)
    rate = [e["rows"] / (e["batch_ms"] / 1e3) for e in extras if e.get("batch_ms")]
    out["streaming.rows_per_s"] = stats.median(rate) if rate else 0.0
    out["streaming.batch_p50_ms"] = stats.median(batches) if batches else 0.0
    out["streaming.batch_p90_ms"] = stats.tail(batches)[1] if batches else 0.0
    out["trace.pass_s"] = stats.median(traced_s)
    out["trace.overhead_s"] = stats.median(traced_s) - stats.median(untraced_s)
    return out


def run(args, tmp: str, t_begin: float) -> dict:
    expected = load_expected()
    cores = len(os.sched_getaffinity(0))
    tables = datagen.base_tables()
    if datagen.fingerprint(tables) != expected["fingerprint"]:
        raise RuntimeError("generated tables differ from the ones expected.json was made from")
    data_dir = os.path.join(tmp, "data")
    datagen.write_tables(tables, data_dir)
    t0 = time.perf_counter()
    spark = open_session(tmp, cores)
    start_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, data_dir, tmp, datagen.Plan(args.seed), expected, cores)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        t0 = time.perf_counter()
        warm = wl.run_pass(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_begin

        tr = spans.Tracer() if args.trace else None
        if tr is not None:
            tr.spark = spark
        passes, traced, traced_s, untraced_s, untraced_cpu = [], [], [], [], []
        deadline = time.perf_counter() + args.seconds
        with (tr.span("workload", workload=args.workload, seed=args.seed)
              if tr is not None else nullcontext()):
            while True:
                if tr is not None and len(passes) % 2 == 1:
                    uninstall = spans.install(tr)
                    ctx.tracer = tr
                    try:
                        with tr.span("pass", index=len(passes)):
                            p = wl.run_pass(ctx)
                    finally:
                        ctx.tracer = None
                        uninstall()
                    traced.append(tr.take_counters())
                    traced_s.append(p.seconds)
                else:
                    c0 = tree_cpu_s()
                    p = wl.run_pass(ctx)
                    untraced_cpu.append(tree_cpu_s() - c0)
                    untraced_s.append(p.seconds)
                passes.append(p)
                if time.perf_counter() >= deadline and len(passes) >= wl.min_passes:
                    break
        rss = peak_rss_mb()
    finally:
        stop_session(spark)

    ops = [o for p in [warm] + passes for o in p.ops]
    timed = [o.seconds for p in passes for o in p.ops if o.ok and o.seconds > 0]
    failed = sum(1 for o in ops if not o.ok)
    if tr is not None:
        tr.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.jsonl"))
        values = layer_metrics(traced, [p.extra for p in passes],
                               [b for p in passes for b in p.batches_ms],
                               start_s, warm_s, rss, cores, traced_s, untraced_s)
        units = {k: u for k, (u, _) in PER_LAYER.items()}
        for k in PER_LAYER:
            print(f"{k} = {values[k]:.6g} {units[k]}")
    else:
        values = {"setup_s": setup_s, "pass_s": stats.median(untraced_s),
                  "pass_cpu_s": stats.median(untraced_cpu)}
        units = END_TO_END
        print(f"setup_s = {setup_s:.6g} s")
        for k in ("pass_s", "pass_cpu_s"):
            print(f"{k} = {values[k]:.6g} s (median of {len(untraced_s)})")
        pct, tail_s, n = stats.tail(timed)
        print(f"# op latency p50 {stats.median(timed):.3f} s, p{pct:.0f} {tail_s:.3f} s"
              f" of {n} samples", file=sys.stderr)
    print(f"# {args.workload}: {len(passes)} passes, {len(ops)} ops, {failed} failed",
          file=sys.stderr)
    per_op: dict = {}
    for p in passes:
        for o in p.ops:
            per_op.setdefault(o.name, []).append(o.seconds)
    for name, secs in sorted(per_op.items()):
        print(f"#   {name}: median {stats.median(secs):.3f} s of {len(secs)}", file=sys.stderr)
    for key in sorted({k for p in passes for k, v in p.extra.items() if isinstance(v, float)}):
        print(f"#   {key}: median {stats.median([p.extra[key] for p in passes if key in p.extra]):.4g}",
              file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "lachesis_spark", "__init__.py")):
        print(f"perfbench: no lachesis_spark package in {ROOT}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(tmp)

    def overdue():
        print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr)
        proc = jvm_proc()
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        os._exit(3)

    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = threading.Timer(DEADLINE_S, overdue)
    watchdog.daemon = True
    watchdog.start()
    try:
        result = run(args, tmp, t_begin)
    finally:
        watchdog.cancel()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
