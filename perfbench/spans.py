"""Spans and per-layer counters, recorded from the benchmark's side.

The library itself emits nothing, so a traced run wraps the public
functions of each layer and reads Spark's status store per op:

- ``binding.base_table`` (table reads) and ``operators.core.barrier``
  (materialization) are imported by name into about twenty modules, so the
  wrapper replaces every module-level name bound to the original function,
  not just the defining module's;
- catalog writes, rewrites and pruned reads are wrapped on the ``Catalog``
  class and in ``advisor.apply``;
- per-op jobs, stages, tasks and shuffle bytes come from the status store,
  found through a job group set for each op.

Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time

_EXCHANGE_RE = re.compile(r"(?<![A-Za-z])Exchange\s")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.request = None
        self.group = None  # job group of the op in flight
        self.spark = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "request": self.request, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        self.counters[name] += value

    def take_counters(self) -> dict[str, float]:
        out, self.counters = dict(self.counters), defaultdict(float)
        return out

    # -- status store ------------------------------------------------------
    def jobs(self) -> list[int]:
        if self.group is None:
            return []
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.group))

    def start_op(self, request: str) -> None:
        self.request = request
        self.group = f"perfbench-{len(self.spans)}"
        self.spark.sparkContext.setJobGroup(self.group, request)

    def end_op(self, wall_s: float) -> None:
        """Fold the finished op's stage metrics into the counters."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        stages = set()
        for j in tracker.getJobIdsForGroup(self.group):
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        run_ms = cpu_ns = 0
        for sid in sorted(stages):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never attempted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            self.add("exec.stages", 1)
            self.add("exec.tasks", st.numTasks())
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            self.add("exec.shuffle_read_bytes", st.shuffleReadBytes())
            self.add("exec.shuffle_write_bytes", st.shuffleWriteBytes())
            self.add("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
        self.add("exec.run_s", run_ms / 1e3)
        self.add("exec.cpu_s", cpu_ns / 1e9)
        self.add("exec.op_wall_s", wall_s)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.group = None
        self.request = None

    def dump(self, path: str) -> None:
        """Write every span with its self time (duration minus the time its
        children cover), one JSON object per line."""
        kids: dict = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                if s["end"] is None:
                    continue
                row = dict(s)
                row["self"] = self_time(s["start"], s["end"], kids[s["id"]])
                f.write(json.dumps(row, default=str) + "\n")


def count_exchanges(df) -> int:
    """Shuffle exchanges in the executed (AQE final) plan of ``df``."""
    return len(_EXCHANGE_RE.findall(df._jdf.queryExecution().executedPlan().toString()))


def _rebind(original, wrapper) -> list[tuple[object, str, object]]:
    """Point every ``lachesis_spark`` module-level name bound to
    ``original`` at ``wrapper``; return what to restore."""
    undo = []
    for mname, mod in list(sys.modules.items()):
        if not mname.startswith("lachesis_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                undo.append((mod, attr, val))
                setattr(mod, attr, wrapper)
    return undo


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def install(tr: Tracer):
    """Install the layer wrappers; returns a callable that removes them."""
    from lachesis_spark import binding, catalog
    from lachesis_spark.advisor import apply as adv_apply
    from lachesis_spark.operators import core

    def timed(layer: str, fn, after=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            j0 = len(tr.jobs())
            t0 = time.perf_counter()
            with tr.span(f"{layer}.{fn.__name__}"):
                out = fn(*a, **kw)
            tr.add(f"{layer}.calls", 1)
            tr.add(f"{layer}.s", time.perf_counter() - t0)
            tr.add(f"{layer}.jobs", len(tr.jobs()) - j0)
            if after is not None:
                after(a, kw, out)
            return out
        return wrapper

    def after_write(a, kw, out):
        cat, db, name = a[0], a[2], a[3]
        n, size = _dir_size(cat.set_path(db, name))
        tr.add("catalog.files_written", n)
        tr.add("catalog.bytes_written", size)

    def after_pruned(a, kw, out):
        cat, db, name = a[0], a[1], a[2]
        total, _ = _dir_size(cat.set_path(db, name))
        tr.add("catalog.files_read", len(out.inputFiles()))
        tr.add("catalog.files_total", total)

    undo = []
    undo += _rebind(binding.base_table, timed("binding", binding.base_table))
    undo += _rebind(core.barrier, timed("operators", core.barrier))
    undo += _rebind(adv_apply.rewrite_layout, timed("rewrite", adv_apply.rewrite_layout))
    cls = catalog.Catalog
    for attr, layer, after in (
        ("write_set", "write", after_write),
        ("compact_set", "rewrite", None),
        # read_set_pruned delegates here, so one wrapper sees both
        ("read_set_pruned_multi", "pruned", after_pruned),
    ):
        orig = getattr(cls, attr)
        undo.append((cls, attr, orig))
        setattr(cls, attr, timed(layer, orig, after))

    def uninstall():
        for obj, attr, val in reversed(undo):
            setattr(obj, attr, val)
    return uninstall
