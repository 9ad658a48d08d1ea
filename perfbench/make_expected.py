"""Regenerate ``expected.json``: the answers every checked op must give.

    python3 perfbench/make_expected.py

Registry queries are answered by their DuckDB oracle (``registry.ORACLE``)
over the generated tables; the stream replays' row counts come from their
batch twins (the same transformation over the static events table); the
placement loop's applied-action list comes from one pass of the placement
workload.  Run it after changing the
generator or the op sets, and commit the result.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    import duckdb

    sys.path.insert(0, run.ROOT)
    from lachesis_spark.registry import ORACLE

    tmp = os.path.join(run.ROOT, ".perfbench", f"expected-{os.getpid()}")
    os.makedirs(tmp)
    try:
        tables = datagen.base_tables()
        data_dir = os.path.join(tmp, "data")
        datagen.write_tables(tables, data_dir)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        names = sorted({*workloads.RELATIONAL, *workloads.ITERATIVE, *workloads.PLACEMENT_QUERIES})
        queries = {}
        for name in names:
            res = con.execute(ORACLE[name])
            cols = [d[0] for d in res.description]
            queries[name] = list(stats.answer(res.fetchall(), cols))
        out = {"fingerprint": datagen.fingerprint(tables), "queries": queries,
               "placement_actions": None}
        spark = run.open_session(tmp, len(os.sched_getaffinity(0)))
        try:
            from pyspark.sql import functions as F

            from lachesis_spark.sources.readers import event_ts_expr
            from lachesis_spark.streaming import stream

            static = spark.read.parquet(os.path.join(data_dir, "events.parquet"))
            static = static.withColumn(
                "ts", F.expr(event_ts_expr(dict(static.dtypes)["ts"], ltz=True)))
            out["stream_twins"] = {
                "stream_tumbling": stream.stream_tumbling_counts(static).count(),
                "event_types": static.select("event_type").distinct().count(),
            }
            ctx = run.Ctx(spark, data_dir, tmp, datagen.Plan(0), out, len(os.sched_getaffinity(0)))
            wl = workloads.PlacementWorkload()
            wl.setup(ctx)
            out["placement_actions"] = wl.run_pass(ctx).extra["actions"]
        finally:
            run.stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out["placement_actions"]))


if __name__ == "__main__":
    main()
