"""Per-query Spark JOB and STAGE counts, codegen compiles + wall time.

Host-noise-immune structural metric used throughout OPTIMIZATION_r11.md:
run-to-run wall scatter on a shared host is 2-3x, but the number of jobs and
stages a query launches is a property of the code, so before/after counts
are the evidence wall-clock cannot fake.  Jobs are the
DAGScheduler.nextJobId delta; stages are the stages that ran (completed or
failed, not skipped) in the query's jobs, read from the status store
through a per-query job group.  Compiles are the Janino compilations the
query caused (``CodegenMetrics``' compilation count delta): a class found
in the generated-code cache costs none, so a warm round should show 0.
Usage:

    python tools/job_count_probe.py [sf_dir] q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lachesis_spark.registry import QUERIES
from lachesis_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = [a for a in args if not os.path.isdir(a)]
    spark = get_spark("job_count_probe")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    spark.range(1 << 16).selectExpr("sum(id)").collect()  # JVM warm-up

    def jobs() -> int:
        return int(jsc.dagScheduler().nextJobId())

    compile_time = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def compiles() -> int:
        return int(compile_time.getCount())

    def stages(group: str) -> int:
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        ran = 0
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            ran += job.numCompletedStages() + job.numFailedStages()
        return ran

    for k, name in enumerate(names):
        group = f"probe:{k}:{name}"
        sc.setJobGroup(group, group)
        j0, c0 = jobs(), compiles()
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        sec = time.perf_counter() - t0
        n_jobs, n_compiles = jobs() - j0, compiles() - c0
        print(
            f"{name}: jobs={n_jobs} stages={stages(group)} compiles={n_compiles} wall={sec:.2f}s",
            flush=True,
        )
        spark.catalog.clearCache()
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist()


if __name__ == "__main__":
    main()
