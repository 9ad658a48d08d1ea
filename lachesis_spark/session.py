"""SparkSession factory.

The reference engine hand-tunes its cluster: 256 MB pages, a 14 GB shared
memory pool per worker, ``partitionToCoreRatio`` shuffle sizing and a 15000 MB
broadcast-join threshold (reference src/conf/headers/Configuration.h:18-59,
src/queryPlanning/source/TCAPAnalyzer.cc:13-14).  In Spark all of that maps to
a handful of session configs; everything else (paging, spill, pipelining,
combiners) is native.

Scale stance: the same builder is used for local[N] tests and a real cluster —
only ``master`` and the memory knobs differ.  AQE is always on so that at
100 TB the runtime re-plans skewed joins and coalesces small shuffle
partitions; at test scale it simply collapses our 32 shuffle partitions to a
handful.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "lachesis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults target the test environment (single JVM, ``local[N]``); on a real
    cluster pass ``master=None`` with a cluster-deployed SPARK_MASTER/YARN/K8s
    config and raise ``shuffle_partitions`` to ~2-3x total cores.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{DEFAULT_SHUFFLE_PARTITIONS}]")
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        # This is the Spark-native replacement for the reference's dynamic
        # planning loop (QuerySchedulerServer.cc:1110-1215).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast threshold: the reference broadcasts any join build side
        # < 15000 MB (TCAPAnalyzer.cc:13-14); Spark's default 10 MB is the
        # sane distributed value — dims (region/nation/supplier/part) fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Arrow for every pandas-UDF boundary (the native-lambda path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics for the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # the testdata events table stores TIMESTAMP(NANOS); reading it as
        # int64 is session-wide so per-query conf.set calls (kept for
        # foreign sessions, e.g. the driver's) are same-value no-ops
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Readers should split large files: at 100 TB a 128 MB split keeps
        # ~800k tasks, each fitting comfortably in executor memory.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # plan-STRING rendering length only (no execution semantics): the
        # advisor's capture_usages_from_plan parses Location/PushedFilters
        # out of the executed plan text, and the 100-char default truncates
        # long catalog paths mid-field, mangling the parsed dataset name
        .config("spark.sql.maxMetadataStringLength", "4096")
        # Generated-class cache: Spark's default keeps 100 classes, but one
        # pass of the perfbench relational workload makes 110, so every warm
        # pass recompiled 20-60 of them with Janino (3-9 ms each on the
        # driver).  One full registry pass at sf0.01 makes 2,608 distinct
        # classes; 4096 holds that with ~1.5x headroom.  Metaspace after
        # such a pass was level (231 MB at 100, 227 MB at 4096).  Static:
        # it takes effect only on a new JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Python workers (pandas UDFs, Python data sources) import this
        # package too; put its root on their path, whatever the cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate returns an EXISTING session unchanged; this conf is
    # runtime-settable and rendering-only, so pin it unconditionally
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    spark.sparkContext.setLogLevel("WARN")
    return spark
