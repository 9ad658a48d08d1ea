"""Schema-explicit file readers/writers.

Reference analogs: the Reddit JSON comment parser
(reference src/reddit/headers/RedditComment.h — field-by-field C++ JSON
walking) and the TPC-H pipe-delimited loader
(src/tpch/source/tpchDataLoader.cc).  Spark's readers replace both; the
wrappers here enforce the two production rules the raw API leaves optional:

1. **Explicit schema.** Schema inference is a full extra pass over the data
   (fatal at 100 TB) and can drift between runs; every reader takes a
   ``StructType`` or DDL string.
2. **Corrupt-record quarantine.** Malformed JSON/CSV rows land in a
   ``_corrupt_record`` column (PERMISSIVE) instead of failing the job, so a
   multi-hour ingest doesn't die on row 3 billion; callers can route them to
   a dead-letter sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lachesis_spark.binding import base_table, read_parquet

CORRUPT_COL = "_corrupt_record"


# ---------------------------------------------------------------------------
# Events-table ingestion.  The testdata generator has shipped `ts` as both
# TIMESTAMP(NANOS) (read by Spark as raw int64 under
# spark.sql.legacy.parquet.nanosAsLong) and timestamp[us] (read natively as
# TIMESTAMP_NTZ).  Rather than assume either, branch on the dtype actually
# present in the file so a regenerated testdata set can never break event-time
# queries again.  DuckDB oracles read `ts` natively in both encodings, so the
# SQL side needs no branch.

def event_ts_expr(dtype: str, ltz: bool = False) -> str:
    """SQL expression normalizing an events `ts` column of the given Spark
    dtype to TIMESTAMP_NTZ (default) or TIMESTAMP (``ltz=True``, required by
    streaming watermarks; session TZ is pinned UTC so both name the same
    instant DuckDB sees)."""
    if dtype in ("bigint", "long"):
        # int64 nanos since epoch -> truncate to micros (DuckDB's coercion)
        if ltz:
            return "timestamp_micros(ts div 1000)"
        return (
            "timestampadd(MICROSECOND, ts div 1000, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    if dtype in ("timestamp", "timestamp_ntz"):
        return f"CAST(ts AS {'TIMESTAMP' if ltz else 'TIMESTAMP_NTZ'})"
    raise TypeError(f"events.ts has unsupported dtype {dtype!r}")


def read_events(spark: SparkSession, sf_dir: str, ltz: bool = False) -> DataFrame:
    """Schema-drift-tolerant reader for the events table: normalizes `ts`
    to an event-time timestamp whatever encoding the parquet file uses."""
    # legacy conf only matters for genuinely-nanos files; harmless otherwise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if sf_dir.endswith(".parquet"):
        df = read_parquet(spark, sf_dir)
    else:
        df = base_table(spark, sf_dir, "events")
    return df.withColumn("ts", F.expr(event_ts_expr(dict(df.dtypes)["ts"], ltz=ltz)))


def _with_corrupt(schema: T.StructType | str, spark: SparkSession) -> T.StructType:
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if CORRUPT_COL not in schema.fieldNames():
        schema = T.StructType(list(schema) + [T.StructField(CORRUPT_COL, T.StringType())])
    return schema


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines reader (one object per line, the Reddit dump format)."""
    return (
        spark.read.schema(_with_corrupt(schema, spark))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("multiLine", multiline)
        .json(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV reader; ``sep='|'`` + ``header=False`` reads tpch-dbgen output."""
    return (
        spark.read.schema(_with_corrupt(schema, spark))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("sep", sep)
        .option("header", header)
        .csv(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (built into Spark; same pushdown/pruning machinery as
    parquet — the scan carries PushedFilters and a pruned ReadSchema)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, corrupt_rows) — route the latter to a dead-letter sink.

    Spark refuses to query the corrupt-record column straight off a raw file
    scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materializing the parse first is
    the documented pattern."""
    df = df.cache()
    clean = df.filter(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    bad = df.filter(df[CORRUPT_COL].isNotNull())
    return clean, bad


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", sep: str = ",", header: bool = True
) -> None:
    df.write.mode(mode).option("sep", sep).option("header", header).csv(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw media ingestion via Spark's built-in ``binaryFile`` format:
    one row per file — (path, modificationTime, length, content binary) —
    the entry point for image/audio/video corpora (llm.multimodal consumes
    the ``content`` column as its opaque payload).

    Scale: listing is distributed, each file is one task (binary files
    don't split), and a ``length <= max_bytes`` predicate is pushed into
    the file index so oversized media are skipped without reading a byte —
    the only filter binaryFile can push down.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df
