"""Session-level base-table binding: name -> DataFrame resolution.

Every query module loads its base tables (the ten TESTDATA.md tables)
through :func:`base_table`; by default that is a plain parquet read of
``<sf_dir>/<name>.parquet``.  :func:`bound` temporarily installs a
RESOLVER — e.g. one that routes names to advisor-placed catalog sets —
so the UNMODIFIED workload can run against re-placed data.

This is the Spark analog of the reference dispatcher resolving a
query's set scans against whatever physical layout its self-learning
placement chose for the database (reference
src/serverFunctionalities/source/DispatcherServer.cc — queries name
sets, the dispatcher binds them to placed partitions): queries name
TABLES; the binding decides which physical incarnation serves them.
Correctness contract: a resolver must return the SAME ROWS the default
read would (a re-layout, never a re-derivation); returning ``None``
falls through to the default read, so a resolver only needs to cover
the tables it actually re-placed.

Schema cache: a schema-less ``spark.read.parquet`` launches a footer
job to infer the schema, on every call.  :func:`read_parquet` (which the
default read uses) runs that inference once per file version and then
reads with the stored ``StructType``, which launches no job.  The key is
the path; the (relative name, ``st_size``, ``st_mtime_ns``) of every
file Spark's own listing reads under it (names starting with ``.``, or
with ``_`` outside a ``k=v`` partition dir, are skipped, as Spark skips
them; a single file keys on itself); and the session confs in
:data:`INFER_CONFS`, which change what inference returns (e.g.
``nanosAsLong`` turns a ``timestamp(ns)`` column into a long).  It is
safe because the stored schema is exactly what Spark inferred for those
files under those confs: any rewrite, added or removed part file, or
conf flip changes the key and re-infers.  The listing is taken before
the inference, so a file that changes in between stores the schema
under the old key, and the next read misses.  This caches metadata
keyed on file version, never results.  One entry per path, replaced
when its key changes, so rewrites cannot grow the cache.

Thread-safety: the binding is process-global and intended for the
driver-side single-threaded orchestration path (bench/advisor tools);
nest :func:`bound` blocks rather than sharing across threads.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

Resolver = Callable[[SparkSession, str, str], Optional[DataFrame]]

_RESOLVER: Optional[Resolver] = None

# Session confs that change the schema parquet inference returns: the
# type mapping of the footer columns, and which footers are read.
INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
)

# path -> (key, inferred schema); see the module docstring.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _skipped(name: str) -> bool:
    """Spark's listing filter: hidden and ``_``-prefixed names, except
    partition dirs and parquet summary files."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _file_version(path: str) -> Optional[tuple]:
    """(name, size, mtime_ns) of every file a read of ``path`` lists, or
    None when ``path`` is no local file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    files = []
    for root, dirs, names in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not _skipped(d)]
        for n in names:
            if not _skipped(n):
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the first
    read of this file version under these confs; later reads pass the
    stored schema and launch no job."""
    files = _file_version(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k) for k in INFER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def base_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load base table ``name`` for the dataset rooted at ``sf_dir``:
    through the installed resolver when one is bound (and it covers the
    table), else the parquet read (:func:`read_parquet`)."""
    if _RESOLVER is not None:
        df = _RESOLVER(spark, sf_dir, name)
        if df is not None:
            return df
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


@contextmanager
def bound(resolver: Resolver) -> Iterator[None]:
    """Install ``resolver`` for the duration of the block (restores the
    previous binding on exit, so blocks nest)."""
    global _RESOLVER
    prev = _RESOLVER
    _RESOLVER = resolver
    try:
        yield
    finally:
        _RESOLVER = prev


def catalog_resolver(cat, db: str, placed: dict[str, str]) -> Resolver:
    """A resolver routing table names to :class:`~lachesis_spark.catalog.
    Catalog` sets: ``placed`` maps base-table name -> set name in ``db``.
    Reads go through ``cat.read_set`` (table-identity reads, so bucket
    metadata survives and bucketed joins plan exchange-free)."""

    def resolve(spark: SparkSession, sf_dir: str, name: str):
        set_name = placed.get(name)
        if set_name is None:
            return None
        return cat.read_set(db, set_name)

    return resolve
