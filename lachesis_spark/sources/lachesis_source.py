"""``spark.read.format("lachesis")`` — a Python DataSource over catalog sets.

The reference exposes its Pangea storage manager to computations through the
ScanUserSet / WriteUserSet pair (reference
src/builtInPDBObjects/headers/ScanUserSet.h:23,
src/builtInPDBObjects/headers/WriteUserSet.h:18); BASELINE.md names the Spark
DataSource API as the integration path for that storage layer.  This module
is that integration: a Spark 4 Python DataSource
(:class:`pyspark.sql.datasource.DataSource`) that reads and writes
``Catalog`` sets by name::

    spark.dataSource.register(LachesisDataSource)
    df = spark.read.format("lachesis").option("root", root).load("db.set")
    df.write.format("lachesis").option("root", root).mode("append").save("db.set2")

Design, sized for the 100 TB case:

* **One input partition per parquet row-group span** (~128 MB target), so a
  large set fans out across executors exactly like Spark's native parquet
  scan — task count follows bytes, not file count.
* **Arrow record batches end-to-end.**  ``read()`` yields
  ``pyarrow.RecordBatch`` (zero-copy into Spark's columnar pipeline) and the
  writer subclasses :class:`DataSourceArrowWriter`, so no row-at-a-time
  Python materialization happens on either side.
* **Filter pushdown** (:meth:`LachesisReader.pushFilters`): comparison /
  null / IN / prefix filters are translated to pyarrow dataset expressions
  and evaluated inside the Arrow scan — parquet row-group statistics prune
  whole row groups before any byte is decoded, and the residual rows are
  filtered batch-vectorized.  Fully-pushed filters are consumed (exact
  row-level semantics), so Spark does not re-evaluate them.
* **Column pruning**: the scan projects exactly the fields of the read
  schema Spark hands to :meth:`LachesisDataSource.reader`; unused columns
  are never decoded.
* **Transactional writes**: tasks stage ``*.tmp`` files, the driver-side
  ``commit`` renames them into place (and clears prior files on overwrite);
  ``abort`` deletes the stage.  A failed job never leaves a torn set.

Bucketing metadata caveat (honest limit of the Python DataSource API): a
Python source cannot report hash-partitioning to Catalyst
(``SupportsReportPartitioning`` has no Python binding), so a set written
with ``Catalog.write_set(bucket_by=...)`` reads *correctly* through this
source but joins on the bucket key will still plan an Exchange.  The
PUBLIC read entry point :func:`read_set` closes the gap by routing: a set
whose session table carries a bucket layout (and whose table location
matches the resolved path) is read through ``spark.table`` — Catalyst sees
the hash layout and joins/aggs on the bucket key plan no Exchange —
while everything else takes the Arrow-scan ``format("lachesis")`` path.
The bucket layout is also surfaced to callers via :func:`set_layout`.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator, List, Optional

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from lachesis_spark.binding import base_table
from lachesis_spark.catalog import describe_table, ensure_layout_table

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

# ~128 MB of compressed parquet per input partition: the same order as
# spark.sql.files.maxPartitionBytes, so task sizing matches the native scan.
TARGET_SPLIT_BYTES = 128 * 1024 * 1024
# the Catalog root ``db.set`` identifiers resolve under without a ``root``
DEFAULT_ROOT = os.path.join("spark-warehouse", "lachesis")


def _resolve_path(options) -> str:
    """Map the load()/save() argument to a filesystem path.

    ``db.set`` resolves under the ``root`` option (the Catalog root);
    anything containing a path separator is taken as a literal path, so
    external sets (e.g. the driver testdata parquet) work too.
    """
    ident = options.get("path") or options.get("set")
    if not ident:
        raise ValueError(
            "lachesis source needs a set identifier: load('db.set') or option('set', ...)"
        )
    if os.sep in ident or "/" in ident:
        return ident
    root = options.get("root") or DEFAULT_ROOT
    parts = ident.split(".")
    if len(parts) != 2:
        raise ValueError(f"set identifier must be 'db.set', got {ident!r}")
    return os.path.join(root, *parts)


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return sorted(out)


def set_layout(spark, db: str, name: str) -> dict:
    """Bucketing/sort layout of a catalog set, if any — the metadata the
    reference's DispatcherServer tracks per set (partitioning lambda).

    Returned as ``{"bucket_cols": [...], "num_buckets": n, "sort_cols": [...]}``
    (empty dict for unbucketed sets).  Callers planning co-located joins can
    consult this and route through ``Catalog.read_set`` for the
    Exchange-free plan."""
    rows = describe_table(spark, f"{db}_{name}") or {}
    out: dict = {}
    if "Num Buckets" in rows:
        out["num_buckets"] = int(rows["Num Buckets"])
        out["bucket_cols"] = [c.strip("`") for c in rows.get("Bucket Columns", "[]").strip("[]").split(", ") if c]
        out["sort_cols"] = [c.strip("`") for c in rows.get("Sort Columns", "[]").strip("[]").split(", ") if c]
    return out


def read_set(spark, ident: str, root: Optional[str] = None,
             use_table_route: bool = True):
    """Public read entry point over catalog sets — layout-preserving.

    Routes a BUCKETED set (reference parity: partition-local joins on
    pre-partitioned sets, src/lambdas/headers/JoinTuple.h:14-22 /
    JoinComp.h:505-560) through its session table so Catalyst sees the
    hash layout: joins and aggregations on the bucket key plan NO
    Exchange, the win the advisor's ``bucket_by`` recommendation paid
    for.  Unbucketed sets and literal paths take the Arrow-batch
    ``format("lachesis")`` scan (row-group-span partitions + pyarrow
    filter pushdown).  Both routes return the same rows; only the
    physical plan differs.

    ``use_table_route=False`` forces the format path; if that discards a
    bucket layout, a UserWarning says so (a Python DataSource cannot
    report partitioning to Catalyst, so the format path re-Exchanges on
    the bucket key).
    """
    import warnings

    is_path = os.sep in ident or "/" in ident
    if not is_path and ident.count(".") == 1:
        db, name = ident.split(".")
        # True only when a table over this set's path is registered; a
        # restarted session lost the table metadata, and the durable layout
        # sidecar written by write_set(bucket_by=...) re-registers it
        if ensure_layout_table(spark, root or DEFAULT_ROOT, db, name):
            if use_table_route:
                return spark.table(f"{db}_{name}")
            layout = set_layout(spark, db, name)
            if layout.get("num_buckets"):
                warnings.warn(
                    f"reading bucketed set {ident} via format('lachesis') "
                    f"discards its {layout['num_buckets']}-bucket layout on "
                    f"{layout['bucket_cols']}; joins on the bucket key will "
                    "re-Exchange (use the table route to keep the layout)",
                    UserWarning,
                    stacklevel=2,
                )
    reader = spark.read.format("lachesis")
    if root is not None:
        reader = reader.option("root", root)
    return reader.load(ident)


@dataclass
class RowGroupSpan(InputPartition):
    """A contiguous run of row groups of one parquet file."""

    file: str
    first_rg: int
    n_rg: int

    def scan(self, columns: List[str], expr=None) -> "pa.RecordBatchReader":
        """The span's rows projected to ``columns`` and filtered by the
        pyarrow expression ``expr``, as Arrow batches."""
        import pyarrow.dataset as pads
        from pyarrow import fs as pafs

        fragment = pads.ParquetFileFormat().make_fragment(
            self.file,
            filesystem=pafs.LocalFileSystem(),
            row_groups=list(range(self.first_rg, self.first_rg + self.n_rg)),
        )
        return pads.Scanner.from_fragment(
            fragment, columns=columns, filter=expr, use_threads=False
        ).to_reader()


def _arrow_filter(filters: List[Filter]):
    """AND-fold supported Filters into one pyarrow compute expression."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    expr = None

    def field(attr) -> "pads.Expression":
        return pc.field(*attr)

    for f in filters:
        if isinstance(f, EqualTo):
            e = field(f.attribute) == f.value
        elif isinstance(f, EqualNullSafe):
            # col <=> NULL is IsNull; col <=> v is (col = v) for non-null v
            e = field(f.attribute).is_null() if f.value is None else field(f.attribute) == f.value
        elif isinstance(f, GreaterThan):
            e = field(f.attribute) > f.value
        elif isinstance(f, GreaterThanOrEqual):
            e = field(f.attribute) >= f.value
        elif isinstance(f, LessThan):
            e = field(f.attribute) < f.value
        elif isinstance(f, LessThanOrEqual):
            e = field(f.attribute) <= f.value
        elif isinstance(f, In):
            e = field(f.attribute).isin(list(f.values))
        elif isinstance(f, IsNull):
            e = field(f.attribute).is_null()
        elif isinstance(f, IsNotNull):
            e = ~field(f.attribute).is_null()
        elif isinstance(f, StringStartsWith):
            e = pc.starts_with(field(f.attribute), f.value)
        elif isinstance(f, Not) and isinstance(f.child, EqualTo):
            # Spark's NOT(a = v) is 3VL: null rows must NOT pass
            e = (~field(f.child.attribute).is_null()) & (field(f.child.attribute) != f.child.value)
        else:  # pragma: no cover - guarded by pushFilters
            raise ValueError(f"unsupported pushed filter {f!r}")
        expr = e if expr is None else (expr & e)
    return expr


_PUSHABLE = (
    EqualTo,
    EqualNullSafe,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
    StringStartsWith,
)


class LachesisReader(DataSourceReader):
    """ScanUserSet through the DataSource API: splits, projects, and filters
    at the Arrow layer."""

    def __init__(self, options, schema: StructType):
        self.path = _resolve_path(options)
        self.schema = schema
        self.pushed: List[Filter] = []

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            target = f.child if isinstance(f, Not) else f
            # only top-level columns (nested ColumnPath pushdown would need
            # struct-aware projection) and only operator shapes pyarrow
            # evaluates with identical semantics to Spark
            if (
                isinstance(target, _PUSHABLE)
                and len(target.attribute) == 1
                and (not isinstance(f, Not) or isinstance(target, EqualTo))
            ):
                self.pushed.append(f)
            else:
                yield f

    def partitions(self) -> List[RowGroupSpan]:
        import pyarrow.parquet as pq

        files = _parquet_files(self.path)
        spans: list[RowGroupSpan] = []
        for path in files:
            md = pq.ParquetFile(path).metadata
            first, span_bytes = 0, 0
            for i in range(md.num_row_groups):
                span_bytes += md.row_group(i).total_byte_size
                if span_bytes >= TARGET_SPLIT_BYTES:
                    spans.append(RowGroupSpan(path, first, i - first + 1))
                    first, span_bytes = i + 1, 0
            if first < md.num_row_groups:
                spans.append(RowGroupSpan(path, first, md.num_row_groups - first))
        return spans or [RowGroupSpan(files[0], 0, 0)]

    def read(self, partition: RowGroupSpan) -> Iterator["pa.RecordBatch"]:
        if partition.n_rg == 0:
            return
        expr = _arrow_filter(self.pushed) if self.pushed else None
        yield from partition.scan([f.name for f in self.schema.fields], expr)


@dataclass
class StagedFile(WriterCommitMessage):
    tmp: str
    final: str
    rows: int


class LachesisWriter(DataSourceArrowWriter):
    """WriteUserSet through the DataSource API: tasks stage parquet files,
    the driver commit renames them in (clearing old files on overwrite), so
    concurrent readers never observe a half-written set."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = _resolve_path(options)
        self.overwrite = overwrite

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        stem = f"part-{uuid.uuid4().hex}"
        tmp = os.path.join(self.path, f".{stem}.parquet.tmp")
        final = os.path.join(self.path, f"{stem}.parquet")
        writer: Optional[pq.ParquetWriter] = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(tmp, batch.schema)
                writer.write_table(pa.Table.from_batches([batch]))
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return StagedFile(tmp="", final="", rows=0)
        return StagedFile(tmp=tmp, final=final, rows=rows)

    def commit(self, messages: List[Optional[StagedFile]]) -> None:
        if self.overwrite:
            for f in _parquet_files(self.path):
                os.remove(f)
        for m in messages:
            if m is not None and m.tmp:
                os.rename(m.tmp, m.final)

    def abort(self, messages: List[Optional[StagedFile]]) -> None:
        for m in messages:
            if m is not None and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)


# -- streaming surface ------------------------------------------------------
#
# A catalog set is append-only between compactions (writers stage files and
# rename them in), so it streams the way Spark's native file source does:
# the offset is the high-water mark over (mtime, name) of committed parquet
# files, and each microbatch is "the files that appeared since".  This makes
# `readStream.format("lachesis")` the CDC tail of any set a batch or
# streaming job is appending to — the operational loop (ingest appends,
# downstream stream follows) with one format string.


def _file_key(path: str) -> list:
    # lexicographic (mtime, name) — name tiebreaks equal mtimes; JSON-safe
    return [os.path.getmtime(path), path]


class LachesisStreamReader(DataSourceStreamReader):
    """Microbatch reader: files-appeared-since-offset, split like the batch
    reader (row-group spans), Arrow batches out."""

    def __init__(self, options, schema: StructType):
        self.path = _resolve_path(options)
        self.schema = schema
        # admission control: advance the offset by at most this many files
        # per microbatch (0 = unlimited).  The throughput harness uses it to
        # force a genuinely multi-microbatch replay; production tails set it
        # to bound per-batch work after a backlog (the same role as the file
        # source's maxFilesPerTrigger).
        self.max_files = int(options.get("maxfilespertrigger", 0) or 0)
        self._cursor = [0.0, ""]

    def initialOffset(self) -> dict:
        return {"key": [0.0, ""]}

    def latestOffset(self) -> dict:
        keys = sorted(_file_key(f) for f in _parquet_files(self.path))
        if not keys:
            return {"key": [0.0, ""]}
        if self.max_files:
            ahead = [k for k in keys if k > self._cursor][: self.max_files]
            if ahead:
                self._cursor = ahead[-1]
            return {"key": self._cursor}
        return {"key": keys[-1]}

    def partitions(self, start: dict, end: dict):
        import pyarrow.parquet as pq

        lo, hi = start["key"], end["key"]
        # seed the rate-limit cursor from the checkpointed start on replay:
        # a restarted query calls partitions() with the committed offsets
        # before any latestOffset(), and a fresh reader's cursor would
        # otherwise re-walk already-processed files from [0.0, ""] —
        # emitting one empty microbatch per old file until it caught up.
        if self.max_files and lo > self._cursor:
            self._cursor = lo
        spans: list[RowGroupSpan] = []
        for f in _parquet_files(self.path):
            if lo < _file_key(f) <= hi:
                n_rg = pq.ParquetFile(f).metadata.num_row_groups
                first = 0
                while first < n_rg:
                    n = max(1, min(n_rg - first, 8))
                    spans.append(RowGroupSpan(f, first, n))
                    first += n
        return spans

    def read(self, partition: RowGroupSpan) -> Iterator["pa.RecordBatch"]:
        yield from partition.scan([f.name for f in self.schema.fields])

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint — nothing source-side to gc —
        # but the rate-limit cursor must never fall behind a committed
        # offset (see partitions() for the restart case)
        if self.max_files and end["key"] > self._cursor:
            self._cursor = end["key"]


class LachesisStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once microbatch sink into a set: tasks stage files, the
    driver commit renames them in and drops a ``_commits/<epoch>`` marker
    first-writer-wins, so a replayed epoch (driver restart, retried batch)
    discards its staged files instead of double-appending — the same
    idempotent-sink contract the catalog's foreachBatch+MERGE path gives,
    without user code."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = _resolve_path(options)

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> StagedFile:
        return LachesisWriter.write(self, iterator)  # same staging protocol

    def commit(self, messages: List[Optional[StagedFile]], batchId: int) -> None:
        marker_dir = os.path.join(self.path, "_commits")
        os.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, str(batchId))
        if os.path.exists(marker):  # replayed epoch: someone already won
            self.abort(messages, batchId)
            return
        for m in messages:
            if m is not None and m.tmp:
                os.rename(m.tmp, m.final)
        with open(marker, "w") as fh:
            fh.write("")

    def abort(self, messages: List[Optional[StagedFile]], batchId: int) -> None:
        for m in messages:
            if m is not None and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)


class LachesisDataSource(DataSource):
    """The ``lachesis`` format: catalog sets as a first-class Spark source."""

    @classmethod
    def name(cls) -> str:
        return "lachesis"

    def schema(self) -> StructType:
        import pyarrow.dataset as pads

        from pyspark.sql.pandas.types import from_arrow_schema

        path = _resolve_path(self.options)
        files = _parquet_files(path)
        if not files:
            raise ValueError(f"no parquet files under {path}")
        # footer-only schema read; prefer_timestamp_ntz matches how the
        # catalog's native reads surface parquet timestamps
        return from_arrow_schema(
            pads.dataset(files[0], format="parquet").schema,
            prefer_timestamp_ntz=True,
        )

    def reader(self, schema: StructType) -> LachesisReader:
        return LachesisReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> LachesisWriter:
        return LachesisWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType) -> LachesisStreamReader:
        return LachesisStreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> LachesisStreamWriter:
        return LachesisStreamWriter(self.options, schema, overwrite)


# -- registry query: the DataSource exercised end-to-end -------------------
def ds_scan_pushdown(spark, sf_dir: str):
    """Scan lineitem THROUGH the lachesis format (filters pushed to the
    Arrow layer, aggregation in Spark) — proves the DataSource produces the
    same bytes the native reader does, under the driver's oracle hash."""
    from pyspark.sql import functions as F

    register(spark)
    path = os.path.join(sf_dir, "lineitem.parquet")
    df = spark.read.format("lachesis").load(path)
    return (
        df.filter((F.col("l_quantity") < 25) & (F.col("l_returnflag") == "A"))
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_linestatus")
    )


DS_SCAN_PUSHDOWN_SQL = """
SELECT l_linestatus, count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
WHERE l_quantity < 25 AND l_returnflag = 'A'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def ds_stream_tail(spark, sf_dir: str):
    """Tail the events set THROUGH the lachesis stream reader (availableNow
    replay into a memory sink) — complete-mode replay of a bounded set
    equals the batch aggregate, so the DuckDB oracle is binding."""
    from pyspark.sql import functions as F

    register(spark)
    src = (
        spark.readStream.format("lachesis")
        .load(os.path.join(sf_dir, "events.parquet"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    q = (
        src.writeStream.format("memory")
        .queryName("q_ds_stream_tail")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("q_ds_stream_tail")


DS_STREAM_TAIL_SQL = """
SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type
"""

def ds_zonemap_prune(spark, sf_dir: str):
    """File-skipping scan through the catalog's zone maps: orders is
    written range-clustered on o_orderkey with per-file min/max stats
    (``zonemap_by``), then a key-range query plans over ONLY the
    overlapping files (~2 of 8; asserted in tests, visible via
    inputFiles()).  The oracle runs the same range filter over the raw
    table — identical rows prove pruning never drops data."""
    import tempfile

    from pyspark.sql import functions as F

    from lachesis_spark.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="lachesis_zm_"))
    cat.create_database("zm")
    orders = base_table(spark, sf_dir, "orders")
    # range-cluster so per-file key ranges are tight (what makes zone maps
    # prune); 8 files at any SF — file count is a layout knob, not data size
    clustered = orders.repartitionByRange(8, "o_orderkey")
    cat.write_set(clustered, "zm", "orders", zonemap_by=["o_orderkey"])
    lo, hi = 1000, 4000
    pruned = cat.read_set_pruned("zm", "orders", "o_orderkey", lo, hi)
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


DS_ZONEMAP_PRUNE_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders WHERE o_orderkey BETWEEN 1000 AND 4000
GROUP BY o_orderstatus
"""

def ds_zonemap_box(spark, sf_dir: str):
    """Multi-dimensional file skipping (round 8): orders is written
    Z-ORDERED on (o_custkey, o_totalprice) with zone maps on both columns,
    then a 2-D box query plans through ``read_set_pruned_multi`` — file
    [min,max] must overlap the box in EVERY dimension to be read, which is
    the read path a Z-curve layout exists for (a single-column range
    clustering can prune only its leading key).  Pruning is asserted
    separately in tests/test_advisor.py; the oracle runs the same box
    filter over the raw table — identical rows prove skipping never drops
    data."""
    import tempfile

    from pyspark.sql import functions as F

    from lachesis_spark.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="lachesis_zbox_"))
    cat.create_database("zb")
    orders = base_table(spark, sf_dir, "orders")
    cat.write_set(
        orders, "zb", "orders",
        zorder_by=["o_custkey", "o_totalprice"],
        zonemap_by=["o_custkey", "o_totalprice"],
    )
    box = {"o_custkey": (100, 700), "o_totalprice": (50000.0, 150000.0)}
    pruned = cat.read_set_pruned_multi("zb", "orders", box)
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
    )


DS_ZONEMAP_BOX_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
FROM orders
WHERE o_custkey BETWEEN 100 AND 700
  AND o_totalprice BETWEEN 50000.0 AND 150000.0
GROUP BY o_orderstatus
"""


def ds_cdc_apply(spark, sf_dir: str):
    """CDC apply through the catalog (Catalog.apply_cdc): a base set built
    from orders receives one Debezium-shaped change batch — upserts at a
    newer version (keys ≡3 mod 10: status→'X', price doubled), tombstone
    deletes (keys ≡7), and a LATE batch replay (keys ≡1 at the stored
    version — strictly-greater rule ignores it).  The oracle states the
    resulting table directly with CASE/filter logic — identical aggregates
    prove latest-wins, tombstone, and late-arrival semantics at once."""
    import tempfile

    from pyspark.sql import functions as F

    from lachesis_spark.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="lachesis_cdc_"))
    cat.create_database("cdc")
    orders = base_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(0).alias("version")
    )
    cat.write_set(base, "cdc", "orders")
    k = F.col("o_orderkey") % 10
    changes = (
        base.filter(k.isin(3, 7, 1)).select(
            "o_orderkey",
            F.when(k == 3, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(k == 3, F.col("o_totalprice") * 2).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            F.when(k == 3, F.lit(2)).when(k == 7, F.lit(1)).otherwise(F.lit(0)).alias("version"),
            F.when(k == 7, F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
        )
    )
    cat.apply_cdc(changes, "cdc", "orders", ["o_orderkey"], "version")
    return (
        cat.read_set("cdc", "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.max("version").cast("long").alias("max_version"),
        )
    )


DS_CDC_APPLY_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(price), 2) AS sum_price,
       CAST(max(version) AS BIGINT) AS max_version
FROM (
  SELECT CASE WHEN o_orderkey % 10 = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2 ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 10 = 3 THEN 2 ELSE 0 END AS version
  FROM orders WHERE o_orderkey % 10 <> 7
)
GROUP BY o_orderstatus
"""

QUERIES = {
    "ds_scan_pushdown": ds_scan_pushdown,
    "ds_stream_tail": ds_stream_tail,
    "ds_zonemap_prune": ds_zonemap_prune,
    "ds_zonemap_box": ds_zonemap_box,
    "ds_cdc_apply": ds_cdc_apply,
}
ORACLE = {
    "ds_scan_pushdown": DS_SCAN_PUSHDOWN_SQL,
    "ds_stream_tail": DS_STREAM_TAIL_SQL,
    "ds_zonemap_prune": DS_ZONEMAP_PRUNE_SQL,
    "ds_zonemap_box": DS_ZONEMAP_BOX_SQL,
    "ds_cdc_apply": DS_CDC_APPLY_SQL,
}


def register(spark) -> None:
    """Idempotently register the ``lachesis`` format on a session."""
    # the reader implements pushFilters(); Spark refuses to plan it unless
    # Python-source pushdown is switched on (off by default in 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # register once per session: registering again replaces the source and
    # the JVM logs a warning each time.  No public API asks whether a name
    # is registered, so this reads SessionState.dataSourceManager, a Spark
    # 4.1 internal; a different class already registered as "lachesis" is
    # left in place.
    if not spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists("lachesis"):
        spark.dataSource.register(LachesisDataSource)
