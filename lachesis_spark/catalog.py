"""Database / set catalog over Parquet directories.

Mirrors the PDBClient catalog surface (reference
src/mainClient/headers/PDBClient.h:76-138): ``createDatabase``,
``createSet<T>``, ``removeSet``, ``clearSet``, ``getSetIterator`` — here a
database is a directory namespace and a set is a Parquet table under it.
The reference stores sets as 256 MB pages in the Pangea storage manager
(src/storage/headers/UserSet.h:38); we store them as Parquet so scans get
column pruning + predicate pushdown for free and a 100 TB set is just a large
partitioned directory that Spark splits into ~128 MB tasks.

Driver-provided test tables (/root/testdata/sf*/NAME.parquet) register as
read-only external sets via :meth:`Catalog.register_testdata`.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from lachesis_spark.binding import read_parquet


def _same_location(loc: str, path: str) -> bool:
    """True when a table Location and a catalog set path name the same store.

    Local paths (no scheme, or file:) compare by realpath; any other
    filesystem (hdfs://, s3a://, ...) compares as a normalized URI —
    a realpath compare would never match there and the caller would
    silently fall back to a bare-path read, dropping bucket metadata.
    """
    lu, pu = urlparse(loc), urlparse(path)
    if lu.scheme in ("", "file") and pu.scheme in ("", "file"):
        return os.path.realpath(lu.path or loc) == os.path.realpath(pu.path or path)
    return (lu.scheme, lu.netloc, lu.path.rstrip("/")) == (
        pu.scheme,
        pu.netloc,
        pu.path.rstrip("/"),
    )

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


LAYOUT_FILE = "_lachesis_layout.json"
ZONEMAP_FILE = "_lachesis_zonemap.json"
HINTS_FILE = "_lachesis_hints.json"
# suffix of the sibling set a rewrite stages its files in before the swap
STAGED_SUFFIX = "__staged"


def _zonemap_safe(v):
    """Normalize a stat (or user bound) to a JSON-storable, order-preserving
    form: numbers stay numbers; date/datetime become ISO strings (whose
    lexicographic order IS chronological order); everything else is str."""
    import datetime
    import decimal

    if v is None or isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return str(v)


def describe_table(spark: SparkSession, tbl: str) -> dict | None:
    """The one session-table lookup: the formatted description of ``tbl``
    as ``{col_name: data_type}``, or None when the session has no such
    table."""
    if not spark.catalog.tableExists(tbl):
        return None
    return {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
    }


def ensure_layout_table(spark: SparkSession, root: str, db: str, name: str) -> bool:
    """Find the session table over set ``db.name`` under ``root``,
    re-registering it from the durable layout sidecar when needed.

    ``write_set(bucket_by=...)`` registers bucket metadata in the session
    catalog, which dies with the session — a restarted session would read
    the files correctly but silently lose the layout (joins re-Exchange).
    The sidecar ``_lachesis_layout.json`` written next to the data
    (underscore-prefixed: invisible to Spark's file listings) makes the
    layout durable: this re-creates the external bucketed table over the
    same files (bucket ids live in the file names, so a plain
    CREATE TABLE ... CLUSTERED BY over them is exact).  Returns True only
    when a table over THIS set's path is registered, so callers read
    through it without checking its location again."""
    import json
    import warnings

    tbl = f"{db}_{name}"
    path = os.path.join(root, db, name)
    meta_path = os.path.join(path, LAYOUT_FILE)
    desc = describe_table(spark, tbl)
    if desc is not None:
        loc = desc.get("Location")
        if loc is not None and _same_location(loc, path):
            return True
        # Table names are session-global but Catalog roots are not: a
        # Catalog rooted elsewhere may have registered this name over ITS
        # files.  If THIS root carries a layout sidecar, the stale
        # registration would silently shadow it (reads would fall back to
        # a plain scan and the bucket layout is lost), so
        # drop the stale table and re-register from our sidecar; the other
        # catalog's own read_set re-registers from its sidecar the same
        # way.  ONLY an EXTERNAL table with a successfully parsed location
        # is safe to drop (metadata only — its data files stay): dropping
        # a MANAGED table deletes its data, and an unparsed location means
        # we cannot prove the registration is stale at all, so both cases
        # back off to a warning instead.
        if not os.path.isfile(meta_path):
            return False
        if loc is None or desc.get("Type", "").upper() != "EXTERNAL":
            warnings.warn(
                f"table {tbl} exists but is not a re-registerable EXTERNAL"
                f" table (type={desc.get('Type')!r}, location"
                f" {'unparsed' if loc is None else loc!r}); refusing to"
                f" DROP it — layout metadata for {path} stays unregistered",
                stacklevel=2,
            )
            return False
        spark.sql(f"DROP TABLE {tbl}")
    if not os.path.isfile(meta_path):
        return False
    with open(meta_path) as fh:
        meta = json.load(fh)
    cols = ", ".join(f"`{c}` {t}" for c, t in meta["columns"])
    bcols = ", ".join(f"`{c}`" for c in meta["bucket_cols"])
    scols = ", ".join(f"`{c}`" for c in meta["sort_cols"])
    spark.sql(
        f"CREATE TABLE {tbl} ({cols}) USING parquet"
        f" CLUSTERED BY ({bcols}) SORTED BY ({scols})"
        f" INTO {meta['num_buckets']} BUCKETS"
        f" LOCATION '{os.path.abspath(path)}'"
    )
    return True


def _remove_sidecars(path: str, *fnames: str) -> None:
    for fname in fnames:
        try:
            os.remove(os.path.join(path, fname))
        except OSError:
            pass


def _swap_dir(path: str, staged: str) -> None:
    """Replace directory ``path`` with ``staged``: the one swap behind every
    set rewrite.  The live directory moves aside, the staged one renames
    in, and only then is the aside copy deleted, so a crash never loses the
    set (between the renames it sits in the aside directory, which the next
    swap moves back first).  If the rename in fails, the aside copy moves
    back and the staged one is deleted.

    The salting-hint sidecar carries over to the new files unless they
    bring their own (a snapshot restore brings back the one it froze); the
    layout and zonemap sidecars never do — they describe the old files."""
    aside = path.rstrip("/") + ".__aside__"
    if os.path.isdir(aside):
        if os.path.isdir(path):
            shutil.rmtree(aside)
        else:
            os.rename(aside, path)
    hints = os.path.join(path, HINTS_FILE)
    if os.path.isfile(hints) and not os.path.exists(os.path.join(staged, HINTS_FILE)):
        shutil.copy2(hints, staged)
    try:
        if os.path.isdir(path):
            os.rename(path, aside)
        os.rename(staged, path)
    except BaseException:
        if os.path.isdir(aside):
            os.rename(aside, path)
        shutil.rmtree(staged, ignore_errors=True)
        raise
    shutil.rmtree(aside, ignore_errors=True)


def _link_tree(src: str, dst: str) -> None:
    """Replicate ``src`` under ``dst`` as hardlinks (metadata-only on
    POSIX), falling back to a data copy per file on filesystems without
    hardlink support or across devices.  Shared by snapshot AND restore so
    both sides degrade identically."""
    os.makedirs(dst, exist_ok=True)
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(out, f)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


class Catalog:
    """Path-backed database/set registry.

    ``createSet`` in the reference also chooses a partitioning lambda when
    self-learning is on (src/serverFunctionalities — DispatcherServer); here
    :meth:`write_set` accepts ``bucket_by`` / ``partition_by`` so the advisor
    (lachesis_spark.advisor) can apply a learned layout the same way.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._external: dict[tuple[str, str], str] = {}

    # -- database ----------------------------------------------------------
    def create_database(self, db: str) -> None:
        os.makedirs(os.path.join(self.root, db), exist_ok=True)

    def remove_database(self, db: str) -> None:
        shutil.rmtree(os.path.join(self.root, db), ignore_errors=True)

    def list_databases(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root) if os.path.isdir(os.path.join(self.root, d))
        )

    # -- sets --------------------------------------------------------------
    def set_path(self, db: str, name: str) -> str:
        ext = self._external.get((db, name))
        return ext if ext else os.path.join(self.root, db, name)

    def register_external_set(self, db: str, name: str, path: str) -> None:
        """Register an existing Parquet file/dir as a read-only set."""
        self._external[(db, name)] = path

    def register_testdata(self, sf_dir: str, db: str = "testdata") -> None:
        """Expose the driver tables as sets of ``db`` and as temp views."""
        for name in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.register_external_set(db, name, path)
                self.read_set(db, name).createOrReplaceTempView(name)

    def exists_set(self, db: str, name: str) -> bool:
        return os.path.exists(self.set_path(db, name))

    def read_set(self, db: str, name: str, version: int | None = None) -> DataFrame:
        """ScanUserSet analog (reference
        src/builtInPDBObjects/headers/ScanUserSet.h:23): a batched scan whose
        column pruning / predicate pushdown Catalyst applies automatically.

        ``version=N`` time-travels to snapshot N (see :meth:`snapshot_set`)."""
        # some testdata vintages store events.ts as TIMESTAMP(NANOS); expose
        # those as raw int64 nanos (callers normalize via
        # sources.readers.read_events / event_ts_expr).  No-op for the
        # current timestamp[us] encoding.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if version is not None:
            p = self._snapshot_path(db, name, version)
            if not os.path.isdir(p):
                raise ValueError(f"set {db}.{name} has no snapshot v{version}")
            return read_parquet(self.spark, p)
        # bucketed sets (write_set(bucket_by=...)) carry their layout in the
        # table identity, not the files: a bare-path read silently drops the
        # bucket metadata and every later join/agg re-shuffles — exactly the
        # cost the advisor's layout paid to remove.  Route through the table
        # when one over THIS catalog's path is registered (table names are
        # session-global; another Catalog rooted elsewhere may own the name);
        # a restarted session re-registers it from the layout sidecar.
        if (db, name) not in self._external and ensure_layout_table(
            self.spark, self.root, db, name
        ):
            return self.spark.table(f"{db}_{name}")
        return read_parquet(self.spark, self.set_path(db, name))

    def _drop_owned_table(self, db: str, name: str) -> None:
        """Drop the session table backing this set, if it is ours.

        A rewrite invalidates a bucketed table two ways: the cached file
        listing goes stale (FAILED_READ_FILE on next table read) and new
        plain part files no longer carry bucket-id names, so the table's
        bucket metadata would be a lie.  The table is EXTERNAL (saveAsTable
        with an explicit path), so DROP removes only metadata — the data
        files and the layout sidecar stay; a writer that rewrites files in
        place removes the sidecar itself.
        """
        if ensure_layout_table(self.spark, self.root, db, name):
            self.spark.sql(f"DROP TABLE {db}_{name}")

    def write_set(
        self,
        df: DataFrame,
        db: str,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
        zorder_by: list[str] | None = None,
        zonemap_by: list[str] | None = None,
        bucket_pre_partitioned: bool = False,
    ) -> None:
        """WriteUserSet analog (reference
        src/builtInPDBObjects/headers/WriteUserSet.h:18).

        ``bucket_by=(n, cols)`` persists hash-co-partitioned data the way the
        reference's PartitionComp + partitioned sets do
        (src/lambdas/headers/PartitionComp.h:13-35) so later joins/aggs on the
        same key avoid the shuffle.  Bucketed writes require saveAsTable.

        ``zonemap_by=cols`` records per-FILE min/max stats for those columns
        in a ``_lachesis_zonemap.json`` sidecar (the Delta/Iceberg
        file-stats pattern): :meth:`read_set_pruned` then skips whole files
        at PLANNING time — before Spark even opens their footers — for
        range predicates on those columns.  Pair with ``zorder_by`` (or a
        range-partitioned/sorted writer): clustering is what makes per-file
        ranges tight enough to prune.  Stats are computed distributed (one
        column-pruned scan grouped by input_file_name; only n_files rows
        reach the driver), re-recorded by every rewrite that keeps the set's
        rows (:meth:`merge_set`, :meth:`apply_cdc`, :meth:`compact_set`) and
        removed by a plain write without ``zonemap_by``, with a fail-safe
        reader: files absent from the sidecar are always kept.
        """
        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        if zorder_by is not None:
            if bucket_by is not None:
                raise ValueError("zorder_by and bucket_by are exclusive layouts")
            from lachesis_spark.sources.layout import zorder

            df = zorder(df, zorder_by)
        if bucket_by is not None:
            from pyspark.sql import functions as F

            n, cols = bucket_by
            # one file per bucket: repartition on the bucket key with
            # numPartitions == bucket count uses the SAME murmur3 pmod
            # mapping bucketBy uses, so each write task holds exactly one
            # bucket.  Without this, a k-task upstream writes k files per
            # bucket and every later sort-merge join must re-sort the
            # bucket at read time (Spark only elides the Sort for
            # single-file buckets) — silently refunding the layout's win.
            # ``bucket_pre_partitioned`` opts OUT of that collapse: the
            # caller's partitioning (e.g. repartitionByRange on a filter
            # column) is kept, so each of its k tasks writes one file per
            # bucket it holds — files become (range slice × bucket) cells
            # that a zonemap sidecar can prune in the range dimension
            # while the table stays a joinable bucketed layout.  The trade
            # (multi-file buckets re-sort at read; exchange elision is
            # untouched) is for the advisor's measured arbitration.
            if not bucket_pre_partitioned:
                df = df.repartition(n, *[F.col(c) for c in cols])
            (
                df.write.mode(mode)
                .bucketBy(n, *cols)
                .sortBy(*cols)
                .option("path", self.set_path(db, name))
                .saveAsTable(f"{db}_{name}")
            )
            # durable layout sidecar: lets a NEW session (or the public
            # read_set router) re-register the bucketed table over the
            # same files instead of silently losing the layout
            import json

            meta = {
                "num_buckets": n,
                "bucket_cols": list(cols),
                "sort_cols": list(cols),
                "columns": [
                    (f.name, f.dataType.simpleString()) for f in df.schema.fields
                ],
            }
            with open(
                os.path.join(self.set_path(db, name), LAYOUT_FILE), "w"
            ) as fh:
                json.dump(meta, fh)
            if zonemap_by:
                self._write_zonemap(db, name, zonemap_by)
            return
        # a plain path write invalidates any bucketed table we own here, and
        # the sidecars describe files an overwrite deletes or an append joins
        path = self.set_path(db, name)
        self._drop_owned_table(db, name)
        _remove_sidecars(path, LAYOUT_FILE, ZONEMAP_FILE)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        if zonemap_by:
            self._write_zonemap(db, name, zonemap_by)

    def _file_stats(self, path: str, cols: list[str], *dirs: str) -> dict:
        """Per-file ``[min, max]`` of ``cols`` over ``dirs`` of the set at
        ``path`` (all of it when none are given): one distributed,
        column-pruned pass grouped by input_file_name, so only n_files rows
        reach the driver.  Keys are paths RELATIVE to the set root, not
        basenames: a partitioned write emits the SAME part-file basename
        into every partition directory one task touches, so basename keys
        would collide across partitions."""
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        aggs = [F.min(c).alias(f"min__{c}") for c in cols]
        aggs += [F.max(c).alias(f"max__{c}") for c in cols]
        rows = (
            self.spark.read.option("basePath", path)
            .parquet(*(dirs or (path,)))
            .groupBy(F.input_file_name().alias("file"))
            .agg(*aggs)
            .collect()
        )
        return {
            os.path.relpath(unquote(urlparse(r["file"]).path), path): {
                c: [_zonemap_safe(r[f"min__{c}"]), _zonemap_safe(r[f"max__{c}"])]
                for c in cols
            }
            for r in rows
        }

    def _write_zonemap(self, db: str, name: str, cols: list[str]) -> None:
        """Record the zonemap sidecar: per-file stats of ``cols`` over the
        whole set."""
        import json

        path = self.set_path(db, name)
        files = self._file_stats(path, cols)
        with open(os.path.join(path, ZONEMAP_FILE), "w") as fh:
            json.dump({"cols": list(cols), "files": files}, fh)

    def read_set_pruned(
        self, db: str, name: str, col: str, lo=None, hi=None
    ) -> DataFrame:
        """Zone-map file skipping on one column — see
        :meth:`read_set_pruned_multi` for the semantics."""
        return self.read_set_pruned_multi(db, name, {col: (lo, hi)})

    def read_set_pruned_multi(
        self, db: str, name: str, ranges: dict
    ) -> DataFrame:
        """Zone-map file skipping: return the set filtered to
        ``lo <= col <= hi`` for every ``col: (lo, hi)`` in ``ranges``
        (either bound may be None = open), reading ONLY the files whose
        recorded [min, max] overlaps EVERY range — the read path that pays
        off a Z-ordered layout, where a multi-dimensional box prunes on all
        clustered columns at once instead of just a leading sort key.

        Correctness never depends on the sidecar: the residual range
        filters are always applied, files without stats (no sidecar,
        column not mapped, new files a rewrite added, all-null stats) are
        always read, and a missing sidecar degrades to a plain filtered
        read_set.  The pruning itself happens before Spark lists or opens
        the skipped files — at 100 TB with date-range queries over a
        date-clustered set, that is the difference between touching 3
        files and 30 000.
        """
        import json

        from pyspark.sql import functions as F

        def residual(df: DataFrame) -> DataFrame:
            for col, (lo, hi) in ranges.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))
            return df

        path = self.set_path(db, name)
        zmp = os.path.join(path, ZONEMAP_FILE)
        if not os.path.isfile(zmp):
            return residual(self.read_set(db, name))
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        with open(zmp) as fh:
            zm = json.load(fh)
        mapped = set(zm.get("cols", []))
        bounds = {
            col: (_zonemap_safe(lo), _zonemap_safe(hi))
            for col, (lo, hi) in ranges.items()
            if col in mapped
        }
        files_stats = zm.get("files", {})

        def keep(fname: str) -> bool:
            # sidecar keys are set-root-relative paths (basename fallback
            # accepted for sidecars written before round 9)
            stats = files_stats.get(fname)
            if stats is None:
                stats = files_stats.get(os.path.basename(fname), {})
            for col, (nlo, nhi) in bounds.items():
                st = stats.get(col)
                if not st or st[0] is None or st[1] is None:
                    continue  # fail-safe: no usable stats -> can't skip
                fmin, fmax = st
                if nlo is not None and fmax < nlo:
                    return False
                if nhi is not None and fmin > nhi:
                    return False
            return True

        # recursive listing so partitioned sets (files under
        # partition_col=value dirs, e.g. after a partition-scoped
        # merge_set) prune too; `basePath` keeps their partition columns.
        data_files = [
            os.path.join(root, f)
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.startswith("part-") and not f.endswith(".crc")
        ]
        kept = [p for p in data_files if keep(os.path.relpath(p, path))]
        if not kept:
            # nothing can match: an empty frame with the set's schema
            return residual(read_parquet(self.spark, path).limit(0))
        return residual(
            self.spark.read.option("basePath", path).parquet(*kept)
        )

    def merge_set(
        self,
        updates: DataFrame,
        db: str,
        name: str,
        key_cols: list[str],
        partition_col: str | None = None,
    ) -> None:
        """MERGE (upsert) into a stored set: rows whose key appears in
        ``updates`` are replaced, new keys are inserted — last-writer-wins
        per key, the incremental-refresh primitive (daily crawl into a
        corpus, dimension updates) plain parquet lacks.

        Scale: parquet has no row-level operations, so an unpartitioned
        merge rewrites the whole set (read → anti-join → union → swap).
        With ``partition_col`` the merge is partition-scoped: only the
        partitions the updates touch are read (partition pruning on the
        filter) and only those are rewritten (dynamic partition overwrite);
        a daily merge into a date-partitioned 100 TB corpus costs
        O(touched partitions), not O(corpus).  The touched-partition list
        is collected to the driver — small by definition of an incremental
        update.

        A zone-mapped set keeps its skipping: the stats are re-recorded
        after the rewrite (see :meth:`_rewrite`), so a daily-merged
        date-clustered set never silently loses pruning.
        """
        from pyspark.sql import functions as F

        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        touched = None
        if self.exists_set(db, name):
            existing = self.read_set(db, name)
            if partition_col:
                touched = [
                    r[0] for r in updates.select(partition_col).distinct().collect()
                ]
                existing = existing.where(F.col(partition_col).isin(touched))
            updates = existing.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            ).unionByName(updates)
        self._rewrite(updates, db, name, partition_col, touched)

    def _rewrite(
        self,
        df: DataFrame,
        db: str,
        name: str,
        partition_col: str | None = None,
        touched: list | None = None,
        emptied: list | tuple = (),
    ) -> None:
        """The one rewrite tail of merge_set, apply_cdc and compact_set:
        write ``df`` over the set, drop the bucketed table the old files
        backed, and re-record the zonemap over the new files.

        With ``partition_col`` the write is a dynamic partition overwrite
        in place: only the partitions present in ``df`` are replaced, the
        ``emptied`` ones are then deleted (dynamic overwrite alone would
        keep their stale files), and the zonemap is updated for the
        ``touched`` partitions only (rebuilt when ``touched`` is None).
        Otherwise ``df`` — which reads the live files, so it cannot
        overwrite them — is written to a staged sibling directory and
        swapped in (:func:`_swap_dir`)."""
        zm_cols = self._zonemap_cols(db, name)
        path = self.set_path(db, name)
        if partition_col:
            conf, key = self.spark.conf, "spark.sql.sources.partitionOverwriteMode"
            old = conf.get(key)
            conf.set(key, "dynamic")
            try:
                df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
            finally:
                conf.set(key, old)
            for p in emptied:
                shutil.rmtree(
                    os.path.join(path, f"{partition_col}={p}"), ignore_errors=True
                )
            _remove_sidecars(path, LAYOUT_FILE)
            self._drop_owned_table(db, name)
        else:
            staged = self.set_path(db, name + STAGED_SUFFIX)
            df.write.mode("overwrite").parquet(staged)
            self._drop_owned_table(db, name)
            _swap_dir(path, staged)
        if zm_cols and touched is not None:
            self._update_zonemap_partitions(db, name, zm_cols, partition_col, touched)
        elif zm_cols:
            self._write_zonemap(db, name, zm_cols)

    def relayout_set(self, df: DataFrame, db: str, name: str, **layout) -> None:
        """Rewrite set ``db.name`` from ``df`` — a frame over the set itself
        — under ``layout`` (:meth:`write_set`'s layout keywords).  ``df`` is
        written as a staged sibling set (never over the files it reads),
        swapped in for the live files (:func:`_swap_dir`: the old layout
        stays intact until the new one is fully written), and the layout
        table is re-registered from the fresh sidecar, so joins on a new
        bucket key plan exchange-free at once."""
        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        staged = name + STAGED_SUFFIX
        self.write_set(df, db, staged, **layout)
        # the staged bucketed table is ours (write_set just registered it);
        # its files and sidecars move with the swap
        self.spark.sql(f"DROP TABLE IF EXISTS {db}_{staged}")
        self._drop_owned_table(db, name)
        _swap_dir(self.set_path(db, name), self.set_path(db, staged))
        ensure_layout_table(self.spark, self.root, db, name)

    def _update_zonemap_partitions(
        self, db: str, name: str, cols: list[str],
        partition_col: str, touched: list,
    ) -> None:
        """INCREMENTAL zonemap maintenance for a partition-scoped rewrite
        (a full `_write_zonemap` rebuild re-scans the whole set, so a daily
        merge into a 100 TB corpus would pay O(corpus) for sidecar upkeep
        even though only O(touched partitions) of data changed — measured
        superlinear in tools/layout_write_probe.py).  This re-scans ONLY
        the touched partition directories, replaces their files' stat
        entries, and drops entries for files the rewrite deleted;
        untouched partitions keep their recorded stats verbatim.  Cost: one
        column-pruned scan of the touched partitions plus an O(#files)
        filesystem walk (metadata only).

        Falls back to the full rebuild when the sidecar is missing or its
        stat columns changed, or when a stat column IS the partition
        column (its values never appear inside the files)."""
        import json

        path = self.set_path(db, name)
        zmp = os.path.join(path, ZONEMAP_FILE)
        if not os.path.isfile(zmp) or partition_col in cols:
            self._write_zonemap(db, name, cols)
            return
        with open(zmp) as fh:
            zm = json.load(fh)
        if sorted(zm.get("cols", [])) != sorted(cols):
            self._write_zonemap(db, name, cols)
            return
        live = set()  # every data file (set-root-relative) currently present
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith("part-") and not f.endswith(".crc"):
                    live.add(os.path.relpath(os.path.join(root, f), path))
        tdirs = [
            d
            for v in touched
            if os.path.isdir(d := os.path.join(path, f"{partition_col}={v}"))
        ]
        fresh = self._file_stats(path, cols, *tdirs) if tdirs else {}
        kept = {
            f: st for f, st in zm.get("files", {}).items()
            if f in live and f not in fresh
        }
        with open(zmp, "w") as fh:
            json.dump({"cols": list(cols), "files": kept | fresh}, fh)

    def _zonemap_cols(self, db: str, name: str) -> list[str] | None:
        """The stat columns of an existing zonemap sidecar, if any — rewrite
        paths use this to refresh (rather than lose) a set's file skipping."""
        import json

        p = os.path.join(self.set_path(db, name), ZONEMAP_FILE)
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return json.load(fh).get("cols") or None

    def apply_cdc(
        self,
        changes: DataFrame,
        db: str,
        name: str,
        key_cols: list[str],
        version_col: str,
        op_col: str = "op",
        partition_col: str | None = None,
    ) -> None:
        """Apply a CDC change batch (Debezium-shaped) to a stored set:
        ``changes`` carries the set's columns plus ``op_col`` with
        ``'upsert'`` or ``'delete'`` per row.  Semantics:

        - **latest-wins within the batch**: one surviving change per key,
          by max ``version_col`` (ties broken upsert-over-delete — struct
          ordering, deterministic);
        - **late arrivals ignored**: a change only applies if its version
          is STRICTLY greater than the stored row's — replaying an old
          batch after a newer one is a no-op, which makes the apply
          idempotent and safe under at-least-once delivery;
        - **tombstones delete**: a winning ``'delete'`` removes the key.

        One full-outer join on the key, all CASE logic in columns.  Scale:
        like :meth:`merge_set`, an unpartitioned apply rewrites the set
        (parquet has no row-level ops) and ``partition_col`` scopes both
        the read and the dynamic-overwrite rewrite to the touched
        partitions — a daily CDC feed into a date-partitioned 100 TB set
        costs O(touched partitions).  The eager rewrite is the
        read-optimized trade; the log-structured alternative (append
        change files, merge on read, compact later) optimizes ingest
        latency instead and composes from write_set(mode="append") +
        this method as the compactor.
        """
        from pyspark.sql import functions as F

        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        data_cols = [c for c in changes.columns if c != op_col]
        others = [c for c in data_cols if c not in key_cols]
        if version_col not in others:
            raise ValueError(f"version_col {version_col!r} must be a non-key column")
        # one winner per key in the batch: struct max orders by (version,
        # op) — 'upsert' > 'delete' lexicographically, so on a version tie
        # the upsert wins
        win = (
            changes.groupBy(*key_cols)
            .agg(
                F.max(
                    F.struct(
                        F.col(version_col).alias("__v"),
                        F.col(op_col).alias("__op"),
                        F.struct(*[F.col(c) for c in others]).alias("__p"),
                    )
                ).alias("__m")
            )
            .select(
                *key_cols,
                F.col("__m.__op").alias("__op"),
                F.col("__m.__p").alias("__c"),
            )
        )
        if not self.exists_set(db, name):
            inserts = win.filter(F.col("__op") == "upsert").select(
                *key_cols, *[F.col(f"__c.{c}").alias(c) for c in others]
            )
            self._rewrite(inserts, db, name, partition_col)
            return
        existing = self.read_set(db, name)
        touched = None
        if partition_col:
            touched = [
                r[0]
                for r in win.select(F.col(f"__c.{partition_col}")).distinct().collect()
            ]
            existing = existing.where(F.col(partition_col).isin(touched))
        ex = existing.select(
            *key_cols, F.struct(*[F.col(c) for c in others]).alias("__e")
        )
        j = ex.join(win, key_cols, "full_outer")
        change_wins = F.col("__op").isNotNull() & (
            F.col("__e").isNull()
            | (F.col(f"__c.{version_col}") > F.col(f"__e.{version_col}"))
        )
        row = (
            F.when(change_wins & (F.col("__op") == "upsert"), F.col("__c"))
            .when(change_wins, F.lit(None))  # winning delete -> tombstone
            .otherwise(F.col("__e"))
        )
        merged = (
            j.select(*key_cols, row.alias("__r"))
            .filter(F.col("__r").isNotNull())
            .select(*key_cols, *[F.col(f"__r.{c}").alias(c) for c in others])
        )
        emptied = []
        if partition_col:
            # a touched partition whose every row was deleted is absent from
            # the output: find the surviving partitions first (one
            # partition-scoped aggregate) so the rewrite can delete the rest
            present = {
                r[0] for r in merged.select(partition_col).distinct().collect()
            }
            emptied = [p for p in touched if p not in present]
        self._rewrite(merged, db, name, partition_col, touched, emptied)

    def compact_set(
        self,
        db: str,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        partition_col: str | None = None,
    ) -> int:
        """Rewrite a fragmented set into ~``target_file_bytes`` files.

        Streaming/microbatch sinks (write_stream_merge) and repeated MERGEs
        accumulate small files; at scale, scan task count and file-listing
        cost grow with file count, not data size, so periodic compaction is
        an operational necessity.  File count is computed from actual bytes
        on disk; with ``partition_col`` the coalesce happens per partition
        directory (dynamic overwrite), preserving partition pruning.
        Returns the new file count."""
        from pyspark.sql import functions as F

        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        size = 0
        for root, _dirs, files in os.walk(self.set_path(db, name)):
            size += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        n_files = max(1, -(-size // target_file_bytes))  # ceil
        df = self.read_set(db, name)
        if partition_col:
            df = df.repartition(n_files, F.col(partition_col))
        else:
            df = df.coalesce(n_files)
        self._rewrite(df, db, name, partition_col)
        return n_files

    # -- snapshots / time travel -------------------------------------------
    # A training-corpus set must be reproducible: "the run used corpus v7"
    # has to stay answerable after later merges/compactions rewrite the
    # files.  Snapshots are hardlink copies into a hidden sibling directory
    # (dot-prefixed, so Spark's file listing never sees them): on a POSIX
    # filesystem a snapshot of a 100 TB set copies zero data blocks — only
    # directory entries.  On an object store (no hardlinks) the same surface
    # would be manifest-based (Iceberg-style); the API here is the contract,
    # the hardlink copy is the local-filesystem implementation.
    def _snapshots_root(self, db: str, name: str) -> str:
        return os.path.join(self.root, db, f".{name}.snapshots")

    def _snapshot_path(self, db: str, name: str, version: int) -> str:
        return os.path.join(self._snapshots_root(db, name), f"v{version}")

    def list_snapshots(self, db: str, name: str) -> list[int]:
        root = self._snapshots_root(db, name)
        if not os.path.isdir(root):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
        )

    def snapshot_set(self, db: str, name: str) -> int:
        """Freeze the current contents of a set; returns the version id.

        Later ``read_set(db, name, version=v)`` reads the frozen state
        regardless of subsequent write_set/merge_set/compact_set rewrites.
        """
        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        src = self.set_path(db, name)
        if not os.path.isdir(src):
            raise ValueError(f"set {db}.{name} does not exist")
        versions = self.list_snapshots(db, name)
        v = (versions[-1] + 1) if versions else 1
        _link_tree(src, self._snapshot_path(db, name, v))
        return v

    def restore_set(self, db: str, name: str, version: int) -> None:
        """Roll the live set back to snapshot ``version`` (the snapshot is
        kept, so a restore can itself be undone by restoring a later one)."""
        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        src = self._snapshot_path(db, name, version)
        if not os.path.isdir(src):
            raise ValueError(f"set {db}.{name} has no snapshot v{version}")
        self._drop_owned_table(db, name)
        staged = self.set_path(db, name + STAGED_SUFFIX)
        shutil.rmtree(staged, ignore_errors=True)
        _link_tree(src, staged)
        _swap_dir(self.set_path(db, name), staged)

    def export_set(
        self, db: str, name: str, out_path: str, fmt: str = "csv"
    ) -> None:
        """exportSet analog (reference src/mainClient/headers/PDBClient.h:131:
        export a stored set to an external format).  ``fmt`` ∈ csv|json|parquet."""
        df = self.read_set(db, name)
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", True).csv(out_path)
        elif fmt == "json":
            writer.json(out_path)
        elif fmt == "parquet":
            writer.parquet(out_path)
        else:
            raise ValueError(f"unsupported export format {fmt!r}")

    def remove_set(self, db: str, name: str) -> None:
        if (db, name) in self._external:
            del self._external[(db, name)]
            return
        self._drop_owned_table(db, name)
        shutil.rmtree(self.set_path(db, name), ignore_errors=True)
        shutil.rmtree(self._snapshots_root(db, name), ignore_errors=True)

    def clear_set(self, db: str, name: str) -> None:
        """clearSet analog — drop contents, keep the name."""
        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        self._drop_owned_table(db, name)
        shutil.rmtree(self.set_path(db, name), ignore_errors=True)
        os.makedirs(self.set_path(db, name), exist_ok=True)

