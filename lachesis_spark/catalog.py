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


def ensure_layout_table(spark: SparkSession, root: str, db: str, name: str) -> bool:
    """Re-register the session table for a bucketed set from its durable
    layout sidecar, if present.

    ``write_set(bucket_by=...)`` registers bucket metadata in the session
    catalog, which dies with the session — a restarted session would read
    the files correctly but silently lose the layout (joins re-Exchange).
    The sidecar ``_lachesis_layout.json`` written next to the data
    (underscore-prefixed: invisible to Spark's file listings) makes the
    layout durable: this re-creates the external bucketed table over the
    same files (bucket ids live in the file names, so a plain
    CREATE TABLE ... CLUSTERED BY over them is exact).  Returns True if a
    table now exists."""
    import json
    import warnings

    tbl = f"{db}_{name}"
    path = os.path.join(root, db, name)
    meta_path = os.path.join(path, LAYOUT_FILE)
    if spark.catalog.tableExists(tbl):
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
        }
        loc = desc.get("Location")
        if loc is not None and _same_location(loc, path):
            return True
        # Table names are session-global but Catalog roots are not: a
        # Catalog rooted elsewhere may have registered this name over ITS
        # files.  If THIS root carries a layout sidecar, the stale
        # registration would silently shadow it (read_set's location check
        # falls back to a plain scan and the bucket layout is lost), so
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
        if version is not None:
            p = self._snapshot_path(db, name, version)
            if not os.path.isdir(p):
                raise ValueError(f"set {db}.{name} has no snapshot v{version}")
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return self.spark.read.parquet(p)
        # some testdata vintages store events.ts as TIMESTAMP(NANOS); expose
        # those as raw int64 nanos (callers normalize via
        # sources.readers.read_events / event_ts_expr).  No-op for the
        # current timestamp[us] encoding.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed sets (write_set(bucket_by=...)) carry their layout in the
        # table identity, not the files: a bare-path read silently drops the
        # bucket metadata and every later join/agg re-shuffles — exactly the
        # cost the advisor's layout paid to remove.  Route through the table,
        # but only when it points at THIS catalog's path (table names are
        # session-global; another Catalog rooted elsewhere may own the name).
        tbl = f"{db}_{name}"
        if (db, name) not in self._external:
            # a restarted session has no table metadata; the durable layout
            # sidecar re-registers the bucketed table before routing
            ensure_layout_table(self.spark, self.root, db, name)
        if (db, name) not in self._external and self.spark.catalog.tableExists(tbl):
            loc = self._table_location(tbl)
            if loc is not None and _same_location(loc, self.set_path(db, name)):
                return self.spark.table(tbl)
        return self.spark.read.parquet(self.set_path(db, name))

    def _table_location(self, tbl: str) -> str | None:
        return next(
            (
                r["data_type"]
                for r in self.spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
                if r["col_name"] == "Location"
            ),
            None,
        )

    def _drop_owned_table(self, db: str, name: str) -> None:
        """Drop the session table backing this set, if it is ours.

        Path rewrites (plain write_set, merge_set, compact_set) invalidate a
        bucketed table two ways: the cached file listing goes stale
        (FAILED_READ_FILE on next table read) and the new plain part files no
        longer carry bucket-id names, so the table's bucket metadata would be
        a lie.  The table is EXTERNAL (saveAsTable with an explicit path), so
        DROP removes only metadata — the data files stay.  Only drops when
        the table's Location matches THIS catalog's set path (names are
        session-global; another Catalog rooted elsewhere may own the name).
        """
        tbl = f"{db}_{name}"
        if self.spark.catalog.tableExists(tbl):
            loc = self._table_location(tbl)
            if loc is not None and _same_location(loc, self.set_path(db, name)):
                self.spark.sql(f"DROP TABLE {tbl}")
        # every caller is a rewrite/teardown path, so the durable layout
        # sidecar is about to be as stale as the table was — remove it or a
        # later read_set would re-register bucket metadata over plain files
        # (snapshot restores bring their own sidecar back with the files)
        for sidecar in (LAYOUT_FILE, ZONEMAP_FILE):
            try:
                os.remove(os.path.join(self.set_path(db, name), sidecar))
            except OSError:
                pass

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
        reach the driver) and the sidecar is deleted by every rewrite path
        (:meth:`_drop_owned_table`), with a fail-safe reader: files absent
        from the sidecar are always kept.
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
        # a plain path write invalidates any bucketed table we own here
        self._drop_owned_table(db, name)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.set_path(db, name))
        if zonemap_by:
            self._write_zonemap(db, name, zonemap_by)

    def _write_zonemap(self, db: str, name: str, cols: list[str]) -> None:
        """One distributed, column-pruned pass over the fresh set: per-file
        min/max of ``cols`` keyed by input_file_name (n_files rows to the
        driver), persisted as the zonemap sidecar."""
        import json
        from urllib.parse import unquote, urlparse

        from pyspark.sql import functions as F

        path = self.set_path(db, name)
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"min__{c}"))
            aggs.append(F.max(c).alias(f"max__{c}"))
        rows = (
            self.spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("file"))
            .agg(*aggs)
            .collect()
        )
        # keys are paths RELATIVE to the set root, not basenames: a
        # partitioned write emits the SAME part-file basename into every
        # partition directory one task touches, so basename keys collide
        # across partitions and entries silently overwrite each other.
        files = {
            os.path.relpath(unquote(urlparse(r["file"]).path), path): {
                c: [_zonemap_safe(r[f"min__{c}"]), _zonemap_safe(r[f"max__{c}"])]
                for c in cols
            }
            for r in rows
        }
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
            return residual(self.spark.read.parquet(path).limit(0))
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
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

        A zone-mapped set keeps its skipping: the sidecar's stat columns
        are captured before the rewrite and the stats re-recorded after
        (one column-pruned pass), so a daily-merged date-clustered set
        never silently loses pruning.
        """
        from pyspark.sql import functions as F

        if (db, name) in self._external:
            raise ValueError(f"set {db}.{name} is external/read-only")
        zm_cols = self._zonemap_cols(db, name)
        # the merge rewrites plain part files; a bucketed table over this
        # path would keep a stale listing AND falsely-advertised bucketing
        self._drop_owned_table(db, name)
        path = self.set_path(db, name)
        if not self.exists_set(db, name):
            w = updates.write.mode("overwrite")
            if partition_col:
                w = w.partitionBy(partition_col)
            w.parquet(path)
            return
        existing = self.read_set(db, name)
        if partition_col:
            touched = [
                r[0] for r in updates.select(partition_col).distinct().collect()
            ]
            existing = existing.where(F.col(partition_col).isin(touched))
            merged = existing.join(
                updates.select(*key_cols).distinct(), key_cols, "left_anti"
            ).unionByName(updates)
            old = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
            finally:
                self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
            if zm_cols:
                # incremental sidecar upkeep: O(touched partitions), not
                # O(corpus) — see _update_zonemap_partitions
                self._update_zonemap_partitions(
                    db, name, zm_cols, partition_col, touched
                )
            return
        merged = existing.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        ).unionByName(updates)
        # the output overwrites the input path, so materialize first, then swap
        tmp = path.rstrip("/") + ".__merge_tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
        if zm_cols:
            self._write_zonemap(db, name, zm_cols)

    def _update_zonemap_partitions(
        self, db: str, name: str, cols: list[str],
        partition_col: str, touched: list,
    ) -> None:
        """INCREMENTAL zonemap maintenance for a partition-scoped merge
        (round-9: the full `_write_zonemap` rebuild re-scans the whole set,
        so a daily merge into a 100 TB corpus paid O(corpus) for sidecar
        upkeep even though only O(touched partitions) of data changed —
        measured superlinear in tools/layout_write_probe.py).  This
        re-scans ONLY the touched partition directories, replaces their
        files' stat entries, and drops entries for files the dynamic
        overwrite deleted; untouched partitions keep their recorded stats
        verbatim.  Cost: one column-pruned scan of the touched partitions
        plus an O(#files) filesystem walk (metadata only).

        Falls back to the full rebuild when the sidecar is missing or its
        stat columns changed, or when a stat column IS the partition
        column (its values never appear inside the files)."""
        import json

        from pyspark.sql import functions as F

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
        fresh: dict[str, dict] = {}
        if tdirs:
            from urllib.parse import unquote, urlparse

            aggs = []
            for c in cols:
                aggs.append(F.min(c).alias(f"min__{c}"))
                aggs.append(F.max(c).alias(f"max__{c}"))
            rows = (
                self.spark.read.option("basePath", path).parquet(*tdirs)
                .groupBy(F.input_file_name().alias("file"))
                .agg(*aggs)
                .collect()
            )
            fresh = {
                os.path.relpath(unquote(urlparse(r["file"]).path), path): {
                    c: [_zonemap_safe(r[f"min__{c}"]), _zonemap_safe(r[f"max__{c}"])]
                    for c in cols
                }
                for r in rows
            }
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
        zm_cols = self._zonemap_cols(db, name)
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
            w = inserts.write.mode("overwrite")
            if partition_col:
                w = w.partitionBy(partition_col)
            w.parquet(self.set_path(db, name))
            return
        self._drop_owned_table(db, name)
        path = self.set_path(db, name)
        existing = self.read_set(db, name)
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
        if partition_col:
            # dynamic overwrite only replaces partitions PRESENT in the
            # output: a touched partition whose every row was deleted
            # would silently keep its old files.  Compute the surviving
            # partition set first (one partition-scoped aggregate), then
            # remove fully-emptied partition directories after the write.
            present = {
                r[0] for r in merged.select(partition_col).distinct().collect()
            }
            old = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
            finally:
                self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
            for p in touched:
                if p not in present:
                    shutil.rmtree(
                        os.path.join(path, f"{partition_col}={p}"),
                        ignore_errors=True,
                    )
            if zm_cols:
                self._write_zonemap(db, name, zm_cols)
            return
        tmp = path.rstrip("/") + ".__merge_tmp__"
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
        if zm_cols:
            self._write_zonemap(db, name, zm_cols)

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
        zm_cols = self._zonemap_cols(db, name)
        self._drop_owned_table(db, name)
        path = self.set_path(db, name)
        size = 0
        for root, _dirs, files in os.walk(path):
            size += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        n_files = max(1, -(-size // target_file_bytes))  # ceil
        df = self.read_set(db, name)
        if partition_col:
            old = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (
                    df.repartition(n_files, F.col(partition_col))
                    .write.mode("overwrite")
                    .partitionBy(partition_col)
                    .parquet(path)
                )
            finally:
                self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
        else:
            tmp = path.rstrip("/") + ".__compact_tmp__"
            df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(path)
            os.rename(tmp, path)
        if zm_cols:
            self._write_zonemap(db, name, zm_cols)
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
        path = self.set_path(db, name)
        tmp = path.rstrip("/") + ".__restore_tmp__"
        old = path.rstrip("/") + ".__old__"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        _link_tree(src, tmp)
        # swap via rename so a crash never leaves the set missing: the live
        # dir moves aside first, the staged copy renames into place, and only
        # then is the aside copy deleted (interrupt between the renames
        # leaves both the snapshot and the aside copy intact)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

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

