"""The `lachesis` Python DataSource: read/write catalog sets as a Spark format.

Covers the BASELINE.md north-star integration ("storage layer read/written
via Spark DataSource API"): round-trip fidelity, filter pushdown reaching the
Arrow scan (and NOT being re-evaluated by Spark), transactional
overwrite/append, and split fan-out."""

import os

import pytest

from lachesis_spark.catalog import Catalog
from lachesis_spark.sources.lachesis_source import (
    LachesisReader,
    RowGroupSpan,
    register,
    set_layout,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_read_matches_native(spark):
    path = os.path.join(SF_DIR, "orders.parquet")
    via_source = spark.read.format("lachesis").load(path)
    native = spark.read.parquet(path)
    assert via_source.schema == native.schema
    assert sorted(map(tuple, via_source.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_filter_pushdown_in_plan_and_correct(spark):
    path = os.path.join(SF_DIR, "lineitem.parquet")
    df = (
        spark.read.format("lachesis")
        .load(path)
        .filter("l_quantity < 10 AND l_returnflag = 'R'")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "LessThan(l_quantity" in plan
    # fully-consumed pushdown: no post-scan Filter node re-checking the
    # predicate — the Arrow scanner applied it row-exactly
    assert "(3) Filter" not in plan
    native = (
        spark.read.parquet(path)
        .filter("l_quantity < 10 AND l_returnflag = 'R'")
        .select("l_orderkey", "l_quantity")
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, native.collect()))


def test_pushdown_three_valued_not_equal(spark, tmp_path):
    # NOT(a = v) must not pass NULL rows (Spark 3VL); exercised via Not(EqualTo)
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id int, tag string"
    )
    root = str(tmp_path)
    df.coalesce(1).write.format("lachesis").mode("overwrite").option(
        "root", root
    ).save("dsnull.t")
    back = (
        spark.read.format("lachesis")
        .option("root", root)
        .load("dsnull.t")
        .filter("tag <> 'a'")
    )
    assert [r["id"] for r in back.collect()] == [3]


def test_write_roundtrip_append_overwrite(spark, tmp_path):
    root = str(tmp_path)
    src = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    src.write.format("lachesis").option("root", root).mode("overwrite").save(
        "db1.customer"
    )
    back = spark.read.format("lachesis").option("root", root).load("db1.customer")
    assert back.count() == src.count()
    assert back.schema == src.schema
    src.limit(7).write.format("lachesis").option("root", root).mode("append").save(
        "db1.customer"
    )
    assert (
        spark.read.format("lachesis").option("root", root).load("db1.customer").count()
        == src.count() + 7
    )
    src.limit(3).write.format("lachesis").option("root", root).mode(
        "overwrite"
    ).save("db1.customer")
    assert (
        spark.read.format("lachesis").option("root", root).load("db1.customer").count()
        == 3
    )
    # no stage leftovers
    files = os.listdir(os.path.join(root, "db1", "customer"))
    assert all(f.endswith(".parquet") for f in files)


def test_reads_catalog_written_set(spark, tmp_path):
    """A set written by Catalog.write_set is readable through the format —
    the integration the DataSource exists for."""
    root = str(tmp_path)
    cat = Catalog(spark, root)
    cat.create_database("db2")
    df = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    cat.write_set(df, "db2", "nation")
    back = spark.read.format("lachesis").option("root", root).load("db2.nation")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_reads_bucketed_set_and_layout_metadata(spark, tmp_path):
    root = str(tmp_path)
    cat = Catalog(spark, root)
    cat.create_database("db3")
    df = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    try:
        cat.write_set(df, "db3", "orders_b", bucket_by=(4, ["o_custkey"]))
        back = spark.read.format("lachesis").option("root", root).load("db3.orders_b")
        assert back.count() == df.count()
        layout = set_layout(spark, "db3", "orders_b")
        assert layout["num_buckets"] == 4
        assert layout["bucket_cols"] == ["o_custkey"]
    finally:
        cat.remove_set("db3", "orders_b")


def test_read_set_routes_bucketed_join_exchange_free(spark, tmp_path):
    """The public read API keeps a bucket layout: a join on the bucket key
    through lachesis_source.read_set plans NO Exchange (the round-4 gap —
    the bare format path re-Exchanges because a Python DataSource cannot
    report partitioning)."""
    from lachesis_spark.sources.lachesis_source import read_set

    root = str(tmp_path)
    cat = Catalog(spark, root)
    cat.create_database("db6")
    ords = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    try:
        cat.write_set(ords, "db6", "orders_b", bucket_by=(4, ["o_custkey"]))
        cat.write_set(
            cust.withColumnRenamed("c_custkey", "o_custkey"),
            "db6", "customer_b", bucket_by=(4, ["o_custkey"]),
        )
        a = read_set(spark, "db6.orders_b", root=root)
        b = read_set(spark, "db6.customer_b", root=root)
        joined = a.join(b, "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        # same rows as the layout-less route
        plain = spark.read.format("lachesis").option("root", root).load(
            "db6.orders_b"
        ).join(
            spark.read.format("lachesis").option("root", root).load(
                "db6.customer_b"
            ),
            "o_custkey",
        )
        assert joined.count() == plain.count()
    finally:
        cat.remove_set("db6", "orders_b")
        cat.remove_set("db6", "customer_b")


def test_read_set_warns_when_format_path_discards_layout(spark, tmp_path):
    import warnings as W

    from lachesis_spark.sources.lachesis_source import read_set

    root = str(tmp_path)
    cat = Catalog(spark, root)
    cat.create_database("db7")
    df = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    try:
        cat.write_set(df, "db7", "nation_b", bucket_by=(2, ["n_regionkey"]))
        with W.catch_warnings(record=True) as got:
            W.simplefilter("always")
            back = read_set(spark, "db7.nation_b", root=root,
                            use_table_route=False)
            assert back.count() == df.count()
        assert any("discards" in str(w.message) for w in got)
        # unbucketed sets go through the format path silently
        cat.write_set(df, "db7", "nation_p")
        with W.catch_warnings(record=True) as got:
            W.simplefilter("always")
            read_set(spark, "db7.nation_p", root=root,
                     use_table_route=False).count()
        assert not got
    finally:
        cat.remove_set("db7", "nation_b")
        cat.remove_set("db7", "nation_p")


def test_stream_roundtrip_incremental_exactly_once(spark, tmp_path):
    """readStream/writeStream through the format: a second availableNow run
    off the same checkpoint picks up ONLY files appended since — the CDC
    tail of a set — and the sink's epoch markers dedupe replays."""
    root = str(tmp_path / "root")
    ck = str(tmp_path / "ck")
    src_dir = os.path.join(root, "db", "src")
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ev.limit(100).coalesce(1).write.mode("overwrite").parquet(src_dir)

    def run_once():
        q = (
            spark.readStream.format("lachesis")
            .option("root", root)
            .load("db.src")
            .writeStream.format("lachesis")
            .option("root", root)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start("db.dst")
        )
        q.awaitTermination()

    run_once()
    dst = lambda: spark.read.format("lachesis").option("root", root).load("db.dst")
    assert dst().count() == 100
    ev.limit(150).coalesce(1).write.mode("append").parquet(src_dir)
    run_once()
    assert dst().count() == 250
    # schema + values survive the trip (batch 0 ∪ batch 1 == source rows)
    src_rows = sorted(map(tuple, spark.read.parquet(src_dir).collect()))
    assert sorted(map(tuple, dst().collect())) == src_rows


def test_stream_writer_replayed_epoch_is_discarded(spark, tmp_path):
    """A retried microbatch (same epoch id) must not double-append."""
    import pyarrow as pa

    from lachesis_spark.sources.lachesis_source import LachesisStreamWriter

    path = str(tmp_path / "set")
    w = LachesisStreamWriter({"path": path}, None, overwrite=False)
    batch = pa.record_batch({"x": pa.array([1, 2, 3])})
    m1 = w.write(iter([batch]))
    w.commit([m1], batchId=7)
    m2 = w.write(iter([batch]))  # replay of epoch 7
    w.commit([m2], batchId=7)
    import pyarrow.parquet as pq

    files = [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ]
    assert len(files) == 1
    assert pq.read_table(files[0]).num_rows == 3


def test_row_group_spans_cover_all_rows(spark):
    """partitions() must cover every row group exactly once."""
    import pyarrow.parquet as pq

    path = os.path.join(SF_DIR, "lineitem.parquet")
    reader = LachesisReader({"path": path}, spark.read.parquet(path).schema)
    spans = reader.partitions()
    per_file: dict[str, list[int]] = {}
    for s in spans:
        assert isinstance(s, RowGroupSpan)
        per_file.setdefault(s.file, []).extend(
            range(s.first_rg, s.first_rg + s.n_rg)
        )
    for f, rgs in per_file.items():
        assert sorted(rgs) == list(range(pq.ParquetFile(f).metadata.num_row_groups))


def test_bucket_layout_survives_session_restart(spark, tmp_path):
    """The durable layout sidecar re-registers the bucketed table after the
    session catalog loses it (simulated by DROP TABLE, which keeps the
    external files): reads through BOTH public routes still plan the
    bucket-key join Exchange-free."""
    from lachesis_spark.sources.lachesis_source import read_set, set_layout

    root = str(tmp_path)
    cat = Catalog(spark, root)
    cat.create_database("db8")
    ords = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    try:
        cat.write_set(ords, "db8", "orders_b", bucket_by=(4, ["o_custkey"]))
        cat.write_set(
            ords.selectExpr("o_custkey", "o_totalprice AS p2"),
            "db8", "orders_b2", bucket_by=(4, ["o_custkey"]),
        )
        # simulate restart: session catalog forgets both tables
        spark.sql("DROP TABLE db8_orders_b")
        spark.sql("DROP TABLE db8_orders_b2")
        a = read_set(spark, "db8.orders_b", root=root)
        b = read_set(spark, "db8.orders_b2", root=root)
        plan = a.join(b, "o_custkey")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert a.count() == ords.count()
        # Catalog.read_set route re-registers too, and layout metadata is back
        spark.sql("DROP TABLE db8_orders_b")
        got = cat.read_set("db8", "orders_b")
        assert got.count() == ords.count()
        assert set_layout(spark, "db8", "orders_b")["num_buckets"] == 4
        # a plain rewrite invalidates the sidecar along with the files
        cat.write_set(ords, "db8", "orders_b")
        assert not os.path.exists(
            os.path.join(cat.set_path("db8", "orders_b"), "_lachesis_layout.json")
        )
        assert set_layout(spark, "db8", "orders_b") == {}
    finally:
        cat.remove_set("db8", "orders_b")
        cat.remove_set("db8", "orders_b2")


def test_stream_reader_cursor_survives_restart(tmp_path):
    """ADVICE round-5: the maxFilesPerTrigger rate-limit cursor lived only
    in driver memory, so a restarted reader re-walked already-committed
    files from [0.0, ""] and emitted one empty microbatch per old file.
    The cursor is now seeded from the checkpointed offsets — via
    partitions(start, end) on replay and commit(end) — so the first
    latestOffset() after a restart is already ahead of the committed
    offset."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from lachesis_spark.sources.lachesis_source import LachesisStreamReader

    src = tmp_path / "restart_src"
    src.mkdir()
    t0 = time.time() - 100
    for i in range(3):
        f = str(src / f"{i:02d}.parquet")
        pq.write_table(pa.table({"id": [i]}), f)
        os.utime(f, (t0 + i, t0 + i))

    schema = StructType([StructField("id", LongType())])
    opts = {"path": str(src), "maxfilespertrigger": "1"}

    r1 = LachesisStreamReader(opts, schema)
    offs = [r1.initialOffset()]
    for _ in range(3):
        offs.append(r1.latestOffset())
    # one file admitted per trigger, strictly advancing
    assert offs[1]["key"] < offs[2]["key"] < offs[3]["key"]

    # restart with batch (offs[2] -> offs[3]) pending replay: Spark calls
    # partitions(start, end) with the checkpointed offsets first
    r2 = LachesisStreamReader(opts, schema)
    spans = r2.partitions(offs[2], offs[3])
    assert len(spans) == 1 and spans[0].file.endswith("02.parquet")
    nxt = r2.latestOffset()
    assert nxt["key"] >= offs[3]["key"], (
        "restarted cursor fell behind the committed offset"
    )

    # restart where the last batch was fully committed: commit(end) seeds it
    r3 = LachesisStreamReader(opts, schema)
    r3.commit(offs[3])
    assert r3.latestOffset()["key"] >= offs[3]["key"]
    # a genuinely new file is admitted immediately (no stall)
    f = str(src / "03.parquet")
    pq.write_table(pa.table({"id": [3]}), f)
    os.utime(f, (t0 + 10, t0 + 10))
    nxt = r3.latestOffset()
    assert nxt["key"] > offs[3]["key"]
    assert len(r3.partitions(offs[3], nxt)) == 1


def _split_events(tmp_path, n_files: int, name: str = "tail_src"):
    """The smoke events table cut into ``n_files`` parquet files whose
    mtimes follow row order, the order a tail admits them in; returns the
    directory, the table and the time stamp the last file got."""
    import time

    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    src = tmp_path / name
    src.mkdir()
    t0 = time.time() - 1000
    cut = [ev.num_rows * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        f = str(src / f"{i:02d}.parquet")
        pq.write_table(ev.slice(cut[i], cut[i + 1] - cut[i]), f)
        os.utime(f, (t0 + i, t0 + i))
    return src, ev, t0 + n_files - 1


def test_rate_limited_and_unbounded_tails_return_identical_rows(spark, tmp_path):
    """A maxFilesPerTrigger tail and an unbounded one return the same rows,
    every column (the events timestamps too), as a batch read of the same
    files."""
    src, ev, _ = _split_events(tmp_path, 4)

    def tail(qname, rate):
        reader = spark.readStream.format("lachesis")
        if rate:
            reader = reader.option("maxFilesPerTrigger", rate)
        q = (
            reader.load(str(src)).writeStream.format("memory").queryName(qname)
            .outputMode("append").trigger(processingTime="0 seconds").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        got = sorted(map(tuple, spark.table(qname).collect()))
        spark.catalog.dropTempView(qname)
        return got, len(batches)

    limited, n_batches = tail("tail_limited", 1)
    unbounded, _ = tail("tail_unbounded", None)
    assert n_batches == 4  # one file per microbatch
    batch_df = spark.read.format("lachesis").load(str(src))
    assert "ts" in batch_df.columns
    batch = sorted(map(tuple, batch_df.collect()))
    assert len(limited) == ev.num_rows
    assert limited == unbounded == batch


def test_rate_limited_tail_restart_is_exactly_once(spark, tmp_path):
    """End to end through Spark: a checkpointed maxFilesPerTrigger=1 tail
    stopped after its first microbatch, restarted, then fed an appended
    file, writes every source row exactly once, one microbatch per file."""
    import pyarrow.parquet as pq

    root = tmp_path / "root"
    src, ev, t_last = _split_events(tmp_path, 3)
    ck = str(tmp_path / "ck")

    def start(**trigger):
        return (
            spark.readStream.format("lachesis").option("maxFilesPerTrigger", 1)
            .load(str(src)).writeStream.format("lachesis").option("root", str(root))
            .option("checkpointLocation", ck).trigger(**trigger).start("db.dst")
        )

    q = start(once=True)
    q.awaitTermination()
    dst = lambda: spark.read.format("lachesis").option("root", str(root)).load("db.dst")
    assert dst().count() == ev.num_rows // 3

    q = start(processingTime="0 seconds")
    try:
        q.processAllAvailable()
        assert dst().count() == ev.num_rows
        # append the way set writers do while the tail polls: stage under
        # a hidden name, then rename in
        staged = str(src / ".03.parquet.tmp")
        pq.write_table(ev, staged)
        os.utime(staged, (t_last + 10, t_last + 10))
        os.rename(staged, str(src / "03.parquet"))
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(map(tuple, dst().collect())) == sorted(
        map(tuple, spark.read.parquet(str(src)).collect())
    )
    assert sorted(os.listdir(root / "db" / "dst" / "_commits")) == ["0", "1", "2", "3"]


def test_register_is_idempotent(spark, monkeypatch):
    """register() registers the source once per session: a second call
    only re-asserts the pushdown conf (re-registering replaces the source
    and makes the JVM log a warning per call)."""
    from pyspark.sql.datasource import DataSourceRegistration

    calls = []
    real = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration, "register", lambda self, ds: calls.append(ds) or real(self, ds)
    )
    register(spark)
    assert calls == []
    # a new session has its own data source registry; Spark checks a
    # registration against the active session's, so make it active
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    active = spark._jvm.org.apache.spark.sql.SparkSession
    active.setActiveSession(fresh._jsparkSession)
    try:
        for _ in range(3):
            register(fresh)
        assert len(calls) == 1
        assert fresh.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
        path = os.path.join(SF_DIR, "nation.parquet")
        assert fresh.read.format("lachesis").load(path).count() == 25
    finally:
        active.setActiveSession(spark._jsparkSession)


def test_ensure_layout_table_never_drops_managed_tables(spark, tmp_path):
    """ADVICE r10: the stale-table re-register path dropped ANY same-named
    table on location mismatch — but DROP TABLE on a MANAGED table deletes
    its data files.  Only a parsed-location EXTERNAL table may be dropped;
    a managed (or unparsable) one gets a warning and False, its data
    intact."""
    import warnings as _warnings

    from lachesis_spark.catalog import ensure_layout_table

    root = str(tmp_path)
    cat = Catalog(spark, root)
    cat.create_database("db9")
    ords = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    cat.write_set(ords, "db9", "m1", bucket_by=(4, ["o_custkey"]))
    try:
        # replace the registration with a MANAGED table of the same name
        spark.sql("DROP TABLE db9_m1")
        spark.sql("CREATE TABLE db9_m1 (x INT) USING parquet")
        spark.sql("INSERT INTO db9_m1 VALUES (1)")
        try:
            with pytest.warns(UserWarning, match="refusing to DROP"):
                ok = ensure_layout_table(spark, root, "db9", "m1")
            assert ok is False
            # the managed table AND its data survived
            assert spark.table("db9_m1").count() == 1
        finally:
            spark.sql("DROP TABLE db9_m1")
        # with the blocker gone the sidecar re-registers normally, and a
        # genuinely stale EXTERNAL table is still replaced in place
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # no warning on the happy path
            assert ensure_layout_table(spark, root, "db9", "m1") is True
        spark.sql("DROP TABLE db9_m1")
        spark.sql(
            "CREATE TABLE db9_m1 (x INT) USING parquet LOCATION "
            f"'{tmp_path / 'elsewhere'}'"
        )
        assert ensure_layout_table(spark, root, "db9", "m1") is True
        assert cat.read_set("db9", "m1").count() == ords.count()
    finally:
        cat.remove_set("db9", "m1")
