"""Structured Streaming: replaying the events parquet through the streaming
plans must reproduce the batch window queries (whose DuckDB oracles gate the
semantics), and the custom stateful operator must match a batch groupBy."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lachesis_spark.streaming import stream as S
from lachesis_spark.streaming import windows as W

from tests.conftest import SF_SMOKE, canon


def _assert_same(df_stream_table, df_batch):
    srows, scols = df_stream_table.collect(), df_stream_table.columns
    brows, bcols = df_batch.collect(), df_batch.columns
    assert sorted(scols) == sorted(bcols)
    assert canon(srows, scols) == canon(brows, bcols)


def test_stream_tumbling_matches_batch(spark):
    ev = S.read_events_stream(spark, SF_SMOKE)
    q = S.run_to_memory(S.stream_tumbling_counts(ev), "t_tumb", "complete")
    try:
        _assert_same(spark.table("t_tumb"), W.win_tumbling(spark, SF_SMOKE))
    finally:
        q.stop()


def test_stream_session_matches_batch(spark):
    ev = S.read_events_stream(spark, SF_SMOKE)
    q = S.run_to_memory(S.stream_session_counts(ev), "t_sess", "complete")
    try:
        _assert_same(spark.table("t_sess"), W.win_session(spark, SF_SMOKE))
    finally:
        q.stop()


def test_stream_enrich_matches_batch(spark):
    import os

    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, SF_SMOKE)
    dim = spark.read.parquet(os.path.join(SF_SMOKE, "customer.parquet")).select(
        "c_custkey", "c_mktsegment"
    )
    q = S.run_to_memory(S.stream_enrich_events(ev, dim), "t_enrich", "complete")
    try:
        batch = (
            spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
            .withColumn(
                "ts",
                F.expr(
                    __import__(
                        "lachesis_spark.sources.readers", fromlist=["event_ts_expr"]
                    ).event_ts_expr(
                        dict(
                            spark.read.parquet(
                                os.path.join(SF_SMOKE, "events.parquet")
                            ).dtypes
                        )["ts"],
                        ltz=True,
                    )
                ),
            )
            .join(dim, F.col("user_id") == F.col("c_custkey"))
            .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
            .select(
                F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "c_mktsegment",
                "n_events",
                "sum_value",
            )
        )
        _assert_same(spark.table("t_enrich"), batch)
    finally:
        q.stop()


def test_stream_stateful_running_totals(spark):
    ev = S.read_events_stream(spark, SF_SMOKE)
    q = S.run_to_memory(S.stream_user_running_totals(ev), "t_state", "update")
    try:
        got = spark.table("t_state")
        # update mode may emit multiple rows per user across microbatches;
        # the final state per user is the row with the max n_events.
        final = got.groupBy("user_id").agg(
            F.max(F.struct("n_events", "total_value")).alias("s")
        ).select("user_id", "s.n_events", "s.total_value")
        batch = (
            spark.read.parquet(f"{SF_SMOKE}/events.parquet")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").cast("double").alias("total_value"),
            )
        )
        _assert_same(final, batch)
    finally:
        q.stop()


@pytest.mark.parametrize("name", ["win_tumbling", "win_sliding", "win_session"])
def test_window_oracle(spark, duck, name):
    from lachesis_spark.registry import ORACLE, QUERIES
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(QUERIES[name](spark, SF_SMOKE), duck, ORACLE[name])


def test_stream_incremental_multibatch(spark, tmp_path):
    """Real incremental processing: the events table split into 4
    time-ordered files, replayed one file per trigger — streaming state
    must accumulate across microbatches to the batch answer."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    # build the LTZ events frame the same way the stream source does
    from lachesis_spark.sources.readers import read_events

    base = read_events(spark, SF_SMOKE, ltz=True)
    bounds = base.selectExpr(
        "percentile(unix_micros(ts), array(0.25, 0.5, 0.75)) AS p"
    ).first()["p"]
    src = tmp_path / "ev_parts"
    src.mkdir()
    lo = None
    for i, hi in enumerate(list(bounds) + [None]):
        part = base
        if lo is not None:
            part = part.filter(F.unix_micros("ts") > lo)
        if hi is not None:
            part = part.filter(F.unix_micros("ts") <= hi)
        tmp_out = str(tmp_path / f"w{i}")
        part.coalesce(1).write.parquet(tmp_out)
        f = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(f, str(src / f"{i:02d}.parquet"))
        lo = hi
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
    )
    q = S.run_to_memory(S.stream_tumbling_counts(stream), "t_multi", "complete")
    try:
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert n_batches >= 3, f"expected multiple microbatches, got {n_batches}"
        _assert_same(spark.table("t_multi"), W.win_tumbling(spark, SF_SMOKE))
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windows finalize when the watermark passes; a row older
    than (max event time - watermark) arriving in a later microbatch is
    dropped instead of reopening its window."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    batches = (
        [(1, "2024-01-01 00:05:00"), (2, "2024-01-01 06:00:00")],
        # watermark (04:00) now finalizes + emits the 00:00 window:
        [(9, "2024-01-01 06:30:00")],
        # late row for the already-emitted window → dropped
        [(3, "2024-01-01 00:10:00")],
    )
    schema = "id bigint, ts_s string"
    src = tmp_path / "late_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema).select(
            "id", F.to_timestamp("ts_s").alias("ts")
        )
        out = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(out)
        f = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        dst = str(src / f"{i:02d}.parquet")
        shutil.move(f, dst)
        # the file source orders batches by modification time — make the
        # intended processing order unambiguous
        os.utime(dst, (1000000000 + i * 3600, 1000000000 + i * 3600))

    stream = (
        spark.readStream.schema("id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(src))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("win_start"), "n")
    )
    q = S.run_to_memory(agg, "t_late", "append")
    try:
        got = {
            (str(r["win_start"]), r["n"]) for r in spark.table("t_late").collect()
        }
        # the 00:00 window closed with only id=1; late id=3 was dropped
        assert ("2024-01-01 00:00:00", 1) in got
        assert not any(n == 2 for _, n in got)
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream interval join must reproduce the batch
    correlation pairs when the whole file is replayed."""
    ev = S.read_events_stream(spark, SF_SMOKE)
    q = S.run_to_memory(S.stream_click_purchase_join(ev), "t_ssj", "append")
    try:
        got = spark.table("t_ssj").groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.sum("amount").alias("attributed_value"),
        )
        _assert_same(got, W.win_correlation(spark, SF_SMOKE))
    finally:
        q.stop()


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop-and-resume with a checkpoint: a second run over the same source
    (with new files added) processes only the new files — every input row
    appears exactly once in the sink."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    src = tmp_path / "cp_src"
    src.mkdir()
    sink = str(tmp_path / "cp_sink")
    chk = str(tmp_path / "cp_chk")

    def add_file(i: int, ids):
        df = spark.createDataFrame([(x,) for x in ids], "id bigint")
        out = str(tmp_path / f"b{i}")
        df.coalesce(1).write.parquet(out)
        f = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        shutil.move(f, str(src / f"{i:02d}.parquet"))

    def run_once():
        stream = (
            spark.readStream.schema("id bigint").format("parquet").load(str(src))
        )
        q = (
            stream.select("id", (F.col("id") * 2).alias("doubled"))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    add_file(0, [1, 2, 3])
    add_file(1, [4, 5])
    run_once()
    first = sorted(r["id"] for r in spark.read.parquet(sink).collect())
    assert first == [1, 2, 3, 4, 5]

    add_file(2, [6, 7])
    run_once()  # same checkpoint → only the new file is processed
    rows = spark.read.parquet(sink).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 4, 5, 6, 7]
    assert all(r["doubled"] == 2 * r["id"] for r in rows)


def test_custom_sessionization_matches_builtin(spark):
    """The hand-rolled stateful sessionizer must reproduce the built-in
    session_window result for every session the watermark could close
    (sessions still within one gap of the global max event time stay open
    in state and are legitimately unemitted)."""
    ev = S.read_events_stream(spark, SF_SMOKE)
    q = S.run_to_memory(S.stream_custom_sessions(ev), "t_custom_sess", "append")
    try:
        got = spark.table("t_custom_sess").select(
            "user_id",
            F.col("sess_start").cast("timestamp_ntz").alias("sess_start"),
            F.col("sess_end").cast("timestamp_ntz").alias("sess_end"),
            "n_events",
            "sum_value",
        )
        batch = W.win_session(spark, SF_SMOKE)
        from lachesis_spark.sources.readers import read_events

        max_ts = (
            read_events(spark, SF_SMOKE)
            .selectExpr("max(ts) AS m")
            .first()["m"]
        )
        closeable = batch.filter(F.col("sess_end") <= F.lit(max_ts))
        _assert_same(got, closeable)
    finally:
        q.stop()


def test_stream_dedup_removes_duplicate_deliveries(spark):
    """Doubled delivery (same file read as two union'd streams) must come out
    with exactly one copy per event_id, matching the batch per-type summary."""
    import os

    got = S.stream_dedup_query(spark, SF_SMOKE)
    ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    batch = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )
    _assert_same(got, batch)
    sink = spark.table("q_stream_dedup")
    assert sink.count() == ev.count()
    assert sink.select("event_id").distinct().count() == ev.count()


def test_foreach_batch_merge_sink_is_exactly_once(spark, tmp_path):
    """Replaying the stream into the MERGE sink (fresh checkpoint, same
    target) must not duplicate rows: the upsert makes redelivery idempotent,
    the checkpointed offsets make restarts no-ops."""
    import os

    from lachesis_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_database("ing")
    ev = S.read_events_stream(spark, SF_SMOKE).select(
        "event_id", "event_type", "value"
    )
    ck1 = str(tmp_path / "ck1")
    with S._state_partitions(spark):
        S.write_stream_merge(ev, cat, "ing", "events", ["event_id"], ck1)
    n_src = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).count()
    assert cat.read_set("ing", "events").count() == n_src

    # restart with the SAME checkpoint: offsets already committed, no-op
    ev2 = S.read_events_stream(spark, SF_SMOKE).select(
        "event_id", "event_type", "value"
    )
    with S._state_partitions(spark):
        S.write_stream_merge(ev2, cat, "ing", "events", ["event_id"], ck1)
    assert cat.read_set("ing", "events").count() == n_src

    # full redelivery (fresh checkpoint, same sink): upsert stays exact
    ev3 = S.read_events_stream(spark, SF_SMOKE).select(
        "event_id", "event_type", "value"
    )
    with S._state_partitions(spark):
        S.write_stream_merge(ev3, cat, "ing", "events", ["event_id"],
                             str(tmp_path / "ck2"))
    got = cat.read_set("ing", "events")
    assert got.count() == n_src
    assert got.select("event_id").distinct().count() == n_src


def test_stream_ewma_equals_batch_under_multibatch_replay(spark):
    """Rate-limited replay (many microbatches, order not guaranteed per
    user) must still converge to the batch win_ewma — the bounded-buffer
    state is order-independent by construction."""
    import pyspark.sql.functions as F

    from lachesis_spark.streaming.stream import (
        _state_partitions,
        read_events_stream,
        run_to_memory,
        stream_ewma_baselines,
    )
    from lachesis_spark.streaming.windows import win_ewma

    sf = "/root/testdata/sf0.001"
    ev = read_events_stream(spark, sf, max_files_per_trigger=1)
    with _state_partitions(spark):
        run_to_memory(stream_ewma_baselines(ev), "t_ewma_mb", "update")
    got = (
        spark.table("t_ewma_mb")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_seen", "n_recent", "ewma")).alias("s"))
        .select("user_id", F.col("s.n_recent").alias("g_recent"), F.col("s.ewma").alias("g_ewma"))
    )
    want = win_ewma(spark, sf)
    diff = got.join(want, "user_id", "full").filter(
        F.col("n_recent").isNull()
        | F.col("g_recent").isNull()
        | (F.col("n_recent") != F.col("g_recent"))
        | (F.abs(F.col("ewma") - F.col("g_ewma")) > 1e-9)
    )
    assert diff.count() == 0
    assert got.count() == want.count()


def test_stream_late_data_drop_keep_boundary(spark):
    """Pins the watermark drop/keep boundary: replays below the watermark
    are discarded (drop band counted once), replays above it are merged
    (keep band counted twice), measured against the static batch counts.
    sf0.01, not SF_SMOKE: the 1-hour keep band is empty at sf0.001 and the
    keep half of the boundary would be vacuous (both sides asserted
    non-empty below)."""
    from lachesis_spark.sources.readers import read_events

    sf = "/root/testdata/sf0.01"
    got = S.stream_late_data_query(spark, sf)
    ev = read_events(spark, sf, ltz=True)
    replay = F.col("event_id") % S.LATE_MOD == 0

    def band_counts(df, lo, hi):
        return (
            df.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
            .count()
        )

    # DROP band: streamed counts equal the plain batch counts — the replayed
    # copies were discarded even though they were fed to the engine.
    drop_got = got.filter(
        (F.col("win_start") >= F.lit(S.LATE_DROP_LO))
        & (F.col("win_start") < F.lit(S.LATE_DROP_HI))
    ).agg(F.sum("n_events")).first()[0]
    drop_want = band_counts(ev, S.LATE_DROP_LO, S.LATE_DROP_HI)
    n_drop_replays = band_counts(
        ev.filter(replay), S.LATE_DROP_LO, S.LATE_DROP_HI
    )
    assert n_drop_replays > 0, "drop band empty — boundary test is vacuous"
    assert drop_got == drop_want

    # KEEP band: streamed counts equal batch + replays — the out-of-order
    # copies arrived above the watermark and were merged.
    keep_got = got.filter(
        (F.col("win_start") >= F.lit(S.LATE_KEEP_LO))
        & (F.col("win_start") < F.lit(S.LATE_SPLIT))
    ).agg(F.sum("n_events")).first()[0]
    keep_base = band_counts(ev, S.LATE_KEEP_LO, S.LATE_SPLIT)
    keep_replays = band_counts(ev.filter(replay), S.LATE_KEEP_LO, S.LATE_SPLIT)
    assert keep_replays > 0, "keep band empty — boundary test is vacuous"
    assert keep_got == keep_base + keep_replays


@pytest.mark.parametrize(
    "provider", [S.HDFS_STATE_PROVIDER, S.ROCKSDB_STATE_PROVIDER]
)
def test_stream_checkpoint_recovery_exactly_once(spark, tmp_path, provider):
    """Round-9 verdict task 5: kill the late-data replay after its first
    microbatch, restart from the DURABLE checkpoint, and finish — the
    recovered run's sink must be row-identical to the uninterrupted
    replay.  This exercises the one production property the memory-sink
    replays never touch: offset-log dedup (batch 1 is not reprocessed),
    state-store recovery (batch 1's open windows finalize correctly after
    restart), and watermark persistence (the late-row drop still happens
    relative to the pre-crash watermark).

    Round 10 parametrized the state-store provider: the RocksDB axis
    proves crash/restart recovery loads batch-1 state from RocksDB's
    checkpointed SST/changelog files, not just the default provider's
    per-version delta files — the recovery path that matters at 100 TB,
    where keyed state outgrows the heap-resident HDFS-backed map."""
    import glob
    import os
    import shutil

    # uninterrupted reference: the registry query itself (memory sink)
    ref = S.stream_late_data_query(spark, SF_SMOKE)
    expected = sorted(tuple(r) for r in ref.collect())
    out_schema = spark.table("q_stream_late").schema

    # the same three source files, staged into a fresh dir incrementally
    full_src = S._late_data_source_dir(spark, SF_SMOKE)
    files = sorted(glob.glob(os.path.join(full_src, "*.parquet")))
    assert len(files) == 3, files
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    in_schema = spark.read.parquet(full_src).schema

    def stage(path, order):
        dst = str(src / os.path.basename(path))
        shutil.copy(path, dst)
        os.utime(dst, (1000000000 + order * 3600,) * 2)

    def run_available():
        ev = (
            spark.readStream.schema(in_schema).format("parquet")
            .option("maxFilesPerTrigger", 1).load(str(src))
        )
        q = (
            S.stream_late_data_counts(ev).writeStream
            .format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    with S._state_partitions(spark), S._state_store_provider(spark, provider):
        # phase 1: only the early file is visible; the run terminates with
        # offsets + window state + watermark committed to the checkpoint
        # (this IS the crash point — nothing after batch 1 exists yet)
        stage(files[0], 0)
        run_available()
        # phase 2: the rest of the stream arrives; restart from checkpoint
        stage(files[1], 1)
        stage(files[2], 2)
        run_available()

    got_df = spark.read.schema(out_schema).parquet(out)
    got = sorted(
        tuple(r)
        for r in got_df.filter(F.col("event_type") != S._SENTINEL).collect()
    )
    assert got == expected and got, (len(got), len(expected))


def test_stream_outer_join_rowlevel_equals_batch_left_join(spark):
    """The left-outer interval join's full row-level output (not just the
    registry aggregate) must equal the batch LEFT JOIN: matched clicks once
    per in-window purchase, unmatched clicks exactly once with NULL amount.
    The NULL rows only exist if watermark-driven state eviction fired, so
    their presence is asserted too — and the replay must have been genuinely
    multi-microbatch (3 chunk files + availableNow's cleanup batch)."""
    src = S._ordered_chunk_dir(spark, SF_SMOKE)
    schema = spark.read.parquet(src).schema
    ev = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(src)
    )
    with S._state_partitions(spark):
        q = S.run_to_memory(
            S.stream_click_purchase_left_join(ev), "t_osj_rows", "append"
        )
    n_batches = len(S._progress_dicts(q))
    assert n_batches >= 4, n_batches  # 3 data batches + >=1 eviction batch

    got = spark.table("t_osj_rows")
    assert got.filter(F.col("amount").isNull()).count() > 0  # eviction rows

    bev = spark.read.parquet(src)
    c = bev.filter(
        (F.col("event_type") == "click") & (F.col("ts") < F.lit(S.OUTER_CUTOFF))
    ).select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = bev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
        F.col("value").alias("amount"),
    )
    exp = c.join(
        p,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("c_ts"))
        & (F.col("b_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(F.col("c_user").alias("user_id"), "click_id", "amount")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_outer_join_watermark_placement_is_loadbearing(spark):
    """Regression lock for the watermark-before-filter subtlety: the global
    watermark is the min across sides, so a click-side watermark computed
    AFTER the cutoff filter freezes at (last retained click - delay) and
    the final pre-cutoff clicks can never null-emit.  Guard the plan shape:
    the shipped pipeline's last data batch must advance the watermark past
    OUTER_CUTOFF (only possible if the watermark tracks post-cutoff
    clicks)."""
    src = S._ordered_chunk_dir(spark, SF_SMOKE)
    schema = spark.read.parquet(src).schema
    ev = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(src)
    )
    with S._state_partitions(spark):
        q = S.run_to_memory(
            S.stream_click_purchase_left_join(ev), "t_osj_wm", "append"
        )
    wm = max(
        p.get("eventTime", {}).get("watermark", "")
        for p in S._progress_dicts(q)
    )
    assert wm > "2024-01-28T00:00:00", wm


def test_staged_replay_dirs_are_reused_not_rebuilt(spark):
    """The staged early/mid/late splits are deterministic functions of the
    read-only source table; a second call must reuse the dir (same file
    inodes/mtimes — the replay-order channel), and a stamp mismatch must
    rebuild."""
    import glob as g
    import os

    d1 = S._ordered_chunk_dir(spark, SF_SMOKE)
    sig1 = {f: os.stat(f).st_mtime_ns for f in g.glob(os.path.join(d1, "*.parquet"))}
    d2 = S._ordered_chunk_dir(spark, SF_SMOKE)
    sig2 = {f: os.stat(f).st_mtime_ns for f in g.glob(os.path.join(d2, "*.parquet"))}
    assert d1 == d2 and sig1 == sig2 and len(sig1) == 3

    with open(os.path.join(d1, "_source.stamp"), "w") as f:
        f.write("poisoned")
    d3 = S._ordered_chunk_dir(spark, SF_SMOKE)
    sig3 = {f: os.stat(f).st_mtime_ns for f in g.glob(os.path.join(d3, "*.parquet"))}
    assert set(map(os.path.basename, sig3)) == set(map(os.path.basename, sig1))
    assert sig3 != sig1  # rebuilt files, fresh mtimes


def test_staged_replay_stamp_folds_builder_constants(spark, tmp_path):
    """A builder-constant edit must invalidate the staged cache without a
    manual version bump — the call sites fold OUTER_SPLITS / LATE_* into
    the stamp tag.  Exercised directly: same dir + source, different tag
    → rebuild; same tag → reuse.  The rebuild stages into a temp sibling
    and renames into place, so the stamp lands atomically with the data."""
    import os

    src = tmp_path / "src.txt"
    src.write_text("payload")
    d = str(tmp_path / "staged")
    builds = []

    def build(target):
        builds.append(target)
        with open(os.path.join(target, "data.txt"), "w") as f:
            f.write("built")

    S._reuse_or_build_dir(d, str(src), "tag|A", build)
    assert len(builds) == 1 and os.path.exists(os.path.join(d, "data.txt"))
    assert builds[0] != d  # staged into a temp sibling, renamed into place
    S._reuse_or_build_dir(d, str(src), "tag|A", build)
    assert len(builds) == 1  # unchanged tag + source → reused
    S._reuse_or_build_dir(d, str(src), "tag|B", build)
    assert len(builds) == 2  # constant folded into tag → rebuilt
    import inspect

    # both call sites carry their builder constants inside the tag string
    caller_src = inspect.getsource(S._ordered_chunk_dir) + inspect.getsource(
        S._late_data_source_dir
    )
    assert "OUTER_SPLITS" in caller_src and "LATE_MOD" in caller_src


def test_stateful_streams_identical_across_state_store_providers(spark):
    """Round-10 verdict task 4: every stateful-streaming family — session
    windows (applyInPandasWithState + event-time timeout), watermarked
    stream-stream interval join, and the left-outer variant with
    eviction-driven NULLs — must produce row-identical output under the
    default HDFS-backed state store and under RocksDBStateStoreProvider
    (public Spark ≥ 3.2, bundled JNI).  Output being provider-invariant is
    what licenses flipping the provider at 100 TB, where a join's buffered
    keyed state outgrows the heap-resident default."""
    families = {
        "stream_session": S.stream_session_query,
        "stream_interval_join": S.stream_interval_join_query,
        "stream_outer_join": S.stream_outer_join_query,
    }
    for name, fn in families.items():
        rows = {}
        for provider in (S.HDFS_STATE_PROVIDER, S.ROCKSDB_STATE_PROVIDER):
            with S._state_store_provider(spark, provider):
                rows[provider] = sorted(
                    tuple(r) for r in fn(spark, SF_SMOKE).collect()
                )
        hdfs, rocks = rows[S.HDFS_STATE_PROVIDER], rows[S.ROCKSDB_STATE_PROVIDER]
        assert hdfs, f"{name}: empty output makes the parity check vacuous"
        assert hdfs == rocks, f"{name}: provider outputs differ"
    # scoping restored the session default afterwards
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        is None
    )


def _have_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def test_tws_sessionizer_dependency_gate_is_loud(spark):
    """Spark 4's transformWithStateInPandas sessionizer: its Python runner
    speaks protobuf to the state server, a package this container neither
    ships nor can install — so here the operator must fail LOUDLY with the
    documented dependency error (plumbing-real/dependency-gated, the same
    pattern as the multimodal codecs)."""
    if _have_protobuf():
        pytest.skip("google.protobuf present — the dependency gate is "
                    "unreachable; the equivalence test below runs instead")
    ev = S.read_events_stream(spark, SF_SMOKE)
    with pytest.raises(RuntimeError, match="protobuf"):
        S.stream_sessions_tws(ev)


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="environment lacks google.protobuf — the TWS runner cannot "
    "execute, so stream_sessions_tws is CONSTRUCTION-VERIFIED ONLY here "
    "(COVERAGE.md verification header counts this skip)",
)
def test_tws_sessionizer_matches_apws_sessionizer(spark):
    """Where protobuf exists: the transformWithStateInPandas sessionizer is
    row-identical to the applyInPandasWithState sessionizer on the same
    replay (the gate test above covers the protobuf-less environment)."""
    ev = S.read_events_stream(spark, SF_SMOKE)
    with S._state_store_provider(spark, S.ROCKSDB_STATE_PROVIDER):
        q = S.run_to_memory(S.stream_sessions_tws(ev), "t_tws_sess", "append")
    try:
        got = spark.table("t_tws_sess")
        ref_q = S.run_to_memory(
            S.stream_custom_sessions(S.read_events_stream(spark, SF_SMOKE)),
            "t_tws_ref", "append",
        )
        try:
            _assert_same(got, spark.table("t_tws_ref"))
        finally:
            ref_q.stop()
    finally:
        q.stop()


def test_staged_replay_rebuild_race_loser_adopts_winner(tmp_path, monkeypatch):
    """Two builders racing the same staged dir (ADVICE r10): the loser's
    rename onto the winner's freshly placed dir raises, and the loser must
    ADOPT the winner's stamp-identical result instead of failing.
    Simulated deterministically: intercept the tmp->d rename to plant the
    winner's dir first, then raise as the kernel would."""
    import os

    src = tmp_path / "src.txt"
    src.write_text("payload")
    d = str(tmp_path / "staged")

    def build(target):
        with open(os.path.join(target, "data.txt"), "w") as f:
            f.write("loser-build")

    st = os.stat(src)
    want = f"race|{src}|{st.st_size}|{st.st_mtime_ns}"
    real_rename = os.rename

    def racing_rename(a, b):
        if b == d and not os.path.isdir(d):
            # the winner lands its (deterministic, stamp-identical)
            # result between the loser's two renames
            os.makedirs(d)
            with open(os.path.join(d, "data.txt"), "w") as f:
                f.write("winner-build")
            with open(os.path.join(d, "_source.stamp"), "w") as f:
                f.write(want)
            raise OSError(39, "Directory not empty", a, None, b)
        return real_rename(a, b)

    monkeypatch.setattr(os, "rename", racing_rename)
    out = S._reuse_or_build_dir(d, str(src), "race", build)
    assert out == d
    with open(os.path.join(d, "data.txt")) as f:
        assert f.read() == "winner-build"  # adopted, not clobbered
    # loser's temp dir cleaned up; no half-built siblings left behind
    siblings = [p for p in os.listdir(tmp_path) if p.startswith("staged.")]
    assert siblings == []
    # a different tag (stamp mismatch) must NOT be adopted -> real failure
    monkeypatch.setattr(os, "rename", racing_rename)
    os.remove(os.path.join(d, "_source.stamp"))
    with open(os.path.join(d, "_source.stamp"), "w") as f:
        f.write("someone-elses-stamp")
    import shutil

    shutil.rmtree(d)  # force rebuild path again
    import pytest as _pytest

    with _pytest.raises(OSError):
        S._reuse_or_build_dir(d, str(src), "other-tag", build)


def test_staged_dir_schema_not_cached_without_stamp(spark, tmp_path):
    """A staged dir without ``_source.stamp`` has no stamp to key a cache
    on: rebuilding it with a different schema must be seen by the schema
    read the replays use."""
    import shutil

    from lachesis_spark.binding import read_parquet

    d = str(tmp_path / "staged")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(d)
    assert read_parquet(spark, d).schema.fieldNames() == ["k", "s"]
    shutil.rmtree(d)
    spark.createDataFrame([(1.5,)], "x double").write.parquet(d)
    assert read_parquet(spark, d).schema.fieldNames() == ["x"]
