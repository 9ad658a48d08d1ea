"""Structured Streaming jobs over the events table.

Same window semantics as :mod:`lachesis_spark.streaming.windows` (which
carries the DuckDB oracles), expressed as incremental streaming plans:

- ``stream_tumbling_counts`` — watermarked tumbling-window aggregation.
- ``stream_session_counts``  — watermarked session windows.
- ``stream_user_running_totals`` — arbitrary stateful op via
  ``applyInPandasWithState`` (per-user running event count/value total),
  the Spark analog of a custom stateful operator.

At scale these run against a file/Kafka source with per-partition offsets;
here tests replay the parquet file with ``availableNow`` and assert the
streaming result equals the batch query — the exactly-once replay
equivalence that makes the batch oracle binding on the streaming path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lachesis_spark.binding import base_table, read_parquet

WATERMARK = "2 hours"


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the events table (schema from the static file;
    a production deployment points the same code at a Kafka topic).

    ``max_files_per_trigger`` rate-limits the replay (availableNow honors
    it), which is how the throughput harness forces a genuinely
    multi-microbatch run instead of one batch swallowing the whole table."""
    import tempfile

    from lachesis_spark.sources.readers import event_ts_expr

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = read_parquet(spark, path).schema
    if os.path.isfile(path):
        # file-stream sources require a directory; expose the single-file
        # testdata table through a symlink dir (no data copy)
        d = os.path.join(tempfile.gettempdir(), "lachesis_stream_src",
                         os.path.basename(os.path.normpath(sf_dir)))
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = d
    # Watermarks require TIMESTAMP (with local TZ); session TZ is pinned UTC,
    # so the LTZ normalization names the same instant DuckDB sees.  Branch on
    # the dtype actually in the file (nanos-int64 vs timestamp[us] testdata).
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).withColumn(
        "ts", F.expr(event_ts_expr(schema["ts"].dataType.simpleString(), ltz=True))
    )


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """Streaming form of windows.win_tumbling, late data bounded by the
    watermark (state for windows older than max(ts) - watermark is dropped)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_counts(events: DataFrame) -> DataFrame:
    """Streaming form of windows.win_session (10-minute gap sessions)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("sess_start"),
            F.col("w.end").cast("timestamp_ntz").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stream_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) kept in
    explicit state — the streaming analog of an arbitrary ``operator+``
    aggregation state in the reference's AggregateComp
    (reference src/queryExecution/headers/ClusterAggregateComp.h:21-28)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join (the streaming twin of
    windows.win_correlation): clicks joined to purchases by the same user
    within 30 minutes.  Both sides carry watermarks so the join state is
    bounded: a click older than watermark + 30 min can never match again
    and is evicted — the state-cleanup contract that makes a stream-stream
    join runnable indefinitely."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("b_ts", WATERMARK)
    )
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("c_ts"))
        & (F.col("b_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "amount",
        F.col("c_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("b_ts").cast("timestamp_ntz").alias("buy_ts"),
    )


_SESS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sv", T.DoubleType()),
    ]
)
_SESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("sess_start", T.TimestampType()),
        T.StructField("sess_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def stream_custom_sessions(events: DataFrame, gap_sec: int = 600) -> DataFrame:
    """Hand-rolled sessionization as a CUSTOM stateful operator — the same
    semantics as the built-in ``session_window`` (10-min gap, end = last
    event + gap) but implemented with explicit per-user state and
    event-time timeouts: sessions closed by a later event in the same batch
    emit immediately; the open session per user is kept in state and fires
    when the watermark passes its gap.  This is the template for stateful
    operators Spark has no built-in for (the reference's arbitrary
    aggregation states, reference ClusterAggregateComp.h:21-28)."""
    import datetime as _dt

    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_sec * 1_000_000

    def emit_row(user_id, st):
        start_us, last_us, n, sv = st
        return {
            "user_id": user_id,
            "sess_start": _dt.datetime.utcfromtimestamp(start_us / 1e6),
            "sess_end": _dt.datetime.utcfromtimestamp((last_us + gap_us) / 1e6),
            "n_events": n,
            "sum_value": sv,
        }

    def update(key, pdfs, state):
        import pandas as pd

        out = []
        if state.hasTimedOut:
            out.append(emit_row(key[0], state.get))
            state.remove()
        else:
            pts = []
            for pdf in pdfs:
                for ts, v in zip(pdf["ts"], pdf["value"]):
                    pts.append((int(ts.value // 1000), float(v)))
            pts.sort()
            cur = list(state.get) if state.exists else None
            for us, v in pts:
                if cur is not None and us - cur[1] > gap_us:
                    out.append(emit_row(key[0], cur))
                    cur = None
                if cur is None:
                    cur = [us, us, 0, 0.0]
                cur[1] = max(cur[1], us)
                cur[2] += 1
                cur[3] += v
            if cur is not None:
                state.update(tuple(cur))
                # fire when the watermark passes last event + gap
                state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        yield pd.DataFrame(out, columns=[f.name for f in _SESS_OUT.fields])

    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_sessions_tws(events: DataFrame, gap_sec: int = 600) -> DataFrame:
    """Sessionization through Spark 4's ``transformWithStateInPandas`` —
    the NEW public arbitrary-stateful-processing API (typed state
    variables + first-class event-time timers), semantics identical to
    :func:`stream_custom_sessions` (applyInPandasWithState) and to the
    built-in ``session_window``: 10-min gap, end = last event + gap;
    sessions closed by a later event in the same batch emit immediately,
    the open session per user lives in a ValueState and a per-key
    event-time TIMER fires it when the watermark passes its gap.  Where
    the old API multiplexed everything through one update callback
    (data and timeout disambiguated by ``state.hasTimedOut``), the new
    one separates ``handleInputRows`` from ``handleExpiredTimer`` and
    makes timers explicit objects — register on every state advance,
    verify against state at expiry so a superseded timer (the session
    grew after it was set) is a no-op instead of a wrong emission.
    DEPENDENCY GATE: the transformWithState Python runner speaks a
    protobuf protocol to its state server, so it hard-requires the
    ``google.protobuf`` package (and the RocksDB state-store provider —
    the only provider the operator supports).  This container ships
    neither protobuf nor a way to install it, so the operator raises a
    clear error here and the equivalence test skips — the same
    plumbing-real/dependency-gated pattern as the multimodal codecs.
    On an environment with protobuf, the output is row-identical to
    :func:`stream_custom_sessions` by construction (same fold, same
    emission rule)."""
    import datetime as _dt

    try:
        from google.protobuf import descriptor as _pb  # noqa: F401
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "transformWithStateInPandas requires the google.protobuf "
            "package (its state-server protocol is protobuf-based); "
            "install protobuf and set the RocksDB state-store provider "
            "to use stream_sessions_tws"
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_sec * 1_000_000

    def _emit(user_id, st):
        import pandas as pd

        start_us, last_us, n, sv = st
        return pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "sess_start": _dt.datetime.utcfromtimestamp(start_us / 1e6),
                    "sess_end": _dt.datetime.utcfromtimestamp(
                        (last_us + gap_us) / 1e6
                    ),
                    "n_events": n,
                    "sum_value": sv,
                }
            ],
            columns=[f.name for f in _SESS_OUT.fields],
        )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.sess = handle.getValueState("sess", _SESS_STATE)

        def handleInputRows(self, key, rows, timerValues):
            pts = []
            for pdf in rows:
                for ts, v in zip(pdf["ts"], pdf["value"]):
                    pts.append((int(ts.value // 1000), float(v)))
            pts.sort()
            cur = list(tuple(self.sess.get())) if self.sess.exists() else None
            for us, v in pts:
                if cur is not None and us - cur[1] > gap_us:
                    yield _emit(key[0], cur)
                    cur = None
                if cur is None:
                    cur = [us, us, 0, 0.0]
                cur[1] = max(cur[1], us)
                cur[2] += 1
                cur[3] += v
            if cur is not None:
                self.sess.update(tuple(cur))
                # one live timer per key: drop superseded ones, arm at
                # last event + gap (ms — the timer API's unit)
                deadline_ms = (cur[1] + gap_us) // 1000
                for t in list(self.handle.listTimers()):
                    if t != deadline_ms:
                        self.handle.deleteTimer(t)
                self.handle.registerTimer(deadline_ms)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self.sess.exists():
                return
            st = tuple(self.sess.get())
            deadline_ms = (st[1] + gap_us) // 1000
            # a timer set before the session grew is stale — ignore it;
            # the re-armed timer at the new deadline will fire instead
            if expiredTimerInfo.getExpiryTimeInMs() >= deadline_ms:
                yield _emit(key[0], st)
                self.sess.clear()

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=_SESS_OUT,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


class _state_partitions:
    """Scope spark.sql.shuffle.partitions for a streaming replay: stateful
    operators create one state-store instance per shuffle partition, and the
    per-partition open/commit overhead dominates small replays (measured
    11.2s → 2.8s on the sf0.1 stream-stream join going 32 → 8).  A real
    deployment sizes this to expected state volume ONCE — the partitioning
    is sticky in the checkpoint — so per-query scoping here mirrors that
    one-time sizing decision, and the batch queries keep the session's 32."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


HDFS_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class _state_store_provider:
    """Scope the state-store provider for a streaming replay.

    The default HDFSBackedStateStoreProvider keeps every key of every
    state-store version in an executor-heap hash map — fine for the
    replay-harness volumes here, but at 100 TB a stream-stream join's
    buffered state (every unmatched row inside the interval, per key)
    outgrows the heap.  RocksDBStateStoreProvider (public Spark ≥ 3.2,
    bundled JNI) keeps state off-heap in an LSM tree with block-cache +
    disk, bounding heap residency regardless of keyed-state size — the
    scale path.  Provider choice is a per-query config resolved at stream
    START and sticky in the checkpoint thereafter, so scoping it around a
    replay mirrors the real one-time deployment decision (same pattern as
    _state_partitions).  Output must be provider-invariant; the streaming
    test suite asserts row identity across both providers for every
    stateful family (session windows, interval join, outer join) and
    crash/restart recovery under RocksDB."""

    def __init__(self, spark: SparkSession, provider: str):
        self.spark, self.provider = spark, provider
        self.key = "spark.sql.streaming.stateStore.providerClass"

    def __enter__(self):
        self.old = self.spark.conf.get(self.key, None)
        self.spark.conf.set(self.key, self.provider)

    def __exit__(self, *exc):
        if self.old is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.old)


def stream_tumbling_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form of the tumbling-window stream: replay the events
    file through the streaming engine (availableNow) into a memory sink and
    return the finished table.  Oracle = the batch twin's SQL — binding
    because complete-mode replay of a bounded source equals the batch query
    (asserted in test_streaming replay-equivalence tests)."""
    ev = read_events_stream(spark, sf_dir)
    with _state_partitions(spark):
        run_to_memory(stream_tumbling_counts(ev), "q_stream_tumbling", "complete")
    return spark.table("q_stream_tumbling")


def stream_session_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form of the session-window stream (10-minute gap),
    replayed to completion; oracle = batch twin's gaps-and-islands SQL."""
    ev = read_events_stream(spark, sf_dir)
    with _state_partitions(spark):
        run_to_memory(stream_session_counts(ev), "q_stream_session", "complete")
    return spark.table("q_stream_session")


def stream_running_totals_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form of the custom stateful operator
    (applyInPandasWithState running totals): replay in update mode, then
    keep each user's final state (the row with max n_events — update mode
    re-emits a user's row once per microbatch that touches it).  The final
    state equals the batch per-user aggregate, so a plain GROUP BY is a
    binding oracle for the custom-state path."""
    ev = read_events_stream(spark, sf_dir)
    with _state_partitions(spark):
        run_to_memory(stream_user_running_totals(ev), "q_stream_totals", "update")
    got = spark.table("q_stream_totals")
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
        )
    )


STREAM_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events, sum(value) AS total_value
FROM events GROUP BY user_id
"""


def stream_interval_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form of the watermarked stream-stream interval join:
    replay in append mode and aggregate attributed purchases per user —
    the same finalization as the batch twin win_correlation, whose SQL is
    the oracle."""
    ev = read_events_stream(spark, sf_dir)
    with _state_partitions(spark):
        run_to_memory(stream_click_purchase_join(ev), "q_stream_ssj", "append")
    return (
        spark.table("q_stream_ssj")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.sum("amount").alias("attributed_value"),
        )
    )


# --- left-outer stream-stream interval join -------------------------------
# The outer variant is the semantically hard one: a matched pair can emit as
# soon as both rows meet in state, but the NULL-padded row for an unmatched
# click may only emit once the watermark proves no partner can still arrive
# (watermark > c_ts + join window) — i.e. null emission is driven by state
# EVICTION, not by data.  Clicks are pre-filtered to < OUTER_CUTOFF so that
# every retained click is provably resolvable before the replay ends
# (cutoff + 30 min + watermark delay << max event ts), making the batch
# left-join a binding oracle; without the cutoff, clicks near the end of
# the stream would sit in state forever-unresolved at termination and the
# streaming result would be a strict subset of the batch one.
OUTER_CUTOFF = "2024-01-28 00:00:00"
OUTER_SPLITS = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")


def _reuse_or_build_dir(d: str, src_file: str, tag: str, build) -> str:
    """Reuse a staged replay dir when its source file is unchanged.

    The staged early/mid/late splits are pure deterministic functions of
    the (read-only) source table, yet they were rebuilt — a full re-write
    of the events table — on EVERY query call, so the bench measured
    staging I/O twice per rep on top of the streaming engine.  A stamp
    file records (builder tag — which must fold in every constant the
    builder closure reads, so a constant edit invalidates the cache
    without a manual version bump — plus source path, size, mtime); any
    mismatch rebuilds from scratch.  The rebuild stages into a temp
    sibling, renames the stale dir ASIDE, then renames the staged build
    into place — the target path is never observed half-built, a crashed
    build leaves the previous dir untouched, and when two builders race,
    the loser detects the winner's (stamp-identical, deterministic)
    result and adopts it.  The stamp's leading underscore keeps it
    out of Spark/Hadoop file listings, and file mtimes (the replay
    ordering channel) persist on disk, so a reused dir replays
    identically."""
    import shutil
    import uuid

    stamp = os.path.join(d, "_source.stamp")
    st = os.stat(src_file)
    want = f"{tag}|{src_file}|{st.st_size}|{st.st_mtime_ns}"
    try:
        with open(stamp) as f:
            if f.read() == want:
                return d
    except OSError:
        pass
    tmp = f"{d}.build-{uuid.uuid4().hex[:8]}"
    aside = f"{d}.old-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_source.stamp"), "w") as f:
            f.write(want)
        try:
            os.rename(d, aside)  # stale dir steps aside atomically
        except OSError:
            pass  # d absent (first build) or a racing builder moved it
        try:
            os.rename(tmp, d)
        except OSError:
            # A concurrent builder renamed ITS result into place between
            # our two renames.  build() is a pure function of the stamped
            # source, so a dir carrying the wanted stamp IS our result;
            # anything else is a real failure.
            try:
                with open(stamp) as f:
                    ok = f.read() == want
            except OSError:
                ok = False
            if not ok:
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(aside, ignore_errors=True)
    return d


def _ordered_chunk_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three time-ordered parquet files (file order forced via names +
    mtimes) so the replay is genuinely multi-microbatch with the watermark
    advancing BETWEEN batches — chunk-1 unmatched clicks null-emit while
    chunk 3 is still streaming, exercising mid-stream eviction, and the
    final no-data batch (availableNow's cleanup batch) flushes the rest."""
    import glob
    import shutil
    import tempfile
    import time

    from lachesis_spark.sources.readers import read_events

    d = os.path.join(
        tempfile.gettempdir(), "lachesis_stream_chunks",
        os.path.basename(os.path.normpath(sf_dir)),
    )

    def build(d: str) -> None:
        ev = read_events(spark, sf_dir, ltz=True).select(
            "event_id", "user_id", "ts", "event_type", "value"
        )
        lo, hi = OUTER_SPLITS
        chunks = (
            ("00_a", ev.filter(F.col("ts") < F.lit(lo))),
            ("01_b", ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))),
            ("02_c", ev.filter(F.col("ts") >= F.lit(hi))),
        )
        now = time.time()
        for age, (name, df) in enumerate(reversed(chunks)):
            stage = os.path.join(d, f".stage_{name}")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(d, f"{name}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(stage)
            os.utime(dst, (now - 100 * age, now - 100 * age))

    # Fold the split constants into the tag: editing OUTER_SPLITS must
    # invalidate the staged chunks without a manual version bump.
    tag = f"outer_chunks_v1|{OUTER_SPLITS}"
    return _reuse_or_build_dir(
        d, os.path.join(sf_dir, "events.parquet"), tag, build
    )


def stream_click_purchase_left_join(events: DataFrame) -> DataFrame:
    """Left-outer twin of ``stream_click_purchase_join``: every click below
    the cutoff appears in the output — matched clicks once per purchase
    within [c_ts, c_ts+30min], unmatched clicks exactly once with NULL
    amount, emitted only when the watermark passes c_ts + 30 min (state
    eviction).  Both sides watermarked so join state stays bounded."""
    # watermark BEFORE the cutoff filter — the global watermark is the MIN
    # across sides, and a watermark node below the filter would freeze at
    # (last retained click − delay), permanently below the last clicks'
    # eviction point (c_ts + 30 min): the final pre-cutoff clicks would
    # never null-emit.  Tracking the unfiltered click stream lets the
    # click-side watermark advance to the end of the replay.
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", WATERMARK)
        .filter(F.col("c_ts") < F.lit(OUTER_CUTOFF))
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("b_ts", WATERMARK)
    )
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("c_ts"))
        & (F.col("b_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(F.col("c_user").alias("user_id"), "click_id", "amount")


def stream_outer_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form: ordered 3-chunk replay (one file per microbatch)
    through the left-outer interval join in append mode, then per-user
    attribution counts distinguishing matched from null-padded rows.
    Oracle = the equivalent batch LEFT JOIN — binding because the cutoff
    guarantees every retained click resolves (match or eviction-null)
    before the replay terminates."""
    src = _ordered_chunk_dir(spark, sf_dir)
    schema = read_parquet(spark, src).schema
    ev = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(src)
    )
    with _state_partitions(spark):
        run_to_memory(
            stream_click_purchase_left_join(ev), "q_stream_osj", "append"
        )
    return (
        spark.table("q_stream_osj")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("amount").alias("n_matched"),
            F.round(F.sum("amount"), 6).alias("attributed_value"),
        )
    )


STREAM_OUTER_SQL = f"""
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '{OUTER_CUTOFF}'
), p AS (
  SELECT user_id AS p_user, ts AS b_ts, value AS amount FROM events
  WHERE event_type = 'purchase'
), j AS (
  SELECT c.user_id, c.click_id, p.amount
  FROM c LEFT JOIN p
    ON c.user_id = p.p_user
   AND p.b_ts >= c.c_ts AND p.b_ts <= c.c_ts + INTERVAL '30 minutes'
)
SELECT user_id, count(*) AS n_rows, count(amount) AS n_matched,
       round(sum(amount), 6) AS attributed_value
FROM j GROUP BY user_id
"""


def stream_dedup_events(events_a: DataFrame, events_b: DataFrame) -> DataFrame:
    """Exactly-once deduplication over an at-least-once source: the two
    inputs are the SAME events delivered twice (an at-least-once bus
    re-delivering); ``dropDuplicatesWithinWatermark`` keeps one copy per
    event_id with state bounded by the watermark — a duplicate arriving
    later than the watermark window can no longer be suppressed, which is
    the contract production ingestion pipelines size their watermark by.
    Unbounded-state ``dropDuplicates`` would leak one state row per event
    forever at 100 TB/day; the watermarked form is the only scale-safe one."""
    doubled = events_a.unionByName(events_b).withWatermark("ts", WATERMARK)
    return doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type", "value"
    )


def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form: replay the doubled stream, dedup in-stream
    (append mode), then batch-summarize the sink per event_type.  Oracle =
    the same summary over the ORIGINAL events — binding exactly when the
    in-stream dedup removed every duplicate copy."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    with _state_partitions(spark):
        run_to_memory(stream_dedup_events(a, b), "q_stream_dedup", "append")
    return (
        spark.table("q_stream_dedup")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )


STREAM_DEDUP_SQL = """
SELECT event_type, count(*) AS n_events, sum(value) AS sum_value
FROM events GROUP BY event_type
"""


def stream_enrich_events(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the event stream against a static
    dimension (broadcast — no stream-side shuffle, no state), then window
    per enriched attribute.  The canonical "attach reference data to a
    click-stream" pattern; at 100 TB/day the static side is re-broadcast
    per microbatch, so dimension updates take effect without a restart."""
    return (
        events.withWatermark("ts", "1 hour")
        .join(F.broadcast(dim), events["user_id"] == dim["c_custkey"])
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


def stream_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form: replay events through the stream-static join to
    completion; oracle = the equivalent batch join+window SQL (binding by
    replay equivalence, as with the other stream twins)."""
    ev = read_events_stream(spark, sf_dir)
    dim = base_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    with _state_partitions(spark):
        run_to_memory(stream_enrich_events(ev, dim), "q_stream_enrich", "complete")
    return spark.table("q_stream_enrich")


STREAM_ENRICH_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS win_end,
       c_mktsegment, count(*) AS n_events, sum(value) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2, 3
"""


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """Replay the stream to completion into an in-memory table and return
    the finished query handle (tests read ``spark.table(name)``)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# Driver-facing registry: the streaming engine's results are oracle-gated
# against the batch twins' SQL (replay equivalence makes the oracle binding).
from lachesis_spark.streaming.windows import (  # noqa: E402
    WIN_CORRELATION_SQL,
    WIN_EWMA_SQL,
    WIN_SESSION_SQL,
    WIN_TUMBLING_SQL,
)

# ---------------------------------------------------------------------------
# streaming EWMA — the batch win_ewma's operational twin.  Per-user state
# is the BOUNDED buffer of the 8 newest (ts, event_id, value) observations
# (the truncated-EWMA window), merged order-independently: each microbatch
# folds its rows into the buffer and keeps the top-8 by (ts, event_id), so
# out-of-order delivery across batches cannot change the final state.  A
# monotone n_seen counter marks the last emission per user; the final
# buffer's weighted mean equals the batch query exactly, making
# WIN_EWMA_SQL a binding oracle for the custom-state path.
_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_ns", T.ArrayType(T.LongType())),
        T.StructField("eid", T.ArrayType(T.LongType())),
        T.StructField("val", T.ArrayType(T.DoubleType())),
        T.StructField("n_seen", T.LongType()),
    ]
)
_EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("n_recent", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def stream_ewma_baselines(events: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from lachesis_spark.streaming.windows import EWMA_ALPHA, EWMA_W

    def update(key, pdfs, state):
        import pandas as pd

        ts, eid, val, n_seen = (
            state.get if state.exists else ([], [], [], 0)
        )
        rows = list(zip(ts, eid, val))
        for pdf in pdfs:
            n_seen += len(pdf)
            rows.extend(
                zip(
                    pdf["ts"].astype("int64").tolist(),
                    pdf["event_id"].tolist(),
                    pdf["value"].tolist(),
                )
            )
        rows.sort(key=lambda r: (r[0], r[1]), reverse=True)
        rows = rows[:EWMA_W]
        state.update(
            ([r[0] for r in rows], [int(r[1]) for r in rows], [float(r[2]) for r in rows], n_seen)
        )
        wsum = vsum = 0.0
        for j, r in enumerate(rows):
            w = (1.0 - EWMA_ALPHA) ** j
            wsum += w
            vsum += w * r[2]
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n_seen],
                "n_recent": [len(rows)],
                "ewma": [round(vsum / wsum, 6)],
            }
        )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_ewma_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay to completion; keep each user's final emission (max n_seen —
    update mode re-emits per touched microbatch) and compare against the
    batch win_ewma oracle."""
    ev = read_events_stream(spark, sf_dir)
    with _state_partitions(spark):
        run_to_memory(stream_ewma_baselines(ev), "q_stream_ewma", "update")
    got = spark.table("q_stream_ewma")
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_seen", "n_recent", "ewma")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_recent").alias("n_recent"),
            F.col("s.ewma").alias("ewma"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Late-data semantics under a real multi-microbatch replay (round-8 verdict
# task 8).  Every other stream query replays the whole table in effectively
# one batch, so the watermark never actually drops anything; this one feeds
# THREE files through maxFilesPerTrigger=1 so a watermark established early
# in the replay genuinely filters the final batch:
#
#   file 0 (early): all events with ts <  Jan 25, plus a '_sentinel' row at
#                   Jan 24 23:59:59 pinning the post-batch-0 watermark into
#                   [Jan 24 22:59:59, Jan 24 23:00:00).
#   file 1 (mid):   on-time events with ts in [Jan 25, Jan 28).  Needed
#                   because Spark applies the late-event filter with the
#                   PREVIOUS batch's watermark (the SPARK-40925 split:
#                   lateEvents wm lags eviction wm by one batch) — measured
#                   here: a late row arriving in batch N is judged against
#                   the watermark displayed at batch N-1.  The mid batch
#                   also evicts every window ending <= Jan 24 22:59:59.
#   file 2 (late):  on-time events with ts >= Jan 28, plus two replay bands
#                   re-delivering rows already sent in file 0:
#                     KEPT:    ts in [Jan 24 23:00, Jan 25), event_id%5=0 —
#                              out-of-order but ABOVE the active watermark,
#                              window still open -> counted twice;
#                     DROPPED: ts in [Jan 20, Jan 21), event_id%5=0 — far
#                              below the watermark, windows long evicted ->
#                              counted once (the replay is discarded).
#                   A final '_sentinel' at Jan 31 01:00:01 pushes the
#                   closing watermark past every real window end so append
#                   mode emits all of them.
#
# Both bands clear every boundary by >= 1 minute, so the result is identical
# whether Spark filters on event-time or window-end, < or <=, and whether
# the drop rule is watermark-lag or state-eviction based.  The oracle is
# batch SQL over the EFFECTIVE input (original rows once + kept band twice),
# which DuckDB computes without any streaming machinery.
LATE_WATERMARK = "1 hour"
LATE_SPLIT = "2024-01-25 00:00:00"
LATE_MID_SPLIT = "2024-01-28 00:00:00"
LATE_KEEP_LO = "2024-01-24 23:00:00"
LATE_DROP_LO = "2024-01-20 00:00:00"
LATE_DROP_HI = "2024-01-21 00:00:00"
LATE_MOD = 5
_SENTINEL = "_sentinel"


def _late_data_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the three-file out-of-order source (early/mid/late);
    returns the directory.  File order is forced via names + mtimes (the
    file source lists oldest-first).  The mid file is load-bearing: Spark
    judges batch-N late rows against the batch-N−1 watermark (SPARK-40925
    one-batch lag), so a watermark-setting batch must sit BETWEEN the
    early rows and the late-arriving ones for the drop to be observable."""
    import glob
    import shutil
    import tempfile
    import time

    from lachesis_spark.sources.readers import read_events

    d = os.path.join(
        tempfile.gettempdir(), "lachesis_stream_late",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    def build(d: str) -> None:
        ev = read_events(spark, sf_dir, ltz=True).select(
            "event_id", "ts", "event_type", "value"
        )
        sent = "CAST('{}' AS TIMESTAMP) AS ts, '{}' AS event_type".format
        early = ev.filter(F.col("ts") < F.lit(LATE_SPLIT)).unionByName(
            spark.sql(f"SELECT -1 AS event_id, {sent('2024-01-24 23:59:59', _SENTINEL)}, 0.0 AS value")
        )
        mid = ev.filter(
            (F.col("ts") >= F.lit(LATE_SPLIT)) & (F.col("ts") < F.lit(LATE_MID_SPLIT))
        )
        replay = F.col("event_id") % LATE_MOD == 0
        late = (
            ev.filter(F.col("ts") >= F.lit(LATE_MID_SPLIT))
            .unionByName(ev.filter(replay & (F.col("ts") >= F.lit(LATE_KEEP_LO)) & (F.col("ts") < F.lit(LATE_SPLIT))))
            .unionByName(ev.filter(replay & (F.col("ts") >= F.lit(LATE_DROP_LO)) & (F.col("ts") < F.lit(LATE_DROP_HI))))
            .unionByName(
                spark.sql(f"SELECT -2 AS event_id, {sent('2024-01-31 01:00:01', _SENTINEL)}, 0.0 AS value")
            )
        )
        now = time.time()
        for age, (name, df) in enumerate((("02_late", late), ("01_mid", mid), ("00_early", early))):
            stage = os.path.join(d, f".stage_{name}")
            df.drop("event_id").coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(d, f"{name}.parquet")
            shutil.move(part, dst)
            shutil.rmtree(stage)
            os.utime(dst, (now - 100 * age, now - 100 * age))

    # Every LATE_* constant the builder reads participates in the stamp so
    # a cutoff/modulus edit rebuilds the staged splits automatically.
    tag = (
        "late_data_v1|"
        f"{LATE_SPLIT}|{LATE_MID_SPLIT}|{LATE_KEEP_LO}|"
        f"{LATE_DROP_LO}|{LATE_DROP_HI}|{LATE_MOD}"
    )
    return _reuse_or_build_dir(
        d, os.path.join(sf_dir, "events.parquet"), tag, build
    )


def stream_late_data_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling counts in APPEND mode — emitted only once the
    watermark passes the window, which is what makes late-row dropping
    observable (complete mode would re-emit everything every batch)."""
    return (
        events.withWatermark("ts", LATE_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            F.col("w.end").cast("timestamp_ntz").alias("win_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def stream_late_data_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _late_data_source_dir(spark, sf_dir)
    schema = read_parquet(spark, src).schema
    ev = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(src)
    )
    with _state_partitions(spark):
        run_to_memory(stream_late_data_counts(ev), "q_stream_late", "append")
    return spark.table("q_stream_late").filter(F.col("event_type") != _SENTINEL)


STREAM_LATE_SQL = f"""
WITH eff AS (
  SELECT ts, event_type, value FROM events
  UNION ALL
  SELECT ts, event_type, value FROM events
  WHERE event_id % {LATE_MOD} = 0
    AND ts >= TIMESTAMP '{LATE_KEEP_LO}' AND ts < TIMESTAMP '{LATE_SPLIT}'
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS win_end,
       event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM eff GROUP BY 1, 2, 3
"""


QUERIES = {
    "stream_tumbling": stream_tumbling_query,
    "stream_session": stream_session_query,
    "stream_running_totals": stream_running_totals_query,
    "stream_interval_join": stream_interval_join_query,
    "stream_outer_join": stream_outer_join_query,
    "stream_dedup": stream_dedup_query,
    "stream_enrich": stream_enrich_query,
    "stream_ewma": stream_ewma_query,
    "stream_late_data": stream_late_data_query,
}

ORACLE = {
    "stream_tumbling": WIN_TUMBLING_SQL,
    "stream_session": WIN_SESSION_SQL,
    "stream_running_totals": STREAM_TOTALS_SQL,
    "stream_interval_join": WIN_CORRELATION_SQL,
    "stream_outer_join": STREAM_OUTER_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "stream_enrich": STREAM_ENRICH_SQL,
    "stream_ewma": WIN_EWMA_SQL,
    "stream_late_data": STREAM_LATE_SQL,
}


def write_stream_merge(
    events: DataFrame,
    catalog,
    db: str,
    name: str,
    key_cols: list[str],
    checkpoint: str,
) -> None:
    """Exactly-once ingestion sink: foreachBatch + catalog MERGE.

    A restarted/replayed stream may redeliver a microbatch; upserting each
    batch by key makes the sink idempotent — redelivered rows overwrite
    themselves instead of appending duplicates.  This (checkpointed offsets
    + idempotent sink) is Spark's end-to-end exactly-once recipe, and the
    streaming twin of the batch ``Catalog.merge_set`` incremental refresh.
    The checkpoint must live with the sink: offsets commit only after the
    merge completes, so a crash between merge and commit replays a batch
    into an upsert that lands identically."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        catalog.merge_set(batch_df, db, name, key_cols)

    (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_stream_append(
    events: DataFrame,
    catalog,
    db: str,
    name: str,
    checkpoint: str,
) -> None:
    """Append-only ingestion sink: foreachBatch + plain parquet append into
    the set's directory.

    The streaming half of the MATERIALIZED-VIEW pattern: the merge sink
    (:func:`write_stream_merge`) rewrites the set per batch — correct for
    keyed upserts, but it invalidates an MV's consumed-file watermark so
    every refresh recomputes fully.  An append sink grows the set file-by
    -file, which is exactly the delta ``matview.refresh_view`` folds
    incrementally — stream in, ``refresh_view`` after (or per batch), and
    the view's cost tracks the batch, not the corpus.  Exactly-once here
    comes from the checkpointed offsets + idempotent downstream (the MV
    fold consumes each file once, recorded in its watermark); a replayed
    batch writes NEW part files, which the checkpoint prevents in the
    first place."""
    path = catalog.set_path(db, name)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Multi-microbatch throughput measurement.  The registry stream_* queries
# replay the whole bounded source in ~one micro-batch, so their bench
# seconds are dominated by fixed engine startup (~1-3 s) and a streaming
# regression would hide under it.  This harness rewrites the events table
# as N chunk files, rate-limits the replay to one file per trigger
# (availableNow honors maxFilesPerTrigger), and reports rows/s summed over
# the >= N resulting micro-batches from the engine's own progress metrics —
# the number a 100 TB/day ingest deployment actually sizes against.
def _progress_dicts(q) -> list[dict]:
    import json as _json

    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else _json.loads(p.json))
    return out


def _throughput_builders(spark: SparkSession, sf_dir: str) -> dict:
    """name -> (stream builder over a chunked events source, output mode).
    Builders reuse the exact registry transformations."""
    dim = base_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return {
        "stream_tumbling": (stream_tumbling_counts, "complete"),
        "stream_session": (stream_session_counts, "complete"),
        "stream_running_totals": (stream_user_running_totals, "update"),
        "stream_interval_join": (stream_click_purchase_join, "append"),
        # needs TWO independent source streams; built inline by the runner
        "stream_dedup": (None, "append"),
        "stream_enrich": (lambda ev: stream_enrich_events(ev, dim), "complete"),
    }


def stream_throughput(
    spark: SparkSession, sf_dir: str, n_batches: int = 10
) -> dict[str, dict]:
    """Per-stream-query ingest throughput across >= ``n_batches``
    micro-batches: {name: {rows, sec, rows_per_sec, n_batches}}.

    ``sec`` sums the engine-reported triggerExecution time of data-carrying
    batches only, so the figure measures steady micro-batch processing,
    not replay-job setup."""
    import shutil as _shutil
    import tempfile as _tempfile

    src = base_table(spark, sf_dir, "events")
    tmp = _tempfile.mkdtemp(prefix="lachesis_tput_")
    results: dict[str, dict] = {}
    try:
        src.repartition(n_batches).write.mode("overwrite").parquet(
            os.path.join(tmp, "events.parquet")
        )
        builders = _throughput_builders(spark, sf_dir)
        for i, (name, (build, mode)) in enumerate(builders.items()):
            ev = read_events_stream(spark, tmp, max_files_per_trigger=1)
            if name == "stream_dedup":
                ev2 = read_events_stream(spark, tmp, max_files_per_trigger=1)
                stream = stream_dedup_events(ev, ev2)
            else:
                stream = build(ev)
            with _state_partitions(spark):
                q = run_to_memory(stream, f"tput_{i}_{name}", mode)
            batches = [
                p for p in _progress_dicts(q) if p.get("numInputRows", 0) > 0
            ]
            rows = sum(p["numInputRows"] for p in batches)
            sec = sum(
                p["durationMs"].get("triggerExecution", 0) for p in batches
            ) / 1000.0
            results[name] = {
                "rows": rows,
                "sec": round(sec, 3),
                "rows_per_sec": round(rows / sec, 1) if sec > 0 else None,
                "n_batches": len(batches),
            }
            spark.catalog.dropTempView(f"tput_{i}_{name}")
        results["ds_stream_tail"] = _ds_tail_throughput(
            spark, os.path.join(tmp, "events.parquet"), src.count()
        )
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    return results


def _ds_tail_throughput(spark: SparkSession, chunk_dir: str, expected: int) -> dict:
    """Multi-microbatch throughput of the lachesis DataSource tail.

    availableNow pins its end target at the FIRST latestOffset call, which
    with per-batch admission control (maxFilesPerTrigger) would stop after
    one file — so this runs a continuous trigger and stops once the sink
    has ingested every row (the backlog-drain scenario a production tail
    actually meets)."""
    import time as _time

    from pyspark.sql import functions as _F

    from lachesis_spark.sources.lachesis_source import register

    register(spark)
    stream = (
        spark.readStream.format("lachesis")
        .option("maxFilesPerTrigger", 1)
        .load(chunk_dir)
        .groupBy("event_type")
        .agg(_F.count(_F.lit(1)).alias("cnt"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tput_ds_tail")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.monotonic() + 300
        while _time.monotonic() < deadline:
            got = [
                r["s"]
                for r in spark.table("tput_ds_tail")
                .agg(_F.sum("cnt").alias("s"))
                .collect()
            ]
            if got and got[0] is not None and got[0] >= expected:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    batches = [p for p in _progress_dicts(q) if p.get("numInputRows", 0) > 0]
    rows = sum(p["numInputRows"] for p in batches)
    sec = sum(
        p["durationMs"].get("triggerExecution", 0) for p in batches
    ) / 1000.0
    spark.catalog.dropTempView("tput_ds_tail")
    return {
        "rows": rows,
        "sec": round(sec, 3),
        "rows_per_sec": round(rows / sec, 1) if sec > 0 else None,
        "n_batches": len(batches),
    }
