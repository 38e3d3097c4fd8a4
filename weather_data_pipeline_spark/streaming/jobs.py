"""Structured Streaming jobs (SURVEY.md §2.10).

The reference's "streaming" is a scheduler loop doing periodic batch upserts
(`weather_collector.py:376-388`); the Spark-native story is:

- `readStream` over the events directory (file source; in production Kafka),
- event-time watermark + tumbling/sliding window aggregations (the continuous
  counterpart of the W3 rolling stats),
- `foreachBatch` dedup-merge replicating the S7 upsert exactly-once per epoch.

Local testing uses `trigger(availableNow=True)` + a memory sink so a bounded
parquet directory drives the streaming query to completion synchronously —
the same plan shape a Kafka-fed cluster deployment would run.
"""

from __future__ import annotations

import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import NANOS_CONF
from ..sources.weather_ingest import upsert_parquet_partitioned

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # tz-naive in the parquet
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


# serializes every scoped session-conf override (state_partitions and the
# tws state-store provider) — reentrant so the provider block can nest a
# state_partitions block on the same thread
_SESSION_CONF_LOCK = threading.RLock()


# RAM-backed checkpoint base for the BOUNDED memory-sink drains (r11, guide
# §6): an availableNow drain writes offsets/commits/state files through the
# checkpoint file manager with fsync per micro-batch, and on the local disk
# that I/O is a measurable slice of every 1–2 s drain (A/B at sf0.1:
# hourly 1.29→0.99 s, dedup_keys 1.26→1.04 s, session windows ~2.1→1.3 s).
# A bounded drain's checkpoint is THROWAWAY — Spark already deletes
# temporary checkpoints on stop, and the dirs built here are deleted right
# after awaitTermination — so tmpfs sacrifices no durability a temp dir
# ever had. Production streaming jobs pass explicit durable checkpoint
# locations (the recovery tests exercise that path) and never enter this
# helper; a non-local master also bypasses it. SPARK_GRAFT_STREAM_CKPT_BASE
# overrides the base dir; set it to the empty string to restore Spark's
# default temp-dir checkpoints.
def _drain_ckpt(spark: SparkSession) -> str | None:
    import os

    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_BASE")
    if base == "":
        return None
    if base is None:
        if not spark.sparkContext.master.startswith("local"):
            return None
        if not os.path.isdir("/dev/shm"):
            return None
        base = "/dev/shm/wdp-drain-ckpt"
    path = os.path.join(base, uuid.uuid4().hex)
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None  # unwritable base: fall back to Spark's temp checkpoint
    return path


def _drop_drain_ckpt(path: str | None) -> None:
    if path:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Scoped session-conf override with the same thread-safety contract as
    :func:`state_partitions` (which it backs): save→set→body→restore runs
    under a process-wide reentrant lock so overlapping overrides on the
    shared session can never interleave their save/restore and corrupt the
    session's steady-state value. A streaming query clones the session
    state at ``start()``, so the block only needs to cover planning +
    ``start()`` — never ``awaitTermination()``."""
    with _SESSION_CONF_LOCK:
        try:
            prev = spark.conf.get(key)
        except Exception:  # unset key with no default
            prev = None
        spark.conf.set(key, value)
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Size the state-store partition count for streaming queries STARTED
    inside the block (VERDICT r06 next #6: this was an edit-the-conf knob;
    now it's an API). A streaming query's state partitioning is frozen into
    its FIRST checkpoint from ``spark.sql.shuffle.partitions`` and cannot
    change on restart, so this must wrap the ``.start()`` call of a NEW
    query (an existing checkpoint keeps its original count regardless).

    Sizing (measured, BENCH_STREAMING.json): per-batch latency at SMALL
    batches is dominated by per-partition state-store commit overhead —
    ~5 k-row batches run ~2× faster at 8 partitions than 32 — while large
    sustained batches want partition counts sized to batch volume
    (hundreds+ for a GB-scale-batch 100 TB ingest). Restores the previous
    session setting on exit; batch queries planned inside the block also
    see the override, so keep the block tight around the stream start.

    Thread safety (ADVICE r07): ``spark.sql.shuffle.partitions`` is
    session-global, and the repo's pinned contract is concurrent registry
    queries on ONE shared session — two overlapping blocks could interleave
    save/restore (T1 saves 32→sets 8; T2 saves 8; T1 restores 32; T2
    restores 8) and leave the session permanently downsized. A process-wide
    lock serializes save→set→body→restore; ``start()`` for an
    ``availableNow`` query only plans and launches (the micro-batches run
    async), so the critical section is milliseconds. Batch queries planned
    on OTHER threads during that window can still see the override — that
    residual race is inherent to a session-global conf and is why the block
    must stay tight around ``start()``."""
    with _session_conf(spark, "spark.sql.shuffle.partitions", str(n)):
        yield


# Bounded drains and the trailing no-data micro-batch (r12, VERDICT r11
# #6): with event-time watermarks, availableNow runs one extra EMPTY
# micro-batch after the data batch so stateful operators can act on the
# advanced watermark — plan + state-store commit + sink commit, a
# measurable slice of every 1-2 s drain. Whether that batch can change the
# RESULT depends on the sink/output mode:
#   - complete mode rewrites the whole (unchanged) result — pure overhead;
#   - update mode emits only CHANGED state — no data, no change (no
#     timeout-based operators are used here);
#   - inner stream-stream joins and dropDuplicates* emit rows in the batch
#     they arrive — the watermark only bounds state;
#   - foreachBatch upsert merges an EMPTY frame — an idempotent no-op.
# Append-mode WINDOWED aggregations are the one shape that needs it (rows
# are held until the watermark closes the window) — no drain here uses it,
# and any future one must pass skip_nodata=False. Scoped per start like
# state_partitions; a cluster streaming job with explicit checkpoints
# never enters these drain helpers.
_NODATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextmanager
def _maybe_skip_nodata(spark: SparkSession, skip: bool):
    if not skip:
        yield
        return
    with _session_conf(spark, _NODATA_CONF, "false"):
        yield


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with µs event time.

    The NTZ→LTZ cast (UTC session) gives watermarks/windows the LTZ type
    they key off, with identical wall-clock values to the batch loader.
    """
    # pin UTC like sources/tables.load_table does: the NTZ→LTZ cast below is
    # tz-sensitive, and a caller-built non-UTC session would silently shift
    # event times (and window/watermark boundaries) vs the batch loader
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set(NANOS_CONF, "true")
    # file stream sources need a directory; glob-filter to the events file
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_agg_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation: count + exact decimal sum per
    (hour, event_type). Append-mode-safe: state for a window is dropped once
    the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def auto_state_partitions(spark: SparkSession, n_input_rows: int) -> int:
    """Size the state-store partition count to the input volume:
    ``min(session default, max(8, rows // 25_000))``.

    The rule only ever DOWNSIZES below the session default, and only when
    the stream is too small to amortize per-partition state-store commits —
    the measured phenomenon (BENCH_STREAMING.json + the attribution query:
    a 200 k-row drain runs 7.7 s at 32 state partitions vs 2.5 s at 8; the
    optimum on this box is ≥ ~25 k rows per partition). At real cluster
    volume ``rows // 25_000`` exceeds any sane default, so the default —
    sized to the cluster's cores — wins and parallelism is never capped."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(default, max(8, n_input_rows // 25_000))


def run_stream_to_batch(
    agg: DataFrame, spark: SparkSession, n_input_rows: int | None = None
) -> DataFrame:
    """Drive a (bounded) streaming aggregation to completion and return the
    result as a batch DataFrame via a memory sink. `complete` output mode so
    every window is emitted regardless of watermark progress. When the
    caller knows the bounded input's row count, state partitions are sized
    by :func:`auto_state_partitions` (state partitioning freezes at the
    first checkpoint, so it must be decided here, before ``start()``)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = _drain_ckpt(spark)

    def _start():
        w = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        if ckpt:
            w = w.option("checkpointLocation", ckpt)
        return w.start()

    with _maybe_skip_nodata(spark, True):  # complete mode: see _NODATA_CONF
        if n_input_rows is not None:
            with state_partitions(spark, auto_state_partitions(spark, n_input_rows)):
                q = _start()
        else:
            q = _start()
    try:
        q.awaitTermination()
    finally:
        _drop_drain_ckpt(ckpt)
    return spark.table(name)


def _events_rows(sf_dir: str) -> int:
    from ..sources.tables import parquet_row_count

    return parquet_row_count(sf_dir, "events")


def streaming_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: stream → watermark → tumbling agg → memory table."""
    return run_stream_to_batch(
        hourly_agg_stream(events_stream(spark, sf_dir)),
        spark,
        n_input_rows=_events_rows(sf_dir),
    )


def stream_upsert_events(
    spark: SparkSession, sf_dir: str, table_path: str, keys=("event_id",)
) -> None:
    """foreachBatch upsert: each micro-batch is dedup-merged into the target
    parquet table (reference scheduler-loop + S7 upsert, continuous form).
    Exactly-once per epoch because the merge is idempotent on the key.

    The sink table is day-partitioned on the event time and each epoch
    rewrites only the partitions its batch touches — at 100 TB a micro-batch
    merge must not scale with table size, only with batch size."""
    ev = events_stream(spark, sf_dir).withColumn(
        "created_at", F.current_timestamp()
    )

    def merge(batch_df: DataFrame, _epoch: int) -> None:
        upsert_parquet_partitioned(
            batch_df,
            table_path,
            keys=keys,
            version_col="created_at",
            partition_of=F.to_date(F.col("ts")),
        )

    ckpt = _drain_ckpt(spark)
    w = ev.writeStream.foreachBatch(merge).trigger(availableNow=True)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    with _maybe_skip_nodata(spark, True):  # empty-batch merge is a no-op
        q = w.start()
    try:
        q.awaitTermination()
    finally:
        _drop_drain_ckpt(ckpt)


def sliding_agg_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Sliding-window aggregation (2h window, 1h slide): each event lands in
    two overlapping windows — the continuous counterpart of the reference's
    trailing rolling mean (W3)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )


def streaming_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_batch(
        sliding_agg_stream(events_stream(spark, sf_dir)),
        spark,
        n_input_rows=_events_rows(sf_dir),
    )


def stateful_user_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running event counter + max value carried across micro-batches (the
    pattern for session state / online features the reference's scheduler
    loop cannot express). availableNow + memory sink for bounded runs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        n, vmax = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, vmax))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, vmax double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    import uuid as _uuid

    name = f"stateful_out_{_uuid.uuid4().hex[:8]}"
    ckpt = _drain_ckpt(spark)
    with _maybe_skip_nodata(spark, True), state_partitions(
        spark, auto_state_partitions(spark, _events_rows(sf_dir))
    ):  # update mode, NoTimeout state: no data -> no emitted change
        w = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        if ckpt:
            w = w.option("checkpointLocation", ckpt)
        q = w.start()
    try:
        q.awaitTermination()
    finally:
        _drop_drain_ckpt(ckpt)
    # update-mode memory sink may hold several rows per user (one per batch);
    # keep the final state per user
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def session_agg_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (F.session_window): per-user sessions close
    after `gap` of inactivity; Spark merges overlapping candidate windows in
    state. The streaming dual of the batch gaps-and-islands sessionization
    (operators/windows sessionize) — same gap ⇒ identical sessions, which is
    what the DuckDB oracle checks."""
    return (
        events.withWatermark("ts", "4 hours")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_stream_to_batch(
        session_agg_stream(events_stream(spark, sf_dir)),
        spark,
        n_input_rows=_events_rows(sf_dir),
    )


def run_stream_to_batch_append(
    df: DataFrame,
    spark: SparkSession,
    n_input_rows: int | None = None,
    skip_nodata: bool = True,
) -> DataFrame:
    """Drive a bounded stream in `append` mode (required for stream-stream
    joins, where `complete` is unsupported) and return the emitted rows.
    `n_input_rows` sizes state partitions via :func:`auto_state_partitions`
    (measured 3×: the 200 k-row attribution drain reads 7.7 s at 32 state
    partitions, 2.5 s at 8)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    ckpt = _drain_ckpt(spark)

    def _start():
        w = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        if ckpt:
            w = w.option("checkpointLocation", ckpt)
        return w.start()

    # both append-mode drains (inner stream-stream join, dropDuplicates
    # WithinWatermark) emit rows in the batch they arrive; the watermark
    # only bounds state — see _NODATA_CONF. An append-mode WINDOWED agg
    # would need skip=False.
    with _maybe_skip_nodata(spark, skip_nodata):
        if n_input_rows is not None:
            with state_partitions(spark, auto_state_partitions(spark, n_input_rows)):
                q = _start()
        else:
            q = _start()
    try:
        q.awaitTermination()
    finally:
        _drop_drain_ckpt(ckpt)
    return spark.table(name)


try:  # transformWithState's state-server protocol needs protobuf, which this
    # container does not ship; gate the operator rather than pip-install
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS_PROTO = True
except ImportError:
    HAS_TWS_PROTO = False


def tws_user_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user typed state via transformWithStateInPandas — Spark 4's
    successor to applyInPandasWithState: instead of one monolithic state
    tuple, the processor composes named state variables (here a ValueState
    running total plus a MapState of per-event-type counts), each
    independently evolvable and TTL-able. Requires the RocksDB state store
    provider (state variables map to virtual column families), set for the
    duration of the query and restored after.

    Emits, on every micro-batch a user appears in, the user's full per-type
    count map so far; the final emission per (user, type) equals the batch
    groupBy truth (asserted in tests/test_streaming.py)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.total = handle.getValueState("total", "n long")
            self.per_type = handle.getMapState("per_type", "t string", "n long")

        def handleInputRows(self, key, rows, timer_values):
            fresh: dict[str, int] = {}
            n_new = 0
            for pdf in rows:
                n_new += len(pdf)
                for t, c in pdf.groupby("event_type").size().items():
                    fresh[t] = fresh.get(t, 0) + int(c)
            prev = self.total.get()
            total = (prev[0] if prev is not None else 0) + n_new
            self.total.update((total,))
            for t, c in fresh.items():
                cur = self.per_type.getValue((t,))
                self.per_type.updateValue((t,), ((cur[0] if cur else 0) + c,))
            pairs = sorted((k[0], v[0]) for k, v in self.per_type.iterator())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(pairs),
                    "event_type": [p[0] for p in pairs],
                    "n_events": [p[1] for p in pairs],
                    "user_total": [total] * len(pairs),
                }
            )

        def close(self) -> None:
            pass

    ev = events_stream(spark, sf_dir).select("user_id", "event_type")
    # scoped + locked like every other session-conf override (r8: the
    # previous save/set/try-finally-restore had the same interleave race
    # state_partitions had, and held the override through the whole drain —
    # the query clones session state at start(), so restoring right after
    # start() is safe and the lock window stays milliseconds)
    name = f"tws_out_{uuid.uuid4().hex[:8]}"
    with _session_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ):
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TypeCounts(),
            outputStructType=(
                "user_id long, event_type string, n_events long, user_total long"
            ),
            outputMode="Update",
            timeMode="None",
        )
        ckpt = _drain_ckpt(spark)
        with _maybe_skip_nodata(spark, True), state_partitions(
            spark, auto_state_partitions(spark, _events_rows(sf_dir))
        ):  # update mode, timeMode None: no data -> no emitted change
            w = (
                out.writeStream.outputMode("update")
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
            )
            if ckpt:
                w = w.option("checkpointLocation", ckpt)
            q = w.start()
    try:
        q.awaitTermination()
    finally:
        _drop_drain_ckpt(ckpt)
    # update-mode sink holds one emission per (user, batch); counts are
    # monotone, so the final state per (user, type) is the max row
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("user_total"), F.desc("n_events")
    )
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- streaming distribution-drift monitor -----------------------------------
def _value_bin(value_col: str, bin_width: float, n_bins: int):
    return F.least(
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("bigint"),
        F.lit(n_bins - 1),
    )


def baseline_value_props(
    batch_ev: DataFrame,
    value_col: str = "value",
    bin_width: float = 50.0,
    n_bins: int = 10,
    alpha: float = 0.5,
) -> list[float]:
    """Laplace-smoothed bin proportions of a batch snapshot — the reference
    distribution a streaming PSI monitor compares against. One conditional
    aggregation, n_bins + 1 numbers collected; the smoothing arithmetic is
    plain IEEE doubles so the same formula in SQL reproduces the values
    bit-identically (the streaming query's oracle depends on this)."""
    b = _value_bin(value_col, bin_width, n_bins)
    row = batch_ev.agg(
        *[F.sum((b == i).cast("bigint")).alias(f"n_{i}") for i in range(n_bins)],
        F.count(F.lit(1)).alias("n_total"),
    ).first()
    # empty baseline: conditional sums come back NULL — treat as 0 counts,
    # and the Laplace smoothing then yields the well-defined uniform 1/n_bins
    total = float(row["n_total"])
    return [
        (float(row[f"n_{i}"] or 0) + alpha) / (total + alpha * n_bins)
        for i in range(n_bins)
    ]


def psi_drift_stream(
    events: DataFrame,
    baseline: list[float],
    value_col: str = "value",
    bin_width: float = 50.0,
    alpha: float = 0.5,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window PSI of the streaming value distribution vs a static
    baseline: the continuous "did the feed drift since the last training
    snapshot" monitor.

    Structured Streaming allows ONE aggregation per stream, so the bin
    histogram is a single groupBy(window) of conditional sums and the PSI
    folds map-side from those counts against baseline literals — no second
    aggregation, no stream-stream join, bounded state (one row per open
    window). Terms are summed in fixed bin order (deterministic), so the
    drained availableNow result equals the batch/DuckDB answer exactly."""
    n_bins = len(baseline)
    b = _value_bin(value_col, bin_width, n_bins)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(
            *[F.sum((b == i).cast("bigint")).alias(f"n_{i}") for i in range(n_bins)],
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    tot = F.col("n_events").cast("double") + F.lit(alpha * n_bins)
    terms = None
    for i, bp in enumerate(baseline):
        p = (F.col(f"n_{i}") + F.lit(alpha)) / tot
        t = (p - F.lit(bp)) * F.log(p / F.lit(bp))
        terms = t if terms is None else terms + t
    return agg.select(
        F.col("win.start").alias("day_start"),
        "n_events",
        (F.round(terms, 6) + F.lit(0.0)).alias("psi"),
    )


def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: batch baseline over the full table, then the stream's
    per-day PSI against it, drained with availableNow."""
    from ..sources.tables import load_table

    baseline = baseline_value_props(load_table(spark, sf_dir, "events"))
    return run_stream_to_batch(
        psi_drift_stream(events_stream(spark, sf_dir), baseline),
        spark,
        n_input_rows=_events_rows(sf_dir),
    )
