"""Streaming operators (SURVEY.md §2.8).

The reference is trigger-driven micro-batch (object-storage event -> function
run); the honest Spark analog is Structured Streaming with a file source and
``Trigger.AvailableNow``. Strategy per SURVEY: each windowed aggregation is
implemented ONCE as a batch query (hash-checked against DuckDB), and the
same logic re-runs as a stream whose result must equal the batch result
(exactly-once replay), so stream_* keys split into:

- batch-form keys (SQL oracle): stream_tumbling_1h, stream_sliding,
  stream_session_window
- true-streaming keys, still SQL-oracled because the bounded availableNow
  replay makes emission deterministic: stream_availablenow_replay,
  stream_watermark_late (windows closed under the final watermark),
  stream_dedup_watermark (per-type counts after dropping the re-delivered
  file)

Scale: windowed streaming aggs keep state per (window, key) in the state
store; watermarks bound that state — without one, 100 TB of history pins
executor memory. Checkpoint dirs are per-run temp dirs here; on a cluster
they live on DBFS/HDFS/S3.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.determinism import MICRO, dsum, o_dsum, quantize_long
from ..plans.registry import query
from ..session import conf_override
from ..tables import (
    events_finalize_ts,
    events_read_schema,
    events_ts_unit,
    load,
)

# --- stream_tumbling_1h (batch form; re-run as stream in replay below) ------

_TUMBLING_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")}
FROM events
GROUP BY window_start, event_type
"""


def _tumbling_agg(ev: DataFrame) -> DataFrame:
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query("stream_tumbling_1h", oracle=_TUMBLING_ORACLE, tier=2)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count+sum per event type (batch form)."""
    return _tumbling_agg(load(spark, sf_dir, "events"))


# --- stream_sliding ---------------------------------------------------------

# Spark hop windows starting every 15 min == union of 4 offset time_buckets.
_SLIDING_ORACLE = f"""
SELECT window_start, event_type, COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")}
FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts - INTERVAL (o.off) MINUTE)
           + INTERVAL (o.off) MINUTE AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 15, 30, 45]) AS off) o
)
GROUP BY window_start, event_type
"""


@query("stream_sliding", oracle=_SLIDING_ORACLE, tier=3)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes (each event in 4 windows)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --- stream_session_window --------------------------------------------------

# Session = events of one user with gaps < 30 min; window end = last + gap.
# Oracle: gaps-and-islands (lag + cumulative new-session flag).
_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")}
FROM numbered
GROUP BY user_id, session_id
"""


@query("stream_session_window", oracle=_SESSION_ORACLE, tier=3)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --- true-streaming helpers -------------------------------------------------


def _staged(sf_dir: str, name: str, build) -> str:
    """Stage a streaming source dir ONCE per fixture generation.

    Checkpoints must be fresh per run (a reused checkpoint would replay
    nothing), but the staged SOURCE files are pure functions of the fixture
    — re-writing them every run was most of the excluded-from-headline
    bench floor (VERDICT r3 #6). Keyed on the events fixture's
    (mtime_ns, size), so an in-place fixture regeneration (a known
    between-rounds occurrence — ADVICE r3 on scan_binaryfile) restages
    from zero instead of streaming stale files."""
    from ..sources.connectors import scratch_dir

    st = os.stat(f"{sf_dir}/events.parquet")
    out = scratch_dir(sf_dir, name)
    marker = Path(out) / f".staged_{st.st_mtime_ns}_{st.st_size}"
    if not marker.exists():
        shutil.rmtree(out, ignore_errors=True)
        build(out)
        marker.touch()
    return out


def _read_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream with the events schema (parquet time unit handled
    as in tables.load — ns layouts need the legacy long-read). The file
    source requires a directory, so the single fixture file is staged into a
    scratch 'landing bucket' (cached across runs, see _staged)."""

    def build(out: str) -> None:
        os.makedirs(out, exist_ok=True)
        shutil.copy(f"{sf_dir}/events.parquet", f"{out}/events.parquet")

    landing = _staged(sf_dir, "stream_landing_events", build)
    if events_ts_unit(sf_dir) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.readStream.schema(events_read_schema(sf_dir)).parquet(landing)
    return events_finalize_ts(raw, sf_dir)


def _run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str
) -> DataFrame:
    """Drive a streaming query to completion synchronously (availableNow)
    into a memory sink; returns the sink table as a batch DataFrame.

    State partitioning is sized to the stream, not the batch default: each
    state partition costs a delta+commit file per micro-batch (a stream-
    stream join keeps FOUR stores per partition per side), so the batch
    width (one per task slot) is pure checkpoint I/O for a replay this
    size. On a real cluster this knob (fixed at first checkpoint) is sized
    to peak key cardinality instead — override
    BDL_STREAM_STATE_PARTITIONS. Local default 8 -> 4 (r13): same-session
    A/B on the two stream-stream join keys measured ~0.5-0.7x wall-clock
    at 4 (and again at 2) — the fixture's state is KBs, so commit-file
    count dominates.

    State-store provider (VERDICT r13 item 9): BDL_STREAM_STATE_PROVIDER
    = "rocksdb" switches to RocksDBStateStoreProvider, env-gated with the
    HDFS-backed default UNCHANGED. A/B on the replay fixtures (r14, see
    OPTIMIZATION_r14.md): RocksDB pays a per-partition native-store
    open/commit per micro-batch, which at KB-sized state is pure overhead
    — the HDFS provider stays the measured local winner; at production
    state sizes (GBs per partition, where memory pressure and snapshot
    cost dominate) RocksDB is the documented switch, one env var away."""
    spark = stream_df.sparkSession
    ckpt = tempfile.mkdtemp(prefix=f"bdl_ckpt_{name}_")
    confs = {
        "spark.sql.shuffle.partitions": os.environ.get(
            "BDL_STREAM_STATE_PARTITIONS", "4"
        )
    }
    if os.environ.get("BDL_STREAM_STATE_PROVIDER", "").lower() == "rocksdb":
        confs["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    try:
        with conf_override(spark, confs):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        # the answer is in the memory sink once the replay has ended;
        # the checkpoint has no reuse value, so drop it (one per run)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


# --- stream_availablenow_replay ---------------------------------------------


@query("stream_availablenow_replay", oracle=_TUMBLING_ORACLE, tier=3)
def stream_availablenow_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader's idempotency contract: an incremental file-source replay
    of the tumbling aggregation must equal the batch result exactly — same
    oracle as stream_tumbling_1h, but computed through readStream +
    Trigger.AvailableNow + checkpointed state."""
    ev = _read_stream_events(spark, sf_dir)
    agg = _tumbling_agg(ev)
    return _run_to_memory(agg, "bdl_replay_tumbling", "complete")


# --- stream_watermark_late --------------------------------------------------


# Append-mode emission is deterministic for this bounded replay: a window
# row is emitted exactly once, when the watermark (max seen ts - 10 min)
# passes its end — so the final table is the tumbling counts over every
# window that closed under the final watermark, counting each source row
# once (the batch-3 day-1 replay targets evicted state and is dropped).
_WATERMARK_LATE_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, COUNT(*) AS n_events
FROM events
GROUP BY window_start, event_type
HAVING window_start + INTERVAL 1 HOUR
         <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
"""


@query("stream_watermark_late", oracle=_WATERMARK_LATE_ORACLE, tier=3)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data drop across three micro-batches: days 1-15,
    then days 16-30 (advances the watermark and evicts/finalizes the day-1
    windows), then a replayed day-1 slice. Spark's guarantee is that late
    rows for EVICTED state are dropped (numRowsDroppedByWatermark) — the
    replay must neither duplicate emitted windows nor change their counts.
    Both properties are hash-checked: the oracle counts every event exactly
    once and keeps only windows closed under the final watermark, so a
    duplicated emission, a re-counted late row, or a leaked open window all
    break parity."""
    ev = load(spark, sf_dir, "events")

    def build(out: str) -> None:
        # stage all three micro-batches with ONE write job: tag each row
        # with its batch id(s) (day-1 rows belong to batch 0 AND the late
        # replay, batch 2) and write partitioned by the tag
        tags = F.when(
            F.dayofmonth("ts") == 1, F.array(F.lit(0), F.lit(2))
        ).otherwise(
            F.when(F.dayofmonth("ts") <= 15, F.array(F.lit(0))).otherwise(
                F.array(F.lit(1))
            )
        )
        (
            ev.withColumn("mb", F.explode(tags))
            .repartition("mb")
            .write.mode("overwrite")
            .partitionBy("mb")
            .parquet(out)
        )
        # file-source orders micro-batches by mod time; stamp it explicitly
        # instead of sleeping between writes
        base = time.time() - 60
        for i in range(3):
            for p in Path(f"{out}/mb={i}").rglob("*"):
                os.utime(p, (base + i, base + i))

    src = _staged(sf_dir, "stream_late_src", build)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/mb=*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return _run_to_memory(agg, "bdl_watermark_late", "append")


# --- stream_stateful_custom -------------------------------------------------

_STATEFUL_ORACLE = f"""
SELECT user_id, COUNT(*) AS n_events, {o_dsum("value", "sum_value")},
       MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def _stateful_update(key, pdfs, state):
    """Custom per-user state machine for applyInPandasWithState: exact
    int64 micro-unit sum + count + max-timestamp, updated per batch.
    Integer state keeps the emitted sum bit-identical to the quantized-sum
    oracle no matter how rows are batched."""
    import pandas as pd

    (user_id,) = key
    cnt, micro, last = state.get() if state.exists else (0, 0, None)
    for pdf in pdfs:
        cnt += len(pdf)
        micro += int(pdf["micro"].sum())
        batch_max = pdf["ts"].max()
        last = batch_max if last is None else max(last, batch_max)
    state.update((cnt, micro, last))
    # two-step conversion ON PURPOSE: the floor-quantized o_dsum oracle is
    # CAST(SUM(..) AS DOUBLE) / 1e6 — int->double rounding first, then an
    # IEEE divide — so the Python side mirrors exactly that op order
    # (a one-step Decimal(micro)/1e6 would diverge once |micro| >= 2^53)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [cnt],
            "sum_value": [float(micro) / MICRO],
            "last_ts": [last],
        }
    )


@query("stream_stateful_custom", oracle=_STATEFUL_ORACLE, tier=3)
def stream_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (the north-star
    ``applyInPandasWithState`` path): per-user count / exact sum / last-seen
    kept in typed group state across micro-batches. The stream pre-quantizes
    ``value`` to long micro-units JVM-side, so the Python state is pure
    int64 arithmetic and the final sum equals the batch quantized-sum oracle
    bit-for-bit — a full SQL oracle for a custom stateful operator.

    Scale: state is 3 scalars per user key, partitioned by the state-store
    hash; a watermark+timeout would bound key cardinality on an unbounded
    stream (not needed for the bounded replay here)."""
    ev = _read_stream_events(spark, sf_dir).select(
        "user_id",
        "ts",
        # precondition: |value| < ~9.2e12, else the micro-unit long
        # overflows (see the bound note in operators/windows.py
        # win_moving_avg_range). quantize_long is the same floor
        # quantization dsum plans, so the Python int state sums exactly
        # the units the o_dsum oracle sums.
        quantize_long("value").alias("micro"),
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _stateful_update,
        "user_id bigint, n_events bigint, sum_value double, last_ts timestamp",
        "cnt bigint, micro bigint, last timestamp",
        "update",
        "NoTimeout",
    )
    return _run_to_memory(out, "bdl_stateful_custom", "update")


# --- stream_dedup_watermark -------------------------------------------------


# Every event_id is unique in the fixture, so a correct dedup of the
# twice-delivered file yields exactly the per-type counts of the source
# table; a missed duplicate doubles a count and breaks the hash.
_DEDUP_WM_ORACLE = """
SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
"""


@query("stream_dedup_watermark", oracle=_DEDUP_WM_ORACLE, tier=3)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup within the watermark: the same export file arrives
    twice (the reference's re-emitted billing export); per-key state drops
    every second copy (rows of the replayed file are behind the watermark
    by then, so each is discarded as late or as a duplicate — either path
    keeps the count exact). Output == per-type counts of the source."""
    ev = load(spark, sf_dir, "events")

    def build(out: str) -> None:
        ev.coalesce(1).write.mode("overwrite").parquet(f"{out}/copy=0")
        # the re-emitted export is byte-identical; duplicate the file at
        # the OS level instead of running a second full write job
        part = next(Path(f"{out}/copy=0").glob("*.parquet"))
        dst = Path(f"{out}/copy=1")
        dst.mkdir()
        shutil.copy(part, dst / part.name)

    src = _staged(sf_dir, "stream_dedup_src", build)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/copy=*")
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return _run_to_memory(agg, "bdl_dedup_watermark", "complete")


# --- stream_join_static -----------------------------------------------------

_JOIN_STATIC_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")}
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@query("stream_join_static", oracle=_JOIN_STATIC_ORACLE, tier=3)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension (the loader's 'attach account metadata on ingest'
    step), then aggregates revenue per segment.

    Stream-static inner joins are stateless — each micro-batch hash-joins
    against the (re-scanned, broadcastable) static side, so no state store
    grows with the stream; only the downstream aggregate keeps state, and
    its key space (segments) is bounded. Result must equal the batch join
    oracle exactly (availableNow replay)."""
    ev = _read_stream_events(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )
    return _run_to_memory(agg, "bdl_join_static", "complete")


# --- stream_stream_join -----------------------------------------------------

_STREAM_JOIN_ORACLE = """
SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@query("stream_stream_join", oracle=_STREAM_JOIN_ORACLE, tier=3)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 1 hour of a view by
    the same user (attribution). Both sides carry a watermark and the join
    condition bounds event time on both ends, so Spark can evict buffered
    rows once the watermark passes view_ts + 1h — state is O(events in the
    watermark horizon), not O(stream). Inner time-interval joins are the
    only stream-stream form with provable state cleanup; the availableNow
    replay must equal the static self-join oracle exactly."""
    ev = _read_stream_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "view_ts", "purchase_ts", "purchase_value")
    return _run_to_memory(joined, "bdl_stream_stream_join", "append")


# --- stream_foreachbatch_sink -----------------------------------------------

# The reference's END-TO-END shape in one key: micro-batches of billing
# events land via foreachBatch into a date-partitioned parquet table with
# dynamic partition overwrite (the loader's idempotent ClickHouse insert),
# and the declared output is the aggregated READBACK of what actually
# landed — so a dropped batch, a double-applied batch, or a partition
# clobber all break the hash against the full-table oracle.
_FOREACHBATCH_ORACLE = f"""
SELECT CAST(day(ts) AS BIGINT) AS event_day,
       COUNT(*) AS n_events,
       {o_dsum("value", "sum_value")}
FROM events
GROUP BY event_day
"""


@query("stream_foreachbatch_sink", oracle=_FOREACHBATCH_ORACLE, tier=3)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch -> idempotent partitioned load (the reference's actual
    serverless load loop, Spark-first). Each micro-batch appends its rows
    into a day-partitioned parquet table; partition dirs give downstream
    scans the pruning axis, and per-batch writes are the unit a retry
    would re-apply (exactly-once via checkpoint + deterministic batch
    content here; MERGE/ReplacingMergeTree in a mutable store).

    Scale: foreachBatch is the only streaming sink that lets the loader
    reuse arbitrary BATCH writers (JDBC/ClickHouse/Delta) — state stays in
    the source checkpoint, the sink only ever sees one micro-batch."""
    from ..sources.connectors import scratch_dir

    out = scratch_dir(sf_dir, "foreachbatch_events")
    if os.path.isdir(out):
        shutil.rmtree(out)
    ev = _read_stream_events(spark, sf_dir)

    def _load_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("event_day", F.dayofmonth("ts"))
            .write.mode("append")
            .partitionBy("event_day")
            .parquet(out)
        )

    ckpt = tempfile.mkdtemp(prefix="bdl_ckpt_foreachbatch_")
    try:
        q = (
            ev.writeStream.foreachBatch(_load_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the batches have landed in `out`; the checkpoint is not reused
        shutil.rmtree(ckpt, ignore_errors=True)
    landed = spark.read.parquet(out)
    return landed.groupBy(
        F.col("event_day").cast("bigint").alias("event_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


# --- stream_transform_with_state --------------------------------------------

# Spark 4's transformWithStateInPandas: the successor to
# applyInPandasWithState with an object-oriented StatefulProcessor, typed
# state handles (ValueState/ListState/MapState), timers, and TTL. Here a
# ValueState carries per-user (count, min, max); the bounded replay emits
# each user's final state, so the batch groupBy oracle binds exactly.
# min/max/count involve no float arithmetic — no quantization needed.
_TWS_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY user_id
"""


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


class _MinMaxProcessor(StatefulProcessor):
    """StatefulProcessor with a single typed ValueState; requires the
    RocksDB state store provider, set per-query below."""

    def init(self, handle) -> None:
        self._st = handle.getValueState(
            "mm", "cnt BIGINT, mn DOUBLE, mx DOUBLE"
        )

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        cnt, mn, mx = self._st.get() if self._st.exists() else (0, None, None)
        for pdf in rows:
            cnt += len(pdf)
            bmn = float(pdf["value"].min())
            bmx = float(pdf["value"].max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        self._st.update((cnt, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its state-server
    protocol (pyspark/sql/streaming/proto imports google.protobuf at the
    driver worker); this container ships no protobuf and installs are
    not permitted, so the TWS path is capability-gated exactly like the
    ClickHouse JDBC writer (sources/clickhouse.py)."""
    import importlib.util

    # find_spec raises ModuleNotFoundError when the PARENT package is
    # absent, so probe the namespace package first
    return (
        importlib.util.find_spec("google") is not None
        and importlib.util.find_spec("google.protobuf") is not None
    )


def _minmax_state_update(key, pdfs, state):
    """applyInPandasWithState twin of _MinMaxProcessor.handleInputRows —
    same per-user (count, min, max) state machine, tuple-state API."""
    import pandas as pd

    cnt, mn, mx = state.get() if state.exists else (0, None, None)
    for pdf in pdfs:
        cnt += len(pdf)
        bmn = float(pdf["value"].min())
        bmx = float(pdf["value"].max())
        mn = bmn if mn is None else min(mn, bmn)
        mx = bmx if mx is None else max(mx, bmx)
    state.update((cnt, mn, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [cnt],
            "min_value": [mn],
            "max_value": [mx],
        }
    )


_TWS_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, min_value double, max_value double"
)


@query("stream_transform_with_state", oracle=_TWS_ORACLE, tier=3)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas``: per-user count/min/max in a
    typed ValueState, updated across micro-batches, on the RocksDB state
    store (the TWS backing-store contract, set per-query and restored).
    What TWS adds over applyInPandasWithState at 100 TB is state TTL and
    timers (expiring idle users without a full-state sweep) and state
    schema evolution across restarts.

    CAPABILITY GATE: this container has no protobuf (and no installs),
    which TWS's driver-worker protocol requires — probed explicitly by
    :func:`tws_available`, NOT caught-and-ignored. Where unavailable,
    the SAME state machine runs through ``applyInPandasWithState``
    (``_minmax_state_update`` mirrors ``_MinMaxProcessor``), so the
    declared semantics and the oracle bind identically; on a protobuf-
    equipped cluster the TWS branch is the one that runs."""
    ev = _read_stream_events(spark, sf_dir).select("user_id", "value")
    if tws_available():
        with conf_override(
            spark,
            {
                "spark.sql.streaming.stateStore.providerClass": (
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"
                )
            },
        ):
            out = ev.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=_MinMaxProcessor(),
                outputStructType=_TWS_OUT_SCHEMA,
                outputMode="Update",
                timeMode="None",
            )
            return _run_to_memory(out, "bdl_transform_with_state", "update")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _minmax_state_update,
        _TWS_OUT_SCHEMA,
        "cnt bigint, mn double, mx double",
        "update",
        "NoTimeout",
    )
    return _run_to_memory(out, "bdl_transform_with_state", "update")


# --- stream_bitmap_distinct ---------------------------------------------------

# Semantic oracle: exact distinct users per (hour, type) over the whole
# bounded replay — COUNT(DISTINCT) in batch SQL. The streaming side cannot
# run COUNT(DISTINCT) at all (non-algebraic: its state would be the raw key
# set); the bitmap words are the algebraic replacement.
_STREAM_BITMAP_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY window_start, event_type
"""


@query("stream_bitmap_distinct", oracle=_STREAM_BITMAP_ORACLE, tier=3)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per tumbling hour in a STREAM — the streaming
    payoff of agg_bitmap_distinct's mergeable bitmap state: Structured
    Streaming forbids COUNT(DISTINCT) in an aggregation because its state
    is the unbounded raw key set, but BIT_OR of packed bitmap words is
    algebraic (commutative, idempotent, fixed-width per word), so the
    state store keeps at most |key_space|/32 longs per (window, type) and
    every micro-batch merges in O(state). The streaming query maintains
    the (window, type, word) bitmap partials through availableNow replay
    + checkpoint; the declared result is the exact popcount rollup of the
    memory sink — the same rollup any reader of a persisted bitmap
    segment store runs, and it must equal batch COUNT(DISTINCT) exactly
    (bitmaps are exact, not a sketch; idempotent OR also makes the state
    replay-safe, unlike a COUNT which would double-count a redelivered
    row). At 100 TB this is how a stream serves "distinct customers this
    hour" without ever holding customer ids in state."""
    ev = _read_stream_events(spark, sf_dir)
    words = (
        ev.select(
            "ts",
            "event_type",
            F.expr("user_id >> 5").alias("word"),
            F.expr("shiftleft(1L, int(user_id % 32))").alias("bit"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type", "word")
        .agg(F.bit_or("bit").alias("bm"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "word",
            "bm",
        )
    )
    sink = _run_to_memory(words, "bdl_stream_bitmap", "complete")
    return sink.groupBy("window_start", "event_type").agg(
        F.sum(F.bit_count("bm")).alias("n_users")
    )


# --- scan_state_store ---------------------------------------------------------

# Oracle: the batch equivalent of the checkpointed aggregation — reading
# the state store back must reproduce exactly what a batch GROUP BY says
# (exactly-once state == batch semantics).
_STATE_STORE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(value * 1e2 + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS DOUBLE) / 1e2 AS sum_value
FROM events GROUP BY event_type
"""


def _ensure_state_coordinator(spark: SparkSession, sf_dir: str) -> None:
    """The ``statestore`` batch source resolves store locations through the
    session's StateStoreCoordinator RPC endpoint, which Spark creates only
    when a STATEFUL streaming query runs — a fresh session that merely
    READS a checkpoint fails with RpcEndpointNotFoundException (observed
    live). Run one trivial stateful availableNow stream per session
    (memoized on the session object) so the endpoint exists; sessions
    that just BUILT the staged checkpoint already ran one."""
    if getattr(spark, "_bdl_state_coordinator_ready", False):
        return
    warm = _read_stream_events(spark, sf_dir).groupBy().count()
    ckpt = tempfile.mkdtemp(prefix="bdl_ss_coord_")
    try:
        with conf_override(spark, {"spark.sql.shuffle.partitions": "1"}):
            q = (
                warm.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        # pure warm-up plumbing: unlike the staged state checkpoint this
        # dir has no reuse value — drop it or we leak one per session
        shutil.rmtree(ckpt, ignore_errors=True)
    spark._bdl_state_coordinator_ready = True


def _state_store_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture generation) a COMPLETED streaming-agg
    checkpoint whose state the reader key inspects. Staged through
    content_addressed_stage keyed on the events fixture, so warm runs
    read existing state files with zero streaming work; the state files
    are path-independent (the reader only walks state/<op>/<partition>),
    so the atomic tmp->final rename is safe."""
    from ..sources.connectors import content_addressed_stage

    def build(tmp: str) -> None:
        ev = _read_stream_events(spark, sf_dir)
        agg = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(quantize_long("value", 2)).alias("sum_cents"),
        )
        # a fixed 8, not the host's width: the staged checkpoint is keyed
        # on the fixture alone, so every host must build the same one
        with conf_override(spark, {"spark.sql.shuffle.partitions": "8"}):
            q = (
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", tmp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        spark._bdl_state_coordinator_ready = True

    return content_addressed_stage(
        sf_dir, "state_store_ckpt", build, table="events"
    )


@query("scan_state_store", oracle=_STATE_STORE_ORACLE, tier=3)
def scan_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER (Spark's ``statestore`` batch source): open a
    completed streaming aggregation's checkpoint and read the operator
    state itself as a DataFrame — the streaming-ops debugging surface
    (is a key leaking? what does the store hold for THIS group? why is
    state size growing?) that otherwise requires log archaeology. The
    declared result projects the state rows (key struct -> event_type,
    value struct -> the aggregation buffer our aliases named) back to
    analyst columns, and the oracle is the BATCH GROUP BY over the same
    source — reading internal state must reproduce exactly-once batch
    semantics, which is the whole correctness claim of checkpointed
    streaming aggregation.

    Shape: the checkpoint builds ONCE per fixture generation through the
    race-safe content-addressed staging (an availableNow replay into a
    noop sink — only the state files matter), then every invocation is a
    metadata-scale scan of state/<operator>/<partition> snapshot+delta
    files: O(distinct keys) rows, never the event stream. At 100 TB the
    read cost is the live key cardinality — the state store IS the
    pre-aggregated table."""
    ckpt = _state_store_checkpoint(spark, sf_dir)
    _ensure_state_coordinator(spark, sf_dir)
    st = spark.read.format("statestore").load(ckpt)
    # the state VALUE holds the aggregation BUFFER with the internal
    # function names (count, sum) — output aliases never reach the store.
    # Those names are PRIVATE to Spark's streaming-agg state layout and
    # may rename across upgrades: assert them up front so an upgrade
    # breaks loudly here, not as an unresolved-column error downstream.
    value_fields = [f.name for f in st.schema["value"].dataType.fields]
    if value_fields != ["count", "sum"]:
        raise RuntimeError(
            "statestore value schema changed: expected internal streaming"
            f"-agg buffer fields ['count', 'sum'], got {value_fields} — "
            "Spark's state layout renamed across an upgrade; re-derive "
            "the projection in scan_state_store from the new buffer."
        )
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        (F.col("value.sum").cast("double") / 1e2).alias("sum_value"),
    )


# --- stream_outer_join_watermark --------------------------------------------

# LEFT OUTER stream-stream interval join: every view emits — joined to
# the purchases inside its 1-hour window, or null-padded once the
# watermark PROVES no match can still arrive. The oracle mirrors the
# final-watermark algebra: at availableNow completion the global
# watermark is min(max event time per side) - delay, and an unmatched
# view emits iff its window end (view_ts + 1h) is behind it; views still
# inside the horizon stay in state and never emit (right-censoring is
# the semantic, not a bug). Null padding is COALESCEd to sentinels so
# every declared cell stays flat and typed.
_OUTER_JOIN_ORACLE = """
WITH v AS (
  SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
), p AS (
  SELECT user_id AS p_user_id, ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT max(view_ts) FROM v),
               (SELECT max(purchase_ts) FROM p))
         - INTERVAL 1 HOUR AS wm
)
SELECT v.user_id, v.view_ts,
       1 AS matched,
       p.purchase_ts,
       p.purchase_value
FROM v JOIN p
  ON v.user_id = p.p_user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.user_id, v.view_ts,
       0 AS matched,
       TIMESTAMP '1970-01-01 00:00:00' AS purchase_ts,
       CAST(-1 AS DOUBLE) AS purchase_value
FROM v, wm
WHERE v.view_ts + INTERVAL 1 HOUR < wm.wm
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.p_user_id = v.user_id
      AND p.purchase_ts >= v.view_ts
      AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
  )
"""


@query("stream_outer_join_watermark", oracle=_OUTER_JOIN_ORACLE, tier=3)
def stream_outer_join_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the attribution shape
    where NON-conversion is also an answer: every view joins the
    purchases in its 1-hour window, and a view with no purchase emits a
    null-padded row once the watermark passes its window end (before
    that, a match could still arrive, so outer results are inherently
    watermark-gated — the part of outer-join semantics batch engines
    never surface). Views whose window is still inside the final
    watermark horizon stay in state and never emit; the oracle encodes
    exactly that right-censoring via the min-of-side-maxima watermark
    algebra, so the hash binds Spark's eviction boundary to the
    documented semantics. Null padding is COALESCEd to typed sentinels
    (epoch / -1) so the declared cells stay flat.

    State scales with the watermark horizon on both sides (the same
    cleanup bound as the inner form); the no-data final micro-batch
    (Spark's noDataMicroBatches) is what flushes the last outer rows at
    availableNow completion."""
    ev = _read_stream_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "leftOuter",
    ).select(
        "user_id",
        "view_ts",
        F.when(F.col("purchase_ts").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("matched"),
        F.coalesce(
            F.col("purchase_ts"),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("purchase_ts"),
        F.coalesce(F.col("purchase_value"), F.lit(-1.0)).alias(
            "purchase_value"
        ),
    )
    return _run_to_memory(joined, "bdl_stream_outer_join", "append")


# --- stream_chained_windows -------------------------------------------------

# Chained time-window aggregation (SPARK-40925, 3.4+): the second
# groupBy windows over the FIRST aggregation's window struct column —
# the two-tier rollup (15-min partials -> hourly finals) a streaming
# pipeline uses so late data only ever reopens a 15-min pane while
# dashboards read the hourly tier. Batch form here (the
# stream_tumbling_1h stance); the declared semantics are identical
# under readStream. Value sums ride integer micro-units through the
# tiers (the quantize_long streaming pattern) and divide ONCE at the
# hourly grain.
_CHAINED_ORACLE = """
WITH lvl1 AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS w15, event_type,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CAST(floor(value * 1e6 + CAST(0.5 AS DOUBLE))
                       AS BIGINT)) AS BIGINT) AS micro1
  FROM events GROUP BY 1, 2
)
SELECT time_bucket(INTERVAL '1 hour', w15) AS hour_start, event_type,
       CAST(SUM(n1) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_subwindows,
       CAST(SUM(micro1) AS DOUBLE) / 1e6 AS sum_value
FROM lvl1
GROUP BY 1, 2
"""


@query("stream_chained_windows", oracle=_CHAINED_ORACLE, tier=3)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained time-window aggregation (SPARK-40925): groupBy
    ``window(ts, '15 minutes')`` then re-window the RESULT's window
    struct with ``window(w, '1 hour')`` — the two-tier streaming rollup
    where late data reopens only its 15-minute pane and the hourly tier
    re-aggregates closed panes (state per tier stays bounded by panes,
    not events). Spark analyzes the second ``window()`` over a window
    STRUCT column specially (TimeWindow on windowed data), which is the
    API surface this key pins; the batch form declared here has
    identical semantics to the readStream form (the stream_tumbling_1h
    stance) and the emitted n_subwindows column audits pane coverage
    (<= 4 per hour).

    Exactness: counts exact; value sums carry integer micro-units
    through BOTH tiers (the quantize_long streaming micro-unit pattern
    — re-aggregating per-tier doubles would compound rounding) and
    divide once at the hourly grain.

    Shape: two keyed aggregates, the second over the O(panes) frame —
    the first is the only data-sized exchange, and map-side partials
    apply at both tiers. At 100 TB this is the canonical streaming
    two-tier rollup plan."""
    ev = load(spark, sf_dir, "events")
    lvl1 = ev.groupBy(
        F.window("ts", "15 minutes").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(quantize_long("value")).alias("micro1"),
    )
    lvl2 = lvl1.groupBy(
        F.window("w", "1 hour").alias("w2"), "event_type"
    ).agg(
        F.sum("n1").cast("long").alias("n_events"),
        F.count(F.lit(1)).alias("n_subwindows"),
        (F.sum("micro1").cast("double") / F.lit(MICRO)).alias(
            "sum_value"
        ),
    )
    return lvl2.select(
        F.col("w2.start").alias("hour_start"),
        "event_type",
        "n_events",
        "n_subwindows",
        "sum_value",
    )
