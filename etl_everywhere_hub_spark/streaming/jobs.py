"""Structured Streaming jobs (SURVEY.md §2.B streaming table).

The reference's webhook entry point is an unbounded stream of
single-record deliveries (/root/reference/task.ts:103-163); its device
cache is keyed state with TTL (task.ts:145-149,251-256). Here those
semantics run as Structured Streaming queries; each has a batch twin
so streaming results are verifiable against the DuckDB oracle via
deterministic replay (file source + Trigger.AvailableNow).

Scale posture: event-time windows + watermarks bound state (the
reference's RetentionDuration is exactly a 60-min lateness horizon);
the stateful device cache shuffles once on the key and holds one row
per device — state size is O(devices), not O(events).
"""

from __future__ import annotations

import shutil
import tempfile
import weakref
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from etl_everywhere_hub_spark.session import configure_session

_sink_counter = 0

# events.parquet's schema per session and path: reading it is a one-task
# Spark job that every stream_events call would otherwise repeat. Keyed
# weakly by the session object, like catalog._TABLE_MEMO.
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, StructType]]" = (
    weakref.WeakKeyDictionary()
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a replayed stream (deterministic: one file,
    AvailableNow processes it to completion).

    The parquet stream source requires a directory, so the single file
    is exposed through a temp dir symlink (no copy). ts becomes
    TIMESTAMP (not NTZ) because watermarks require it; the session is
    pinned to UTC so wall-clock values still match the oracle.
    """
    import hashlib
    import os

    configure_session(spark)
    # Deterministic per sf_dir: a checkpoint pins the source path, so a
    # fresh mkdtemp per call would break checkpoint resume with
    # "Wrong basePath" (found by the resume probe in verification).
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"ee_stream_src_{key}")
    os.makedirs(d, exist_ok=True)
    link = f"{d}/events.parquet"
    path = f"{sf_dir}/events.parquet"
    if not os.path.exists(link):
        os.symlink(path, link)
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    if path not in memo:
        memo[path] = spark.read.parquet(path).schema
    s = spark.readStream.schema(memo[path]).parquet(d)
    if dict(s.dtypes).get("ts") == "bigint":
        s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def populate_events_broker(sf_dir: str, num_partitions: int = 4) -> str:
    """Materialize events.parquet into the file-backed Kafka broker
    emulation (sources/kafka_shim.py) once per sf_dir — the producer
    side a real deployment replaces with actual Kafka producers. Key =
    user_id (keyed routing: one user's events stay in-order within one
    partition, Kafka's per-key ordering guarantee), value = the event
    as a JSON document, broker timestamp = event time. Idempotent AND
    crash-safe (VERDICT r6 item #5): logs are written into a
    process-private temp dir with a _COMPLETE marker last, then
    atomically renamed into place — a crash mid-populate can never
    leave a half-written broker that a rerun would append duplicate
    offsets into (write_broker_log opens logs in append mode), and a
    stale partial dir from a crashed writer is discarded."""
    import glob
    import hashlib
    import json as _json
    import os
    import shutil

    import duckdb

    from etl_everywhere_hub_spark.sources.kafka_shim import write_broker_log

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"ee_kafka_broker_{key}")
    marker = os.path.join(d, "_COMPLETE")
    # clean up orphaned scratch dirs from crashed writers (a crash
    # between write_broker_log and the rename below leaves {d}.tmp-pid
    # behind forever) — but never a live concurrent writer's
    for stale in glob.glob(f"{d}.tmp-*") + glob.glob(f"{d}.stale-*"):
        try:
            pid = int(stale.rsplit("-", 1)[1])
            os.kill(pid, 0)  # raises if the owner is gone
        except (ValueError, ProcessLookupError):
            shutil.rmtree(stale, ignore_errors=True)
        except PermissionError:
            pass  # pid exists under another uid: leave it
    if os.path.exists(marker):
        return d
    if os.path.exists(d):
        # Partial state from a crashed writer — but between the marker
        # check above and removal, a concurrent populate may have
        # renamed a COMPLETE dir into place (the TOCTOU in ADVICE r7).
        # Rename-to-quarantine first: rename is atomic against the
        # concurrent tmp->d rename, so whichever dir we actually grab
        # can be inspected at leisure, and a COMPLETE dir is never
        # destroyed.
        quarantine = f"{d}.stale-{os.getpid()}"
        try:
            os.rename(d, quarantine)
        except OSError:
            pass  # a concurrent writer already replaced or removed it
        else:
            if os.path.exists(os.path.join(quarantine, "_COMPLETE")):
                # we grabbed a concurrently-completed dir: put it back
                # (or drop ours if yet another complete dir won d)
                try:
                    os.rename(quarantine, d)
                except OSError:
                    shutil.rmtree(quarantine)
                return d
            shutil.rmtree(quarantine)
    if os.path.exists(marker):
        return d
    con = duckdb.connect()
    rows = con.sql(
        "SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type,"
        " value, props"
        f" FROM '{sf_dir}/events.parquet'"
        " ORDER BY ts_ms, event_id"
    ).fetchall()

    def records():
        for event_id, ts_ms, user_id, event_type, value, props in rows:
            doc = _json.dumps(
                {
                    "event_id": event_id,
                    "user_id": user_id,
                    "event_type": event_type,
                    "value": value,
                    "props": props,
                    "ts_ms": ts_ms,
                }
            )
            k = str(user_id) if user_id is not None else None
            yield k, doc, ts_ms

    tmp = f"{d}.tmp-{os.getpid()}"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write_broker_log(records(), tmp, "events", num_partitions)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write("ok\n")
    try:
        os.rename(tmp, d)  # atomic: readers see nothing or everything
    except OSError:
        # a concurrent populate won the rename; its dir is complete
        shutil.rmtree(tmp)
    return d


EVENT_VALUE_SCHEMA = (
    "event_id long, user_id long, event_type string, value double, "
    "props string, ts_ms long"
)


def stream_events_kafka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q47-q50 event stream through the Kafka wire contract: read
    format('everywhere_kafka') (binary key/value + topic/partition/
    offset/timestamp), deserialize the value JSON, rebuild event-time
    from the payload — EXACTLY the consumer code a production job runs
    against format('kafka'); only the format name and bootstrap
    servers differ. Returns the same schema as stream_events, so every
    downstream job (tumbling window, dedup, stateful cache) runs
    unchanged on either transport."""
    from etl_everywhere_hub_spark.sources.kafka_shim import (
        register_everywhere_kafka,
    )

    configure_session(spark)
    register_everywhere_kafka(spark)
    d = populate_events_broker(sf_dir)
    raw = (
        spark.readStream.format("everywhere_kafka")
        .option("path", d)
        .option("subscribe", "events")
        .load()
    )
    ev = F.from_json(F.col("value").cast("string"), EVENT_VALUE_SCHEMA).alias("e")
    return raw.select(ev).select(
        F.col("e.event_id").alias("event_id"),
        F.expr("timestamp_millis(e.ts_ms)").alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def run_to_table(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain a (bounded) stream into a memory sink and return the result.

    Trigger.AvailableNow + awaitTermination → deterministic contents. The
    session is left as it was found: the shuffle-partition clamp below is
    undone and the sink's temp view is dropped (the returned frame is
    already resolved against the sink's data).
    """
    global _sink_counter
    _sink_counter += 1
    name = f"stream_sink_{_sink_counter}"
    # Stateful streaming exchanges bypass AQE coalescing and freeze the
    # partition count into the checkpoint, so a session left at the 200
    # default pays 200 state-store tasks per micro-batch regardless of
    # volume. Clamp to 4× parallelism (skew headroom) before start; the
    # count is fixed once the query has started, so the caller's value
    # comes back after stop. A cluster deployment sizes this via
    # SPARK_SHUFFLE_PARTITIONS.
    spark = stream_df.sparkSession
    cap = 4 * spark.sparkContext.defaultParallelism
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    if int(parts) > cap:
        spark.conf.set("spark.sql.shuffle.partitions", str(cap))
    # Nothing resumes this checkpoint (the sink is an in-memory table
    # drained in one call), so it is deleted once the query has stopped.
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        if int(parts) > cap:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def tumbling_window_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time window aggregation with watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 1_000_000 + 0.5)) / 1_000_000.0).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_counts(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n",
        )
    )


def session_window_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows (30-min inactivity gap) per user — streaming twin
    of the batch gaps-and-islands sessionization (queries.q29)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once by event_id within the watermark horizon — the
    streaming analogue of the poll source's latestPositionOnly dedup."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])


# --- stateful device cache (reference R10-R12, verbatim semantics) ---

DEVICE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def stateful_device_cache(events: DataFrame) -> DataFrame:
    """Keyed last-write-wins cache (task.ts:145-149): one state row per
    device, holding its newest event by (ts, event_id), emitted in
    update mode after each micro-batch that touches the device.

    Newest-by-a-total-order is a max, so the state is Spark's own
    streaming aggregate (``max_by`` in the state store) and no Python
    worker runs. A null ts orders below every non-null ts, as in the
    batch ``latest_per_key``; rows tied on both ts and event_id have no
    defined winner. Output columns follow DEVICE_OUTPUT_SCHEMA."""
    latest = F.max_by(
        F.struct("event_id", "ts", "event_type", "value"),
        F.struct("ts", "event_id"),
    )
    return (
        events.groupBy("user_id")
        .agg(latest.alias("latest"))
        .select(
            "user_id",
            "latest.event_id",
            F.col("latest.ts").cast("timestamp_ntz").alias("ts"),
            "latest.event_type",
            "latest.value",
        )
    )


# --- full tracks pipeline state (reference §3.1 webhook path) ---

TRACK_STATE_SCHEMA = StructType(
    [
        StructField("msg_id", LongType()),
        StructField("time_ms", LongType()),  # nullable: reference keeps null-time rows in cache
        StructField("callsign", StringType()),
        StructField("cot_type", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ]
)

TRACK_OUTPUT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("msg_id", LongType()),
        StructField("time_ms", LongType()),
        StructField("callsign", StringType()),
        StructField("cot_type", StringType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ]
)


def _track_cache_fn(retention_ms: int, use_timeout: bool):
    """Builder for the per-key state function: last-write-wins by
    delivery order (msg_id — the reference processes webhooks in
    arrival order, task.ts:148); with ``use_timeout`` the state row is
    dropped on processing-time timeout (the RetentionDuration capacity
    bound, task.ts:57)."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        (fid,) = key
        if use_timeout and state.hasTimedOut:
            state.remove()
            return
        best = state.get if state.exists else None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                if best is None or int(row.msg_id) > best[0]:
                    t = None if pd.isna(row.time_ms) else int(row.time_ms)
                    best = (
                        int(row.msg_id),
                        t,
                        row.callsign,
                        row.cot_type,
                        float(row.lon),
                        float(row.lat),
                    )
        if best is not None:
            state.update(best)
            if use_timeout:
                state.setTimeoutDuration(retention_ms)
            yield pd.DataFrame(
                {
                    "id": [fid],
                    "msg_id": [best[0]],
                    "time_ms": [best[1]],
                    "callsign": [best[2]],
                    "cot_type": [best[3]],
                    "lon": [best[4]],
                    "lat": [best[5]],
                }
            )

    return fn


def stateful_track_cache(
    features: DataFrame,
    retention_ms: int = 3_600_000,
    use_timeout: bool = False,
) -> DataFrame:
    """The reference's device cache on the tracks schema as streaming
    state: input = flattened feature rows (id, msg_id, time_ms,
    callsign, cot_type, lon, lat); output = current cache row per id,
    update mode.

    ``use_timeout=True`` evicts quiet devices' state via
    ProcessingTimeTimeout — the capacity bound for LIVE deployments.
    Bounded replays (AvailableNow) keep the default NoTimeout: with
    timers armed, the query schedules wall-clock batches to fire them
    and never terminates. Event-time TTL at emission stays the
    caller's filter (operators.windows.ttl_filter), matching
    task.ts:251-256 where eviction happens at read-out."""
    return features.groupBy("id").applyInPandasWithState(
        _track_cache_fn(retention_ms, use_timeout),
        outputStructType=TRACK_OUTPUT_SCHEMA,
        stateStructType=TRACK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def flatten_features_for_state(features: DataFrame) -> DataFrame:
    """GeoJSON features (pipeline.tracks.transform_features output) →
    the flat row shape the state function consumes."""
    return features.select(
        "id",
        "msg_id",
        F.col("properties").getField("time_ms").alias("time_ms"),
        F.col("properties").getField("callsign").alias("callsign"),
        F.col("properties").getField("type").alias("cot_type"),
        F.element_at(F.col("geometry").getField("coordinates"), 1).alias("lon"),
        F.element_at(F.col("geometry").getField("coordinates"), 2).alias("lat"),
    )


def stream_stream_click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the preceding hour (time-interval condition).

    Both sides carry watermarks, and the interval bound gives Spark a
    state eviction horizon on BOTH buffers — without it a stream-stream
    join's state grows unboundedly (the planner rejects it in append
    mode). State is O(events within watermark+interval), not O(stream).
    Derived from one source stream (self-join on a stream is planned as
    two buffered sides)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "p_user", "purchase_id", "p_ts", "click_id", "c_ts"
    )


def stream_events_with_flush(
    spark: SparkSession, sf_dir: str, flush_ts: str = "2024-06-01 00:00:00"
) -> DataFrame:
    """events stream plus ONE far-future 'flush' sentinel row in its
    own replay dir (never the shared stream_events dir — the sentinel
    must not leak into other streaming queries' results).

    Why: outer stream-stream joins emit unmatched rows only once the
    GLOBAL watermark (min over both sides' watermark nodes) passes
    their join horizon. A bounded file replay ends with the watermark
    ~delay behind max event time, so the trailing window of unmatched
    rows would be withheld forever and stream==batch would silently
    fail. The sentinel advances both sides' event-time clocks past all
    real data; callers route it through their watermark nodes and then
    filter it out (event_type = 'flush') before joining. This is the
    bounded-replay analogue of a production stream's continuing flow —
    it forces the flush the next real event would cause.
    """
    import hashlib
    import os

    configure_session(spark)
    key = hashlib.md5(f"{sf_dir}:flush:{flush_ts}".encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"ee_stream_src_{key}")
    os.makedirs(d, exist_ok=True)
    link = f"{d}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    marker = f"{d}/sentinel.parquet"
    if not os.path.exists(marker):
        if dict(batch.dtypes).get("ts") == "bigint":
            ts_val = F.unix_micros(
                F.lit(flush_ts).cast("timestamp")
            ) * 1000  # epoch nanos, matching the nanosAsLong physical type
        else:
            ts_val = F.lit(flush_ts).cast(dict(batch.dtypes)["ts"])
        # user_id = -1, NOT NULL: InferFiltersFromConstraints adds
        # isnotnull(user) below the outer join's inner side and pushes
        # it under the watermark node — a NULL-user sentinel would be
        # dropped there and never advance the purchase-side clock
        sent = batch.limit(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            ts_val.alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("flush").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        # the file stream source lists the dir non-recursively, so the
        # sentinel must be a sibling FILE of events.parquet: write to a
        # scratch dir and move the single part file into place
        import glob
        import shutil

        scratch = tempfile.mkdtemp(prefix="ee_flush_")
        sent.coalesce(1).write.mode("overwrite").parquet(scratch)
        (part,) = glob.glob(f"{scratch}/part-*.parquet")
        shutil.move(part, marker)
        shutil.rmtree(scratch, ignore_errors=True)
    s = spark.readStream.schema(batch.schema).parquet(d)
    if dict(s.dtypes).get("ts") == "bigint":
        s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


def stream_stream_click_purchase_left_outer(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, matched to
    the same user's purchases in the FOLLOWING hour, or emitted with
    nulls once the watermark proves no such purchase can still arrive.
    The other half of the q271 surface — outer emission is the part
    with real streaming semantics (Spark buffers the left row until
    global watermark > its horizon, then emits the null-padded row
    exactly once).

    The 'flush' sentinel rides through BOTH withWatermark nodes so both
    event-time clocks pass all real data. It is NOT filtered inside the
    streaming plan — Catalyst pushes deterministic predicates BELOW
    EventTimeWatermark, which would drop the sentinel before it ever
    advances the clock (found empirically: the watermark froze at
    last-click − delay). Instead the sentinel carries the reserved id
    user_id = -1 (deliberately NOT NULL — InferFiltersFromConstraints
    would add an IsNotNull below the watermark and drop it; see
    stream_events_with_flush). The sentinel CAN therefore join its own
    purchase-side twin; callers drop every click_id = -1 emission AFTER
    the drain, batch-side, where no streaming pushdown applies. This
    requires the event fixture's user_id domain to exclude -1 (the
    generator emits non-negative ids; asserted by the equivalence
    test) — a real -1 user would be silently conflated with the
    sentinel. Its own unmatched-left emission horizon
    (sentinel_ts + interval + delay) is beyond the final watermark, so
    it parks in state — by design.
    State: both buffers bounded by watermark delay + interval."""
    clicks = (
        events.filter(F.col("event_type").isin("click", "flush"))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        events.filter(F.col("event_type").isin("purchase", "flush"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return clicks.join(purchases, cond, "leftOuter").select(
        "c_user", "click_id", "c_ts", "purchase_id", "p_ts"
    )


def _track_cache_event_fn(retention_ms: int):
    """Event-time-TTL state function: last-write-wins upsert, timeout
    timestamp pinned to last_time + retention so the WATERMARK (data
    time), not wall clock, drives eviction — the streaming-native
    spelling of `time < now - retention` (task.ts:252) with `now` =
    watermark. Null-time rows coalesce to epoch 0 at the watermark
    column, which is never above the watermark — Spark's late-data
    gate drops them BEFORE the state operator, so they never create
    state at all: the reference's epoch-0 rule (null time ⇒ never in
    the cache) enforced at admission, with zero state churn. On
    timeout a TOMBSTONE row
    (msg_id = -last_msg_id, cot_type = 'evicted') is emitted: CDC-style
    retraction so an upsert sink can delete the key."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        (fid,) = key
        if state.hasTimedOut:
            best = state.get if state.exists else None
            state.remove()
            if best is not None:
                yield pd.DataFrame(
                    {
                        "id": [fid],
                        "msg_id": [-best[0]],
                        "time_ms": [best[1]],
                        "callsign": [best[2]],
                        "cot_type": ["evicted"],
                        "lon": [best[4]],
                        "lat": [best[5]],
                    }
                )
            return
        best = state.get if state.exists else None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                if best is None or int(row.msg_id) > best[0]:
                    t = None if pd.isna(row.time_ms) else int(row.time_ms)
                    best = (
                        int(row.msg_id),
                        t,
                        row.callsign,
                        row.cot_type,
                        float(row.lon),
                        float(row.lat),
                    )
        if best is not None:
            state.update(best)
            state.setTimeoutTimestamp((best[1] or 0) + retention_ms)
            yield pd.DataFrame(
                {
                    "id": [fid],
                    "msg_id": [best[0]],
                    "time_ms": [best[1]],
                    "callsign": [best[2]],
                    "cot_type": [best[3]],
                    "lon": [best[4]],
                    "lat": [best[5]],
                }
            )

    return fn


def stateful_track_cache_event_ttl(
    features: DataFrame,
    retention_ms: int = 3_600_000,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Device cache with EVENT-TIME TTL: state is evicted when the
    watermark passes last_time + retention. Unlike the processing-time
    variant this is deterministic under replay (data decides, not the
    wall clock) and exactly mirrors the reference's data-time eviction
    predicate. Requires ≥2 micro-batches for timers to fire (the
    watermark only advances between batches). Note the two eviction
    paths: aged-out devices get a tombstone (they WERE cached); null-
    time rows are dropped at the late-data gate and never appear."""
    feats = features.withColumn(
        "event_ts", F.timestamp_millis(F.coalesce(F.col("time_ms"), F.lit(0)))
    ).withWatermark("event_ts", watermark)
    return feats.groupBy("id").applyInPandasWithState(
        _track_cache_event_fn(retention_ms),
        outputStructType=TRACK_OUTPUT_SCHEMA,
        stateStructType=TRACK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Any fixture table as a replayed stream (same symlink-dir
    pattern as stream_events; no timestamp rescue — callers needing
    watermarks use stream_events)."""
    import hashlib
    import os

    configure_session(spark)
    key = hashlib.md5(f"{sf_dir}:{name}".encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"ee_stream_src_{key}")
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{name}.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{name}.parquet", link)
    batch_schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return spark.readStream.schema(batch_schema).parquet(d)


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n", LongType()),
        StructField("last_ts", LongType()),
        StructField("last_eid", LongType()),
    ]
)


def stateful_ewma(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Per-entity EWMA as STREAMING per-key scalar state — the O(1)
    state twin of q164's batch array fold (same recursion, same
    doubles): each micro-batch sorts its rows by (ts, event_id),
    folds them into the carried scalar, and emits the running value.
    Late rows older than the carried position are DROPPED (an EWMA is
    order-defined; reordering inside a micro-batch is fine, across
    batches is not) — the count output makes any drop visible to the
    equivalence test rather than silent. Emits in update style: the
    latest (user, n, ewma) per batch."""

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            ew, n, lts, leid = state.get
        else:
            ew, n, lts, leid = None, 0, -1, -1
        rows = []
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                rows.append((int(r.ts_ms), int(r.event_id), float(r.value)))
        rows.sort()
        for ts_ms, eid, v in rows:
            if (ts_ms, eid) <= (lts, leid):
                continue  # out-of-order across batches: dropped, visible via n
            ew = v if ew is None else alpha * v + (1.0 - alpha) * ew
            n += 1
            lts, leid = ts_ms, eid
        state.update((ew, n, lts, leid))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [ew]}
        )

    src = events.select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "event_id",
        "value",
    )
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GEOFENCE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ms", LongType()),
        StructField("transition", StringType()),
    ]
)

_GEOFENCE_STATE_SCHEMA = StructType(
    [
        StructField("inside", IntegerType()),
        StructField("last_ts", LongType()),
        StructField("last_eid", LongType()),
    ]
)


def streaming_geofence_transitions(
    events: DataFrame, dropped_acc=None
) -> DataFrame:
    """Geofence ENTER/EXIT alerts as STREAMING per-entity state — the
    O(1)-state twin of q211's batch lag: state is ONE bit (last inside
    flag) plus the stream position; each micro-batch accumulates all
    chunks, sorts by (ts, event_id) — the batch-split invariant — and
    emits a row exactly when the flag changes. Rows at or before the
    carried position are dropped (order-defined semantics, same
    contract as stateful_ewma). The loss is OBSERVABLE, not silent:
    pass ``dropped_acc`` (a SparkContext accumulator) and every
    cross-batch out-of-order row increments it — operators alert on
    it instead of discovering the gap via the downstream hash gate.
    (Accumulator caveat: task RETRIES re-increment, so the count is
    at-least-once — an alerting signal, not an exact ledger; exact
    accounting would ride the state schema.)
    Geometry is the identical deterministic point-in-circle
    predicate, so stream == batch row-for-row under ORDERED file
    replay (monotone-replay test: test_streaming.py geofence
    out-of-order case)."""

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            inside, lts, leid = state.get
            inside = None if inside == -1 else inside  # -1 encodes "no flag yet"
        else:
            inside, lts, leid = None, -1, -1
        rows = []
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                rows.append((int(r.ms), int(r.event_id), int(r.inside)))
        rows.sort()
        out = []
        for ms, eid, ins in rows:
            if (ms, eid) <= (lts, leid):
                if dropped_acc is not None:
                    dropped_acc.add(1)
                continue
            if inside is not None and ins != inside:
                out.append(
                    (int(key[0]), eid, ms, "ENTER" if ins == 1 else "EXIT")
                )
            inside = ins
            lts, leid = ms, eid
        state.update((inside if inside is not None else -1, lts, leid))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "ms", "transition"]
        )

    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    hr = F.floor(ms / F.lit(3600000))
    x = (F.col("user_id") % 19).cast("double") + hr % 13
    y = (F.col("user_id") % 23).cast("double") + hr % 11
    inside = F.when(
        (x - 12.0) * (x - 12.0) + (y - 14.0) * (y - 14.0) <= 36.0, 1
    ).otherwise(0)
    src = events.select(
        "user_id", "event_id", ms.alias("ms"), inside.alias("inside")
    )
    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=GEOFENCE_SCHEMA,
        stateStructType=_GEOFENCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BALANCE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_moves", LongType()),
        StructField("final_balance_cents", LongType()),
        StructField("peak_balance_cents", LongType()),
    ]
)

_BALANCE_STATE_SCHEMA = StructType(
    [
        StructField("balance", LongType()),
        StructField("peak", LongType()),
        StructField("n", LongType()),
        StructField("last_ms", LongType()),
        StructField("last_eid", LongType()),
    ]
)


def stateful_floored_balance(moves: DataFrame) -> DataFrame:
    """Floored running balance S_t = max(0, S_{t-1} + x_t) as STREAMING
    per-key scalar state — the genuinely sequential execution of the
    recurrence whose batch twin (queries.q242) computes the SAME
    numbers from the Lindley/Skorokhod closed form in two window
    passes. Three-way agreement contract: this stream == the identity
    == the recursive-CTE oracle. State is three int64 scalars plus the
    (ms, event_id) position; each micro-batch sorts its rows and folds
    (same order contract as stateful_ewma — exact integers here, so
    agreement is bit-exact, not tolerance). Expects columns
    (user_id, ms, event_id, delta); emits update-style running
    (n_moves, final, peak) per batch."""

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            bal, peak, n, lms, leid = state.get
        else:
            bal, peak, n, lms, leid = 0, 0, 0, -1, -1
        rows = []
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                rows.append((int(r.ms), int(r.event_id), int(r.delta)))
        rows.sort()
        for ms, eid, delta in rows:
            if (ms, eid) <= (lms, leid):
                continue  # cross-batch late arrival: order-defined drop
            bal = max(0, bal + delta)
            peak = max(peak, bal)
            n += 1
            lms, leid = ms, eid
        state.update((bal, peak, n, lms, leid))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_moves": [n],
                "final_balance_cents": [bal],
                "peak_balance_cents": [peak],
            }
        )

    return moves.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=BALANCE_SCHEMA,
        stateStructType=_BALANCE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MG_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("cands", StringType()),
    ]
)

_MG_STATE_SCHEMA = StructType(
    [
        StructField("toks", StringType()),
        StructField("cnts", StringType()),
        StructField("seq", LongType()),
    ]
)

_MG_SEP = "\x1f"


def stateful_misra_gries(toks: DataFrame, k_counters: int = 256) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter CANDIDATE maintenance — the
    stateful twin of operators/sketches.py:misra_gries_candidates.
    Input: (shard, tok) rows, shard = pmod(md5(tok), n_shards), so
    every occurrence of a token lands in ONE shard's state and the
    classic MG bound applies per shard: total decrement over a shard's
    stream of N_s items is <= N_s/(k+1), hence any token with GLOBAL
    count C > N/threshold_den (threshold_den <= 100 < k+1, and
    C > N/100 >= N_s/100 > N_s/(k+1)) holds a positive counter at
    every point after its last arrival — the candidate superset
    guarantee survives streaming, regardless of how skewed the shard
    sizes are.

    State per shard is the bounded counter map serialized as two
    \\x1f-joined strings (<= k entries) plus a batch sequence number;
    each micro-batch folds its pandas value_counts in and trims with
    the mergeable-summaries step. Emits the current candidate list per
    batch (update mode); the consumer keeps the latest per shard and
    runs the exact phase-2 count — stream == batch result equality is
    then EXACT (sketches.heavy_hitters_verify), not approximate."""

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            toks_s, cnts_s, seq = state.get
            counters = (
                dict(
                    zip(
                        toks_s.split(_MG_SEP),
                        (int(c) for c in cnts_s.split(_MG_SEP)),
                    )
                )
                if toks_s
                else {}
            )
        else:
            counters, seq = {}, 0
        for pdf in pdfs:
            vc = pdf["tok"].value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k_counters:
                cut = sorted(counters.values(), reverse=True)[k_counters]
                counters = {v: c - cut for v, c in counters.items() if c - cut > 0}
        seq += 1
        state.update(
            (
                _MG_SEP.join(counters.keys()),
                _MG_SEP.join(str(c) for c in counters.values()),
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "shard": [int(key[0])],
                "seq": [seq],
                "cands": [_MG_SEP.join(counters.keys())],
            }
        )

    return toks.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=MG_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------- near-dup
NEAR_DUP_SCHEMA = StructType(
    [
        StructField("band", LongType()),
        StructField("band_key", StringType()),
        StructField("doc_id", LongType()),
        StructField("owner", LongType()),
    ]
)

_NEAR_DUP_STATE_SCHEMA = StructType([StructField("min_doc", LongType())])


def streaming_band_keys(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band, band_key) rows, streaming-safe. Thin shape
    adapter over streaming/neardup.py's row-local LSH math
    (rowwise_signatures + band_keys — ONE implementation of the
    stream-side signature/banding, byte-identical to the batch
    operator and q41's oracle); this module's bucket-claim state op
    (streaming_near_dup) wants just the three key columns."""
    from etl_everywhere_hub_spark.streaming.neardup import (
        band_keys,
        rowwise_signatures,
    )

    sigs = rowwise_signatures(docs, text_col, id_col, k, num_hashes)
    bk = band_keys(sigs, id_col, num_hashes, bands)
    return bk.select(
        F.col(id_col).alias("doc_id"),
        F.col("band").cast("long").alias("band"),
        "band_key",
    )


def _near_dup_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    ids: list = []
    for pdf in pdfs:
        ids.extend(int(d) for d in pdf["doc_id"])
    ids.sort()
    prev = int(state.get[0]) if state.exists else None
    running = prev
    owners = []
    for d in ids:
        owners.append(running)
        if running is None or d < running:
            running = d
    state.update((running,))
    yield pd.DataFrame(
        {
            "band": [int(key[0])] * len(ids),
            "band_key": [str(key[1])] * len(ids),
            "doc_id": ids,
            "owner": pd.array(owners, dtype="Int64"),
        }
    )


def streaming_near_dup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection: the online twin of
    operators/dedup.py:minhash_near_dup's banding stage, for the
    ingest-time "have we seen this before?" gate a 100 TB pipeline
    runs on arriving documents instead of re-running corpus-wide
    batch dedup.

    Shape: band keys row-locally JVM-side (streaming_band_keys),
    then ONE stateful operator — applyInPandasWithState keyed on
    (band, band_key), state = the smallest doc id that ever claimed
    the bucket (one long per live bucket, the minimal state that
    answers membership). Each emitted row carries the bucket owner
    BEFORE the doc's own claim, so with in-order arrival (the
    replayed-table sources here; a real deployment keys arrival
    order however it defines precedence) a doc is a near-dup
    candidate iff some emitted owner < its id — exactly q41's
    band-collision semantics, restated per-doc.

    State scale: one row per DISTINCT band bucket = bands ×
    #distinct signatures — bounded by corpus size, not stream
    length; boilerplate clusters of any size cost ONE bucket row.
    Emission is linear in arriving docs (bands rows each); no
    candidate-pair blowup ever materializes in the stream."""
    bk = streaming_band_keys(docs, text_col, id_col, k, num_hashes, bands)
    return bk.groupBy("band", "band_key").applyInPandasWithState(
        _near_dup_fn,
        outputStructType=NEAR_DUP_SCHEMA,
        stateStructType=_NEAR_DUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
