"""Streaming = batch equivalence (SURVEY.md §5 item 3) plus streaming
pieces not covered by registry queries q47-q50."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_everywhere_hub_spark.operators.windows import latest_per_key
from etl_everywhere_hub_spark.pipeline.tracks import (
    everywhere_item_schema,
    transform_features,
)
from etl_everywhere_hub_spark.sources import readers
from etl_everywhere_hub_spark.streaming import jobs


def test_sliding_window_stream_equals_batch(spark, sf_dir):
    s = jobs.stream_events(spark, sf_dir)
    streamed = jobs.run_to_table(jobs.sliding_window_counts(s), "complete").toPandas()

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.withColumn("ts", F.expr("timestamp_micros(ts div 1000)")) if dict(e.dtypes).get("ts") == "bigint" else e
    batch = (
        e.groupBy(F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n",
        )
        .toPandas()
    )
    key = ["window_start", "window_end", "user_id", "n"]
    assert sorted(map(tuple, streamed[key].values.tolist())) == sorted(
        map(tuple, batch[key].values.tolist())
    )


def test_webhook_replay_stream_pipeline(spark, tmp_path):
    """End-to-end §3.1: JSON webhook deliveries → schema-validated stream
    → feature transform → drain → keyed latest. The streaming result
    must equal the batch pipeline on the same deliveries."""
    def delivery(msg_id, entity, t, emergency=False):
        return {"msg_id": msg_id, "converterId": "c", "deviceId": entity * 10,
                "teamId": 1, "entityId": entity, "deviceType": "t",
                "name": f"N{entity}", "alias": None, "source": "s",
                "trackPoint": {"time": t, "direction": 0, "inboundMessageId": 1,
                "isEmergency": emergency, "source": None,
                "point": {"x": 1.0 * entity, "y": 2.0 * entity}, "alertsList": None}}

    rows = [delivery(1, 1, 1_700_000_000_000), delivery(2, 1, 1_700_000_060_000),
            delivery(3, 2, 1_700_000_030_000, emergency=True)]
    (tmp_path / "batch1.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    stream = readers.webhook_replay_stream(spark, str(tmp_path), everywhere_item_schema())
    feats_stream = transform_features(stream, path="webhook")
    drained = jobs.run_to_table(feats_stream)
    stream_latest = {
        r["id"]: r["msg_id"] for r in latest_per_key(drained, ["id"], "msg_id").collect()
    }

    batch = readers.read_json_validated(spark, str(tmp_path), everywhere_item_schema())
    feats_batch = transform_features(batch, path="webhook")
    batch_latest = {
        r["id"]: r["msg_id"] for r in latest_per_key(feats_batch, ["id"], "msg_id").collect()
    }
    assert stream_latest == batch_latest == {"inreach-1": 2, "inreach-2": 3}


def test_tracks_stateful_pipeline_end_to_end(spark, tmp_path):
    """SURVEY §3.1 complete, streaming-stateful: JSON webhook replay →
    schema validation → feature transform → applyInPandasWithState
    device cache with TTL timeout → TTL read-out filter. Must equal the
    batch device_cache_snapshot on the same deliveries."""
    import json as _json

    from etl_everywhere_hub_spark.operators.windows import ttl_filter
    from etl_everywhere_hub_spark.pipeline.tracks import device_cache_snapshot

    now_ms = 1_700_000_000_000

    def delivery(msg_id, entity, t, emergency=False, alias=None):
        return {"msg_id": msg_id, "converterId": "c", "deviceId": entity * 10,
                "teamId": 1, "entityId": entity, "deviceType": "t",
                "name": f"N{entity}", "alias": alias, "source": "s",
                "trackPoint": {"time": t, "direction": 0, "inboundMessageId": 1,
                "isEmergency": emergency, "source": None,
                "point": {"x": 1.0 * entity, "y": 2.0 * entity}, "alertsList": None}}

    rows = [
        delivery(1, 1, now_ms - 60_000),
        delivery(2, 1, now_ms - 30_000),          # entity 1: newer wins
        delivery(3, 2, now_ms - 10_000, True),    # emergency
        delivery(4, 3, now_ms - 7_200_000),       # stale → evicted at read-out
        delivery(5, 4, None),                     # null time → evicted
    ]
    (tmp_path / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = readers.webhook_replay_stream(spark, str(tmp_path), everywhere_item_schema())
    feats = jobs.flatten_features_for_state(transform_features(stream, path="webhook"))
    emitted = jobs.run_to_table(jobs.stateful_track_cache(feats), output_mode="update")
    latest = latest_per_key(emitted, ["id"], "msg_id")
    snapshot = ttl_filter(
        latest.withColumn("t", F.timestamp_millis(F.col("time_ms"))), "t", now_ms, 3_600_000
    )
    got = {r["id"]: (r["msg_id"], r["cot_type"], r["callsign"]) for r in snapshot.collect()}

    batch = readers.read_json_validated(spark, str(tmp_path), everywhere_item_schema())
    expected_df = device_cache_snapshot(transform_features(batch, "webhook"), now_ms)
    expected = {
        r["id"]: (r["msg_id"], r["properties"]["type"], r["properties"]["callsign"])
        for r in expected_df.collect()
    }
    assert got == expected
    assert set(got) == {"inreach-1", "inreach-2"}
    assert got["inreach-1"][0] == 2  # last write won
    assert got["inreach-2"][1] == "b-a-o-tbl"  # emergency CoT


def test_rate_source_smoke(spark):
    """Rate(-micro-batch) source: the stream-test generator from SURVEY
    §2.B sources — deterministic rows (value 0..n) with event time."""
    import time

    s = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .option("numPartitions", 2)
        .load()
    )
    q = (
        s.writeStream.format("memory")
        .queryName("rate_sink")
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        for _ in range(120):
            if spark.table("rate_sink").count() >= 10:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    out = spark.table("rate_sink")
    assert set(out.columns) == {"timestamp", "value"}
    vals = {r["value"] for r in out.collect()}
    assert set(range(10)) <= vals


def test_upsert_sink_checkpoint_restart(spark, tmp_path):
    """Kill/restart recovery on the snapshot sink: run the stream over
    delivery file 1 with a checkpoint and stop; drop file 2 (including
    a newer update for an existing key and an older, late row that must
    LOSE last-write-wins); restart with the SAME checkpoint. The file
    source must resume from the checkpoint (only the new file), and the
    final snapshot must equal a single batch pass over everything —
    no duplicates, no lost updates, idempotent on replay."""
    import json as _json

    from etl_everywhere_hub_spark.pipeline.tracks import (
        everywhere_item_schema,
        transform_features,
    )
    from etl_everywhere_hub_spark.streaming.sinks import upsert_snapshot_sink

    def delivery(msg_id, entity, t):
        return {"msg_id": msg_id, "converterId": "c", "deviceId": entity * 10,
                "teamId": 1, "entityId": entity, "deviceType": "t",
                "name": f"N{entity}", "alias": None, "source": "s",
                "trackPoint": {"time": t, "direction": 0, "inboundMessageId": 1,
                "isEmergency": False, "source": None,
                "point": {"x": 1.0 * entity, "y": 2.0 * entity}, "alertsList": None}}

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = readers.webhook_replay_stream(
            spark, str(in_dir), everywhere_item_schema()
        )
        q = upsert_snapshot_sink(
            transform_features(stream, path="webhook"),
            state, ["id"], "properties.time_ms", "msg_id", ckpt,
        )
        q.awaitTermination(120)

    batch1 = [delivery(1, 1, 1_700_000_000_000), delivery(2, 2, 1_700_000_030_000)]
    (in_dir / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in batch1))
    run_once()
    snap1 = {r["id"]: r["msg_id"] for r in spark.read.parquet(state).collect()}
    assert snap1 == {"inreach-1": 1, "inreach-2": 2}

    # newer update for entity 1, late (older) row for entity 2, new entity 3
    batch2 = [delivery(3, 1, 1_700_000_060_000), delivery(4, 2, 1_700_000_000_000),
              delivery(5, 3, 1_700_000_010_000)]
    (in_dir / "b2.jsonl").write_text("\n".join(_json.dumps(r) for r in batch2))
    run_once()
    snap2 = {r["id"]: r["msg_id"] for r in spark.read.parquet(state).collect()}
    assert snap2 == {"inreach-1": 3, "inreach-2": 2, "inreach-3": 5}


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (purchase ⋈ preceding-hour clicks)
    must produce exactly the batch join's pairs on the same events."""
    s = jobs.stream_stream_click_purchase_join(jobs.stream_events(spark, sf_dir))
    streamed = jobs.run_to_table(s)
    got = {(r["purchase_id"], r["click_id"]) for r in streamed.collect()}

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(e.dtypes).get("ts") == "bigint":
        e = e.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        e = e.withColumn("ts", F.col("ts").cast("timestamp"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")))
    want = {(r["purchase_id"], r["click_id"]) for r in p.join(c, cond).collect()}
    assert got == want and len(want) > 0


def test_transform_with_state_equals_legacy_state_api(spark, sf_dir):
    """The Spark-4 StatefulProcessor cache (transformWithStateInPandas)
    must produce the same final latest-per-key as both the legacy
    applyInPandasWithState cache and the batch window formulation.

    transformWithState's state-server protocol needs protobuf, which
    this container lacks — skip (not xfail: the processor is exercised
    on any cluster with protobuf present)."""
    import importlib.util
    import pytest as _pytest

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        _pytest.skip(
            "transformWithStateInPandas needs the google.protobuf runtime "
            "(pyspark.sql.streaming.proto.StateMessage_pb2 raises "
            "ModuleNotFoundError: No module named 'google'). Vendoring was "
            "re-attempted 2026-08-14: `pip download protobuf` fails with DNS "
            "resolution errors (no network in the container) and no wheel "
            "exists on disk; a hand-written google.protobuf runtime shim "
            "would have to reimplement descriptor_pool/message serialization "
            "against Spark's JVM wire format — out of scope. The processor "
            "runs unmodified on any cluster with protobuf installed."
        )
    s = jobs.stream_events(spark, sf_dir)
    tw = jobs.run_to_table(jobs.twstate_device_cache(s), output_mode="update")
    tw_latest = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in latest_per_key(tw, ["user_id"], "ts", "event_id").collect()
    }

    e = jobs.stream_events(spark, sf_dir)
    legacy = jobs.run_to_table(jobs.stateful_device_cache(e), output_mode="update")
    legacy_latest = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in latest_per_key(legacy, ["user_id"], "ts", "event_id").collect()
    }

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    batch_latest = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in latest_per_key(
            ev.select("user_id", "event_id", "ts", "event_type", "value"),
            ["user_id"], "ts", "event_id",
        ).collect()
    }
    assert tw_latest == legacy_latest == batch_latest
    assert len(tw_latest) > 0


def test_event_time_ttl_cache_evicts_by_watermark(spark, tmp_path):
    """Event-time TTL device cache: eviction driven by the WATERMARK
    (data time), not wall clock — deterministic under replay. A stale
    device is tombstoned once later data advances the watermark past
    its time+retention; a null-time device (epoch-0 rule) is dropped
    at the late-data gate and never enters the cache at all; a fresh
    device survives."""
    import json as _json
    import os

    t0 = 1_700_000_000_000
    hour = 3_600_000

    def row(msg_id, dev, t):
        return {"id": f"inreach-{dev}", "msg_id": msg_id, "time_ms": t,
                "callsign": f"N{dev}", "cot_type": "a-f-G-U-U-S-X",
                "lon": 1.0, "lat": 2.0}

    batches = [
        [row(1, 1, t0), row(2, 2, t0), row(3, 4, None)],
        [row(4, 1, t0 + 2 * hour)],           # advances wm to t0 after b1
        [row(5, 5, t0 + 2 * hour + 1000)],    # advances wm to t0+2h after b2
    ]
    for i, rows in enumerate(batches):
        p = tmp_path / f"b{i}.jsonl"
        p.write_text("\n".join(_json.dumps(r) for r in rows))
        os.utime(p, (1_000_000 + i, 1_000_000 + i))  # force processing order

    schema = ("id string, msg_id long, time_ms long, callsign string, "
              "cot_type string, lon double, lat double")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    out = jobs.run_to_table(
        jobs.stateful_track_cache_event_ttl(stream, retention_ms=hour),
        output_mode="update",
    )
    rows = out.collect()
    tombstones = {r["id"] for r in rows if r["cot_type"] == "evicted"}
    updates = {r["id"] for r in rows if r["cot_type"] != "evicted"}
    assert tombstones == {"inreach-2"}
    # null-time device 4 was late-dropped at admission: no state, no rows
    assert updates == {"inreach-1", "inreach-2", "inreach-5"}
    # the fresh device's latest update survived un-evicted
    dev1 = [r for r in rows if r["id"] == "inreach-1"]
    assert max(r["msg_id"] for r in dev1) == 4


def test_streaming_near_dup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming MinHash-LSH near-dup detection must find exactly the
    batch pipeline's candidate pairs with identical signature
    similarities, regardless of how the stream is batched."""
    from etl_everywhere_hub_spark.operators import dedup as D
    from etl_everywhere_hub_spark.streaming import neardup as ND

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    # map-only signatures == batch groupBy signatures, bit for bit
    row_sigs = {
        r["doc_id"]: tuple(r["sig"]) for r in ND.rowwise_signatures(docs).collect()
    }
    batch_sigs = {
        r["doc_id"]: tuple(r[f"m{s}"] for s in range(8))
        for r in D.minhash_signatures(D.doc_shingles(docs)).collect()
    }
    assert row_sigs == batch_sigs and len(row_sigs) > 0

    # batch ground truth: LSH candidate pairs + signature similarity
    sigs_df = D.minhash_signatures(D.doc_shingles(docs))
    want = {}
    for r in D.lsh_candidate_pairs(sigs_df).collect():
        sa, sb = batch_sigs[r["a"]], batch_sigs[r["b"]]
        want[(r["a"], r["b"])] = sum(x == y for x, y in zip(sa, sb)) / 8.0

    # stream the same docs in two files (split by parity)
    import pandas as pd_

    pdf = docs.toPandas()
    for i, part in enumerate([pdf[pdf.doc_id % 2 == 0], pdf[pdf.doc_id % 2 == 1]]):
        part.to_json(tmp_path / f"d{i}.jsonl", orient="records", lines=True)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    drained = jobs.run_to_table(
        ND.streaming_near_dup_pairs(stream), output_mode="append"
    )
    got = {
        (r["a"], r["b"]): r["sig_sim"]
        for r in drained.dropDuplicates(["a", "b"]).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_proximity_equals_batch_grid_join(spark, sf_dir, tmp_path):
    """Streaming grid-cell proximity must emit exactly the batch
    grid-join's qualifying pairs (q127 semantics) with identical
    exact distances, regardless of how the stream is batched."""
    from etl_everywhere_hub_spark.queries import REGISTRY
    from etl_everywhere_hub_spark.streaming import jobs
    from etl_everywhere_hub_spark.streaming import proximity as PX

    # the q127 synthetic points (customer-derived, exact 2^-4 grids)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 48).cast("double") * 0.25
         + (F.col("c_custkey") % 7).cast("double") * 0.125).alias("lat"),
        ((F.col("c_custkey") % 96).cast("double") * 0.25
         + (F.col("c_custkey") % 11).cast("double") * 0.0625).alias("lon"),
    )
    want = {
        (r["id_a"], r["id_b"]): r["dist_sq"]
        for r in REGISTRY["q127_spatial_proximity_join"].spark(spark, sf_dir).collect()
    }

    pdf = pts.toPandas()
    for i, part in enumerate([pdf[pdf.id % 2 == 0], pdf[pdf.id % 2 == 1]]):
        part.to_json(tmp_path / f"p{i}.jsonl", orient="records", lines=True)
    stream = (
        spark.readStream.schema("id long, lat double, lon double")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path))
    )
    drained = jobs.run_to_table(
        PX.streaming_proximity_pairs(stream, radius=0.25), output_mode="append"
    )
    got = {
        (r["a"], r["b"]): r["dist_sq"]
        for r in drained.dropDuplicates(["a", "b"]).collect()
    }
    assert got == want and len(want) > 0


def test_stateful_ewma_carries_state_across_batches(spark, sf_dir, tmp_path):
    """q181's scalar state must survive micro-batch boundaries: the
    same events split into two TIME-ORDERED files (two micro-batches)
    must fold to the exact batch-EWMA values — the second batch
    continues from the carried (ewma, n, position) rather than
    restarting."""
    import pandas as pd_

    from etl_everywhere_hub_spark.streaming import jobs
    from etl_everywhere_hub_spark.operators.windows import latest_per_key

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    pdf = e.select("user_id", "ts", "event_id", "value").toPandas()
    cut = pdf["ts"].median().to_pydatetime()
    e4 = e.select("user_id", "ts", "event_id", "value")
    cut_col = F.lit(cut).cast(dict(e4.dtypes)["ts"])
    # two TIME-ORDERED spark-written files -> two micro-batches in
    # file-mtime order (written sequentially)
    e4.filter(F.col("ts") <= cut_col).coalesce(1).write.parquet(
        str(tmp_path / "b0")
    )
    e4.filter(F.col("ts") > cut_col).coalesce(1).write.parquet(
        str(tmp_path / "b1")
    )
    stream = (
        spark.readStream.schema(e4.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    out = jobs.run_to_table(jobs.stateful_ewma(stream), output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in latest_per_key(out, ["user_id"], "n_events").collect()
    }
    # batch reference: exact same fold over the fully-sorted track
    want = {}
    for uid, grp in pdf.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
        vals = list(grp["value"])
        ew = vals[0]
        for v in vals[1:]:
            ew = 0.2 * v + 0.8 * ew
        want[int(uid)] = (len(vals), ew)
    assert got == want and len(want) > 0


def test_streaming_proximity_checkpoint_restart(spark, tmp_path):
    """Kill/restart recovery for the cell-keyed proximity state: run
    over file 1 (entities A, B co-located) with a checkpoint, stop;
    drop file 2 (entity C near A; entity D far away); restart with the
    SAME checkpoint. The restarted query must resume from the file
    source checkpoint, recover the cell state (A and B are still
    residents), and emit exactly the new qualifying pairs — total
    emissions equal the batch answer over all four points."""
    import json as _json

    from etl_everywhere_hub_spark.streaming import proximity as PX

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema("id long, lon double, lat double")
            .json(str(in_dir))
        )
        q = (
            PX.streaming_proximity_pairs(stream, radius=0.25)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [{"id": 1, "lon": 1.0, "lat": 1.0}, {"id": 2, "lon": 1.1, "lat": 1.1}]
    (in_dir / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in b1))
    run_once()
    b2 = [{"id": 3, "lon": 0.9, "lat": 1.05}, {"id": 4, "lon": 50.0, "lat": 50.0}]
    (in_dir / "b2.jsonl").write_text("\n".join(_json.dumps(r) for r in b2))
    run_once()

    got = {
        (r["a"], r["b"]): round(r["dist_sq"], 12)
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch truth over all four points (r=0.25): (1,2) from run 1;
    # (1,3) and (2,3) from run 2 — state for 1 and 2 survived the restart
    want = {
        (1, 2): round(0.1**2 + 0.1**2, 12),
        (1, 3): round(0.1**2 + 0.05**2, 12),
        (2, 3): round(0.2**2 + 0.05**2, 12),
    }
    assert got == want


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing state fns."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_proximity_cell_fn_chunk_split_invariant():
    """ADVICE r3 (medium): a group split across pandas chunks in
    non-id order must still emit the pair — the resident's upsert has
    to be seen by the visitor regardless of chunk boundaries."""
    import pandas as pd

    from etl_everywhere_hub_spark.streaming.proximity import _cell_fn

    fn = _cell_fn(r2=0.25 * 0.25, max_cell=100, idle_timeout_ms=None)
    # entity 2 (visitor-ordered FIRST chunk), entity 1 (resident, second
    # chunk): per-chunk sorting would process 2 before 1 is upserted in
    # this cell and emit nothing.
    chunk_a = pd.DataFrame(
        {"id": [2], "lon": [0.05], "lat": [0.05], "resident": [True]}
    )
    chunk_b = pd.DataFrame(
        {"id": [1], "lon": [0.01], "lat": [0.01], "resident": [True]}
    )
    st = _FakeGroupState()
    out = list(fn((0, 0), iter([chunk_a, chunk_b]), st))
    assert len(out) == 1
    got = out[0].iloc[0]
    assert (got["a"], got["b"]) == (1, 2)


def test_proximity_cell_fn_visitor_evicts_stale_residency():
    """ADVICE r3 (low): an entity re-positioned into a neighboring cell
    sends a visitor row through its OLD home cell; that row must evict
    the stale resident position so later arrivals don't pair against a
    ghost."""
    import json as _json

    import pandas as pd

    from etl_everywhere_hub_spark.streaming.proximity import _cell_fn

    fn = _cell_fn(r2=0.25 * 0.25, max_cell=100, idle_timeout_ms=None)
    st = _FakeGroupState((_json.dumps({"7": [0.05, 0.05]}),))
    # entity 7's new position routes a VISITOR row through this cell
    visit = pd.DataFrame(
        {"id": [7], "lon": [0.30], "lat": [0.05], "resident": [False]}
    )
    list(fn((0, 0), iter([visit]), st))
    assert _json.loads(st.get[0]) == {}
    # and a later arrival near the ghost position emits nothing
    later = pd.DataFrame(
        {"id": [9], "lon": [0.06], "lat": [0.05], "resident": [True]}
    )
    out = list(fn((0, 0), iter([later]), st))
    assert out == []


def test_proximity_cell_fn_idle_timeout_drops_cell():
    """With idle_timeout_ms set, a timed-out invocation clears the
    cell's members and live invocations re-arm the timer."""
    import json as _json

    import pandas as pd

    from etl_everywhere_hub_spark.streaming.proximity import _cell_fn

    fn = _cell_fn(r2=1.0, max_cell=100, idle_timeout_ms=5000)
    st = _FakeGroupState((_json.dumps({"7": [0.05, 0.05]}),))
    st.hasTimedOut = True
    assert list(fn((0, 0), iter([]), st)) == []
    assert not st.exists
    # live path re-arms the processing-time timer
    st2 = _FakeGroupState()
    row = pd.DataFrame({"id": [1], "lon": [0.0], "lat": [0.0], "resident": [True]})
    list(fn((0, 0), iter([row]), st2))
    assert st2.timeout_set == 5000


def test_streaming_heavy_hitters_guarantee_across_batches(spark, sf_dir, tmp_path):
    """Sharded streaming Misra-Gries: after a two-micro-batch replay,
    every item whose TRUE in-shard frequency exceeds n_shard/k must
    appear in its shard's final candidate set (the MG guarantee lifts
    globally because sharding is by item), each count_lb must be a
    valid lower bound, and state stays bounded (< k items per shard).
    """
    from etl_everywhere_hub_spark.streaming.heavyhitters import (
        streaming_heavy_hitters,
    )

    k, shards = 8, 4
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    pdf = e.select("user_id", "ts").toPandas()
    cut = pdf["ts"].median().to_pydatetime()
    e2 = e.select("user_id", "ts")
    cut_col = F.lit(cut).cast(dict(e2.dtypes)["ts"])
    e2.filter(F.col("ts") <= cut_col).coalesce(1).write.parquet(str(tmp_path / "b0"))
    e2.filter(F.col("ts") > cut_col).coalesce(1).write.parquet(str(tmp_path / "b1"))
    stream = (
        spark.readStream.schema(e2.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    from etl_everywhere_hub_spark.streaming import jobs

    out = jobs.run_to_table(
        streaming_heavy_hitters(stream, "user_id", k=k, shards=shards),
        output_mode="update",
    ).toPandas()
    final = out[out.groupby("shard")["bseq"].transform("max") == out["bseq"]]

    # exact truth, same sharding
    truth = (
        e.select(
            F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(shards))
            .cast("int")
            .alias("shard"),
            F.col("user_id").cast("string").alias("item"),
        )
        .groupBy("shard", "item")
        .count()
        .toPandas()
    )
    n_shard = truth.groupby("shard")["count"].sum().to_dict()
    cands = {
        s: set(g["item"]) for s, g in final.groupby("shard")
    }
    lbs = {(r.shard, r.item): r.count_lb for r in final.itertuples()}
    missed = []
    for r in truth.itertuples():
        if r.count * k > n_shard[r.shard]:  # freq > n_shard/k
            if r.item not in cands.get(r.shard, set()):
                missed.append((r.shard, r.item, r.count))
    assert missed == [], f"MG guarantee violated: {missed}"
    for (s, item), lb in lbs.items():
        true_c = truth[(truth["shard"] == s) & (truth["item"] == item)]["count"]
        assert len(true_c) == 1 and lb <= int(true_c.iloc[0])
    assert final.groupby("shard")["item"].count().max() < k
    # final emission accounts every row of both batches
    assert final.groupby("shard")["n_shard"].first().to_dict() == {
        int(s): int(v) for s, v in n_shard.items()
    }


def test_streaming_geofence_equals_batch_transitions(spark, sf_dir, tmp_path):
    """Streaming geofence alerts (O(1)-bit state) must equal q211's
    batch lag row-for-row when the same events replay as two
    time-ordered micro-batches — including transitions that straddle
    the batch boundary (the carried inside flag)."""
    from etl_everywhere_hub_spark.queries import REGISTRY
    from etl_everywhere_hub_spark.streaming import jobs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    pdf = e.select("ts").toPandas()
    cut = pdf["ts"].median().to_pydatetime()
    e3 = e.select("user_id", "event_id", "ts")
    cut_col = F.lit(cut).cast(dict(e3.dtypes)["ts"])
    e3.filter(F.col("ts") <= cut_col).coalesce(1).write.parquet(str(tmp_path / "b0"))
    e3.filter(F.col("ts") > cut_col).coalesce(1).write.parquet(str(tmp_path / "b1"))
    stream = (
        spark.readStream.schema(e3.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    got = {
        (r["user_id"], r["event_id"], r["ms"], r["transition"])
        for r in jobs.run_to_table(
            jobs.streaming_geofence_transitions(stream), output_mode="append"
        ).collect()
    }
    want = {
        (r["user_id"], r["event_id"], r["ms"], r["transition"])
        for r in REGISTRY["q211_geofence_transitions"].spark(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_geofence_out_of_order_drop_is_observable(spark, sf_dir, tmp_path):
    """Cross-batch late arrivals are dropped BY CONTRACT — but the
    loss must be countable, not silent: replay the events stream with
    the LATER half first so every early row arrives behind the carried
    (ms, event_id) position, and assert the dropped accumulator saw
    them all. Ordered replay (the contract's precondition) must keep
    the accumulator at zero."""
    from etl_everywhere_hub_spark.streaming import jobs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = e.select("ts").toPandas()["ts"].median().to_pydatetime()
    e3 = e.select("user_id", "event_id", "ts")
    cut_col = F.lit(cut).cast(dict(e3.dtypes)["ts"])
    early = e3.filter(F.col("ts") <= cut_col)
    late = e3.filter(F.col("ts") > cut_col)
    # only users who APPEAR in the late batch carry state when the
    # early batch arrives — a user whose events are all early sees no
    # carried position and drops nothing (fixture-independence)
    n_expected = early.join(
        late.select("user_id").distinct(), "user_id", "left_semi"
    ).count()
    # reversed arrival order: name b0 = LATE half, b1 = EARLY half
    late.coalesce(1).write.parquet(str(tmp_path / "b0"))
    early.coalesce(1).write.parquet(str(tmp_path / "b1"))
    stream = (
        spark.readStream.schema(e3.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    acc = spark.sparkContext.accumulator(0)
    jobs.run_to_table(
        jobs.streaming_geofence_transitions(stream, dropped_acc=acc),
        output_mode="append",
    ).collect()
    assert acc.value == n_expected > 0

    # ordered replay: zero drops
    acc2 = spark.sparkContext.accumulator(0)
    stream2 = (
        spark.readStream.schema(e3.schema)
        .option("maxFilesPerTrigger", 2)
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    jobs.run_to_table(
        jobs.streaming_geofence_transitions(stream2, dropped_acc=acc2),
        output_mode="append",
    ).collect()
    assert acc2.value == 0


def test_stateful_floored_balance_carries_state_across_batches(spark, sf_dir, tmp_path):
    """The Lindley recurrence's streaming twin must carry (balance,
    peak, position) across micro-batch boundaries: replay the moves as
    two time-ordered batches and the final per-user numbers must equal
    the single-pass batch identity (q242) — bit-exact integer cents."""
    from etl_everywhere_hub_spark.operators.windows import latest_per_key
    from etl_everywhere_hub_spark.queries import REGISTRY
    from etl_everywhere_hub_spark.streaming import jobs

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(e.dtypes).get("ts") == "bigint":
        e = e.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    cut = e.select("ts").toPandas()["ts"].median().to_pydatetime()
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    moves = e.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("delta"),
    )
    cut_ms = int(cut.timestamp() * 1000)
    moves.filter(F.col("ms") <= cut_ms).coalesce(1).write.parquet(str(tmp_path / "b0"))
    moves.filter(F.col("ms") > cut_ms).coalesce(1).write.parquet(str(tmp_path / "b1"))
    stream = (
        spark.readStream.schema(moves.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(tmp_path))
    )
    drained = jobs.run_to_table(
        jobs.stateful_floored_balance(stream), output_mode="update"
    )
    got = {
        r["user_id"]: (r["n_moves"], r["final_balance_cents"], r["peak_balance_cents"])
        for r in latest_per_key(drained, ["user_id"], "n_moves").collect()
    }
    want = {
        r["user_id"]: (r["n_moves"], r["final_balance_cents"], r["peak_balance_cents"])
        for r in REGISTRY["q242_floored_running_balance"].spark(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_stream_misra_gries_survives_aggressive_trimming(spark, sf_dir):
    """With k_counters forced far below the candidate-rich regime the
    MG state trims constantly; the phase-2-verified result must STILL
    equal the plain exact groupBy/HAVING — the superset guarantee is
    what streaming correctness rides on (k=64 > threshold_den=50)."""
    from pyspark.sql import functions as F

    from etl_everywhere_hub_spark.functions.hashing import md5_long
    from etl_everywhere_hub_spark.operators.sketches import heavy_hitters_verify
    from etl_everywhere_hub_spark.streaming import jobs as stream_jobs

    s = stream_jobs.stream_table(spark, sf_dir, "documents")
    toks_s = s.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).select(
        F.pmod(md5_long(F.col("tok")), F.lit(8)).cast("long").alias("shard"),
        "tok",
    )
    out = stream_jobs.run_to_table(
        stream_jobs.stateful_misra_gries(toks_s, k_counters=64),
        output_mode="update",
    )
    from etl_everywhere_hub_spark.operators.windows import latest_per_key

    latest = latest_per_key(out, ["shard"], "seq")
    cands = (
        latest.filter(F.col("cands") != "")
        .select(F.explode(F.split(F.col("cands"), "\x1f")).alias("tok"))
        .distinct()
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    got = heavy_hitters_verify(toks, "tok", cands, threshold_den=50)
    n = toks.count()
    want = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 50 > F.lit(n))
    )
    got_rows = {(r.tok, r.cnt) for r in got.collect()}
    want_rows = {(r.tok, r.cnt) for r in want.collect()}
    assert got_rows == want_rows and len(want_rows) > 0


def test_stream_left_outer_emits_unmatched_after_flush(spark, sf_dir):
    """The left-outer stream-stream join must emit BOTH matched rows
    and null-padded unmatched clicks — the latter only exist if the
    flush sentinel advanced both watermark nodes past the data (the
    q299 mechanism). Also: the sentinel itself must never surface."""
    from etl_everywhere_hub_spark.streaming import jobs

    # the flush sentinel rides as user_id = -1; the mechanism silently
    # conflates a real -1 user with the sentinel, so pin the fixture's
    # domain here (generator emits non-negative ids only)
    from etl_everywhere_hub_spark.catalog import load_table as _lt

    assert (
        _lt(spark, sf_dir, "events").filter(F.col("user_id") < 0).count() == 0
    ), "events fixture must not contain negative user_id (sentinel reserve)"

    s = jobs.stream_events_with_flush(spark, sf_dir)
    out = jobs.run_to_table(jobs.stream_stream_click_purchase_left_outer(s))
    matched = out.filter(
        (F.col("click_id") != -1) & F.col("purchase_id").isNotNull()
    ).count()
    unmatched = out.filter(
        (F.col("click_id") != -1) & F.col("purchase_id").isNull()
    ).count()
    assert matched > 0 and unmatched > 0
    # the very last click in event time must be present (the row a
    # missing flush would withhold)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from etl_everywhere_hub_spark.catalog import load_table

    evt = load_table(spark, sf_dir, "events")
    last_click = (
        evt.filter(F.col("event_type") == "click")
        .orderBy(F.col("ts").desc())
        .select("event_id")
        .first()[0]
    )
    assert out.filter(F.col("click_id") == last_click).count() >= 1


def test_kafka_shim_batch_wire_contract(spark, tmp_path):
    """format('everywhere_kafka') batch read must expose EXACTLY the
    Kafka source schema (key/value binary, topic, partition, offset,
    timestamp, timestampType), dense per-partition offsets from 0,
    key-stable routing, and Kafka's startingOffsets/endingOffsets
    option grammar."""
    from etl_everywhere_hub_spark.sources.kafka_shim import (
        KAFKA_SCHEMA,
        register_everywhere_kafka,
        write_broker_log,
    )

    register_everywhere_kafka(spark)
    d = str(tmp_path / "broker")
    recs = [(f"k{i % 5}", f"payload-{i}", 1_700_000_000_000 + i * 1000)
            for i in range(40)]
    counts = write_broker_log(iter(recs), d, "t1", num_partitions=3)
    assert sum(counts.values()) == 40

    df = (spark.read.format("everywhere_kafka")
          .option("path", d).option("subscribe", "t1").load())
    assert df.schema == KAFKA_SCHEMA
    rows = df.collect()
    assert len(rows) == 40
    # dense offsets per partition, starting at 0
    by_part = {}
    for r in rows:
        by_part.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))
    # key-stable routing: every key lives in exactly one partition
    key_parts = {}
    for r in rows:
        key_parts.setdefault(bytes(r["key"]), set()).add(r["partition"])
    assert all(len(ps) == 1 for ps in key_parts.values())
    assert all(r["topic"] == "t1" and r["timestampType"] == 0 for r in rows)
    # offset-range pushdown via the Kafka option grammar
    import json as _json

    start = {"t1": {str(p): 1 for p in by_part}}
    end = {"t1": {str(p): 2 for p in by_part}}
    sliced = (spark.read.format("everywhere_kafka")
              .option("path", d).option("subscribe", "t1")
              .option("startingOffsets", _json.dumps(start))
              .option("endingOffsets", _json.dumps(end)).load())
    assert {(r["partition"], r["offset"]) for r in sliced.collect()} == {
        (p, 1) for p in by_part
    }
    # keyword offsets: 'latest' start = empty tail (NOT earliest —
    # round-6 fix), explicit 'earliest'/'latest' = the full log
    empty = (spark.read.format("everywhere_kafka")
             .option("path", d).option("subscribe", "t1")
             .option("startingOffsets", "latest").load())
    assert empty.count() == 0
    full = (spark.read.format("everywhere_kafka")
            .option("path", d).option("subscribe", "t1")
            .option("startingOffsets", "earliest")
            .option("endingOffsets", "latest").load())
    assert full.count() == 40


def test_kafka_shim_stream_equals_batch_q47_q49(spark, sf_dir):
    """VERDICT r5 #6 done-gate: the q47 tumbling-window and q49
    streaming-dedup jobs, run through the Kafka wire contract
    (binary value → from_json → event time), must produce exactly
    what the same logic computes in batch over events.parquet. The
    consumer code is transport-agnostic: swapping the shim for a real
    broker changes only the format name + bootstrap option."""
    from etl_everywhere_hub_spark.streaming import jobs

    s = jobs.stream_events_kafka(spark, sf_dir)

    # q47 shape: tumbling 1h window counts, complete mode
    got47 = jobs.run_to_table(
        jobs.tumbling_window_counts(s), output_mode="complete"
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    want47 = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 1_000_000 + 0.5)) / 1_000_000.0
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    g = {
        (r["window_start"], r["event_type"], r["n"], round(r["total_value"], 6))
        for r in got47.collect()
    }
    w = {
        (r["window_start"], r["event_type"], r["n"], round(r["total_value"], 6))
        for r in want47.collect()
    }
    assert g == w and len(g) > 0

    # q49 shape: streaming dropDuplicates(event_id) then per-user rollup
    s2 = jobs.stream_events_kafka(spark, sf_dir)
    deduped = jobs.run_to_table(jobs.streaming_dedup(s2))
    got49 = {
        (r["user_id"], r["n"])
        for r in deduped.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want49 = {
        (r["user_id"], r["n"])
        for r in ev.groupBy("user_id")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    assert got49 == want49 and len(got49) > 0


def test_kafka_shim_offsets_resume_without_spark(tmp_path):
    """The stream reader's offset contract, unit-tested directly:
    initialOffset covers every TopicPartition, read() returns only
    records past the given offsets and advances them, new records
    appended between micro-batches are picked up exactly once, and
    readBetweenOffsets (checkpoint replay) is deterministic."""
    from etl_everywhere_hub_spark.sources.kafka_shim import (
        EverywhereKafkaStreamReader,
        write_broker_log,
    )

    d = str(tmp_path / "broker")
    write_broker_log(
        iter([("a", "v1", 1000), ("b", "v2", 2000), ("a", "v3", 3000)]),
        d, "t", num_partitions=2,
    )
    r = EverywhereKafkaStreamReader({"path": d, "subscribe": "t"})
    start = r.initialOffset()
    assert set(start) == {"t-0", "t-1"} and all(v == 0 for v in start.values())

    rows1, off1 = r.read(start)
    vals1 = sorted(bytes(t[1]).decode() for t in rows1)
    assert vals1 == ["v1", "v2", "v3"]
    assert sum(off1.values()) == 3

    # nothing new → empty batch, offsets unchanged
    rows2, off2 = r.read(off1)
    assert list(rows2) == [] and off2 == off1

    # append between micro-batches → exactly the new record
    write_broker_log(iter([("a", "v4", 4000)]), d, "t", num_partitions=2)
    rows3, off3 = r.read(off1)
    assert [bytes(t[1]).decode() for t in rows3] == ["v4"]
    assert sum(off3.values()) == 4

    # checkpoint replay between committed offsets is deterministic
    replay = [bytes(t[1]).decode() for t in r.readBetweenOffsets(off1, off3)]
    assert replay == ["v4"]
    replay_all = sorted(
        bytes(t[1]).decode() for t in r.readBetweenOffsets(start, off3)
    )
    assert replay_all == ["v1", "v2", "v3", "v4"]


def test_kafka_shim_out_of_range_offsets_data_loss_semantics(spark, tmp_path):
    """Real-source parity for out-of-range offsets (VERDICT r6 item
    #5): an explicit starting/ending offset beyond the log end is data
    loss — the default failOnDataLoss=true RAISES (the shim previously
    returned silently empty), failOnDataLoss=false clamps to the
    available range. The stream reader applies the same rule to a
    checkpointed offset beyond the log end (broker truncation)."""
    import json as _json

    import pytest

    from etl_everywhere_hub_spark.sources.kafka_shim import (
        EverywhereKafkaStreamReader,
        register_everywhere_kafka,
        write_broker_log,
    )

    register_everywhere_kafka(spark)
    d = str(tmp_path / "broker")
    write_broker_log(
        iter([(f"k{i}", f"v{i}", 1000 + i) for i in range(6)]),
        d, "t", num_partitions=1,
    )  # log end = 6

    def batch(start=None, end=None, fail=None):
        rd = (spark.read.format("everywhere_kafka")
              .option("path", d).option("subscribe", "t"))
        if start is not None:
            rd = rd.option("startingOffsets", _json.dumps({"t": {"0": start}}))
        if end is not None:
            rd = rd.option("endingOffsets", _json.dumps({"t": {"0": end}}))
        if fail is not None:
            rd = rd.option("failOnDataLoss", fail)
        return rd.load()

    # beyond-log-end start: default raises with a data-loss message
    with pytest.raises(Exception, match="[Dd]ata.*lost|out of range"):
        batch(start=99).collect()
    # beyond-log-end end: same
    with pytest.raises(Exception, match="[Dd]ata.*lost|out of range"):
        batch(end=99).collect()
    # failOnDataLoss=false: clamp, not silence-vs-raise asymmetry
    assert batch(start=99, fail="false").count() == 0
    assert batch(end=99, fail="false").count() == 6
    # in-range offsets unaffected by the new guard
    assert batch(start=2, end=5).count() == 3
    # -1/-2 per-partition JSON grammar (real source): -2=earliest, -1=latest
    assert batch(start=-2, end=-1).count() == 6
    assert batch(start=-1).count() == 0

    # stream resume past a truncated log: raise by default, clamp on false
    r = EverywhereKafkaStreamReader({"path": d, "subscribe": "t"})
    with pytest.raises(ValueError, match="out of range"):
        r.read({"t-0": 99})
    r2 = EverywhereKafkaStreamReader(
        {"path": d, "subscribe": "t", "failOnDataLoss": "false"}
    )
    rows, off = r2.read({"t-0": 99})
    assert list(rows) == [] and off == {"t-0": 6}


def test_populate_events_broker_atomic_and_crash_safe(sf_dir):
    """Crash-injection for the broker populate tooling (VERDICT r6
    item #5): a partial broker dir left by a crashed writer (logs
    written, no _COMPLETE marker) must be discarded and rebuilt — the
    old existence check would have appended duplicate offsets into the
    surviving partitions. Also: populate is idempotent (second call
    changes nothing) and never leaves its temp dir behind."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    from etl_everywhere_hub_spark.streaming.jobs import populate_events_broker

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"ee_kafka_broker_{key}")

    def line_counts():
        return {
            os.path.basename(p): sum(1 for _ in open(p))
            for p in sorted(glob.glob(os.path.join(d, "events-*.jsonl")))
        }

    assert populate_events_broker(sf_dir) == d
    baseline = line_counts()
    assert baseline and os.path.exists(os.path.join(d, "_COMPLETE"))

    # idempotent rerun: byte-for-byte same counts
    populate_events_broker(sf_dir)
    assert line_counts() == baseline

    # crash injection: marker missing, partitions 1..n written, 0 gone
    os.remove(os.path.join(d, "_COMPLETE"))
    os.remove(os.path.join(d, "events-0.jsonl"))
    populate_events_broker(sf_dir)
    assert line_counts() == baseline, "rerun duplicated offsets"
    assert os.path.exists(os.path.join(d, "_COMPLETE"))
    leftovers = glob.glob(d + ".tmp-*")
    assert leftovers == [], f"temp dirs left behind: {leftovers}"

    # legacy partial state (pre-marker layout): dir exists, no marker
    os.remove(os.path.join(d, "_COMPLETE"))
    populate_events_broker(sf_dir)
    assert line_counts() == baseline
    assert os.path.exists(os.path.join(d, "_COMPLETE"))

    # orphan hygiene (ADVICE r7): a scratch dir abandoned by a DEAD
    # writer (crash between write_broker_log and rename) is swept on
    # the next populate; a LIVE writer's scratch dir is left alone
    dead = f"{d}.tmp-999999999"  # pid can't exist (> kernel pid_max)
    live = f"{d}.tmp-{os.getpid()}"
    os.makedirs(dead, exist_ok=True)
    os.makedirs(live, exist_ok=True)
    populate_events_broker(sf_dir)
    assert not os.path.exists(dead), "dead writer's scratch not swept"
    assert os.path.exists(live), "live writer's scratch was destroyed"
    shutil.rmtree(live)
    assert line_counts() == baseline


def test_streaming_near_dup_multi_batch_state(spark, sf_dir, tmp_path):
    """Cross-micro-batch bucket state: documents arrive in THREE
    doc_id-ordered file chunks (maxFilesPerTrigger=1 → three
    batches); a doc must be flagged against buckets claimed in
    EARLIER batches, and the result must equal the batch-side
    formulation (exists an earlier doc sharing a band bucket)."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.length("text") > 0
    )
    n = docs.count()
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3),
                                  (2 * n // 3, n + 10**9)]):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.parquet(f"{src}/c{i}"))
        # one file per chunk dir -> move up with a stable name
        part = [f for f in os.listdir(f"{src}/c{i}") if f.endswith(".parquet")][0]
        os.rename(f"{src}/c{i}/{part}", f"{src}/chunk-{i}.parquet")
        import shutil as _sh
        _sh.rmtree(f"{src}/c{i}")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted = jobs.run_to_table(
        jobs.streaming_near_dup(stream), output_mode="update"
    )
    got = {
        r["doc_id"]: (r["is_dup"], r["first_owner"])
        for r in emitted.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("owner").isNotNull(), 1).otherwise(0)).alias("is_dup"),
            F.min("owner").alias("first_owner"),
        )
        .collect()
    }

    # batch truth: exists an earlier doc sharing a (band, band_key)
    bk = jobs.streaming_band_keys(docs)
    truth = {
        r["doc_id"]: (r["is_dup"], r["first_owner"])
        for r in bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.band_key") == F.col("a.band_key"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
            "left",
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(
            F.max(F.when(F.col("b.doc_id").isNotNull(), 1).otherwise(0)).alias("is_dup"),
            F.min("b.doc_id").alias("first_owner"),
        )
        .collect()
    }
    assert got == truth
    assert sum(v[0] for v in truth.values()) > 0, "fixture has no near-dups"


def test_run_to_table_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """run_to_table drains into an in-memory table and nothing resumes
    its checkpoint, so the directory is gone once the call returns —
    and the drained rows are still readable."""
    import tempfile

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text('{"k": 1}\n{"k": 2}\n')
    ckpt_root = tmp_path / "tmp"
    ckpt_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(ckpt_root))
    out = jobs.run_to_table(spark.readStream.schema("k long").json(str(src)))
    assert sorted(r["k"] for r in out.collect()) == [1, 2]
    assert [p.name for p in ckpt_root.iterdir() if p.name.startswith("ckpt_")] == []


def test_run_to_table_leaves_session_as_found(spark, tmp_path):
    """run_to_table clamps shuffle partitions only while the query runs
    and drops its memory-sink view; the returned frame still reads and
    aggregates the drained rows."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text("".join(f'{{"k": {i % 3}}}\n' for i in range(30)))
    keep = spark.conf.get("spark.sql.shuffle.partitions")
    wide = str(4 * spark.sparkContext.defaultParallelism + 52)

    def sink_views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("stream_sink_")}

    before = sink_views()
    spark.conf.set("spark.sql.shuffle.partitions", wide)
    try:
        counts = spark.readStream.schema("k long").json(str(src)).groupBy("k").count()
        out = jobs.run_to_table(counts, output_mode="complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == wide
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", keep)
    assert sink_views() <= before
    assert out.count() == 3
    assert sorted(tuple(r) for r in out.collect()) == [(0, 10), (1, 10), (2, 10)]
    assert out.agg(F.sum("count")).collect()[0][0] == 30
