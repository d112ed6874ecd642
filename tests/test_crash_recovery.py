"""Streaming crash-recovery matrix (VERDICT r6 item #6).

One parametrized kill-and-resume protocol swept across the §2.B
streaming capabilities: run each pipeline over the first half of the
input with a checkpoint, stop the query (a kill at a batch boundary —
the recovery contract Structured Streaming makes), deliver the second
half, restart from the SAME checkpoint, and assert the recovered
output equals an uninterrupted run over everything — under each
sink's documented delivery semantics:

- file (parquet) sink: exactly-once per micro-batch via the
  checkpointed _spark_metadata log → set equality.
- update-mode stateful output (the device cache, Spark's native
  streaming max_by aggregate): at-least-once update emissions;
  downstream consumes last-write-wins → LWW-collapsed equality (the
  upsert_snapshot_sink semantic).
- memory sink in complete mode: the restart's first batch must
  rebuild the FULL snapshot from checkpointed state, including
  pre-kill groups the restarted run never saw as input.
- watermark persistence is its own case: data arriving below the
  checkpoint-restored watermark after restart is dropped — that drop
  is asserted (documented divergence from a single cold run, where
  the first batch starts at watermark 0 and would have kept it).

Transport is swept too: the same tumbling-window pipeline recovers
identically over the file source and the Kafka wire-contract shim
(sources/kafka_shim.py), whose offsets live in the same checkpoint.

Delivery-semantics ledger: COVERAGE.md §2.B streaming row.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_everywhere_hub_spark.streaming import jobs

EVENTS_SCHEMA = (
    "event_id long, user_id long, event_type string, value double, ts timestamp"
)

T0 = 1_700_000_000  # epoch seconds, a fixed wall-clock anchor


def _mk_events(n, idx_base, id_base):
    """Deterministic events: 4 users, 3 types, BURSTY in time — 10
    events in 10 minutes at the top of each hour, then 50 quiet
    minutes. The gaps are what let 30-minute session windows CLOSE
    (contiguous traffic would merge into one never-finalized session
    and append mode would emit nothing on either side of the kill)."""
    rows = []
    for k in range(n):
        i = idx_base + k
        rows.append(
            {
                "event_id": id_base + k,
                "user_id": i % 4,
                "event_type": ["click", "view", "purchase"][i % 3],
                "value": round(0.5 + (i % 7) * 0.25, 2),
                "ts": (T0 + (i // 10) * 3600 + (i % 10) * 60) * 1000,  # ms
            }
        )
    return rows


def _write_jsonl(path, rows):
    with open(path, "w") as fh:
        for r in rows:
            r = dict(r)
            ms = r.pop("ts")
            r["ts"] = ms // 1000  # seconds — cast below
            fh.write(json.dumps(r) + "\n")


def _file_stream(spark, d):
    raw = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double, ts long"
    ).json(d)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# part 1 = hours 0-11, part 2 = hours 12-23 (split along the timeline
# — the one split where finalized-window recovery must be exact).
# part 2 re-sends two part-1 event_ids (dedup state must survive).
PART1 = _mk_events(120, 0, 1000)
PART2 = _mk_events(120, 120, 2000) + [
    dict(PART1[118], value=99.0),
    dict(PART1[119], value=99.0),
]
ALL = PART1 + PART2


def _static_dim(spark):
    return spark.createDataFrame(
        [(u, f"segment_{u % 2}") for u in range(4)], "user_id long, segment string"
    )


def _canon(df, lww_key=None, lww_order=None):
    pdf = df.toPandas()
    if lww_key:
        pdf = (
            pdf.sort_values(lww_order)
            .groupby(lww_key, as_index=False)
            .last()
        )
    cols = sorted(pdf.columns)
    return sorted(
        tuple(str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


CASES = {
    # name: (pipeline, sink, output_mode)
    "tumbling_window": (lambda ev: jobs.tumbling_window_counts(ev), "parquet", "append"),
    "sliding_window": (lambda ev: jobs.sliding_window_counts(ev), "parquet", "append"),
    "session_window": (lambda ev: jobs.session_window_counts(ev), "parquet", "append"),
    "streaming_dedup": (
        lambda ev: jobs.streaming_dedup(ev).select(
            "event_id", "user_id", "event_type", "value"
        ),
        "parquet",
        "append",
    ),
    "stream_static_join": (
        lambda ev: None,  # built in-test (needs the session for the dim)
        "parquet",
        "append",
    ),
    "stateful_latest_ttl": (
        lambda ev: jobs.stateful_device_cache(ev),
        "parquet_update_lww",
        "update",
    ),
    "complete_snapshot": (
        lambda ev: ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5)).alias("cv"),
        ),
        "memory_complete",
        "complete",
    ),
}


def _run_pass(spark, build, src_dir, out_dir, ckpt, sink, mode, qname):
    stream = build(_file_stream(spark, src_dir))
    if sink == "memory_complete":
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.table(qname)
    if sink == "parquet_update_lww":
        # file sinks are append-only; update-mode stateful output goes
        # through foreachBatch (the upsert_snapshot_sink transport) —
        # at-least-once appended emissions, downstream collapses LWW
        def write_batch(bdf, _bid):
            bdf.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out_dir)


@pytest.mark.parametrize("case", sorted(CASES))
def test_kill_and_resume_equals_uninterrupted(case, spark, tmp_path):
    build, sink, mode = CASES[case]
    if case == "stream_static_join":
        dim = _static_dim(spark)

        def build(ev):  # noqa: F811 — per-case closure over the dim
            return ev.join(F.broadcast(dim), "user_id").select(
                "event_id", "user_id", "segment", "event_type"
            )

    if sink == "parquet_update_lww":
        # update-mode file sink appends every emission; the documented
        # downstream contract is last-write-wins per key (the
        # upsert_snapshot_sink pattern) — collapse both sides with LWW
        lww = dict(lww_key=["user_id"], lww_order=["ts", "event_id"])
    else:
        lww = {}

    # --- interrupted: part 1, kill (stop at batch boundary), part 2
    src = tmp_path / "src_interrupted"
    src.mkdir()
    out_i = str(tmp_path / "out_interrupted")
    ckpt_i = str(tmp_path / "ckpt_interrupted")
    _write_jsonl(src / "part1.jsonl", PART1)
    _run_pass(spark, build, str(src), out_i, ckpt_i, sink, mode, f"cr_{case}_i")
    _write_jsonl(src / "part2.jsonl", PART2)
    got = _run_pass(spark, build, str(src), out_i, ckpt_i, sink, mode, f"cr_{case}_i")

    # --- uninterrupted: everything in one pass, fresh checkpoint
    src2 = tmp_path / "src_single"
    src2.mkdir()
    _write_jsonl(src2 / "all.jsonl", ALL)
    out_s = str(tmp_path / "out_single")
    ckpt_s = str(tmp_path / "ckpt_single")
    want = _run_pass(
        spark, build, str(src2), out_s, ckpt_s, sink, mode, f"cr_{case}_s"
    )

    got_c, want_c = _canon(got, **lww), _canon(want, **lww)
    assert len(got_c) > 0, "recovered run produced nothing"
    assert got_c == want_c, (
        f"{case}: recovered output != uninterrupted "
        f"(recovered {len(got_c)} rows, single {len(want_c)})"
    )


def test_watermark_survives_restart_and_drops_late_data(spark, tmp_path):
    """Watermark persistence across kill/restart, asserted directly:
    part 2 carries one event 10 hours BELOW part 1's finalized
    horizon. In a cold single run its window aggregates (the only
    batch starts at watermark 0); in the RESTARTED run the checkpoint
    restored the advanced watermark, so the aggregation drops the row
    and its hour never appears — the documented recovery semantic for
    late data under append mode."""
    import datetime as dt

    late = dict(PART1[0])
    late["event_id"] = 9999
    late["ts"] = (T0 - 10 * 3600) * 1000  # far below the restored watermark
    late_hour = dt.datetime.utcfromtimestamp(
        (T0 - 10 * 3600) // 3600 * 3600
    )

    def build(ev):
        return jobs.tumbling_window_counts(ev)

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(src / "part1.jsonl", PART1)
    _run_pass(spark, build, str(src), out, ckpt, "parquet", "append", "cr_wm1")
    _write_jsonl(src / "part2.jsonl", PART2 + [late])
    got = _run_pass(
        spark, build, str(src), out, ckpt, "parquet", "append", "cr_wm2"
    )
    got_hours = {r["window_start"] for r in got.collect()}
    assert late_hour not in got_hours, (
        "late row below the restored watermark must not open a window"
    )
    assert len(got_hours) > 0

    # the cold single run DOES keep it — proving the drop above came
    # from the checkpoint-restored watermark, not from the data
    src2 = tmp_path / "src_single"
    src2.mkdir()
    _write_jsonl(src2 / "all.jsonl", ALL + [late])
    want = _run_pass(
        spark, build, str(src2), str(tmp_path / "out_s"),
        str(tmp_path / "ckpt_s"), "parquet", "append", "cr_wm_s",
    )
    assert late_hour in {r["window_start"] for r in want.collect()}


def test_kafka_transport_recovers_from_checkpoint(spark, tmp_path):
    """The same kill-and-resume protocol through the Kafka
    wire-contract shim: offsets live in the checkpoint, so the
    restarted query must consume exactly the records appended after
    the kill — recovered output == uninterrupted output."""
    from etl_everywhere_hub_spark.sources.kafka_shim import (
        register_everywhere_kafka,
        write_broker_log,
    )

    register_everywhere_kafka(spark)

    def to_records(rows):
        return [
            (str(r["user_id"]), json.dumps(r), r["ts"])
            for r in rows
        ]

    def build(spark_, broker):
        raw = (
            spark_.readStream.format("everywhere_kafka")
            .option("path", broker)
            .option("subscribe", "ev")
            .load()
        )
        parsed = raw.select(
            F.from_json(F.col("value").cast("string"), EVENTS_SCHEMA.replace(
                "ts timestamp", "ts long")).alias("j")
        ).select("j.*").withColumn(
            "ts", (F.col("ts") / 1000).cast("timestamp")
        )
        return jobs.tumbling_window_counts(parsed)

    def drain(broker, out, ckpt):
        # processAllAvailable + stop rather than availableNow: the
        # Python-datasource stream under availableNow terminates after
        # the last data batch WITHOUT the no-data micro-batch that
        # advances the watermark and flushes finalized windows; the
        # polling trigger runs it (same contract as a real broker)
        q = (
            build(spark, broker).writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        return spark.read.parquet(out)

    b1 = str(tmp_path / "broker_i")
    write_broker_log(iter(to_records(PART1)), b1, "ev", num_partitions=3)
    out_i, ckpt_i = str(tmp_path / "out_i"), str(tmp_path / "ckpt_i")
    drain(b1, out_i, ckpt_i)  # run 1, then "kill"
    write_broker_log(iter(to_records(PART2)), b1, "ev", num_partitions=3)
    got = drain(b1, out_i, ckpt_i)  # restart from the same checkpoint

    b2 = str(tmp_path / "broker_s")
    write_broker_log(iter(to_records(ALL)), b2, "ev", num_partitions=3)
    want = drain(b2, str(tmp_path / "out_s"), str(tmp_path / "ckpt_s"))

    assert _canon(got) == _canon(want) and got.count() > 0


# ---------------------------------------------------------------------------
# merge_cdc_sink (VERDICT r7 item #4): the Delta-MERGE-semantics
# snapshot sink under the same kill-and-resume protocol, plus direct
# crash-window simulations of its commit protocol.
# ---------------------------------------------------------------------------


def _cdc_stream(spark, d):
    """Events as a CDC log: purchases delete the user's row, everything
    else upserts it — exercises I/U/D through the merge."""
    ev = _file_stream(spark, d)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", "D")
        .otherwise("U")
        .alias("op"),
    )


def _run_cdc(spark, src, state, ckpt):
    from etl_everywhere_hub_spark.streaming.sinks import merge_cdc_sink

    q = merge_cdc_sink(
        _cdc_stream(spark, src),
        state_path=state,
        keys=["user_id"],
        order_col="ts",
        tiebreak="event_id",
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)


def _snapshot_rows(spark, state):
    from etl_everywhere_hub_spark.streaming.sinks import read_merge_snapshot

    df = read_merge_snapshot(spark, state)
    assert df is not None, "no committed snapshot"
    return sorted(
        (r["user_id"], r["event_id"], r["value"], r["op"]) for r in df.collect()
    )


def test_merge_cdc_sink_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    src = tmp_path / "cdc_src_i"
    src.mkdir()
    state_i = str(tmp_path / "cdc_state_i")
    ckpt_i = str(tmp_path / "cdc_ckpt_i")
    _write_jsonl(src / "part1.jsonl", PART1)
    _run_cdc(spark, str(src), state_i, ckpt_i)
    mid = _snapshot_rows(spark, state_i)
    assert mid, "first half committed nothing"
    _write_jsonl(src / "part2.jsonl", PART2)
    _run_cdc(spark, str(src), state_i, ckpt_i)
    got = _snapshot_rows(spark, state_i)

    src2 = tmp_path / "cdc_src_s"
    src2.mkdir()
    _write_jsonl(src2 / "all.jsonl", ALL)
    state_s = str(tmp_path / "cdc_state_s")
    _run_cdc(spark, str(src2), state_s, str(tmp_path / "cdc_ckpt_s"))
    want = _snapshot_rows(spark, state_s)
    assert got == want and len(got) > 0
    # the relational contract: newest op per user wins, D removes
    import collections

    newest = {}
    for r in ALL:
        key = r["user_id"]
        cand = (r["ts"], r["event_id"])
        if key not in newest or cand > (newest[key]["ts"], newest[key]["event_id"]):
            newest[key] = r
    expect = sorted(
        (u, r["event_id"], r["value"], "U")
        for u, r in newest.items()
        if r["event_type"] != "purchase"
    )
    assert got == expect


def test_merge_cdc_commit_crash_windows(spark, tmp_path):
    """Simulate each crash window of the commit protocol directly and
    assert readers always see a complete snapshot and replay repairs."""
    import os

    from etl_everywhere_hub_spark.streaming.sinks import (
        _commit_snapshot,
        read_merge_snapshot,
    )

    state = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, 10, "U")], "k long, v long, op string")
    _commit_snapshot(df1, state, 0)
    assert {r["v"] for r in read_merge_snapshot(spark, state).collect()} == {10}

    # window A: crash AFTER temp write, BEFORE rename — temp dir exists,
    # manifest still points at v0; reader unaffected, sweep cleans it
    df2 = spark.createDataFrame([(1, 20, "U")], "k long, v long, op string")
    tmp = os.path.join(state, f"v{1:012d}.tmp-99999")
    df2.write.mode("overwrite").parquet(tmp)
    assert {r["v"] for r in read_merge_snapshot(spark, state).collect()} == {10}

    # window B: crash AFTER rename, BEFORE manifest — v1 exists but
    # manifest still points at v0; reader still sees v0; a replay of
    # batch 1 publishes a RETRY slot (v1r1) and repoints the manifest,
    # never touching v0 (which a concurrent reader may be scanning) or
    # removing a published directory before the manifest moves off it
    os.rename(tmp, os.path.join(state, f"v{1:012d}"))
    assert {r["v"] for r in read_merge_snapshot(spark, state).collect()} == {10}
    _commit_snapshot(df2, state, 1)  # the checkpointed replay
    assert {r["v"] for r in read_merge_snapshot(spark, state).collect()} == {20}
    dirs = [d for d in os.listdir(state) if d.startswith("v") and "." not in d]
    # unpublished v1 swept; published v0 kept for in-flight readers
    assert sorted(dirs) == [f"v{0:012d}", f"v{1:012d}r1"]

    # window B': crash AFTER manifest replace, BEFORE the Spark
    # checkpoint commit — replay of the same batch is a no-op (the
    # manifest already names this batch's slot; rebuilding would tear
    # the directory readers are pointed at)
    before = sorted(os.listdir(state))
    # a real replay re-merges the SAME batch rows; passing a DIFFERENT
    # df here proves the no-op — nothing may be rewritten or republished
    _commit_snapshot(
        spark.createDataFrame([(1, 99, "U")], "k long, v long, op string"),
        state,
        1,
    )
    assert sorted(os.listdir(state)) == before
    assert {r["v"] for r in read_merge_snapshot(spark, state).collect()} == {20}

    # window C: stale manifest temp from a dead writer is harmless and
    # the sweep keeps only current + previously-published versions
    with open(os.path.join(state, "_MANIFEST.tmp-4242"), "w") as fh:
        fh.write("v-garbage")
    df3 = spark.createDataFrame([(1, 30, "U")], "k long, v long, op string")
    _commit_snapshot(df3, state, 2)
    assert {r["v"] for r in read_merge_snapshot(spark, state).collect()} == {30}
    dirs = [d for d in os.listdir(state) if d.startswith("v") and "." not in d]
    assert sorted(dirs) == [f"v{1:012d}r1", f"v{2:012d}"]


def test_merge_cdc_stale_upsert_after_delete_does_not_resurrect(spark, tmp_path):
    """Round-8 verdict item #2: a delete committed in batch N followed
    by a STALE upsert (older order_col) in batch N+1 must keep the key
    deleted — the tombstone is retained in the snapshot, so cross-batch
    merges are order-insensitive, matching the single-batch result."""
    from etl_everywhere_hub_spark.streaming.sinks import (
        _merge_cdc_batch,
        read_merge_snapshot,
    )

    schema = "k long, v long, ts long, op string"

    def batch(rows, bid, state):
        _merge_cdc_batch(
            spark.createDataFrame(rows, schema), bid, state,
            keys=["k"], order_col="ts", tiebreak="v", op_col="op",
        )

    # split across batches: upsert, delete, then a stale upsert
    state_split = str(tmp_path / "split")
    batch([(1, 10, 100, "I"), (2, 20, 100, "U")], 0, state_split)
    batch([(1, 0, 200, "D")], 1, state_split)
    batch([(1, 11, 150, "U")], 2, state_split)  # stale: older than the delete
    got = sorted(
        (r["k"], r["v"]) for r in read_merge_snapshot(spark, state_split).collect()
    )
    assert got == [(2, 20)], f"stale upsert resurrected a deleted key: {got}"
    # the tombstone is still present in the raw merge state
    raw = read_merge_snapshot(spark, state_split, include_tombstones=True)
    tomb = [(r["k"], r["op"]) for r in raw.collect() if r["op"] == "D"]
    assert tomb == [(1, "D")]

    # the same rows in ONE batch produce the identical read view
    state_one = str(tmp_path / "one")
    batch(
        [(1, 10, 100, "I"), (2, 20, 100, "U"), (1, 0, 200, "D"), (1, 11, 150, "U")],
        0,
        state_one,
    )
    got_one = sorted(
        (r["k"], r["v"]) for r in read_merge_snapshot(spark, state_one).collect()
    )
    assert got_one == got


def test_merge_cdc_tombstone_retention_bounds_state(spark, tmp_path):
    """tombstone_retention drops tombstones older than
    max(order_col) - retention: state stays O(live keys), at the
    documented cost that upserts staler than the horizon may
    resurrect (Delta's deletedFileRetentionDuration trade-off)."""
    from etl_everywhere_hub_spark.streaming.sinks import (
        _merge_cdc_batch,
        read_merge_snapshot,
    )

    schema = "k long, v long, ts long, op string"
    state = str(tmp_path / "ret")

    def batch(rows, bid):
        _merge_cdc_batch(
            spark.createDataFrame(rows, schema), bid, state,
            keys=["k"], order_col="ts", tiebreak="v", op_col="op",
            tombstone_retention=40,
        )

    batch([(1, 10, 100, "I")], 0)
    batch([(1, 0, 200, "D")], 1)
    # tombstone ts=200 within horizon of max ts=200 → retained
    raw = read_merge_snapshot(spark, state, include_tombstones=True)
    assert [(r["k"], r["op"]) for r in raw.collect()] == [(1, "D")]
    # new activity advances the horizon past the tombstone (300-40 > 200)
    batch([(3, 30, 300, "U")], 2)
    raw = read_merge_snapshot(spark, state, include_tombstones=True)
    assert sorted((r["k"], r["op"]) for r in raw.collect()) == [(3, "U")]
    got = sorted(
        (r["k"], r["v"]) for r in read_merge_snapshot(spark, state).collect()
    )
    assert got == [(3, 30)]
