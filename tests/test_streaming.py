"""Streaming semantics tests: file-source micro-batches, watermarked
windows, session windows, within-watermark dedup, observe counters.

Pattern: write JSON micro-batch files into a landing dir, run the
streaming query with processAllAvailable() into a memory sink, assert.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import (
    dedup_within_watermark,
    session_window_counts,
    stream_cloudfront_wire,
    tumbling_event_counts,
)
from cloudfront_kinesis_log_lambda_spark.testing.fixtures import write_log_file

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_batch(dir_, name, rows):
    os.makedirs(dir_, exist_ok=True)
    with open(os.path.join(dir_, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_to_memory(df, spark, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    out = spark.sql(f"SELECT * FROM {name}").collect()
    q.stop()
    return out


def test_tumbling_window_with_late_data(spark, tmp_path):
    land = str(tmp_path / "events")
    _write_batch(land, "b0.json", [
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:04:00", "user_id": 1, "event_type": "click", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01 00:12:00", "user_id": 2, "event_type": "view", "value": 3.0},
    ])
    stream = spark.readStream.schema(EVENT_SCHEMA).json(land)
    agg = tumbling_event_counts(stream, window="10 minutes", watermark="5 minutes")
    rows = _run_to_memory(agg, spark, "tumbling_t", "append")
    # append mode emits only watermark-closed windows; with the stream
    # exhausted, finalize by checking via complete-mode rerun
    stream2 = spark.readStream.schema(EVENT_SCHEMA).json(land)
    agg2 = tumbling_event_counts(stream2, window="10 minutes", watermark="5 minutes")
    rows2 = _run_to_memory(agg2, spark, "tumbling_c", "complete")
    got = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"]) for r in rows2}
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:10:00", "view")] == (1, 3.0)


def test_dedup_within_watermark(spark, tmp_path):
    land = str(tmp_path / "dups")
    _write_batch(land, "b0.json", [
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"event_id": 1, "ts": "2024-01-01 00:01:30", "user_id": 1, "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:02:00", "user_id": 2, "event_type": "b", "value": 2.0},
    ])
    stream = spark.readStream.schema(EVENT_SCHEMA).json(land)
    dd = dedup_within_watermark(stream, ["event_id"], watermark="10 minutes")
    rows = _run_to_memory(dd, spark, "dedup_t", "append")
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_session_window(spark, tmp_path):
    land = str(tmp_path / "sess")
    _write_batch(land, "b0.json", [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 0.0},
        {"event_id": 2, "ts": "2024-01-01 00:10:00", "user_id": 1, "event_type": "a", "value": 0.0},
        # > 30 min gap → new session
        {"event_id": 3, "ts": "2024-01-01 01:00:00", "user_id": 1, "event_type": "a", "value": 0.0},
    ])
    stream = spark.readStream.schema(EVENT_SCHEMA).json(land)
    sess = session_window_counts(stream, gap="30 minutes", watermark="2 hours")
    rows = _run_to_memory(sess, spark, "sess_c", "complete")
    per_user = sorted((r["n_events"] for r in rows))
    assert per_user == [1, 2]


def test_cloudfront_streaming_ingest_end_to_end(spark, tmp_path):
    """Landing dir → streaming transform → wire records via foreachBatch,
    including the observe counter and incremental file pickup."""
    land = tmp_path / "landing" / "cloudfront" / "prod" / "svc-1"
    ckpt = str(tmp_path / "ckpt")
    write_log_file(str(land / "f0.gz"), rows=30, seed=1)

    batches = []

    def collect_sink(df, batch_id):
        batches.append([r.asDict() for r in df.collect()])

    q = stream_cloudfront_wire(
        spark, str(tmp_path / "landing"), collect_sink, ckpt, max_files_per_trigger=1
    )
    q.processAllAvailable()
    # drop a second file mid-stream: incremental pickup
    write_log_file(str(land / "f1.gz"), rows=20, seed=2)
    q.processAllAvailable()
    observed = [
        p["observedMetrics"]["wire_records"]["n_records"]
        for p in q.recentProgress
        if p.get("observedMetrics", {}).get("wire_records")
    ]
    q.stop()

    total = sum(len(b) for b in batches)
    assert total == 50
    assert sum(observed) == 50 and observed[-1] == 20  # second file's batch
    rec = json.loads(batches[0][0]["Data"])
    assert rec["env"] == "prod" and rec["serviceId"] == "svc-1"
    assert rec["type"] == "globaledge_cloudfront"


def test_stream_static_enrich_is_stateless_broadcast(spark, tmp_path):
    from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import (
        stream_static_enrich,
    )

    land = str(tmp_path / "enrich")
    _write_batch(land, "b0.json", [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:01:00", "user_id": 2, "event_type": "b", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01 00:02:00", "user_id": 9, "event_type": "c", "value": 3.0},
    ])
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(land)
    rows = _run_to_memory(
        stream_static_enrich(stream, dim, on="user_id"), spark, "enrich_t", "append"
    )
    got = {r["event_id"]: r["tier"] for r in rows}
    assert got == {1: "gold", 2: "silver", 3: None}  # left join keeps misses


def test_running_user_totals_state_survives_batches(spark, tmp_path):
    """applyInPandasWithState: totals accumulate across micro-batches."""
    from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import (
        running_user_totals,
    )

    land = str(tmp_path / "stateful")
    _write_batch(land, "b0.json", [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1, "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "a", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01 00:02:00", "user_id": 2, "event_type": "b", "value": 5.0},
    ])
    stream = spark.readStream.option("maxFilesPerTrigger", 1).schema(EVENT_SCHEMA).json(land)
    totals = running_user_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("totals_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _write_batch(land, "b1.json", [
        {"event_id": 4, "ts": "2024-01-01 00:03:00", "user_id": 1, "event_type": "a", "value": 4.0},
    ])
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM totals_t").collect()
    q.stop()
    # last emission per user wins (update mode appends each emission)
    latest = {}
    for r in rows:
        latest[r["user_id"]] = (r["n_events"], r["total_value"])
    assert latest[1] == (3, 7.0)  # 2 events in batch 0 + 1 in batch 1
    assert latest[2] == (1, 5.0)


def test_stream_stream_interval_join(spark, tmp_path):
    """Impressions ⋈ clicks within 5 minutes: same key + in-window ts
    matches; out-of-window or unknown-key clicks don't."""
    from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import (
        stream_stream_interval_join,
    )

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    _write_batch(imp_dir, "b0.json", [
        {"ad_id": 1, "imp_ts": "2024-01-01 00:00:00"},
        {"ad_id": 2, "imp_ts": "2024-01-01 00:00:00"},
    ])
    _write_batch(clk_dir, "b0.json", [
        {"ad_id": 1, "click_ts": "2024-01-01 00:03:00"},   # match (3 min)
        {"ad_id": 2, "click_ts": "2024-01-01 00:30:00"},   # out of window
        {"ad_id": 99, "click_ts": "2024-01-01 00:01:00"},  # unknown key
    ])
    imps = spark.readStream.schema("ad_id long, imp_ts timestamp").json(imp_dir)
    clks = spark.readStream.schema("ad_id long, click_ts timestamp").json(clk_dir)
    joined = stream_stream_interval_join(
        imps, clks, "ad_id", "ad_id", "imp_ts", "click_ts", within="5 minutes"
    )
    rows = _run_to_memory(joined, spark, "ssj", "append")
    assert [(r["ad_id"], str(r["click_ts"])) for r in rows] == [
        (1, "2024-01-01 00:03:00")
    ]


def test_sliding_window_streaming(spark, tmp_path):
    """The slide path in streaming mode: 10-min windows every 5 min —
    each event lands in exactly window/slide = 2 overlapping windows."""
    land = str(tmp_path / "events_slide")
    _write_batch(land, "b0.json", [
        {"event_id": 1, "ts": "2024-01-01 00:01:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:06:00", "user_id": 1, "event_type": "click", "value": 2.0},
    ])
    stream = spark.readStream.schema(EVENT_SCHEMA).json(land)
    agg = tumbling_event_counts(stream, window="10 minutes", slide="5 minutes")
    rows = _run_to_memory(agg, spark, "sliding_t", "complete")
    got = {
        (str(r["window_start"]), r["n_events"], r["sum_value"]) for r in rows
    }
    assert got == {
        ("2023-12-31 23:55:00", 1, 1.0),   # covers [23:55, 00:05) → event 1
        ("2024-01-01 00:00:00", 2, 3.0),   # covers [00:00, 00:10) → both
        ("2024-01-01 00:05:00", 1, 2.0),   # covers [00:05, 00:15) → event 2
    }
