"""The stream leg of ``pipeline``: the Kinesis streaming loop.

The query: ``kinesis_py`` readStream → JSON decode → ``tumbling_event_counts``
(1-minute windows per ``src_ip``, 2-minute watermark, state store) →
``to_json`` → ``KinesisSink`` via ``foreachBatch`` (update mode). It runs
twice over:

- the drain: started uncapped over a seeded backlog of CloudFront wire
  records, until it has caught up (the catch-up a restarted stream pays);
- the live part: an open loop. ``streamgen.py``, a separate
  single-threaded process, appends seeded wire records to the same shard
  files at a fixed rate for ``--seconds`` seconds. Event time runs on a
  simulated clock (one wall second is one simulated minute, continuing
  the backlog's) and a seeded share of records arrives out of order,
  always within the watermark. A record's latency runs from when it was
  due to the completion of the micro-batch that read it, so queue wait
  is included.

Gate: the final count per (window, key) among the shipped updates equals
a DuckDB tumbling-window twin over the generated records, and no record
is dropped by the watermark.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

from perfbench import inputs
from perfbench.common import Ctx, Outcome, fail, median, percentile

#: backlog of the drain leg, and the live leg's rate (records per second,
#: well below what the drain leg sustains)
DRAIN_RECORDS = 10_000
LIVE_RATE = 1000
WINDOW, WATERMARK = "1 minute", "2 minutes"
#: per-shard cap of the admission probe: a quarter of a shard's backlog
ADMISSION_CAP = DRAIN_RECORDS // inputs.STREAM_SHARDS // 4
PROBE_REPS = 2


def prepare(ctx: Ctx, workers):
    backlog = inputs.stream_input(
        ctx.cache, ctx.seed, "backlog", DRAIN_RECORDS, LIVE_RATE, workers
    )
    live = inputs.stream_input(
        ctx.cache, ctx.seed, "live", int(LIVE_RATE * ctx.seconds), LIVE_RATE, workers,
        first=DRAIN_RECORDS,
    )
    return backlog, live


def start_query(spark, fake_dir: str, sink, checkpoint: str):
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import register_kinesis_source
    from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import tumbling_event_counts

    register_kinesis_source(spark)
    reader = spark.readStream.format("kinesis_py").option("fake_dir", fake_dir)
    schema = StructType(
        [StructField("@timestamp", StringType()), StructField("src_ip", StringType())]
    )
    rec = F.from_json("Data", schema)
    events = reader.load().select(
        rec.getField("@timestamp").cast("timestamp").alias("ts"),
        rec.getField("src_ip").alias("src_ip"),
    )
    counts = tumbling_event_counts(
        events, window=WINDOW, watermark=WATERMARK, ts_col="ts", key_col="src_ip"
    )
    wire = counts.select(
        F.to_json(F.struct("*")).alias("Data"),
        F.expr("replace(uuid(), '-', '')").alias("PartitionKey"),
    )
    return (
        wire.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


class TimedSink:
    """foreachBatch wrapper that accounts the time spent in the sink."""

    def __init__(self, sink, tracer) -> None:
        self.sink, self.tracer, self.seconds = sink, tracer, 0.0

    def __call__(self, df, batch_id: int) -> None:
        with self.tracer.span("kinesis_sink.batch", batch=batch_id):
            t0 = time.perf_counter()
            self.sink(df, batch_id)
            self.seconds += time.perf_counter() - t0


# --- gates -----------------------------------------------------------------


def twin_counts(inps: list[inputs.StreamInput]) -> dict[tuple[int, str], int]:
    """DuckDB tumbling-window twin over the generated records."""
    import duckdb
    import pyarrow as pa

    records = pa.table({  # noqa: F841 (scanned by DuckDB)
        "epoch": np.concatenate([inp.epoch for inp in inps]),
        "src_ip": np.concatenate([inp.src_ip for inp in inps]),
    })
    rows = duckdb.sql(
        "SELECT epoch // 60 * 60 AS ws, src_ip, count(*) AS n FROM records GROUP BY ALL"
    ).fetchall()
    return {(ws, ip): n for ws, ip, n in rows}


def sink_counts(out_dir: str) -> dict[tuple[int, str], int]:
    """Final count per (window, key) among the window updates shipped:
    counts only grow, so the final update is the largest."""
    final: dict[tuple[int, str], int] = {}
    starts: dict[str, int] = {}
    for path in glob.glob(os.path.join(out_dir, "shard-*.jsonl")):
        with open(path) as f:
            for line in f:
                rec = json.loads(json.loads(line)["Data"])
                s = rec["window_start"]
                if s not in starts:
                    starts[s] = int(dt.datetime.fromisoformat(s).timestamp())
                key = (starts[s], rec["src_ip"])
                final[key] = max(final.get(key, 0), rec["n_events"])
    return final


def gate(out_dir: str, inps: list[inputs.StreamInput], progress: list) -> list[str]:
    """Problems with the query's shipped window updates over ``inps``."""
    problems = []
    got, want = sink_counts(out_dir), twin_counts(inps)
    if got != want:
        wrong = sum(got.get(k) != v for k, v in want.items()) + len(set(got) - set(want))
        problems.append(f"{wrong} of {len(want)} (window, key) counts differ from the twin")
    dropped = _state_sum(progress, "numRowsDroppedByWatermark")
    if dropped:
        problems.append(f"{dropped} rows dropped by the watermark")
    return problems


# --- progress --------------------------------------------------------------


def _state_sum(progress: list, key: str) -> float:
    return sum(op.get(key, 0) for p in progress for op in p.get("stateOperators", []))


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts).timestamp()


def _offsets(value) -> dict[str, int]:
    if value is None:
        return {}
    return {k: int(v) for k, v in (json.loads(value) if isinstance(value, str) else value).items()}


def _batches(progress: list) -> list[dict]:
    """Micro-batches that read input: plan and completion instants, and
    the offset range each read."""
    out = []
    for p in progress:
        src = p["sources"][0]
        if not src.get("numInputRows"):
            continue
        t0 = _epoch(p["timestamp"])
        d = p["durationMs"]
        out.append({
            "id": p["batchId"],
            "rows": src["numInputRows"],
            "start": _offsets(src.get("startOffset")),
            "end": _offsets(src.get("endOffset")),
            "planned_at": t0 + d.get("latestOffset", 0) / 1000,
            "done_at": t0 + d["triggerExecution"] / 1000,
            "durations": d,
        })
    return out


def live_latency(batches: list[dict], log) -> tuple[np.ndarray, int]:
    """Per live event: completion of the micro-batch that read it (and so
    emitted its window update) minus the instant it was due, in ms; and
    the largest backlog written but not yet planned."""
    shard, line = log["shard"], log["line"]
    done = np.full(len(line), np.nan)
    for b in batches:
        for sid, end in b["end"].items():
            s = int(sid.rsplit("-", 1)[1])
            lo = b["start"].get(sid, 0)
            done[(shard == s) & (line >= lo) & (line < end)] = b["done_at"]
    lag = 0
    written = np.sort(log["written"])
    for b in batches:
        planned_before = sum(
            int(np.count_nonzero((shard == int(sid.rsplit("-", 1)[1])) & (line < lo)))
            for sid, lo in b["start"].items()
        )
        n_written = int(np.searchsorted(written, b["planned_at"], side="right"))
        lag = max(lag, n_written - planned_before)
    return (done - log["due"]) * 1000, lag


# --- the query ------------------------------------------------------------


def _sink(out_dir: str):
    from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import KinesisSink
    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeKinesisDataPlane

    return KinesisSink(
        "perfbench-stream", client_factory=functools.partial(FakeKinesisDataPlane, out_dir)
    )


def _legs(ctx: Ctx, backlog: inputs.StreamInput, live: inputs.StreamInput):
    """Run the query over the backlog until it has caught up, then feed it
    the live schedule from the generator process. Returns the drain wall,
    the id of the last drain micro-batch, the sink's output directory,
    every progress report, the generator's log and the live sink time."""
    shards = ctx.path("shards")
    inputs.write_shards(backlog, shards)
    out_dir = ctx.path("stream-out")
    log_path = ctx.path("gen-log.npz")
    sink = TimedSink(_sink(out_dir), ctx.tracer)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "streamgen.py"),
         live.root, shards, str(live.rate), log_path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    ctx.rss_exclude.add(gen.pid)
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("stream generator failed to start")
        ctx.tracer.pass_label = "drain"
        with ctx.tracer.span("stream.drain"):
            t0 = time.perf_counter()
            q = start_query(ctx.spark, shards, sink, ctx.path("checkpoint"))
            q.processAllAvailable()
            drain_s = time.perf_counter() - t0
        drain_last = max(p.batchId for p in q.recentProgress)
        sink.seconds = 0.0
        ctx.tracer.pass_label = "live"
        with ctx.tracer.span("stream.live"):
            gen.stdin.write("go\n")
            gen.stdin.flush()
            gen.wait(timeout=ctx.seconds + 60)
            q.processAllAvailable()
            q.stop()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"stream generator exited with {gen.returncode}")
    progress = [json.loads(p.json) for p in q.recentProgress]
    return drain_s, drain_last, out_dir, progress, dict(np.load(log_path)), sink.seconds


def run(ctx: Ctx, inp) -> Outcome:
    backlog, live = inp
    tracer = ctx.tracer
    drain_s, drain_last, out_dir, progress, log, sink_s = _legs(ctx, backlog, live)
    tracer.pass_label = None
    batches = [b for b in _batches(progress) if b["id"] > drain_last]
    attempted = 1 + len(batches)
    failed = 0
    problems = gate(out_dir, [backlog, live], progress)
    if problems:
        failed = attempted
        fail("stream: " + "; ".join(problems))
    latencies, lag = live_latency(batches, log)
    if np.isnan(latencies).any():
        failed += 1
        fail(f"stream: {int(np.isnan(latencies).sum())} live records never read")
        latencies = latencies[~np.isnan(latencies)]
    out = Outcome(
        first_pass_s=drain_s,
        pass_s=median([b["durations"]["triggerExecution"] / 1000 for b in batches]),
        records_per_s=backlog.n / drain_s,
        latencies_ms=latencies.tolist(),
        attempted=attempted,
        failed=failed,
    )
    if tracer.enabled:
        out.layer = _layers(ctx, backlog, batches, progress, log, lag, live, sink_s)
        for b in batches:  # live micro-batches as spans
            tracer.spans.append({
                "id": len(tracer.spans), "name": "stream.batch", "parent": None,
                "workload": ctx.workload, "pass": "live", "batch": b["id"],
                "rows": b["rows"], "start": b["done_at"] - b["durations"]["triggerExecution"] / 1000,
                "end": b["done_at"],
            })
    return out


def _layers(ctx, backlog, batches, progress, log, lag, live, sink_s):
    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeShardClient

    spark, tracer = ctx.spark, ctx.tracer
    backlog_dir = ctx.path("backlog")  # the backlog alone, for the probes
    inputs.write_shards(backlog, backlog_dir)
    live_ids = {b["id"] for b in batches}

    def p50(key: str) -> float:
        return percentile([b["durations"].get(key, 0) for b in batches], 50)

    ops = [op for p in progress if p["batchId"] in live_ids for op in p.get("stateOperators", [])]
    read_s = []
    for _ in range(PROBE_REPS):
        with tracer.span("kinesis_source.read", group=True):
            t0 = time.perf_counter()
            spark.read.format("kinesis_py").option("fake_dir", backlog_dir).load() \
                .write.format("noop").mode("overwrite").save()
            read_s.append(time.perf_counter() - t0)
    client = FakeShardClient(backlog_dir)
    tips = []
    for _ in range(PROBE_REPS):
        for shard in client.list_shards():
            with tracer.span("kinesis_source.fake_tip"):
                t0 = time.perf_counter()
                client.latest_position(shard)
                tips.append(time.perf_counter() - t0)
    admission = admission_probe(ctx, backlog_dir)
    return {
        "kinesis_source.read_s": median(read_s),
        "kinesis_source.latest_offset_ms": p50("latestOffset"),
        "kinesis_source.batches": float(len(admission)),
        "kinesis_source.first_batch_records": float(admission[0] if admission else 0),
        "kinesis_source.fake_tip_ms": median(tips) * 1000,
        "kinesis_sink.stream_s": sink_s,
        "stream.trigger_ms_p50": p50("triggerExecution"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.commit_offsets_ms_p50": p50("commitOffsets"),
        "stream.lag_records_max": float(lag),
        "state.rows_total": float(max((op.get("numRowsTotal", 0) for op in ops), default=0)),
        "state.memory_mb": max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / 1e6,
        "state.commit_ms_p50": percentile([op.get("commitTimeMs", 0) for op in ops], 50),
        "state.rows_dropped_by_watermark": _state_sum(progress, "numRowsDroppedByWatermark"),
        **generator_report(log, live),
    }


def generator_report(log, live: inputs.StreamInput) -> dict[str, float]:
    """Whether the load was what it claims: records written, how late the
    generator ran behind its schedule, and the largest event-time delay
    of an out-of-order record (which must stay below the watermark)."""
    return {
        "gen.records": float(len(log["written"])),
        "gen.late_ms_max": float(np.max(log["written"] - log["due"])) * 1000,
        "gen.out_of_order_s_max": float(np.max(live.late_s)),
    }


def admission_probe(ctx: Ctx, backlog_dir: str) -> list[int]:
    """Rows per micro-batch of a fresh query over the backlog with a
    per-shard cap of ``ADMISSION_CAP`` records."""
    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import register_kinesis_source

    register_kinesis_source(ctx.spark)
    with ctx.tracer.span("kinesis_source.admission_probe"):
        q = (
            ctx.spark.readStream.format("kinesis_py")
            .option("fake_dir", backlog_dir)
            .option("max_records_per_shard", str(ADMISSION_CAP))
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", ctx.path("admission-ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return [
        p.sources[0].numInputRows for p in q.recentProgress if p.sources[0].numInputRows
    ]
