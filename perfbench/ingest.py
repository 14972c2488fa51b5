"""The ingest leg of ``pipeline``: the reference's own job as a closed
loop with one client.

Each pass ships a seeded tree of gzipped CloudFront TSV files through
``read_cloudfront_logs`` → ``cloudfront_wire_pipeline`` →
``KinesisSink.write`` (shipped defaults) into a ``FakeKinesisDataPlane``.
The first pass is cold; warm passes follow until ``--seconds`` of pass
time has been measured. Every pass's output is gated: one record per
input row, 32-hex partition keys, and decoded ``Data`` equal, as a
multiset, to ``testing.oracle.enrich_row`` over the generated rows.
"""

from __future__ import annotations

import collections
import functools
import glob
import itertools
import json
import os
import re
import shutil
import time

import numpy as np

from perfbench import inputs
from perfbench.common import Ctx, Outcome, fail, median, spark_layer, stage_totals, sum_totals

#: 64 files (16 per core on the 4-core reference box: gzip only splits
#: per file) of 1000 rows
FILES, ROWS = 64, 1000
MIN_WARM_PASSES = 3
#: repetitions of each per-layer probe (median reported)
PROBE_REPS = 2
#: records shipped by the in-process sink probe
DIRECT_RECORDS = 20_000
_PK = re.compile(r"[0-9a-f]{32}")


def prepare(ctx: Ctx, workers) -> inputs.LogTree:
    return inputs.log_tree(ctx.cache, ctx.seed, FILES, ROWS, workers)


class CountingPutClient:
    """The fake data plane, counting put calls and records into Spark
    accumulators (executor-side; picklable)."""

    def __init__(self, out_dir: str, calls, records) -> None:
        from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeKinesisDataPlane

        self.inner = FakeKinesisDataPlane(out_dir)
        self.calls = calls
        self.records = records

    def put_records(self, StreamName: str, Records: list) -> dict:
        self.calls.add(1)
        self.records.add(len(Records))
        return self.inner.put_records(StreamName=StreamName, Records=Records)


def _ship(spark, tree: str, client_factory, transform: bool = True, sink: bool = True):
    """One call of the reference job; without ``sink`` the result is
    forced with the noop writer, and without ``transform`` too, the scan
    alone."""
    from cloudfront_kinesis_log_lambda_spark.operators.transforms import cloudfront_wire_pipeline
    from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import KinesisSink
    from cloudfront_kinesis_log_lambda_spark.sources import read_cloudfront_logs

    df = read_cloudfront_logs(spark, tree)
    if transform:
        df = cloudfront_wire_pipeline(df)
    if sink:
        KinesisSink("perfbench-ingest", client_factory=client_factory).write(df)
    else:
        df.write.format("noop").mode("overwrite").save()


def gate(out_dir: str, tree: inputs.LogTree) -> list[str]:
    """Problems with one pass's shipped records (empty when correct)."""
    problems = []
    digests, bad_keys = [], 0
    for path in sorted(glob.glob(os.path.join(out_dir, "shard-*.jsonl"))):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                bad_keys += _PK.fullmatch(rec["PartitionKey"]) is None
                digests.append(inputs.data_digest(rec["Data"]))
    if len(digests) != tree.rows:
        problems.append(f"{len(digests)} records shipped for {tree.rows} rows")
    if bad_keys:
        problems.append(f"{bad_keys} PartitionKeys are not 32-hex")
    if not np.array_equal(np.sort(np.array(digests, dtype=np.uint64)), tree.digests):
        # the digests compare wire bytes; the gate's contract is decoded
        # records, so only a decoded mismatch fails it
        if _decoded(out_dir) != collections.Counter(
            _canon(r) for r in inputs.expected_wire_records(tree.root)
        ):
            problems.append("decoded Data differs from enrich_row over the input rows")
    return problems


def _canon(record: dict) -> str:
    return json.dumps(record, sort_keys=True)


def _decoded(out_dir: str) -> collections.Counter:
    out: collections.Counter = collections.Counter()
    for path in glob.glob(os.path.join(out_dir, "shard-*.jsonl")):
        with open(path) as f:
            out.update(_canon(json.loads(json.loads(line)["Data"])) for line in f)
    return out


def run(ctx: Ctx, tree: inputs.LogTree) -> Outcome:
    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeKinesisDataPlane

    spark, tracer = ctx.spark, ctx.tracer
    if tracer.enabled:
        calls = spark.sparkContext.accumulator(0)
        records = spark.sparkContext.accumulator(0)
    walls: list[float] = []
    groups: list[str] = []
    attempted = failed = 0
    first = 0.0
    i = 0
    while i <= MIN_WARM_PASSES or sum(walls) < ctx.seconds:
        out_dir = ctx.path(f"ingest-out-{i}")
        if tracer.enabled:
            factory = functools.partial(CountingPutClient, out_dir, calls, records)
        else:
            factory = functools.partial(FakeKinesisDataPlane, out_dir)
        tracer.pass_label = "cold" if i == 0 else f"warm-{i}"
        with tracer.span("ingest.pass", group=True) as sp:
            t0 = time.perf_counter()
            _ship(spark, tree.tree, factory)
            dt = time.perf_counter() - t0
        attempted += 1
        problems = gate(out_dir, tree)
        if problems:
            failed += 1
            fail(f"ingest pass {i}: " + "; ".join(problems))
        shutil.rmtree(out_dir, ignore_errors=True)
        if i == 0:
            first = dt
        else:
            walls.append(dt)
            if sp is not None:
                groups.append(sp["group"])
        i += 1
    tracer.pass_label = None
    pass_s = median(walls)
    out = Outcome(
        first_pass_s=first,
        pass_s=pass_s,
        records_per_s=tree.rows / pass_s,
        latencies_ms=[w * 1000 for w in walls],
        attempted=attempted,
        failed=failed,
    )
    if tracer.enabled:
        out.layer = _layers(ctx, tree, pass_s, groups, walls, calls.value, records.value, i)
    return out


def _timed(ctx: Ctx, name: str, fn) -> tuple[float, list[str]]:
    """Median wall of ``PROBE_REPS`` traced calls, and their job groups."""
    walls, groups = [], []
    for _ in range(PROBE_REPS):
        with ctx.tracer.span(name, group=True) as sp:
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        groups.append(sp["group"])
    return median(walls), groups


def _layers(ctx, tree, pass_s, groups, walls, put_calls, put_records, passes) -> dict[str, float]:
    spark = ctx.spark
    scan_s, scan_groups = _timed(
        ctx, "cf_source.scan", lambda: _ship(spark, tree.tree, None, False, False)
    )
    scan_tf_s, _ = _timed(
        ctx, "transforms.scan_transform", lambda: _ship(spark, tree.tree, None, True, False)
    )
    records = itertools.islice(inputs.expected_wire_records(tree.root), DIRECT_RECORDS)
    direct = direct_put_rate(ctx, [
        {"Data": inputs.wire_data(r), "PartitionKey": f"{k:032x}"} for k, r in enumerate(records)
    ])
    totals = stage_totals(spark)
    scan = sum_totals(totals, scan_groups[-1:])
    layer = {
        "cf_source.scan_s": scan_s,
        "cf_source.tasks": scan["tasks"],
        "cf_source.input_mb": scan["input_bytes"] / 1e6,
        "transforms.s": scan_tf_s - scan_s,
        "kinesis_sink.s": pass_s - scan_tf_s,
        "kinesis_sink.put_calls": put_calls / passes,
        "kinesis_sink.records_per_put": put_records / put_calls if put_calls else 0.0,
        "kinesis_sink.direct_records_per_s": direct,
    }
    layer.update(spark_layer([sum_totals(totals, [g]) for g in groups], walls))
    return layer


def direct_put_rate(ctx: Ctx, records: list[dict]) -> float:
    """``put_records_with_retry`` called in-process, with no Spark:
    records per second into a fresh fake data plane (median of reps).
    ``records`` are wire records, cycled to ``DIRECT_RECORDS``."""
    from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import put_records_with_retry
    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeKinesisDataPlane

    batch = [records[k % len(records)] for k in range(DIRECT_RECORDS)]
    rates = []
    for rep in range(PROBE_REPS):
        out_dir = ctx.path(f"direct-put-{rep}")
        with ctx.tracer.span("kinesis_sink.direct_put"):
            t0 = time.perf_counter()
            put_records_with_retry(batch, FakeKinesisDataPlane(out_dir), "perfbench-direct")
            rates.append(DIRECT_RECORDS / (time.perf_counter() - t0))
        shutil.rmtree(out_dir, ignore_errors=True)
    return median(rates)
