"""Benchmark of the engine, driven only through its public functions.

    python3 perfbench/run.py --workload {pipeline,dashboard} \\
        --seed N --seconds S --trace {0,1}

Each run starts a fresh ``get_spark(master="local[<nproc>]")`` session
with the shipped defaults, generates (or reuses) the inputs of its seed,
runs the workload, checks every output, and prints one JSON object as
the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans around every call into a layer and reports the
per-layer metrics, the tracing overhead (this run minus an untraced run
of the same seed) and writes the spans to ``.perfbench/traces``. See
``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.dashboard import ENTRIES  # noqa: E402
from perfbench.workers import Workers  # noqa: E402

WORKLOADS = ("pipeline", "dashboard")
#: a traced run, its untraced twin included, must end within this
TRACED_RUN_LIMIT_S = 175

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "records_per_s": "rec/s",
    "latency_ms_p50": "ms",
    "latency_ms_p90": "ms",
}

PER_LAYER = {
    "cf_source.scan_s": "s",
    "cf_source.tasks": "count",
    "cf_source.input_mb": "MB",
    "transforms.s": "s",
    "kinesis_sink.s": "s",
    "kinesis_sink.stream_s": "s",
    "kinesis_sink.put_calls": "count",
    "kinesis_sink.records_per_put": "rec",
    "kinesis_sink.direct_records_per_s": "rec/s",
    "kinesis_source.read_s": "s",
    "kinesis_source.latest_offset_ms": "ms",
    "kinesis_source.batches": "count",
    "kinesis_source.first_batch_records": "rec",
    "kinesis_source.fake_tip_ms": "ms",
    "stream.drain_s": "s",
    "stream.drain_records_per_s": "rec/s",
    "stream.trigger_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.lag_records_max": "rec",
    "state.rows_total": "count",
    "state.memory_mb": "MB",
    "state.commit_ms_p50": "ms",
    "state.rows_dropped_by_watermark": "count",
    "gen.records": "count",
    "gen.late_ms_max": "ms",
    "gen.out_of_order_s_max": "s",
    **{
        f"q.{entry}.{m}": unit
        for entry in ENTRIES
        for m, unit in (("s", "s"), ("jobs", "count"), ("cpu_ms", "ms"))
    },
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.cpu_parallelism": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.python_peak_rss_mb": "MB",
    **{f"trace_overhead.{name}": unit for name, unit in END_TO_END.items()},
}


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, common.PACKAGE, "__init__.py")):
        print("error: the engine package is not in this checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(common.WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        common.pin_environment(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args: argparse.Namespace, run_dir: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    spark, setup_s = common.start_session(nproc)
    cache = os.path.join(common.WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    tracer = (
        common.Tracer(spark, args.workload) if args.trace else common.NullTracer()
    )
    ctx = common.Ctx(
        spark=spark, workload=args.workload, seed=args.seed, seconds=args.seconds,
        nproc=nproc, run_dir=run_dir, cache=cache, tracer=tracer,
    )
    module = importlib.import_module(f"perfbench.{args.workload}")
    t0 = time.perf_counter()
    inp = module.prepare(ctx, Workers(nproc))
    t1 = time.perf_counter()
    rss = common.RssSampler(ctx.rss_exclude)
    with rss if args.trace else contextlib.nullcontext():
        outcome = module.run(ctx, inp)
    t2 = time.perf_counter()
    common.stop_session(spark)
    print(f"inputs {t1 - t0:.1f} s, workload {t2 - t1:.1f} s", file=sys.stderr)

    e2e = {
        "setup_s": setup_s,
        "first_pass_s": outcome.first_pass_s,
        "pass_s": outcome.pass_s,
        "records_per_s": outcome.records_per_s,
        "latency_ms_p50": common.percentile(outcome.latencies_ms, 50),
        "latency_ms_p90": common.percentile(outcome.latencies_ms, 90),
    }
    print(
        f"{args.workload} seed={args.seed}: failed {outcome.failed}/{outcome.attempted} "
        f"operations; " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()),
        file=sys.stderr,
    )
    if args.trace:
        untraced = _untraced_twin(args)
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(outcome.layer)
        layer["mem.peak_rss_mb"] = rss.peak_bytes / 1e6
        layer["mem.jvm_peak_rss_mb"] = rss.peak_jvm_bytes / 1e6
        layer["mem.python_peak_rss_mb"] = rss.peak_python_bytes / 1e6
        for name, value in e2e.items():
            layer[f"trace_overhead.{name}"] = value - untraced[name]["value"]
        traces = os.path.join(common.WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl")
        tracer.write(path)
        print(f"spans: {path}", file=sys.stderr)
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }


def _untraced_twin(args: argparse.Namespace) -> dict:
    """The end-to-end metrics of an untraced run of the same seed."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        check=True, capture_output=True, text=True,
        timeout=max(1.0, TRACED_RUN_LIMIT_S - common.process_age_s()),
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
