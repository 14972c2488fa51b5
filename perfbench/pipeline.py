"""``pipeline``: the paper's loop, S3 logs → Kinesis → streaming counts.

Two legs in one session, each a layer stack of its own:

1. the ingest leg (``ingest.py``): the reference's job as a closed loop
   with one client. Its cold pass, warm passes and rows shipped per
   second are this workload's ``first_pass_s``, ``pass_s`` and
   ``records_per_s``;
2. the stream leg (``stream.py``): a drain of a backlog, then an open
   loop fed by a separate generator process. Its per-record latency is
   this workload's ``latency_ms_p50`` and ``latency_ms_p90``; the drain
   is reported per layer.

The Kinesis layer is write-heavy in the first leg and read-heavy in the
second, so a gain for one use that costs the other shows in one run.
"""

from __future__ import annotations

from perfbench import ingest, stream
from perfbench.common import Ctx, Outcome


def prepare(ctx: Ctx, workers):
    return ingest.prepare(ctx, workers), stream.prepare(ctx, workers)


def run(ctx: Ctx, inp) -> Outcome:
    tree, stream_inp = inp
    shipped = ingest.run(ctx, tree)
    streamed = stream.run(ctx, stream_inp)
    layer = {**shipped.layer, **streamed.layer}
    if ctx.tracer.enabled:
        layer["stream.drain_s"] = streamed.first_pass_s
        layer["stream.drain_records_per_s"] = streamed.records_per_s
    return Outcome(
        first_pass_s=shipped.first_pass_s,
        pass_s=shipped.pass_s,
        records_per_s=shipped.records_per_s,
        latencies_ms=streamed.latencies_ms,
        attempted=shipped.attempted + streamed.attempted,
        failed=shipped.failed + streamed.failed,
        layer=layer,
    )
