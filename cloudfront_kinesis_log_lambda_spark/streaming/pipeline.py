"""Structured Streaming surface (SURVEY.md §7 M5).

The reference is itself a streaming system — an unbounded stream of log
files flowing S3→Lambda→Kinesis with at-least-once delivery and no
event-time logic (SURVEY.md §2.5). This module is the engine's upgrade:

- the S3-notification trigger becomes the checkpointed streaming *file
  source* (`sources.cloudfront.read_cloudfront_logs_stream`); a Kinesis
  source drops in the same spot via a DataSourceV2 connector when one is
  on the classpath — the transform/sink chain is source-agnostic.
- the reference's single row counter (cloudfront_kinesis_lambda.py:189)
  becomes `df.observe` metrics, visible per micro-batch.
- watermarked event-time windows, session windows, and
  dropDuplicatesWithinWatermark give the late-data semantics the
  reference lacks; dedup on `cf_request_id` upgrades its at-least-once
  delivery to effective exactly-once downstream.

Scale notes: every stateful op here keys its state by a bounded-entropy
key (window × type, request id within the watermark horizon) so state
store size is proportional to the horizon, not the stream; watermarks are
what let Spark evict — an unwatermarked streaming agg would OOM at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cloudfront_kinesis_log_lambda_spark.operators.transforms import (
    cloudfront_wire_pipeline,
)
from cloudfront_kinesis_log_lambda_spark.operators.util import (
    in_ts_spine_domain,
)
from cloudfront_kinesis_log_lambda_spark.sources.cloudfront import (
    read_cloudfront_logs_stream,
)


def stream_cloudfront_wire(
    spark: SparkSession,
    landing_dir: str,
    sink,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 16,
    ua_fidelity: str = "fast",
) -> StreamingQuery:
    """Continuous CloudFront ingest: landing dir → transform → wire →
    ``sink`` (a foreachBatch callable, e.g. :class:`sinks.KinesisSink`).

    ``maxFilesPerTrigger`` is the backpressure knob standing in for the
    reference's producer sleep loop (cloudfront_kinesis_lambda.py:219-220);
    the checkpoint replaces its implicit 'Lambda ran once per file'
    bookkeeping with real exactly-once source tracking.
    """
    raw = read_cloudfront_logs_stream(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger
    )
    wire = cloudfront_wire_pipeline(raw, ua_fidelity=ua_fidelity)
    wire = observed_counter(wire, "wire_records")
    return (
        wire.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def observed_counter(df: DataFrame, name: str = "records") -> DataFrame:
    """The reference's producer line counter
    (cloudfront_kinesis_lambda.py:189,230) as a streaming-safe observable
    metric — readable from each micro-batch's `observedMetrics`."""
    return df.observe(name, F.count(F.lit(1)).alias("n_records"))


def tumbling_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling (or sliding, if ``slide`` given) window agg.

    Late rows beyond the watermark are dropped and their window's state
    evicted — bounded state at any scale.

    Event-time domain guard (r15 hostile-dates sweep): one corrupt
    FUTURE instant (a single year-9999 row somewhere in 100 TB) would
    advance the watermark past every live event and silently drop the
    entire stream; a pre-1677 instant overflows the Arrow/pandas ns
    envelope every downstream consumer uses. Out-of-envelope rows are
    excluded BEFORE the watermark (``in_ts_spine_domain``, the
    ns-interop envelope), literal-mirrored in the batch-twin oracles;
    NULL event time has no position on the timeline (null-rejecting)."""
    events = events.filter(in_ts_spine_domain(F.col(ts_col)))
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    # the value sum is emitted only when the stream HAS the column —
    # count-only streams (e.g. the CloudFront wire stream keyed by env)
    # get windowed counts instead of an unresolved-column error
    aggs = [F.count(F.lit(1)).alias("n_events")]
    cols = ["n_events"]
    if "value" in events.columns:
        aggs.append(F.round(F.sum("value"), 2).alias("sum_value"))
        cols.append("sum_value")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            *cols,
        )
    )


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows (the streaming twin of the batch
    ``sessionize_events`` lag+running-sum formulation). Event-time
    domain guard as for ``tumbling_event_counts`` (watermark poisoning
    + ns-envelope overflow, r15 hostile-dates sweep)."""
    events = events.filter(in_ts_spine_domain(F.col(ts_col)))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension
    table. With ``broadcast`` (the right default — dims are small) the
    join is stateless map-side work in every micro-batch: no shuffle, no
    state store, and the dim snapshot is re-resolved per batch, so a
    reloaded dim table is picked up automatically."""
    right = F.broadcast(dim) if broadcast else dim
    return stream.join(right, on=on, how=how)


def running_user_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key running
    event count and value sum, carried across micro-batches — the kind of
    cumulative state the reference cannot express at all.

    State per key is two scalars (count, sum) → state-store size is
    O(distinct keys), independent of stream length. An optional
    processing-time timeout evicts idle keys, bounding state for
    unbounded key universes (the 100 TB safety valve). The key's output
    type follows the input schema (not a hardcoded long), so string keys
    work; the summed column is ``value_col``.
    """
    import pandas as pd  # noqa: PLC0415 — executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = dict(events.dtypes)[key_col]
    out_schema = f"{key_col} {key_type}, n_events long, total_value double"
    state_schema = "n long, s double"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_minutes
        else GroupStateTimeout.NoTimeout
    )

    def update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += int(len(pdf))
            s += float(pdf[value_col].sum())
        state.update((n, s))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [round(s, 2)]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    within: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: match right-stream rows to
    left-stream rows with the same key arriving within ``[left_ts,
    left_ts + within]``.

    Both sides carry a watermark AND the join condition bounds the time
    skew between them — together these let Spark expire join state (a
    left row can stop waiting once the right watermark passes
    ``left_ts + within``), so state size is O(rows per watermark
    horizon), not O(stream length). Without the interval bound the
    state store grows forever — the unbounded-state trap this wrapper
    exists to make unrepresentable.

    ``how`` may be "inner", "leftOuter", etc. — outer sides emit their
    null-padded rows only once the opposing watermark closes the window.
    """
    lw = left.withWatermark(left_ts, watermark)
    # rename BOTH right-side join columns to sentinels: with only the
    # key renamed, left_ts == right_ts (the natural call on two streams
    # of the same schema) makes the condition's F.col(right_ts)
    # ambiguous and the join fails at construction
    rw = right.withColumnRenamed(right_key, "__rk").withColumnRenamed(
        right_ts, "__rts"
    )
    # ...and for the same-schema case the NON-join columns collide too:
    # without a suffix the result carries two columns literally named
    # e.g. "value", and every downstream select/groupBy dies with
    # AMBIGUOUS_REFERENCE — suffix the right side's overlaps
    for c in [c for c in rw.columns if c in left.columns]:
        target = f"{c}_right"
        if target in left.columns or target in rw.columns:
            # renaming onto an occupied name would recreate the exact
            # AMBIGUOUS_REFERENCE failure this suffix exists to fix —
            # refuse loudly, same contract as _asof_join's reserved-name
            # guard
            raise ValueError(
                f"column name {target!r} is reserved by the stream-stream "
                f"join's overlap suffix — rename it on the input"
            )
        rw = rw.withColumnRenamed(c, target)
    rw = rw.withWatermark("__rts", watermark)
    cond = (
        (F.col(left_key) == F.col("__rk"))
        & (F.col("__rts") >= F.col(left_ts))
        & (F.col("__rts") <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    joined = lw.join(rw, cond, how).drop("__rk")  # key is redundant post-join
    # restore the caller's right-ts name; when both sides share the name
    # (the case the sentinel exists for) disambiguate with a suffix
    out_ts = right_ts if right_ts not in joined.columns else f"{right_ts}_right"
    if out_ts != right_ts and out_ts in joined.columns:
        raise ValueError(
            f"column name {out_ts!r} is reserved by the stream-stream "
            f"join's right-ts suffix — rename it on the input"
        )
    return joined.withColumnRenamed("__rts", out_ts)


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once upgrade for at-least-once upstreams: drop duplicate
    deliveries (same ``keys``, e.g. cf_request_id) arriving within the
    watermark horizon. State holds only keys newer than the horizon.

    Event-time domain guard (r15 hostile-dates sweep): one corrupt
    year-9999 delivery advances the dedup watermark eight millennia and
    silently drops EVERY subsequent record as late — observed end to
    end in kinesis_exactly_once_rollup, where a single hostile instant
    collapsed 80% of the rollup. Out-of-envelope and NULL event times
    are excluded before the watermark (``in_ts_spine_domain``),
    mirrored in the rollup oracle."""
    df = df.filter(in_ts_spine_domain(F.col(ts_col)))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
