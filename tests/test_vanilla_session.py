"""Guard against engine-session/driver-session conf skew.

Round-1 regression: ``load()`` relied on ``spark.sql.legacy.parquet.
nanosAsLong`` being set at session build (session.py), so any externally
built plain SparkSession threw PARQUET_TYPE_ILLEGAL on events.parquet
(TIMESTAMP NANOS) — 10 driver-gate queries errored. ``load()`` now sets
the conf at runtime, which this test proves on a genuinely bare session.

A bare session can't be built inside the test JVM (builder confs leak via
getOrCreate / sparkContext conf), so this runs a subprocess with NO
engine imports before the read.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

#: subprocesses run from this checkout's root, so they import its package
_ROOT = Path(__file__).resolve().parents[1]

_SCRIPT = r"""
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.appName("vanilla-load-probe")
    .master("local[2]")
    .getOrCreate()
)
from cloudfront_kinesis_log_lambda_spark.operators.relational import load

df = load(spark, "/root/testdata/sf0.001", "events")
assert dict(df.dtypes)["ts"] == "timestamp", df.dtypes
n = df.count()
assert n > 0, n
# a second engine query end-to-end on the same plain session
from cloudfront_kinesis_log_lambda_spark.plans.registry import purchases_asof_view

m = purchases_asof_view(spark, "/root/testdata/sf0.001").count()
assert m > 0, m
print(f"VANILLA_OK {n} {m}")
"""


def test_load_works_on_plain_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "VANILLA_OK" in proc.stdout, proc.stdout


_CONF_SCRIPT = r"""
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.relational import load
from cloudfront_kinesis_log_lambda_spark.session import ENGINE_CONF, get_spark
from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import tumbling_event_counts

keys = [*ENGINE_CONF, *json.loads(sys.argv[2]), "spark.sql.shuffle.partitions"]
plain = SparkSession.builder.master("local[4]").getOrCreate()
load(plain, sys.argv[1], "region")
repaired = {k: plain.conf.get(k) for k in keys}
plain.stop()
built = get_spark(master="local[4]")
got = {"repaired": repaired, "built": {k: built.conf.get(k) for k in keys}}
events = (
    built.readStream.format("rate-micro-batch")
    .option("rowsPerBatch", 60)
    .option("startTimestamp", 1704067200000)
    .load()
    .select(
        F.col("timestamp").alias("ts"),
        (F.col("value") % 3).cast("string").alias("event_type"),
    )
)
q = (
    tumbling_event_counts(events)
    .writeStream.format("memory")
    .queryName("counts")
    .outputMode("complete")
    .trigger(availableNow=True)
    .start()
)
assert q.awaitTermination(240), "stream did not finish"
got["state_partitions"] = q.lastProgress["stateOperators"][0]["numShufflePartitions"]
built.stop()
wide = get_spark(master="local[32]")
got["local32"] = wide.conf.get("spark.sql.shuffle.partitions")
print(json.dumps(got))
wide.stop()
"""

#: confs the engine relies on that Spark's own defaults already provide,
#: so ENGINE_CONF does not set them
_SPARK_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "67108864b",
}


def test_built_and_repaired_sessions_share_engine_conf(sf_dir):
    """One conf table: a ``get_spark`` session and a plain session after
    ``load()`` read the same value for every ``ENGINE_CONF`` key and for
    every Spark default the engine relies on, and the same shuffle-partition
    count, ``max(defaultParallelism, 8)``, which the built session's
    stateful stream takes for its state store; a ``local[32]`` session
    still gets 32. The sessions run in one subprocess, one after the other,
    because builder confs leak between sessions of one JVM."""
    import json

    from cloudfront_kinesis_log_lambda_spark.session import ENGINE_CONF

    proc = subprocess.run(
        [sys.executable, "-c", _CONF_SCRIPT, sf_dir, json.dumps(list(_SPARK_DEFAULTS))],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    expected = {**ENGINE_CONF, **_SPARK_DEFAULTS}
    for session in ("built", "repaired"):
        assert {k: got[session][k] for k in expected} == expected, session
    assert got["built"]["spark.sql.shuffle.partitions"] == str(max(4, 8))
    assert got["repaired"]["spark.sql.shuffle.partitions"] == str(max(4, 8))
    assert got["state_partitions"] == 8
    assert got["local32"] == "32"


def test_time_bucketing_is_session_timezone_independent(spark, sf_dir):
    """r13 adversarial probe, pinned (VERDICT r12 item 7): the full
    time-centric oracle surface came back byte-identical under
    America/New_York AND Asia/Kolkata sessions (19 entries each,
    tools/probe_session_seams.py) because events.ts is TIMESTAMP_NTZ in
    parquet, the NTZ→session-LTZ cast + session-local rendering
    round-trips the wall clock, and F.window aligns buckets in
    session-LOCAL time. Pin the sharpest case as a cheap in-suite gate:
    a HALF-HOUR zone (whole-hour zones survive epoch-aligned hour
    bucketing by accident; +05:30 only survives local-time alignment) —
    tumbling windows AND the hour-rendered OHLC twin must match the UTC
    run exactly.

    Compared through the GATE'S lens (toPandas → session wall-clock,
    the conversion the driver hashes), not ``collect()``: collect
    renders instants in the OS zone, and the NTZ→session-LTZ cast
    intentionally maps the same wall-clock to different instants per
    session — wall-clock parity IS the contract, instant parity is
    not."""
    from cloudfront_kinesis_log_lambda_spark.operators.timeseries import (
        events_ohlc,
    )
    from cloudfront_kinesis_log_lambda_spark.plans.registry import (
        events_tumbling_windows,
    )

    def run():
        tw = (
            events_tumbling_windows(spark, sf_dir)
            .toPandas()
            .sort_values(["window_start", "event_type"])
            .reset_index(drop=True)
        )
        oh = (
            events_ohlc(spark, sf_dir)
            .toPandas()
            .sort_values(["hour", "event_type"])
            .reset_index(drop=True)
        )
        return tw, oh

    tz_key = "spark.sql.session.timeZone"
    before = spark.conf.get(tz_key)
    utc = run()
    try:
        spark.conf.set(tz_key, "Asia/Kolkata")
        ist = run()
    finally:
        spark.conf.set(tz_key, before)
    assert ist[0].equals(utc[0])
    assert ist[1].equals(utc[1])
