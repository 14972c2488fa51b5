"""The engine's session confs: one table, applied at build and at repair.

:data:`ENGINE_CONF` holds every runtime SQL conf the engine sets.
:func:`get_spark` applies it when it builds a session. :func:`tune_session`
applies it to a session built elsewhere, such as an external driver's
plain ``SparkSession.builder.getOrCreate()``; ``relational.load`` calls it
before every read, so any session works.

Reproducibility requirements from the reference pipeline:

- ``spark.sql.session.timeZone=UTC``: the reference calls
  ``datetime.astimezone()`` on a naive CloudFront timestamp
  (cloudfront_kinesis_lambda.py:196-203), which attaches the *host* zone;
  on Lambda that host zone is UTC. Pinning the session zone makes the
  engine deterministic everywhere (SURVEY.md §1.4.4), and DuckDB's
  host-independent epoch math, which the oracles use, behaves as UTC.

The table does not restate Spark 4 defaults: AQE with partition
coalescing and skew-join splitting, and parquet filter pushdown, are
already on in a plain session.

Shuffle partitions follow one rule, ``max(defaultParallelism, 8)``, set
at runtime once the context exists, by :func:`tune_session` and, on a
local master, by :func:`get_spark`. On a cluster ``defaultParallelism``
right after ``getOrCreate()`` counts only the executors registered so
far, so a built session leaves the count to ``extra_conf`` or
``spark-submit --conf`` (about 2-3× the total cores). A stream's state
store keeps the count its checkpoint recorded when the query first ran.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: runtime SQL confs every engine session carries
ENGINE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # every pandas UDF in the engine is Arrow-batched
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow-optimized Python UDTF exchange: without it the UDTF surface
    # is the registry's ONLY row-at-a-time BatchEvalPython node
    # (PLAN_AUDIT.md); with it the chunker runs ArrowEvalPythonUDTF
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # generous broadcast threshold: all dimension tables here are tiny,
    # and at 100 TB the dims (region/nation/part metadata) still fit.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # testdata events.ts is TIMESTAMP(NANOS), which a plain session
    # rejects outright (PARQUET_TYPE_ILLEGAL): read it as long, converted
    # to a proper timestamp in the loader (see relational.load)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: marker conf: the session already carries the engine confs, so
#: :func:`tune_session` leaves it alone and :func:`get_spark` keeps its
#: shuffle-partition count (a deliberate one, e.g. from ``extra_conf``)
_TUNED = "spark.cloudfront_kinesis_log_lambda_spark.tuned"


def get_spark(
    app_name: str = "cloudfront-kinesis-log-lambda-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit supply it. ``extra_conf``
    is applied last, so it overrides any engine default.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        **ENGINE_CONF,
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    chosen = "spark.sql.shuffle.partitions" in conf or spark.conf.get(_TUNED, None)
    if not chosen and spark.conf.get("spark.master", "").startswith("local"):
        spark.conf.set("spark.sql.shuffle.partitions", _shuffle_partitions(spark))
    spark.conf.set(_TUNED, "true")
    return spark


def tune_session(spark: SparkSession) -> None:
    """Apply :data:`ENGINE_CONF` to a session that lacks it.

    A plain session keeps Spark's 200 shuffle partitions, so every
    multi-stage query on small or medium inputs pays about 200 tasks of
    scheduling per exchange: measured 28 s against about 3 s for the
    winnowing query at sf0.01. Every conf here is runtime-settable, so
    the engine repairs the session instead of requiring its own factory.
    Sessions from :func:`get_spark` carry the marker and are left as
    built.
    """
    if spark.conf.get(_TUNED, None):
        return
    for k, v in {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": _shuffle_partitions(spark),
        _TUNED: "true",
    }.items():
        spark.conf.set(k, v)


def _shuffle_partitions(spark: SparkSession) -> str:
    """One task per core, at least 8."""
    try:
        return str(max(spark.sparkContext.defaultParallelism, 8))
    except AttributeError:  # Spark Connect sessions expose no sparkContext
        return "8"


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` block, then restore
    each key: reset to its previous value, or unset if it had none."""
    conf = spark.conf
    old = {k: conf.get(k, None) for k in confs}
    for k, v in confs.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            conf.unset(k) if v is None else conf.set(k, v)
