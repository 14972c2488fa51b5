"""Shared operator plumbing."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def fits_broadcast(spark: SparkSession, rows: int, row_bytes: int) -> bool:
    """True iff ``rows`` measured rows of ``row_bytes`` each fit the
    session's ``spark.sql.autoBroadcastJoinThreshold``; never when it is
    negative (broadcasts off). For joins over checkpointed inputs, which
    carry no size statistics for Catalyst to apply the threshold to.
    Spark reports the conf as set (``64m``) or with a byte suffix
    (``10485760b``); a bare number means bytes."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    m = re.fullmatch(r"(-?)(\d+)([kmgtp]?)b?", raw)
    if m is None:
        raise ValueError(f"unparseable autoBroadcastJoinThreshold: {raw!r}")
    return not m.group(1) and rows * row_bytes <= int(m.group(2)) * _BYTE_UNITS[m.group(3)]


def finite(c: Column) -> Column:
    """True iff the double column holds a finite number.

    The r14 hostile-numeric sweep's domain guard: both Spark and DuckDB
    order NaN GREATER than every number, so a bare ``value > 0`` domain
    filter silently admits NaN into log/bucket/digit arithmetic, where
    the engines then diverge (Spark's FLOOR(NaN) vs DuckDB's
    CAST(NaN AS BIGINT) error). NULL stays NULL (WHERE treats it as
    false), mirroring SQL ``isfinite``."""
    return (~F.isnan(c)) & (F.abs(c) < F.lit(float("inf")))


#: conservative |v| bounds for the decimal-exact accumulation paths:
#: DECIMAL(18,9) holds 9 integer digits, DECIMAL(18,3) holds 15. The
#: −1 margin keeps a value that rounds UP at the cast from overflowing
#: at the boundary. Exact in double (both < 2^53), so the SAME literal
#: comparison replays bit-identically in DuckDB.
DECIMAL_18_9_BOUND = 1e9 - 1.0
DECIMAL_18_3_BOUND = 1e15 - 1.0
DECIMAL_18_4_BOUND = 1e14 - 1.0
#: |v| bound for double→BIGINT casts: 2^63 exactly as a double; every
#: double strictly below it casts losslessly-in-range on both engines
BIGINT_DOMAIN_BOUND = 9.223372036854776e18


#: |v| bound for variance-based statistics: sqrt(DBL_MAX). A value whose
#: SQUARE is not representable overflows any sum-of-squares variance —
#: Spark silently reads Inf/NaN while DuckDB's STDDEV_SAMP raises "out
#: of range", so the domain has to be explicit on both sides.
VARIANCE_DOMAIN_BOUND = 1.3407807929942596e154


def in_variance_domain(c: Column) -> Column:
    """True iff the double can enter a sum-of-squares variance (finite
    and |v| < sqrt(DBL_MAX)) — the r14 z-score domain guard."""
    return finite(c) & (F.abs(c) < F.lit(VARIANCE_DOMAIN_BOUND))


#: timestamp participation domain for SPINE-GENERATING operators
#: (gapfill and anything else that materializes a bucket grid derived
#: from data min/max). The r15 hostile-dates sweep's finding: one
#: year-0001 row next to one year-9999 row makes a data-derived hourly
#: gapfill spine 87.6 MILLION buckets wide — a single 700 MB sequence
#: array that killed the whole JVM (at 100 TB a corrupt timestamp
#: SOMEWHERE is certain). The domain is the int64-NANOSECONDS interop
#: envelope (Arrow / numpy datetime64[ns]: 1677-09-21..2262-04-11),
#: rounded inward to whole days — principled (it is the range every
#: ns-based tool in the pipeline can even represent) and it hard-caps
#: the worst-case spine at 5.12 M hourly buckets. Out-of-domain rows
#: are treated as missing, literal-mirrored in the DuckDB oracles; a
#: NULL timestamp has no position on the time axis and is likewise
#: excluded (BETWEEN is null-rejecting on both engines).
TS_SPINE_DOMAIN_LO = "1677-09-22 00:00:00"
TS_SPINE_DOMAIN_HI = "2262-04-11 00:00:00"


def in_ts_spine_domain(c: Column) -> Column:
    """True iff the timestamp may participate in a data-derived bucket
    spine (inside the ns-interop envelope; NULL-rejecting)."""
    return c.between(
        F.lit(TS_SPINE_DOMAIN_LO).cast("timestamp"),
        F.lit(TS_SPINE_DOMAIN_HI).cast("timestamp"),
    )


def in_decimal_domain(c: Column, bound: float) -> Column:
    """True iff the double is representable in the decimal-exact
    accumulation domain (finite and |v| < bound).

    The r14 hostile-numeric sweep's second domain guard: the
    decimal-exact statistics (Holt-Winters, CUSUM, OLS trend,
    embedding drift) quantize inputs to DECIMAL(18,s) for order-free
    exact sums, and under ANSI a single out-of-range reading (one
    1e308 sensor glitch in 100 TB) crashed the whole statistic with
    NUMERIC_VALUE_OUT_OF_RANGE. Out-of-domain values are treated as
    missing — excluded rows, documented per operator and mirrored in
    the DuckDB oracles with the same literal bound."""
    return finite(c) & (F.abs(c) < F.lit(bound))


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than the
    cluster has slots.

    CPU-bound per-row operators (shingling, hashing, regex scoring, vector
    math) inherit the scan's partitioning; a small-but-expensive input —
    one parquet file, a collected dimension — would otherwise run the
    whole hot loop in a single task. At real scale inputs arrive with
    thousands of partitions and this is a no-op; the explicit repartition
    is never coalesced away by AQE.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # df.rdd.getNumPartitions() would be exact but forces a full physical-
    # plan → RDD conversion on every call (this helper sits in ~10 operator
    # hot paths). Two cheap proxies instead:
    #   1. if the analyzed plan already contains a Repartition (an upstream
    #      ensure_parallelism or an explicit caller repartition), adding
    #      another is pure waste — short-circuit. In-memory DataFrames
    #      (inputFiles()==[]) would otherwise re-shuffle on every call.
    #   2. the scan's file count is a cheap FileIndex lookup and a
    #      conservative proxy: >= target files is certainly enough
    #      parallelism; fewer (or a non-file source, 0) gets the
    #      round-robin repartition. A single large splittable file
    #      repartitions unnecessarily — one extra shuffle, bounded by the
    #      input being small enough to have few files.
    try:
        if "Repartition" in df._jdf.queryExecution().analyzed().toString():
            return df
    except Exception:
        pass
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < target:
        return df.repartition(target)
    return df


def global_rank(
    df: "DataFrame",
    order_cols: list[str],
    n_partitions: int = 32,
    rank_col: str = "rn",
) -> "DataFrame":
    """Globally consecutive 1-based ranks in (order_cols) order WITHOUT
    a single-partition window: range-partition on the order columns,
    rank locally per partition, then add per-partition offsets computed
    from a bounded (≤ n_partitions rows) driver-side count pass — the
    classic two-phase total-order rank. The result is independent of
    the sampled range boundaries because offset + local rank always
    equals the row's position in the total order.

    ``order_cols`` must be a total order (include a unique id as the
    last column) or ranks are nondeterministic.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(n_partitions, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    part = part.localCheckpoint(eager=True)  # pin pids across the two passes
    counts = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # empty input: zero partitions counted → F.create_map() with no
    # entries is map<void,void> and off[_pid] fails ANALYSIS with a
    # type mismatch (r13 empty-table differential sweep) — an empty
    # frame must rank to an empty frame, not throw
    off = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        if offsets
        else F.create_map().cast("map<int,long>")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        part.withColumn(
            rank_col,
            (off[F.col("_pid")] + F.row_number().over(w)).cast("long"),
        )
        .drop("_pid")
    )
