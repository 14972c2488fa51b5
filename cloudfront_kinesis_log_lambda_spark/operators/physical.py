"""Physical-layout operators: bucketing, skew salting, and runtime
bloom-filter join pruning.

These are the knobs a 100 TB deployment turns that pure logical
plans don't express:

- **Bucketing** pre-shuffles a table once at write time. Two tables
  bucketed+sorted on the join key with the same bucket count join with
  NO exchange on either side — the per-query shuffle (the dominant cost
  of a fact⋈fact join at scale) is amortized into the write path.
  (AQE handles *moderate* skew; bucketing removes the shuffle entirely.)
- **Salting** splinters a pathologically hot key across ``salt``
  sub-keys. AQE's skew-join splitting handles most cases at runtime;
  explicit salting remains the answer when one key alone exceeds an
  executor (the reference does the same thing to Kinesis shards by
  re-rolling hot partition keys, cloudfront_kinesis_lambda.py:142-143).
- **Runtime bloom-filter pruning** (``with_runtime_bloom_filters``):
  when a selectively-filtered dimension is too big to broadcast, the
  optimizer builds a bloom filter over its join keys and pushes a
  ``might_contain`` probe BELOW the fact side's shuffle — fact rows that
  cannot match die before ever entering the exchange. At 100 TB this is
  the difference between shuffling the whole fact table and shuffling
  the few percent that survive the dim filter (the row-level sibling of
  dynamic partition pruning, which only works on partition columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.session import scoped_conf


def with_runtime_bloom_filters(
    spark: SparkSession,
    creation_side_max: str = "100MB",
    application_side_min: str = "0",
):
    """Session window in which runtime bloom-filter join pruning is
    eligible for every join compiled inside it.

    "Compiled" means OPTIMIZED: Spark resolves these confs at ACTION
    time, not at DataFrame construction — a frame built inside the
    window but collected after it silently compiles with the restored
    thresholds (no bloom filter, no error). Run the action inside the
    ``with`` block.

    Spark's defaults are sized for real clusters (creation side ≤ 10 MB,
    application-side scan ≥ 10 GB) — correct in production, never firing
    on test/PoC data. This scopes the thresholds so plans exercise the
    same optimizer path the big cluster uses, and restores the session
    afterwards. Injection still requires the structural conditions: a
    selective filter on the creation side and a non-broadcast join.
    """
    return scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": creation_side_max,
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": application_side_min,
        },
    )


def with_aqe_skew_join(
    spark: SparkSession,
    skewed_partition_threshold: str = "64KB",
    advisory_partition_size: str = "16KB",
    skew_factor: int = 2,
):
    """Session window in which AQE's runtime skew-join splitting is
    eligible at test/PoC data sizes.

    AQE already handles *moderate* skew in production with its default
    thresholds (256 MB skewed-partition floor) — the complement to the
    explicit ``salted_join`` below, which remains for the pathological
    single-key case. The defaults never fire on small data, so plans
    built in tests would silently skip the very optimizer path the big
    cluster relies on; this scopes the thresholds down and restores the
    session afterwards. The signature to gate on: the executed plan
    shows ``SortMergeJoin(skew=true)`` over an ``AQEShuffleRead skewed``
    — the hot partition split across tasks at runtime, no salting, no
    manual replication.
    """
    return scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": skewed_partition_threshold,
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory_partition_size,
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": str(skew_factor),
            # a large coalesce floor (tests set 1m to keep AQE quiet on tiny
            # inputs) would re-merge the split partitions
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        },
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a parquet table bucketed (and sorted) on
    ``bucket_col``. Readers joining two such tables on the bucket column
    get a shuffle-free (and with ``sort=True`` sort-free) sort-merge join.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Equi-join where ``left``'s hot keys are split across ``salt``
    sub-partitions and ``right`` is replicated ``salt``× to meet them.

    Correct for any 1:N join where ``right`` is the N=1 side (each right
    row matched by key+salt exactly once). Left rows get a seeded-random
    salt — deterministic per task retry (rand(seed) re-derives from the
    partition seed), uniform across the salt space.

    Only left-shaped joins are accepted: with the right side replicated
    salt×, a right/full/outer join would emit up to salt phantom
    null-left rows per unmatched right row (one per replica whose salt
    no left row drew) — verified-wrong, so refuse instead.
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi",
                   "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports inner/left-shaped joins only, got "
            f"{how!r}: the salt-replicated right side would emit phantom "
            "unmatched-right rows"
        )
    lsalt = left.withColumn("_salt", F.floor(F.rand(seed) * salt).cast("int"))
    rsalt = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return lsalt.join(rsalt, [on, "_salt"], how).drop("_salt")
