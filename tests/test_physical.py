"""Physical-layout operators: bucketed join plans + salted-join parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators import relational as R
from cloudfront_kinesis_log_lambda_spark.operators.physical import (
    salted_join,
    write_bucketed,
)


@pytest.fixture()
def no_broadcast(spark, sf_dir):
    # force tune_session to run BEFORE we pin the threshold: the first
    # load() in a session applies the engine confs (incl. a 64m broadcast
    # threshold), which would silently undo the -1 below if this test
    # happened to be the session's first load (order-dependent failure
    # when the file runs standalone)
    R.load(spark, sf_dir, "region")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast):
    """The whole point of bucketing: co-located join, zero shuffle."""
    orders = R.load(spark, sf_dir, "orders")
    customer = R.load(spark, sf_dir, "customer")
    try:
        write_bucketed(
            orders.withColumnRenamed("o_custkey", "custkey"), "b_orders", "custkey", 8
        )
        write_bucketed(
            customer.withColumnRenamed("c_custkey", "custkey"), "b_customer", "custkey", 8
        )
        joined = spark.table("b_orders").join(spark.table("b_customer"), "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # no shuffle on either side
        # and the result is still the plain join
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_salted_join_matches_plain_join(spark):
    """Salted equi-join returns exactly the plain join's rows on skewed
    data (one key carries 90% of the left side)."""
    left = spark.createDataFrame(
        [(1 if i % 10 else i, f"l{i}") for i in range(1000)], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(120)], "k long, rv string"
    )
    plain = {(r["k"], r["lv"], r["rv"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["lv"], r["rv"]) for r in salted_join(left, right, "k").collect()
    }
    assert salted == plain and len(plain) > 0


def test_salted_left_join_keeps_misses(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "miss")], "k long, lv string")
    right = spark.createDataFrame([(1, "r1"), (2, "r2")], "k long, rv string")
    rows = {r["k"]: r["rv"] for r in salted_join(left, right, "k", how="left").collect()}
    assert rows == {1: "r1", 2: "r2", 99: None}


def test_dynamic_partition_pruning_on_partitioned_store(spark, sf_dir, tmp_path):
    """The 100 TB read-path contract for the partitioned log store: a
    join against a filtered dimension must prune fact partitions at
    RUNTIME (dynamic partition pruning), not scan all days and filter
    after the join.

    Two heuristics had to be learned the hard way and are pinned here:
    (1) the dim-side predicate must be one Catalyst's isLikelySelective
    accepts (a comparison like ``n > 300`` — a bare boolean column is
    NOT considered selective and silently disables DPP); (2) the dim
    join key must match the inferred partition-column type (DATE here —
    a string key inserts a cast on the partition attribute and the
    pruning rule no longer recognizes the scan)."""
    e = R.load(spark, sf_dir, "events")
    fact_dir = str(tmp_path / "fact")
    dim_dir = str(tmp_path / "dim")
    ed = e.withColumn("log_day", F.date_format("ts", "yyyy-MM-dd"))
    ed.write.mode("overwrite").partitionBy("log_day").parquet(fact_dir)
    (
        ed.groupBy("log_day")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("log_day", F.to_date("log_day"))
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("n") > 300)
    j = (
        fact.join(F.broadcast(dim), "log_day")
        .groupBy("log_day")
        .agg(F.sum("value").alias("s"))
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    # and the pruned result equals the unpruned semantics
    hot_days = {r["log_day"] for r in dim.collect()}
    got = {r["log_day"] for r in j.collect()}
    assert got == hot_days


def test_runtime_bloom_filter_prunes_fact_below_shuffle(spark, sf_dir, no_broadcast, tmp_path):
    """Row-level runtime filtering (the DPP sibling for non-partition
    keys): a selective filter on a non-broadcastable dim must inject a
    bloom_filter_agg on the dim side and a might_contain probe on the
    FACT side BELOW its shuffle — fact rows that cannot match die before
    the exchange. Gated on the executed plan, plus result parity."""
    from cloudfront_kinesis_log_lambda_spark.operators.physical import (
        with_runtime_bloom_filters,
    )

    # file-backed inputs: the optimizer needs scan size estimates
    fact_dir, dim_dir = str(tmp_path / "fact"), str(tmp_path / "dim")
    e = R.load(spark, sf_dir, "events")
    e.write.mode("overwrite").parquet(fact_dir)
    (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tot"))
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("tot") > 100.0)
    with with_runtime_bloom_filters(spark):
        j = fact.join(dim, "user_id").groupBy("user_id").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        got = {r["user_id"] for r in j.collect()}
    assert "bloom_filter_agg" in plan and "might_contain" in plan
    # the probe must sit below the fact-side exchange: the Filter line
    # carrying might_contain appears deeper than the first Exchange on
    # the fact scan branch — structural proxy: might_contain is attached
    # to a Filter over the parquet scan, not to the join output
    probe_line = next(l for l in plan.splitlines() if "might_contain" in l)
    assert "Filter" in probe_line
    assert got == {r["user_id"] for r in dim.collect()}


def test_aqe_splits_skewed_join_partition_at_runtime(spark, sf_dir, no_broadcast, tmp_path):
    """The runtime complement to salted_join: a 90%-hot key must make
    AQE re-plan the sort-merge join with the hot partition split across
    tasks — SortMergeJoin(skew=true) over an AQEShuffleRead skewed —
    with results identical to the unsplit join."""
    from cloudfront_kinesis_log_lambda_spark.operators.physical import (
        with_aqe_skew_join,
    )

    fact_dir, dim_dir = str(tmp_path / "fact"), str(tmp_path / "dim")
    (
        spark.range(0, 200000)
        .withColumn(
            "k",
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 500),
        )
        # incompressible pad: skew detection reads COMPRESSED MapStatus
        # sizes, and a constant pad deflates below any threshold
        .withColumn("pad", F.md5(F.col("id").cast("string")))
        .write.mode("overwrite")
        .parquet(fact_dir)
    )
    (
        spark.range(0, 500)
        .withColumnRenamed("id", "k")
        .withColumn("attr", F.col("k") % 7)
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    fact, dim = spark.read.parquet(fact_dir), spark.read.parquet(dim_dir)
    with with_aqe_skew_join(
        spark, skewed_partition_threshold="16KB", advisory_partition_size="8KB"
    ):
        # gate the bare join: Spark declines to split a skewed join whose
        # output feeds another shuffle (the split breaks the downstream
        # required distribution) unless forceOptimizeSkewedJoin — the
        # terminal-join shape is where the optimization applies
        j = fact.join(dim, "k").select("k", "attr", "pad")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan
    assert any(
        "AQEShuffleRead" in l and "skewed" in l for l in plan.splitlines()
    )
    # parity: the split join loses/duplicates nothing
    assert len(rows) == 200000
    from collections import Counter

    hot = Counter(r["k"] for r in rows)[0]
    assert hot == 180000  # the 90% key, intact across the split tasks


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """``scoped_conf`` puts back a key that had a value and unsets a key
    that had none, also when the block raises."""
    from cloudfront_kinesis_log_lambda_spark.session import scoped_conf

    set_key = "spark.sql.autoBroadcastJoinThreshold"
    unset_key = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "-1", unset_key: "7"}):
            assert spark.conf.get(set_key) == "-1"
            assert spark.conf.get(unset_key) == "7"
            raise RuntimeError
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_salted_join_refuses_right_shaped_joins(spark):
    """With the right side replicated salt x, a right/full join emits up
    to salt phantom null-left rows per unmatched right row — refuse
    loudly instead of silently corrupting."""
    import pytest

    from cloudfront_kinesis_log_lambda_spark.operators.physical import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, lv string")
    right = spark.createDataFrame([(1, "x"), (2, "u")], "k long, rv string")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, "k", salt=4, how="right")
    # the supported shapes still work
    assert salted_join(left, right, "k", salt=4, how="left").count() == 1
