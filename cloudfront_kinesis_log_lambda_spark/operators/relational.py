"""Relational operator surface over the testdata star schema.

The reference implements none of this (SURVEY.md §2.5) — its whole
aggregation surface is one row counter (cloudfront_kinesis_lambda.py:189).
The engine exposes the full DataFrame/Catalyst surface instead; every
function here is a named, DuckDB-checkable query used by
``__spark_entry__.queries()`` and by ``bench.py``.

Scale conventions applied throughout:

- dimension tables (region/nation/supplier, and customer vs orders)
  joined with explicit ``F.broadcast`` hints — at 100 TB the fact tables
  shuffle-partition on join keys while dims replicate.
- aggregates aliased and rounded at the edge (ROUND(x, 2..6)) so results
  hash-stably across engines and partial-agg orderings; partial/final
  split itself is Catalyst's job.
- deterministic ORDER BY + tie-breaker keys everywhere a LIMIT exists
  (top-k plans become TakeOrderedAndProject — no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloudfront_kinesis_log_lambda_spark.operators.util import (
    BIGINT_DOMAIN_BOUND,
    DECIMAL_18_3_BOUND,
    DECIMAL_18_4_BOUND,
    finite,
    in_decimal_domain,
    in_ts_spine_domain,
)
from cloudfront_kinesis_log_lambda_spark.session import tune_session


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives
    # as epoch-nanos. Integer-divide (DIV keeps long precision — a double
    # roundtrip would lose sub-ms bits at 1e18 magnitudes) down to micros,
    # matching DuckDB's own nanos→micros truncation.
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # round-4 testdata regenerated events.ts as TIMESTAMP(MICROS,
        # isAdjustedToUTC=false) → TIMESTAMP_NTZ. Normalize to the
        # session-tz TIMESTAMP every operator was written against
        # (session is pinned UTC, so the hop is value-preserving);
        # without this, time functions like unix_micros reject the col.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --- aggregations -----------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style hash aggregate with partial+final split (Catalyst
    plans the map-side combine automatically)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style scan+filter+single-row agg; predicate and column
    pruning must reach the parquet scan (verified in tests via explain)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.09))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def distinct_suppliers_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst expands to a two-phase aggregate."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping_id so subtotal
    rows are distinguishable from genuine NULL keys.

    EMPTY-input contract (applies to cube_orders and
    grouping_sets_revenue too, r13 empty-table differential sweep):
    Spark's grouping-sets expansion yields ZERO rows on an empty input
    — including the `()` grand-total set, and even via SQL GROUPING
    SETS — where the SQL standard (DuckDB, Postgres) yields the one
    grand-total row with count 0. This engine follows SPARK semantics
    (synthesizing the standard's row would cost an existence check on
    every call to serve a degenerate input); consumers that need the
    standard's row on possibly-empty input should use a plain global
    aggregate, which Spark does special-case to one row."""
    l = load(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.grouping_id().cast("int").alias("gid"),
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority)."""
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.grouping_id().cast("int").alias("gid"),
    )


def conditional_agg_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN conditional aggregation (TPC-H Q14 shape)."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


def group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING: customers with more than 12 orders."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
        .filter(F.col("n_orders") > 12)
    )


# --- joins ------------------------------------------------------------------


def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way fact⋈fact⋈dim join: lineitem⋈orders shuffle on orderkey,
    customer broadcast (at real scale customer shuffles too — AQE decides;
    the hint applies to the genuinely small side)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-chain broadcast joins: customer⋈nation⋈region."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers who never placed an URGENT
    order (plain no-orders-at-all is empty on this data — every customer
    has orders — so the filtered variant keeps the check non-degenerate)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


def supplier_nation_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + per-nation supplier account rollup."""
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            F.round(F.coalesce(F.sum("s_acctbal"), F.lit(0.0)), 2).alias("sum_acctbal"),
        )
    )


def theta_join_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: parts priced within ±1.0 of another part's
    retail price in the same brand — a deliberate range-join exercise.
    Small side broadcast → BroadcastNestedLoopJoin stays sane; at scale
    use a banded equi-key prefix (bucketized price) to turn it into an
    equi-join, which is what we do here with `band`."""
    p = load(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_brand").alias("a_brand"),
        F.col("p_retailprice").alias("a_price"),
        F.floor(F.col("p_retailprice")).alias("a_band"),
    )
    b = p.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_brand").alias("b_brand"),
        F.col("p_retailprice").alias("b_price"),
        F.floor(F.col("p_retailprice")).alias("b_band"),
    )
    # equi keys (brand, band±1 via explode) first, theta residual second —
    # the banding turns an O(n²) nested loop into a hash join at scale.
    a_exp = a.withColumn("band", F.explode(F.array("a_band", F.col("a_band") - 1, F.col("a_band") + 1)))
    j = a_exp.join(b, (F.col("band") == F.col("b_band")) & (F.col("a_brand") == F.col("b_brand")))
    return (
        j.filter(
            (F.col("a_key") < F.col("b_key"))
            & (F.abs(F.col("a_price") - F.col("b_price")) <= 1.0)
        )
        .select("a_key", "b_key", "a_brand")
        .distinct()
    )


# --- windows ----------------------------------------------------------------


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER ranking window, top-3 orders per customer by price.
    Deterministic tie-break on orderkey."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rn")
    )


def order_price_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG analytic window: price delta vs customer's previous order.

    NULL order-date convention (r15 hostile-dates sweep): an undated
    order sorts FIRST in its customer's history — Spark's ascending
    default, spelled explicitly here and as NULLS FIRST in the oracle
    (DuckDB defaults NULLS LAST, the silent cross-engine divergence).
    The o_orderkey tie-break keeps the order total regardless."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_first(), "o_orderkey"
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
        ).alias("price_delta"),
    )


def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based running sum (ROWS UNBOUNDED PRECEDING..CURRENT).
    NULL order dates sort first — the order_price_delta convention."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc_nulls_first(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


def events_moving_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per user, the trailing-1-hour sum /
    count of event values (RANGE BETWEEN 3599s PRECEDING AND CURRENT ROW
    over epoch seconds). The one frame kind the ROWS-based windows above
    don't exercise; equal timestamps are frame peers so the summed set is
    order-independent. One hash exchange on user_id, sort within
    partitions — same shuffle shape at 100 TB as any per-entity window."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round(F.sum("value").over(w), 2).alias("moving_sum_1h"),
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
    )


def customer_value_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical ranking family (NTILE / PERCENT_RANK / CUME_DIST) —
    quartile assignment of customers by account balance within market
    segment. Deterministic under the unique (acctbal, custkey) order."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("long").alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# --- sort / limit / set ops -------------------------------------------------


def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject (no full sort)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


def region_nations_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / STRING_AGG): nations per
    region as a comma-joined, alphabetically sorted list. collect_list is
    shuffle-order-nondeterministic, so the sort happens INSIDE the
    aggregate output (array_sort) — the only way a distributed listagg
    can be deterministic without a global sort."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer vs supplier nations,
    tagged and stacked into one result."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("op", F.lit("intersect"))
    only_c = c.subtract(s).withColumn("op", F.lit("except"))  # EXCEPT DISTINCT
    all_n = c.union(s).distinct().withColumn("op", F.lit("union"))
    return all_n.unionByName(both).unionByName(only_c).select("op", "nationkey")


# --- events (stream-shaped table, batch view) --------------------------------


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time aggregate — the batch twin of the
    streaming windowed agg in streaming/pipeline.py."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (pairs with the CloudFront pipeline's to_json):
    pull props.k out and aggregate it."""
    e = load(spark, sf_dir, "events")
    # try_cast, not cast (r14 JSON-hostile probe): a props record whose
    # k holds an OBJECT crashes the ANSI string->long cast — one
    # schema-drifted record must read NULL, not kill the query
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").try_cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: props is
    parsed ONCE into the binary variant encoding (``try_parse_json``),
    then fields extract via ``variant_get`` — at scale this replaces
    per-access string re-parsing (``get_json_object`` re-parses the
    JSON text for every extraction expression) with typed navigation of
    the shredded binary, the same storage model as Parquet VARIANT /
    Iceberg v3. Aggregate shape: per-type presence count + min/max of
    props.k. Malformed JSON → NULL (``try_`` variant), matching the
    oracle's NULL-skipping aggregates."""
    e = load(spark, sf_dir, "events")
    # try_variant_get (r14): an object-valued k crashes variant_get's
    # cast under ANSI — schema drift reads NULL instead
    k = F.expr("try_variant_get(try_parse_json(props), '$.k', 'long')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the classic batch formulation; the streaming twin is session_window.

    NULL event time has no position on the session timeline (r15
    hostile-dates sweep): Spark's NULLS-FIRST lag made it a phantom
    opening session while DuckDB's NULLS-LAST merged it into the last
    one — excluded, mirrored in the oracle (the events_ewma rule)."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # both windows share partitioning AND ordering, so Catalyst plans one
    # exchange + one sort; the frame differs per function (lag = default
    # frame, running sum = unbounded-preceding)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_breaks = e.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = with_breaks.withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
    )


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series per event_type with gap filling: missing
    (hour, type) cells get zero counts and a last-observation-carried-
    forward sum — the hypertable/gapfill operator of time-series OLAP
    engines, composed from a generated spine + outer join + IGNORE NULLS
    window.

    Scale shape: ONE pass over raw events (the groupBy, map-side
    combined); bounds and the type list derive from the cached aggregate
    — hours×types rows, trivially memory-resident — rather than
    re-scanning events. The spine is generated, the outer join and LOCF
    window run over the already-dense grid.

    Timestamp domain (r15 hostile-dates sweep): the spine derives from
    data min/max, so ONE corrupt instant (year 0001 or 9999 — certain
    somewhere in 100 TB) exploded it to 87.6 M hourly buckets and
    killed the JVM. Rows outside the ns-interop envelope
    (``in_ts_spine_domain``, worst case 5.12 M buckets) are missing,
    literal-mirrored in the oracle; NULL ts has no bucket and is
    likewise excluded.
    """
    e = load(spark, sf_dir, "events").filter(in_ts_spine_domain(F.col("ts")))
    hour = F.date_trunc("hour", F.col("ts"))
    agg = (
        e.groupBy(hour.alias("bucket_ts"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .localCheckpoint(eager=True)  # not cache(): see dedup.py (unpersistable pin)
    )
    # every event's hour and type survive into agg, so min/max/distinct
    # over agg equal the same over raw events — no second events scan
    bounds = agg.agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket_ts")
    )
    grid = spine.crossJoin(agg.select("event_type").distinct())
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    return (
        grid.join(agg, ["bucket_ts", "event_type"], "left")
        .select(
            "bucket_ts",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("s", F.lit(0.0)).alias("sum_value"),
            F.coalesce(F.last("s", ignorenulls=True).over(w), F.lit(0.0)).alias(
                "locf_sum"
            ),
        )
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion: view → click → purchase, per user —
    each stage must occur strictly AFTER the previous one (min-timestamp
    chaining: the user's first view, the first click after that view,
    the first purchase after that click). Returns one accounting row per
    funnel stage with the users remaining — the product-analytics
    staple (Amplitude/Mixpanel funnels) over the events table.

    Scale shape: ONE exchange on user_id, then three whole-partition
    window mins chained over the same partitioning (Catalyst reuses the
    exchange; unbounded-frame mins need no sort) and a per-user fold
    that again reuses it. Stage chaining needs conditional mins that
    depend on EARLIER stages' results — not expressible in one flat
    aggregate; windows express it per-row, and window partitions SPILL
    (UnsafeExternalSorter), so a bot user with millions of events is
    slow, not an OOM — the reason this deliberately avoids the tempting
    collect_list-per-type formulation, whose per-key array buffers
    cannot spill. No self-joins: the naive events⋈events⋈events
    shuffles the fact three times; this shuffles (user, type, ts)
    triples once.
    """
    e = load(spark, sf_dir, "events")
    t, et = F.col("ts"), F.col("event_type")
    w = Window.partitionBy("user_id")
    staged = (
        # NULL users out: Spark pools them into ONE window partition (a
        # pseudo-user that could "convert"), while the oracle's equality
        # joins drop them — and a NULL-user funnel stage is meaningless
        e.filter(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts")
        .withColumn("t_view", F.min(F.when(et == "view", t)).over(w))
        .withColumn(
            "t_click",
            F.min(F.when((et == "click") & (t > F.col("t_view")), t)).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when((et == "purchase") & (t > F.col("t_click")), t)
            ).over(w),
        )
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.first("t_purchase").alias("t_purchase"),
        )
    )
    return staged.select(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_view").alias("stage"),
                    F.col("n_view").alias("n_users"),
                ),
                F.struct(
                    F.lit("2_click").alias("stage"),
                    F.col("n_view_click").alias("n_users"),
                ),
                F.struct(
                    F.lit("3_purchase").alias("stage"),
                    F.col("n_view_click_purchase").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.n_users")


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by their first-activity day, the
    count still active N days later — the growth-analytics staple.
    Returns (cohort_day, day_offset, n_users) for offsets 0..7.

    Scale shape: one shuffle on user_id for the first-day aggregate, a
    compact (user, cohort_day) broadcast-or-shuffle join back onto the
    per-(user, day) distinct activity, and a cohort-sized rollup. All
    rows past the first exchange are (user, date, int) triples.
    """
    e = load(spark, sf_dir, "events")
    day = F.to_date("ts")
    activity = e.select("user_id", day.alias("day")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        # plain count: activity is distinct on (user, day) and a user has
        # one cohort_day, so no (cohort_day, offset) group repeats a user
        # — countDistinct would add an expansion for nothing
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def user_value_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each user's
    per-day activity profile (event count + value total) as versioned
    dimension rows with
    [valid_from, valid_to) ranges and an is_current flag — the
    warehouse MERGE/SCD2 pattern expressed as a window (lead) over the
    change log, no mutable table needed (the lakehouse-native form:
    rebuild or incrementally append the history, never UPDATE).

    Scale shape: one (user, day) aggregate, one window shuffle on
    user_id ordered by day for the lead(). Both exchanges carry
    (user, date, double) rows.

    NULL event time has no activity day to version (r15 hostile-dates
    sweep: the NULL day sorted first in Spark's lead ordering, last in
    DuckDB's, flipping is_current) — excluded, mirrored in the oracle.
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    nxt = F.lead("day").over(w)
    return daily.select(
        "user_id",
        "n_events",
        "day_value",
        F.date_format("day", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.isnull(nxt).cast("int").alias("is_current"),
    )


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over user activity profiles (the
    PAPERS.md EDBT'19 streaming-similarity theme, relationally): each
    user's first-day hourly event-count series (24 buckets, zero-
    filled) scored by squared euclidean distance to a fixed query
    pattern; 5 nearest users win. Integer counts and an integer pattern
    keep the whole distance exact (Σ(n-p)² is a BIGINT) — the
    z-normalized variant adds two per-user window moments on top of
    this skeleton, nothing structural changes.

    Scale shape: one (user, hour) aggregate on the fact, a broadcast
    24-row hour spine (zero-fill via left join — missing hours matter:
    a user with no events at hour h contributes (0-p_h)², which an
    inner join would silently drop), one (user) re-aggregate, top-k via
    TakeOrderedAndProject. Series never materialize as arrays.
    """
    e = load(spark, sf_dir, "events")
    day0 = e.select(F.min(F.to_date("ts")).alias("d0"))
    hours = spark.range(24).select(F.col("id").cast("int").alias("hour"))
    pattern = F.col("hour") % 6  # deterministic query shape, both engines
    per_hour = (
        e.join(F.broadcast(day0))
        .filter(F.to_date("ts") == F.col("d0"))
        .groupBy("user_id", F.hour("ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    users = per_hour.select("user_id").distinct()
    grid = users.join(F.broadcast(hours))
    scored = (
        grid.join(per_hour, ["user_id", "hour"], "left")
        .select(
            "user_id",
            # d * d, not `** 2`: pow lowers to DOUBLE, which silently
            # drops low bits once d² > 2⁵³ — integer multiply keeps the
            # exact-BIGINT contract with the oracle at any magnitude
            (
                (F.coalesce("n", F.lit(0)) - pattern)
                * (F.coalesce("n", F.lit(0)) - pattern)
            ).cast("long").alias("sq"),
        )
        .groupBy("user_id")
        .agg(F.sum("sq").alias("dist_sq"))
    )
    return scored.orderBy("dist_sq", "user_id").limit(5)


def top_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via ranking window over events."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))
    )


def sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front door: the same Catalyst plans are reachable
    through ``spark.sql`` over registered views (TPC-H Q8-flavored market
    share — two fact joins, three broadcast dims, conditional agg,
    window share-of-total). Everything other queries prove about
    pushdown/broadcast applies unchanged: SQL and DataFrame code meet in
    the same optimizer.
    """
    for name in ("lineitem", "orders", "customer", "nation", "region"):
        load(spark, sf_dir, name).createOrReplaceTempView(f"v_{name}")
    return spark.sql(
        """
        WITH rev AS (
            SELECT n.n_name AS nation,
                   r.r_name AS region,
                   YEAR(o.o_orderdate) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume
            FROM v_lineitem l
            JOIN v_orders o   ON l.l_orderkey = o.o_orderkey
            JOIN v_customer c ON o.o_custkey = c.c_custkey
            JOIN v_nation n   ON c.c_nationkey = n.n_nationkey
            JOIN v_region r   ON n.n_regionkey = r.r_regionkey
        )
        SELECT region, nation, o_year,
               ROUND(SUM(volume), 2) AS nation_volume,
               ROUND(SUM(volume) / SUM(SUM(volume)) OVER (PARTITION BY region, o_year), 6)
                 AS region_share
        FROM rev
        GROUP BY region, nation, o_year
        """
    )


def recent_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 DataFrame ``lateralJoin``: the two most recent orders per
    customer as a correlated subquery — each left row drives a filtered,
    sorted, LIMIT-2 scan of the right side (the per-row-derived-table
    semantics SQL spells ``CROSS JOIN LATERAL``). Catalyst decorrelates
    this into the same window/top-k physical shape as the
    ``row_number() <= 2`` formulation the oracle uses — the feature is
    the FRONT DOOR (correlated-subquery authoring), not a new executor.
    Deterministic tiebreak on o_orderkey; inner join drops orderless
    customers so the oracle stays a plain window filter.

    NULL order dates sort LAST in the descending recency order — an
    undated order is never "most recent". Spelled explicitly on both
    sides (r15 hostile-dates): Spark's DESC default happens to be
    NULLS LAST and DuckDB's default_null_order happens to be
    direction-independent NULLS LAST, so the engines agreed only by a
    coincidence of defaults a session setting could flip.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return (
        c.alias("c")
        .lateralJoin(
            o.alias("o")
            .where(F.col("o.o_custkey") == F.col("c.c_custkey").outer())
            .select("o_orderkey", "o_orderdate", "o_totalprice")
            .orderBy(
                F.col("o_orderdate").desc_nulls_last(),
                F.col("o_orderkey").desc(),
            )
            .limit(2)
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
        )
    )


def doc_pack_sequences_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 ``WITH RECURSIVE``: the sequence-packing next-fit
    replay, running natively in Spark SQL — the SAME recursion the
    DuckDB oracle uses (functions/oracles.py::doc_pack_sequences, only
    the split/len builtins renamed to Spark's). Until 4.1 this shape
    needed the Arrow kernel in pipelines/training_data.py (which remains
    the scale path: the recursion advances every pack group one document
    per step, so its depth is the longest group — fine for replay/audit,
    wrong for the 100 TB hot path; the oracle-vs-kernel hash equality in
    the gate proves both agree). 16 pack groups (vs the kernel entry's 8)
    halve the replay depth — each recursion step is a Spark job. The
    recursion depth is max-rows-per-group (≈ corpus/16), which clears
    Spark's default 100-level cap only at toy scale — the explicit
    MAX RECURSION LEVEL raises it for audit runs on larger slices
    (caught by the sf0.1 sweep: 5000 docs → 313 levels)."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("v_documents")
    return spark.sql(
        r"""
        WITH RECURSIVE base AS (
          SELECT doc_id, pack_group, n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY pack_group ORDER BY doc_id) AS rn
          FROM (SELECT doc_id,
                       CAST((CAST(doc_id AS DECIMAL(20,0)) * 2654435761
                             % 4294967296 + 4294967296)
                            % 4294967296 % 16 AS INT) AS pack_group,
                       CAST(COALESCE(size(filter(split(trim(text), '\\s+'), x -> x != '')), 0) AS BIGINT) AS n_tokens
                FROM v_documents)),
        pack(pack_group, rn, doc_id, n_tokens, seq_id, seq_tokens)
          MAX RECURSION LEVEL 100000 AS (
          SELECT pack_group, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
          FROM base WHERE rn = 1
          UNION ALL
          SELECT b.pack_group, b.rn, b.doc_id, b.n_tokens,
                 CASE WHEN p.seq_tokens + b.n_tokens > 256 THEN p.seq_id + 1 ELSE p.seq_id END,
                 CASE WHEN p.seq_tokens + b.n_tokens > 256 THEN b.n_tokens ELSE p.seq_tokens + b.n_tokens END
          FROM pack p JOIN base b ON b.pack_group = p.pack_group AND b.rn = p.rn + 1)
        SELECT doc_id, pack_group, n_tokens, CAST(seq_id AS BIGINT) AS seq_id FROM pack
        """
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by in-window revenue for
    one market segment — selective dim filter (broadcast) → fact⋈fact
    equi-join → hash aggregate → TakeOrderedAndProject. The classic
    'filter early, broadcast the small side' plan."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-06-01"
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-06-01"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def events_metric_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-event-type metrics assembled into a
    map<string,double> (map_from_arrays + map_concat), values normalized
    with transform_values, zero-valued entries dropped with map_filter,
    then exploded back to (event_type, metric, value) rows — the shape a
    SQL oracle can check even though the map machinery itself is
    Spark-only. Map columns never cross a shuffle here: the maps are
    built and exploded in the same post-aggregate projection."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
    )
    base = F.map_from_arrays(
        F.array(F.lit("n_events"), F.lit("sum_value"), F.lit("avg_value")),
        F.array(F.col("n_events"), F.col("sum_value"), F.col("avg_value")),
    )
    m = F.map_concat(
        base, F.create_map(F.lit("n_users"), F.col("n_users"))
    )
    m = F.map_filter(m, lambda _, v: v != 0.0)
    m = F.transform_values(m, lambda _, v: F.round(v, 4))
    return agg.select("event_type", F.explode(m).alias("metric", "value"))


# --- scalar-function / subquery / grouping-set surface ----------------------


def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar library sweep (SURVEY.md §2.5 'scalar function library'):
    date (trunc/extract/datediff), string (substring/concat/upper/lpad),
    math (abs/ceil/floor/pow/log), conditional — one pass over orders,
    every expression codegen'd JVM-side.

    Partial-domain scalars are TOTAL by explicit guard (r14 TPC-H
    hostile axis): ceil→bigint overflows the cast on a non-finite
    price, and DuckDB ERRORS on sqrt/log of a negative where Spark
    yields NaN/NULL — each guarded expression reads NULL outside its
    domain, identically on both engines."""
    o = load(spark, sf_dir, "orders")
    price_ok = finite(F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long").alias("days_to_eoy"),
        F.upper(F.substring("o_orderpriority", 1, 1)).alias("prio_initial"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded_key"),
        # ROUND(x, k) beyond ~1e12 is the identity in exact math, but
        # DuckDB's multiply-round-divide spelling drifts ulps at
        # extreme magnitude (r14: ROUND(1.34e154, 4) came back 2 ulps
        # off) — so the rounding applies only where decimals exist
        F.when(
            F.abs(F.col("o_totalprice") - 150000.0) < 1e12,
            F.round(F.abs(F.col("o_totalprice") - 150000.0), 2),
        )
        .otherwise(F.abs(F.col("o_totalprice") - 150000.0))
        .alias("dist_from_150k"),
        F.when(
            # the CAST's domain, not just finiteness: a finite 1.8e308
            # price still overflows bigint after ceil(x/1000)
            price_ok
            & (F.abs(F.col("o_totalprice") / 1000.0) < F.lit(BIGINT_DOMAIN_BOUND)),
            F.ceil(F.col("o_totalprice") / 1000.0),
        )
        .cast("long")
        .alias("price_kilo_ceil"),
        F.when(
            price_ok & (F.col("o_totalprice") >= 0),
            F.when(
                F.sqrt("o_totalprice") < 1e12, F.round(F.sqrt("o_totalprice"), 4)
            ).otherwise(F.sqrt("o_totalprice")),
        ).alias("price_sqrt"),
        F.when(
            price_ok & (F.col("o_totalprice") > 0),
            F.round(F.log10("o_totalprice"), 4),
        ).alias("price_log10"),
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond cube/rollup): revenue by
    (status, priority), by status alone, and grand total — exercised via
    the SQL surface, exactly how a user would write it."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT)   AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
               ROUND(SUM(o_totalprice), 2)               AS revenue,
               COUNT(*)                                  AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus),
                                ())
        """
    )


def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape: parts priced above their brand's
    average retail price. Expressed as window avg — Catalyst decorrelates
    the subquery formulation to exactly this single-shuffle plan, so the
    engine states it directly."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    # avg is compared multiplicatively (price·n > Σ) and in DECIMAL:
    # prices are 2-dp values, so the decimal cast is exact and the sum
    # is order-independent — a double window SUM is shuffle-order
    # noise at the last ulp, and a strict > on it can flip a near-tie
    # row between engines (or between Spark runs). The rounded-quotient
    # formulation is avoided for the same reason (round-half midpoints).
    price_d = F.col("p_retailprice").cast("decimal(18,2)")
    return (
        p.withColumn("brand_sum", F.sum(price_d).over(w))
        .withColumn("brand_n", F.count(F.lit(1)).over(w))
        .filter(price_d * F.col("brand_n") > F.col("brand_sum"))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("p_retailprice"),
            F.col("brand_sum").cast("double").alias("brand_sum"),
            F.col("brand_n").cast("long").alias("brand_n"),
        )
    )


def orders_with_max_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN/EXISTS + scalar-aggregate subquery composition: orders whose
    single most expensive lineitem exceeds 10x its average item —
    max/avg computed in one grouped pass (no double scan)."""
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.round(F.max("l_extendedprice"), 2).alias("max_item"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_items"),
        F.count(F.lit(1)).alias("n_items"),
    )
    # max·n > 3·Σ ⇔ max > 3·avg, without the cross-engine double-division
    return per_order.filter(
        (F.col("n_items") >= 3)
        & (F.col("max_item") * F.col("n_items") > 3 * F.col("sum_items"))
    ).select(F.col("l_orderkey").alias("o_orderkey"), "max_item", "sum_items", "n_items")


def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark `percentile` and
    DuckDB `quantile_cont` share the definition) per order status, plus
    the HLL-style approx_count_distinct customer count at a fixed rsd.

    At 100 TB exact percentile is a full sort per group — production
    plans swap in approx_percentile (t-digest, mergeable partial aggs);
    it's exercised rows-only in tests since sketches aren't
    cross-engine-stable.
    """
    # robust-stat domain (r14 TPC-H hostile axis): non-finite prices
    # are missing — percentile NaN placement diverges across engines
    o = load(spark, sf_dir, "orders").filter(finite(F.col("o_totalprice")))
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def sketch_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB substitutes for exact distinct/
    percentile: approx_count_distinct (HyperLogLog++, mergeable partials,
    O(1) state) and approx_percentile (t-digest). Rows-only in the
    driver gate (sketch internals aren't cross-engine-stable); the
    accuracy contract vs exact is pinned by tests/test_sketches.py.
    """
    e = load(spark, sf_dir, "events")
    # one t-digest bound to a variable, three getItems — Catalyst's
    # PhysicalAggregation would dedup three identical approx_percentile
    # calls anyway, but this makes single-sketch execution structural
    # rather than optimizer goodwill
    ap = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 5000)")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        ap[0].alias("ap50"),
        ap[1].alias("ap90"),
        ap[2].alias("ap99"),
        F.count(F.lit(1)).alias("n_events"),
    )


def order_item_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: per-order quantity vector via
    collect_list → sort_array → transform → array_join, plus a distinct
    flag set. Arrays are emitted as canonical CSV strings so the result
    is cross-engine hashable (array columns don't compare stably through
    pandas) — the array ops themselves are the point.
    """
    # bigint cast domain (r14): a quantity outside ±2^63 crashes the
    # ANSI cast on one engine and errors the other's — excluded rows,
    # same missing-value rule as the decimal-exact paths
    li = load(spark, sf_dir, "lineitem").filter(
        finite(F.col("l_quantity"))
        & (F.abs(F.col("l_quantity")) < F.lit(BIGINT_DOMAIN_BOUND))
    )
    qty = F.sort_array(F.collect_list(F.col("l_quantity").cast("bigint")))
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.array_join(
            F.transform(qty, lambda x: x.cast("string")), ","
        ).alias("qty_csv"),
        F.element_at(qty, -1).alias("qty_max"),
        F.array_join(F.array_sort(F.collect_set("l_returnflag")), ",").alias("flags"),
    )


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-range binned histogram in ONE aggregation pass — the
    scale-friendly distribution profile. Sort-based quantiles shuffle the
    full column; this is a map-side-combinable groupBy over ~20 groups,
    so the reduce stage moves 20 rows per partition no matter how many
    trillions of input rows. Bucket = floor(price/30k) clamped to [0,20).
    """
    # non-finite prices have no bucket on the real line (r14): the
    # floor/clamp chain lands them engine-dependently
    o = load(spark, sf_dir, "orders").filter(finite(F.col("o_totalprice")))
    bucket = F.least(
        F.greatest(F.floor(F.col("o_totalprice") / 30000.0), F.lit(0)),
        F.lit(19),
    ).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
    )


def decimal_revenue_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal arithmetic surface: money aggregation in
    DECIMAL(18,2)/(18,4) — integer-scaled arithmetic with no float
    rounding anywhere until the final cast, the type discipline a
    billing/revenue pipeline runs at scale (float partial-agg ordering
    noise is unrepresentable; every partial sum is exact, so the
    map-side-combined two-phase aggregate is bit-identical to a serial
    fold). The end cast to double only renders the exact result.
    """
    # decimal-exact domain (r14): out-of-range readings are missing,
    # same rule as the decimal-exact statistics
    li = load(spark, sf_dir, "lineitem").filter(
        in_decimal_domain(F.col("l_extendedprice"), DECIMAL_18_3_BOUND)
        & in_decimal_domain(F.col("l_discount"), DECIMAL_18_4_BOUND)
    )
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(p).cast("double").alias("sum_price_exact"),
            F.sum(p * (one - disc)).cast("double").alias("sum_disc_price_exact"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
