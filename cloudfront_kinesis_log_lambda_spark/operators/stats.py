"""Statistical-test operators: categorical independence (chi-square)
and a numeric correlation matrix.

The monitoring siblings of the PSI drift score (operators/quality.py):
PSI asks "did THIS distribution move between two windows", the
chi-square test asks "are these two categoricals related at all", and
the correlation matrix is the numeric-feature audit every training
pipeline runs before feeding a model redundant columns.

Scale shape:

- ``chi2_independence`` reduces the fact table to an (r × c)
  contingency table in ONE partial+final aggregate — the only
  exchange that sees fact rows. Marginals, the dense grid (absent
  cells count 0 and still contribute (0−e)²/e), and the final fold
  all operate on r·c rows and join broadcast-side.
- ``corr_matrix`` computes every pairwise Pearson r in ONE pass of
  per-pair co-moment aggregates (Spark's built-in ``corr`` — JVM
  partial+final, no Python). k columns cost k·(k−1)/2 aggregate
  expressions in the same reduce, not k² scans.

Numerics: contingency counts are exact integers, so the chi-square
fold is deterministic double math over identical inputs on both
engines, rounded at the edge. Pearson r follows the events_zscore
precedent — built-in co-moment aggregation on both engines with
ROUND absorbing last-ulp accumulation-order noise (r is a ratio of
co-moments, so the relative error stays ~1e-13, far inside ROUND 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.relational import load
from cloudfront_kinesis_log_lambda_spark.operators.util import in_variance_domain

STATS_ROUND = 6


def chi2_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: one output row with the sample size, table shape, the
    chi² statistic, degrees of freedom, and Cramér's V effect size.

    Categories are the NON-NULL values observed in the data (a level
    with zero marginal count is not a category — its expected counts
    would be 0 and it contributes no information; a NULL is a
    completeness defect for the constraint suite, not a category —
    left in, its cells would silently fall out of the null-blind
    grid join while its marginal mass stayed charged); absent CELLS
    inside the observed r × c grid still contribute their full
    (0 − e)²/e term via the dense-grid expansion.
    """
    counts = (
        df.select(
            F.col(row_col).alias("rv"), F.col(col_col).alias("cv")
        )
        .filter(F.col("rv").isNotNull() & F.col("cv").isNotNull())
        .groupBy("rv", "cv")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    return chi2_from_counts(counts)


def chi2_from_counts(counts: DataFrame) -> DataFrame:
    """Chi-square finalizer over an (rv, cv, o) contingency table —
    shared verbatim by the batch operator and the streaming twin
    (streaming/stats.py), so identical merged counts yield an
    identical statistic.

    NULL-category guard lives HERE so both paths share it: a NULL
    rv/cv count row would keep its mass in the rn/cn marginals while
    its observed count falls out of the null-blind grid equi-join,
    silently inflating chi². The batch operator also filters
    pre-aggregate (cheaper); the streaming twin's merged store rows
    land here unguarded otherwise.
    """
    counts = counts.filter(
        F.col("rv").isNotNull() & F.col("cv").isNotNull()
    )
    # r15 examined, left alone: the contingency table feeds FOUR
    # consumers, but its (rv, cv) aggregate exchange is identical under
    # all of them, so runtime ReuseExchange scans the source once and
    # only r×c-row re-merges repeat; a measured A/B of an eager pin
    # here was a wash (min −7%, median +12%).
    rt = counts.groupBy("rv").agg(F.sum("o").cast("long").alias("rn"))
    ct = counts.groupBy("cv").agg(F.sum("o").cast("long").alias("cn"))
    n = counts.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        rt.join(F.broadcast(ct))
        .join(F.broadcast(n))
        .join(F.broadcast(counts), ["rv", "cv"], "left")
        .select(
            "rv",
            "cv",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
            (
                F.col("rn").cast("double")
                * F.col("cn").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
            "n",
        )
    )
    agg = grid.agg(
        F.max("n").alias("n"),
        F.count_distinct("rv").alias("n_rows"),
        F.count_distinct("cv").alias("n_cols"),
        F.sum(
            (F.col("o").cast("double") - F.col("e"))
            * (F.col("o").cast("double") - F.col("e"))
            / F.col("e")
        ).alias("chi2_raw"),
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    min_dim = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        F.round("chi2_raw", STATS_ROUND).alias("chi2"),
        dof.cast("long").alias("dof"),
        # 1×k / k×1 tables: dof = 0, effect size undefined → NULL
        # (try_divide, not /: ANSI raises on the zero min-dimension)
        F.round(
            F.sqrt(
                F.expr(
                    "try_divide(chi2_raw, cast(n as double) "
                    "* cast(least(n_rows - 1, n_cols - 1) as double))"
                )
            ),
            STATS_ROUND,
        ).alias("cramers_v"),
    )


def events_chi2_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the event-type mix independent of the hour of day? The
    5 × 24 contingency test over the events table."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour_of_day")
    )
    return chi2_independence(e, "event_type", "hour_of_day")


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation of ``cols``, long form: one row
    per unordered pair (col_a < col_b by the given order) with the
    coefficient — all pairs in a single aggregate pass."""
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    # r = cov/(σa·σb) from the built-in co-moment aggregates; NOT
    # F.corr, whose internal divide throws under Spark 4 ANSI when a
    # column is constant. A constant column's r is NULL (SQL corr
    # semantics), guarded exactly by min = max: the streaming variance
    # of a constant need not come out exactly 0, and a rounding-noise σ
    # in the denominator turns into an arbitrary r
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.round(
                F.expr(
                    f"CASE WHEN min({a}) = max({a}) OR min({b}) = max({b}) "
                    f"THEN NULL ELSE try_divide(covar_samp({a}, {b}), "
                    f"stddev_samp({a}) * stddev_samp({b})) END"
                ),
                STATS_ROUND,
            ).alias(f"{a}__{b}")
            for a, b in pairs
        ],
    )
    stack = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col(f"{a}__{b}").alias("r"),
                )
                for a, b in pairs
            ]
        )
    ).alias("p")
    return agg.select("n", stack).select(
        "p.col_a", "p.col_b", F.col("p.r").alias("pearson_r"), "n"
    )


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation audit of the four lineitem numeric measures —
    quantity/price correlate by construction; discount/tax should
    read near zero against everything."""
    # variance domain (r14): any measure outside the sum-of-squares
    # domain drops the ROW (corr needs complete observations; DuckDB's
    # STDDEV_SAMP raises outright on a max-double reading)
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    dom = None
    for c in cols:
        p_ = in_variance_domain(F.col(c))
        dom = p_ if dom is None else (dom & p_)
    li = load(spark, sf_dir, "lineitem").select(*cols).filter(dom)
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


# --- A/B experiment readout -----------------------------------------------

AB_Z_CRITICAL = 1.959964  # two-sided 95%


def two_proportion_ztest(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    converted_col: str,
) -> DataFrame:
    """Two-proportion z-test between exactly two experiment arms.

    Input: one row per observation; ``unit_col`` identifies the
    experimental unit (user), ``arm_col`` ∈ {'A','B'}, and
    ``converted_col`` is a boolean. A unit converts if ANY of its rows
    converted; a unit's arm is assumed consistent (assignment by
    hash). One output row: per-arm sizes/conversions/rates, absolute
    lift (B − A), the pooled-variance z statistic, and significance
    at two-sided 95%.

    Scale shape: one distinct-unit aggregate (unit grain), one tiny
    per-arm rollup, then scalar math on a 2-row table — fact rows
    cross exactly one exchange.
    """
    units = (
        df.select(
            F.col(unit_col).alias("unit"),
            F.col(arm_col).alias("arm"),
            F.col(converted_col).cast("int").alias("cv"),
        )
        .groupBy("unit", "arm")
        .agg(F.max("cv").alias("converted"))
    )
    arms = units.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.join(F.broadcast(b))
    rate_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    z = F.expr(
        "try_divide("
        "cast(conv_b as double) / cast(n_b as double)"
        " - cast(conv_a as double) / cast(n_a as double), se)"
    )
    return (
        j.withColumn("se", se)
        .select(
            "n_a",
            "conv_a",
            F.round(rate_a, STATS_ROUND).alias("rate_a"),
            "n_b",
            "conv_b",
            F.round(rate_b, STATS_ROUND).alias("rate_b"),
            F.round(rate_b - rate_a, STATS_ROUND).alias("lift"),
            F.round(z, STATS_ROUND).alias("z"),
            (F.abs(z) > F.lit(AB_Z_CRITICAL)).alias("significant"),
        )
    )


def events_ab_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout over the events table: users split into arms by
    user-id parity (the deterministic stand-in for an assignment
    hash), conversion = any purchase event."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type")
    arms = e.select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return two_proportion_ztest(arms, "user_id", "arm", "converted")


# --- shuffle-key skew diagnostics ------------------------------------------


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Distribution profile of a prospective shuffle/partition key —
    the diagnostic every wide plan in this engine implicitly bets on
    (per-user windows, per-type series, keyed joins): row/key counts,
    the hottest key's share, hot-over-median skew ratio, count
    percentiles, and normalized key entropy (1.0 = perfectly uniform,
    → 0 = one whale key owns the table).

    One keyed aggregate sees fact rows; the profile folds the per-key
    counts. Entropy uses the single-pass identity
    −Σ (n/T)·ln(n/T) = ln T − (Σ n·ln n)/T, so no per-key join
    against the total is needed. NULL keys are profiled as a real key
    (groupBy collapses them into one group, which hashes to one
    partition — exactly the skew this exists to catch).
    """
    counts = (
        df.select(F.col(key_col).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    nd = F.col("n").cast("double")
    prof = counts.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.round(F.expr("percentile(n, 0.5D)"), 6).alias("p50_n"),
        F.round(F.expr("percentile(n, 0.99D)"), 6).alias("p99_n"),
        F.sum(nd * F.log(nd)).alias("s_nlogn"),
        F.max(F.when(F.col("k").isNull(), F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("null_rows"),
    )
    t = F.col("n_rows").cast("double")
    entropy = F.log(t) - F.col("s_nlogn") / t
    return prof.select(
        "n_rows",
        "n_keys",
        "max_n",
        "p50_n",
        "p99_n",
        "null_rows",
        F.round(F.col("max_n").cast("double") / t, 6).alias("top_share"),
        F.round(
            F.expr("try_divide(cast(max_n as double), p50_n)"), 6
        ).alias("skew_ratio"),
        F.round(entropy, 6).alias("entropy"),
        F.round(
            F.expr(
                "try_divide(ln(cast(n_rows as double)) "
                "- s_nlogn / cast(n_rows as double), "
                "ln(cast(n_keys as double)))"
            ),
            6,
        ).alias("balance"),
    )


def events_user_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile of the events user_id — the partition key every
    per-user window/fold operator in this engine shuffles on."""
    return key_skew_profile(
        load(spark, sf_dir, "events").select("user_id"), "user_id"
    )
