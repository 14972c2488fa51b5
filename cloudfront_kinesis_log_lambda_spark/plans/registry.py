"""Query registry: every operator exposed through the driver contract.

Each entry is ``name → (spark, sf_dir) → DataFrame``. SQL-expressible
entries have a DuckDB twin in ``functions/oracles.py``; hash-dependent /
non-relational ops (MinHash, SimHash, LSH, wire pipeline) are rows-only
and verified by planted-duplicate recall tests in ``tests/``.
"""

from __future__ import annotations

import math
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators import asof as A
from cloudfront_kinesis_log_lambda_spark.operators import cdc as CDC
from cloudfront_kinesis_log_lambda_spark.operators import graph as G
from cloudfront_kinesis_log_lambda_spark.operators import mining as MN
from cloudfront_kinesis_log_lambda_spark.operators import quality as Q
from cloudfront_kinesis_log_lambda_spark.operators import stats as ST
from cloudfront_kinesis_log_lambda_spark.operators import retrieval as RT
from cloudfront_kinesis_log_lambda_spark.operators import timeseries as TS
from cloudfront_kinesis_log_lambda_spark.operators import corpus as C
from cloudfront_kinesis_log_lambda_spark.operators import dedup as D
from cloudfront_kinesis_log_lambda_spark.operators import multimodal as M
from cloudfront_kinesis_log_lambda_spark.operators import pandas_grouped as PG
from cloudfront_kinesis_log_lambda_spark.operators import relational as R
from cloudfront_kinesis_log_lambda_spark.operators import similarity as S
from cloudfront_kinesis_log_lambda_spark.operators import sketch as SKT
from cloudfront_kinesis_log_lambda_spark.operators import text as T
from cloudfront_kinesis_log_lambda_spark.functions import bpe as BPE
from cloudfront_kinesis_log_lambda_spark.functions import subword as SW
from cloudfront_kinesis_log_lambda_spark.functions.udtf import doc_chunks
from cloudfront_kinesis_log_lambda_spark.operators.transforms import (
    cloudfront_wire_pipeline,
    transform_cloudfront,
)
from cloudfront_kinesis_log_lambda_spark.sources.cloudfront import read_cloudfront_logs
from cloudfront_kinesis_log_lambda_spark.streaming import pipeline as SP


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.load(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.load(spark, sf_dir, "embeddings")


def _with_scratch(tag: str, build: Callable[[str], DataFrame]) -> DataFrame:
    """Scratch-store scaffold shared by the incremental-twin entries:
    pre-clean a pid-scoped tmp root, run ``build(root)`` (which drives
    foreachBatch callables against stores under ``root``), materialize
    the result via localCheckpoint so it outlives the store, then
    remove the tree even when build raises."""
    import shutil

    root = os.path.join(tempfile.gettempdir(), f"cfkll-{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        return build(root).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- text analysis ----------------------------------------------------------


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_stats(_docs(spark, sf_dir))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_score(_docs(spark, sf_dir))


def doc_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WordPiece subword accounting per document
    (functions/subword.py) — the token unit real context budgets use;
    the DuckDB twin replays the greedy scan with a recursive CTE over
    the same vocabulary literal."""
    return SW.doc_subword_tokens(_docs(spark, sf_dir))


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id(_docs(spark, sf_dir))


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.tfidf_topk(_docs(spark, sf_dir), k=5)


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.exact_dedup(_docs(spark, sf_dir))


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.repetition_signals(_docs(spark, sf_dir))


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.pii_scrub(_docs(spark, sf_dir))


def parquet_roundtrip_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink evidence in the gate: events written through the partitioned
    parquet store layout (partitionBy day), read back, and aggregated —
    any lost/duplicated/corrupted row breaks the oracle hash. Partition
    pruning on log_day is what this layout buys at 100 TB."""
    import shutil

    # pid-scoped: the external gate may run queries in parallel processes,
    # and two writers overwriting one directory corrupt both
    out = os.path.join(tempfile.gettempdir(), f"cfkll-events-store-{os.getpid()}")
    e = R.load(spark, sf_dir, "events")
    staged = e.withColumn("log_day", F.date_format("ts", "yyyy-MM-dd"))
    (
        staged.repartition("log_day")
        .write.mode("overwrite")
        .partitionBy("log_day")
        .parquet(out)
    )
    # read with the WRITTEN schema: a zero-row day writes only _SUCCESS
    # and a bare read of the footer-less tree throws
    # UNABLE_TO_INFER_SCHEMA — empty input must round-trip to an empty
    # rollup (r13 empty-table differential sweep)
    back = spark.read.schema(staged.schema).parquet(out)
    agg = (
        back.groupBy(F.col("log_day").cast("string").alias("log_day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        # eager-materialize the (days-sized) rollup so the parquet tree can
        # be deleted NOW — repeated gate/bench runs (fresh pid each) were
        # accumulating events-sized copies under /tmp
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    return agg


def events_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout evidence in the gate: events rewritten through the
    Z-order clustered writer (operators/layout.py — multi-dimensional
    row-group skipping on (user_id, value)), read back, and aggregated —
    a lost/duplicated row, or a z-value accidentally left in the schema,
    breaks the oracle hash. The skipping-effectiveness contract itself
    (z-order prunes on EVERY clustered dim, linear only on its sort key)
    is measured from real parquet row-group stats in test_layout."""
    import shutil

    from cloudfront_kinesis_log_lambda_spark.operators.layout import write_zordered

    out = os.path.join(tempfile.gettempdir(), f"cfkll-events-zorder-{os.getpid()}")
    e = R.load(spark, sf_dir, "events")
    write_zordered(e, out, ["user_id", "value"], n_files=16)
    back = spark.read.parquet(out)
    from cloudfront_kinesis_log_lambda_spark.operators.util import (
        DECIMAL_18_9_BOUND,
        in_decimal_domain,
    )

    agg = (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal-exact sum (r15, the kinesis_exactly_once_rollup
            # finding): a double SUM is summation-order-dependent and
            # the dense dates fixture landed totals on a cent boundary
            F.round(
                F.sum(
                    F.when(
                        in_decimal_domain(F.col("value"), DECIMAL_18_9_BOUND),
                        F.col("value").cast("decimal(18,9)"),
                    )
                ).cast("double"),
                2,
            ).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    return agg


# --- near-dup detection -----------------------------------------------------


def near_dup_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.near_dup_pairs_exact(_docs(spark, sf_dir), n=3, threshold=0.5)


def near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=8)


def winnow_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.winnow_near_pairs(_docs(spark, sf_dir), threshold=0.5)


def near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING incremental detector (streaming/dedup.py) driven
    over the documents table as two arrival waves: odd doc_ids land in
    micro-batch 0, even in micro-batch 1, so every cross-parity near-dup
    pair is only discoverable via the persisted band/gram index. Returns
    the accumulated pair log (rows-only: MinHash buckets are
    hash-seeded; batch-equivalence is proven in test_streaming_dedup)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.dedup import (
        StreamingNearDup,
        near_dup_pair_log,
    )

    def build(root: str) -> DataFrame:
        detector = StreamingNearDup(
            os.path.join(root, "store"),
            os.path.join(root, "out"),
            threshold=0.5,
        )
        docs = _docs(spark, sf_dir)
        detector(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1), 0)
        detector(docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0), 1)
        return near_dup_pair_log(spark, os.path.join(root, "out"))

    return _with_scratch("stream-dedup", build)


def semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING semantic-dedup twin (streaming/semantic_dedup.py)
    driven over the embeddings table as two arrival waves: odd vec_ids
    land in micro-batch 0 (which also trains the frozen centroid
    geometry), even in micro-batch 1, so every cross-parity semantic
    duplicate is only discoverable via the persisted cell index. Returns
    the accumulated (vec_id, canon_id) assignment (rows-only: k-means
    geometry is data-trained; exact stream==batch parity under shared
    geometry is proven in test_streaming_semantic_dedup)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.semantic_dedup import (
        StreamingSemanticDedup,
        semantic_assignment,
    )

    def build(root: str) -> DataFrame:
        detector = StreamingSemanticDedup(
            os.path.join(root, "store"),
            os.path.join(root, "out"),
            threshold=0.92,
            n_centroids=16,
        )
        emb = _emb(spark, sf_dir)
        detector(emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1), 0)
        detector(emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0), 1)
        return semantic_assignment(spark, os.path.join(root, "out"), emb)

    return _with_scratch("stream-semdedup", build)


def events_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING HLL twin (streaming/hll.py) driven over the events
    table as three arrival waves split by event_id residue — users
    recur across waves, so the register store must accumulate, not
    recount. HASH-GREEN even though it is a streaming operator: the
    register merge law makes the accumulated estimate BIT-IDENTICAL to
    the batch sketch, so the oracle is the same SQL as
    ``events_hll_users`` (the writeStream-driven leg + retry
    idempotence live in test_streaming_hll)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.hll import StreamingHLL

    def build(root: str) -> DataFrame:
        sk = StreamingHLL(root, ["event_type"], "user_id")
        e = R.load(spark, sf_dir, "events")
        for wave in range(3):
            sk(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return sk.estimate(spark)

    return _with_scratch("stream-hll", build)


def events_ddsketch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING DDSketch twin (streaming/ddsketch.py) driven over
    the events table as three arrival waves. HASH-GREEN via the
    histogram sum-merge law: the accumulated log-γ buckets equal the
    batch histogram bit-for-bit, so the quantile read matches the batch
    sketch — the oracle IS events_value_ddsketch's SQL (writeStream leg
    + SUM non-idempotence live in test_streaming_ddsketch)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.ddsketch import (
        StreamingDDSketch,
    )

    def build(root: str) -> DataFrame:
        dd = StreamingDDSketch(root, ["event_type"])
        e = R.load(spark, sf_dir, "events")
        for wave in range(3):
            dd(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return dd.quantiles(spark)

    return _with_scratch("stream-dd", build)


def word_countmin_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Count-Min twin (streaming/countmin.py) driven over
    the documents table as three arrival waves split by doc_id residue —
    heavy words recur in every wave, so counter cells must accumulate.
    HASH-GREEN like events_hll_incremental: counter cells are
    SUM-mergeable, so probing the accumulated matrix with the corpus's
    exact top-20 words reproduces the batch query bit-for-bit — the
    oracle IS word_countmin_topk's SQL (writeStream leg + the
    NON-idempotence of SUM under re-delivery live in
    test_streaming_countmin)."""
    from cloudfront_kinesis_log_lambda_spark.operators.sketch import CMS_TOPK
    from cloudfront_kinesis_log_lambda_spark.streaming.countmin import (
        StreamingCountMin,
    )

    def build(root: str) -> DataFrame:
        cms = StreamingCountMin(root)
        d = R.load(spark, sf_dir, "documents").select("doc_id", "text")
        for wave in range(3):
            cms(d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == wave), wave)
        top = (
            d.select(F.explode(F.split("text", r"\s+")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .orderBy(F.col("n_exact").desc(), F.col("word").asc())
            .limit(CMS_TOPK)
        )
        return cms.probe(top)

    return _with_scratch("stream-cms", build)


def doc_weighted_sample_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING A-Res twin (streaming/weighted_sample.py) driven
    over the documents table as three arrival waves. HASH-GREEN via the
    top-k merge law: every global top-k member is in its own batch's
    top-k, so re-selecting over the stored per-batch candidates
    reproduces the batch sample bit-for-bit — the oracle IS
    doc_weighted_sample's SQL (writeStream leg + re-delivery
    harmlessness live in test_streaming_weighted_sample)."""
    from cloudfront_kinesis_log_lambda_spark.operators.reshape import (
        WEIGHTED_SAMPLE_K,
    )
    from cloudfront_kinesis_log_lambda_spark.streaming.weighted_sample import (
        StreamingWeightedSample,
    )

    def build(root: str) -> DataFrame:
        ws = StreamingWeightedSample(root, k=WEIGHTED_SAMPLE_K)
        d = R.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
        for wave in range(3):
            ws(d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == wave), wave)
        return ws.sample(spark)

    return _with_scratch("stream-ws", build)


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-dedup: connected components (min-label propagation) over
    the MinHash-LSH pair graph → (doc_id, canon_id) for every document.

    The pair graph comes from the SCALE path (banded LSH, capped buckets
    — no shingle self-join anywhere in this plan), not the quadratic
    exact join, which survives only as the oracle/recall baseline. LSH
    candidates are verified with exact Jaccard before clustering, so
    precision is exact; recall at J>=0.5 is 1.0 on this corpus
    (tests/test_dedup.py), which is what lets the result still hash-match
    the DuckDB recursive-CTE transitive closure over the exact graph.

    COUPLING INVARIANT: that hash-match holds only while LSH recall
    stays 1.0 — if num_hashes/bands/threshold or the corpus changes and
    this entry starts failing its oracle, it is a recall miss, not a
    correctness bug; re-check tests/test_dedup.py's recall gate first
    and widen the margin (more hashes / lower band rows) until green."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, n=3, threshold=0.5)
    return D.near_dup_clusters(docs, pairs)


def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline (pipelines/training_data.py):
    quality gate → exact dedup → MinHash-LSH near dedup → PII scrub,
    reported as the per-stage retention funnel. Oracle-checked end to
    end (the DuckDB twin recomputes the funnel with the exact-Jaccard
    transitive closure — same LSH-recall coupling as near_dup_clusters)."""
    from cloudfront_kinesis_log_lambda_spark.pipelines import curation_report

    return curation_report(_docs(spark, sf_dir))


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting
    (pipelines/training_data.py::split_assign) — exact-arithmetic hash
    split, oracle-checked."""
    from cloudfront_kinesis_log_lambda_spark.pipelines import split_assign

    return split_assign(_docs(spark, sf_dir))


def doc_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus QA profile (operators/text.py::table_profile): one-scan
    per-column row/null/distinct/min/max over the documents table —
    fully oracle-checked (plain SQL aggregates)."""
    return T.table_profile(
        _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
    )


def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination gate (operators/text.py::contamination):
    docs with ``doc_id % 10 == 7`` play the held-out benchmark set; every
    other document reports the fraction of its 3-grams that leak from
    it. Fully oracle-checked (string-gram semi-probe is plain SQL)."""
    docs = _docs(spark, sf_dir)
    return T.contamination(
        docs.filter(F.col("doc_id") % 10 != 7),
        docs.filter(F.col("doc_id") % 10 == 7),
        n=3,
        threshold=0.2,
    )


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pipelines/training_data.py::pack_sequences):
    deterministic next-fit into 256-token training sequences within
    Knuth-hash pack groups — exactly oracle-checked by a recursive CTE
    replaying the same in-order scan."""
    from cloudfront_kinesis_log_lambda_spark.pipelines import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=256, n_groups=8)


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.unigram_logprob(_docs(spark, sf_dir))


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k bigram LM quality score (operators/corpus.py::
    bigram_logprob) — the order-sensitive perplexity proxy next to
    doc_unigram_logprob's bag-of-words one."""
    return C.bigram_logprob(_docs(spark, sf_dir))


def doc_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.source_quota(_docs(spark, sf_dir), cap=10)


def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.mixture_sample(_docs(spark, sf_dir))


def doc_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.gram_novelty(_docs(spark, sf_dir), n=3)


def doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.dup_span_stats(_docs(spark, sf_dir), n=3)


def doc_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.quality_sample(_docs(spark, sf_dir))


def doc_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup MATERIALIZATION: one kept representative per near-dup
    cluster (the canonical member) with its cluster size — what a
    training-data pipeline actually writes out after near-dup analysis.
    Built on the same LSH pair graph as ``near_dup_clusters`` (same
    coupling invariant); the aggregate over the assignment adds one
    days-sized shuffle."""
    docs = _docs(spark, sf_dir)
    assignment = D.near_dup_clusters(docs, D.minhash_lsh_pairs(docs, n=3, threshold=0.5))
    return (
        assignment.groupBy("canon_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("canon_id").alias("doc_id"), "cluster_size")
    )


# --- UDTF surface -----------------------------------------------------------


def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_chunks(spark, _docs(spark, sf_dir))


# --- as-of join -------------------------------------------------------------


def _asof_events_sides(spark: SparkSession, sf_dir: str):
    """Shared purchase/view inputs for the as-of ENTRIES, restricted to
    the Arrow ns envelope (r15 hostile-dates): the underlying
    operators/asof.py path is pure JVM and handles any instant, but the
    entry RESULTS carry raw timestamps that every pandas/Arrow consumer
    (including the driver gate's toPandas — Arrow is on by default in
    Spark 4) must be able to represent; one year-9999 purchase crashed
    the collection outright. Same participation contract as
    purchases_asof_cogroup; NULL-ts purchases keep their documented
    no-match row."""
    from cloudfront_kinesis_log_lambda_spark.operators.util import (
        in_ts_spine_domain,
    )

    ev = R.load(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .filter(F.col("ts").isNull() | in_ts_spine_domain(F.col("ts")))
        .select("event_id", "ts", "user_id", "value")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .filter(in_ts_spine_domain(F.col("ts")))
        .select("user_id", "ts", "value")
    )
    return purchases, views


def purchases_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined (backward as-of, per user) to that
    user's most recent view event at-or-before the purchase time.
    Participation domain: the ns envelope (``_asof_events_sides``)."""
    purchases, views = _asof_events_sides(spark, sf_dir)
    return A.asof_join_backward(purchases, views, on="user_id", right_cols=["value"])


def purchases_next_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of WITH tolerance: each purchase joined to that user's
    EARLIEST view event at-or-after the purchase time, nulled when it
    falls more than 1 day out — the merge_asof(direction='forward',
    tolerance=...) contract, exercising the frame-flip + tolerance paths
    of operators/asof.py the backward entry doesn't. Participation
    domain: the ns envelope (``_asof_events_sides``)."""
    purchases, views = _asof_events_sides(spark, sf_dir)
    return A.asof_join_forward(
        purchases, views, on="user_id", right_cols=["value"],
        suffix="_next", tolerance="1 day",
    )


def purchases_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME backward as-of semantics as ``purchases_asof_view``,
    through the engine's other as-of path: co-grouped ``applyInPandas``
    + ``pandas.merge_asof`` per user group — covering the cogroup(map)
    UDF surface with an operator whose answer is machine-checkable
    (checked against the identical ASOF JOIN oracle)."""
    ev = R.load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    return PG.asof_join_cogroup(purchases, views, on="user_id", right_cols=["value"])


# --- streaming operators, batch twins ---------------------------------------
# The streaming surface (streaming/pipeline.py) is exercised end-to-end by
# tests/test_streaming.py; these twins run the SAME operator functions over
# the batch events table (withWatermark is a no-op in batch) so F.window /
# session_window semantics get driver-gate oracle evidence too.


def events_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling-window counts/sums per event_type — the batch
    twin of the watermarked streaming aggregate."""
    return SP.tumbling_event_counts(R.load(spark, sf_dir, "events"))


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes — the batch twin of the
    watermarked SLIDING aggregate (each event lands in window/slide = 2
    overlapping epoch-aligned windows). Exercises the ``slide`` path of
    ``tumbling_event_counts`` that the tumbling twin doesn't."""
    return SP.tumbling_event_counts(
        R.load(spark, sf_dir, "events"), window="10 minutes", slide="5 minutes"
    )


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (30 min) session windows per user — the batch twin of
    the streaming ``session_window`` aggregate; session end = last event
    + gap, end-exclusive (a new event at exactly prev_ts+gap opens a new
    session)."""
    return SP.session_window_counts(R.load(spark, sf_dir, "events"), gap="30 minutes")


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``stream_stream_interval_join``: every (error,
    click) pair for the same user where the click lands within
    ``[error.ts, error.ts + 6 h]`` (inclusive both ends). In streaming
    the same function's watermark + interval bound is what makes join
    state expirable; the batch run gives the join-condition semantics a
    DuckDB-checked driver row."""
    ev = R.load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    return SP.stream_stream_interval_join(
        errors, clicks, left_key="user_id", right_key="c_user",
        left_ts="err_ts", right_ts="click_ts", within="6 hours", how="inner",
    )


# --- similarity search ------------------------------------------------------


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_norms_by_label(_emb(spark, sf_dir))


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization codes, oracle-hashed exactly (integer codes +
    scale rounded at the edge); codes render as CSV so the array payload
    is hash-comparable across engines."""
    q = S.quantize_int8(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.array_join("codes", ",").alias("codes"),
    )


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


def cosine_topk_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk_multi(_emb(spark, sf_dir), query_vec_ids=[0, 1, 2], k=5)


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by int8-quantized dot product — the serving path over the
    compressed code table; exactly oracle-checkable (integer dots)."""
    return S.quantized_dot_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


# coarse-quantizer training-set cap for the IVF serving tiers + the
# recall report (the FAISS sizing practice: ~1500 points/centroid is
# already generous for k=16; the full corpus is the anti-pattern).
# Below the cap -- every unit fixture and sf0.01 -- geometry is
# byte-identical to uncapped, so only sf0.1+ trains on the sample.
ANN_TRAIN_CAP = 25_000

# r15: rows/task floor for the recall report's shared corpus
# repartition -- a 64-dim cosine/bucket Arrow kernel over fewer rows
# than this is launch-latency, not compute; capped at cluster
# parallelism so big corpora still use every slot.
ANN_REPORT_ROWS_PER_TASK = 256


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ann_lsh_topk(_emb(spark, sf_dir), query_vec_id=0, k=10)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_topk(
        _emb(spark, sf_dir), query_vec_id=0, k=10, train_cap=ANN_TRAIN_CAP
    )


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ivf_pq_topk(
        _emb(spark, sf_dir), query_vec_id=0, k=10, train_cap=ANN_TRAIN_CAP
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every approximate serving tier against the exact
    brute-force top-k, as RETURNED ROWS — gate-visible quality evidence
    for the ANN family (r5 VERDICT item 5: the rows-only ann_* entries
    prove execution in the driver environment, not quality; this entry
    carries the quality number itself). All tiers run with the SAME
    fixed seeds/params as their own registry entries, so the report
    measures exactly what those entries serve.

    One declarative plan: tag each tier's returned ids, left-semi join
    against the truth set, count per tag — no driver-side set math.
    Rows-only (the trained tiers are hash-seeded); the values are pinned
    deterministic + floor-gated in tests/test_similarity.py.

    r15 (guide §2.2/§4.1): the corpus is repartitioned ONCE to a
    data-size-derived width (≤ ANN_REPORT_ROWS_PER_TASK rows/task,
    capped at cluster parallelism) and shared by the truth probe, the
    trainer and all four tiers. Each tier's internal
    ensure_parallelism short-circuits on the visible Repartition, and
    the four union branches reuse the single exchange
    (ReusedExchange) — before, every branch re-repartitioned the
    2 000-row sf0.1 corpus to full cluster width and paid ~32
    near-empty Python-worker round trips per Arrow kernel. At real
    scale the derived width saturates at defaultParallelism, so the
    plan is unchanged where the data is big. The count this sizing
    needs is shared with the trainer (``n_rows``)."""
    emb = _emb(spark, sf_dir)
    k = 10
    n_emb = emb.count()
    try:
        _par_cap = spark.sparkContext.defaultParallelism
    except Exception:
        _par_cap = 8
    emb = emb.repartition(
        max(1, min(_par_cap, -(-n_emb // ANN_REPORT_ROWS_PER_TASK)))
    )
    truth = (
        S.cosine_topk(emb, query_vec_id=0, k=k)
        .select("vec_id")
        .localCheckpoint(eager=True)  # tiny (k rows); reused by 4 probes
    )
    # one shared coarse-quantizer training for both IVF tiers: their
    # own entries train with identical (k=16, iters=3) deterministic
    # parameters, so injection changes nothing the report measures —
    # it just stops the report training the same geometry twice
    # (~1.4 s of the 5.7 s wall at sf0.1)
    cents = S.kmeans_centroids(emb, train_cap=ANN_TRAIN_CAP, n_rows=n_emb)
    # likewise one shared query-vector fetch (r12, VERDICT r11 item 3):
    # the three collect-based tiers otherwise each pay a 1-row collect
    # job for the same vector — at the report's tiny data size the wall
    # is job-count-bound, so shared fetches are the honest lever
    qv = [float(x) for x in S.fetch_query_vec(emb, "vec_id", "embedding", 0)]
    tiers = {
        "lsh": S.ann_lsh_topk(emb, query_vec_id=0, k=k, query_vec=qv),
        "ivf": S.ivf_topk(emb, query_vec_id=0, k=k, centroids=cents,
                          query_vec=qv),
        "ivf_pq": S.ivf_pq_topk(emb, query_vec_id=0, k=k, centroids=cents,
                                query_vec=qv),
        "matryoshka": S.matryoshka_topk(emb, query_vec_id=0, k=k, prefix_dim=16),
    }
    tagged = None
    for name, df in tiers.items():
        part = df.select(F.lit(name).alias("method"), F.col("vec_id"))
        tagged = part if tagged is None else tagged.unionByName(part)
    hits = (
        tagged.join(F.broadcast(truth), "vec_id", "left_semi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # left join against the method list so a tier with ZERO hits still
    # reports a row (an inner groupBy would silently drop it)
    methods = spark.createDataFrame([(m,) for m in tiers], "method string")
    return (
        methods.join(hits, "method", "left")
        .select(
            "method",
            F.lit(k).cast("long").alias("k"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall"),
        )
    )


def ann_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING vector index (streaming/vector_index.py) driven as
    two arrival waves over the embeddings table, then a top-k served
    from the persisted (cid, codes, nrm) code table alone — frozen
    centroids, partition-pruned probe (rows-only: k-means geometry;
    exactness bounds in test_streaming_vector_index)."""
    import shutil

    from cloudfront_kinesis_log_lambda_spark.streaming.vector_index import (
        StreamingVectorIndex,
        index_topk,
    )

    root = os.path.join(tempfile.gettempdir(), f"cfkll-vec-index-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    emb = _emb(spark, sf_dir)
    idx = StreamingVectorIndex(root)
    idx(emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0), 0)
    idx(emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1), 1)
    qv = S.fetch_query_vec(emb, "vec_id", "embedding", 0)
    out = index_topk(
        spark, root, [float(x) for x in qv], k=10, nprobe=4, exclude_id=0
    ).localCheckpoint(eager=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def embedding_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_self_join_above(_emb(spark, sf_dir), threshold=0.3)


def embedding_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_pairs_exact(_emb(spark, sf_dir), threshold=0.3)


def doc_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster (SemDeDup-style) dedup materialization: IVF-cell
    assignment → within-cell above-threshold cosine pairs → one kept
    representative per semantic component with its cluster size — the
    same keep shape as doc_dedup_keep, over the embedding space instead
    of the n-gram space. Rows-only (k-means geometry is seed/corpus
    dependent); planted-duplicate recall is gated in
    tests/test_similarity.py."""
    assignment = S.semantic_dedup(_emb(spark, sf_dir), threshold=0.92)
    return (
        assignment.groupBy("canon_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("canon_id").alias("vec_id"), "cluster_size")
    )


# --- multimodal -------------------------------------------------------------


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = M.extract_features(M.documents_as_assets(_docs(spark, sf_dir)))
    # scalar projection is the oracle-checkable face of the Arrow UDF;
    # the features vector itself is covered by tests/test_multimodal.py
    return feats.select("asset_id", "modality", "n_bytes", "checksum")


def scd2_incremental_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink evidence for the copy-on-write upsert store: the events
    table split into per-day micro-batches, each MERGEd into a
    BucketedUpsertStore via scd2_merge, then read back — the oracle is
    the one-shot batch SCD2 over the same events, so the hash match
    proves the incremental keyed-MERGE maintenance (touched-bucket
    rewrites, per-bucket watermarks) reconstructs the exact history.
    Bounded to the first 8 days: each day is one apply() = several
    Spark jobs, and 8 MERGE rounds already exercise every store path
    (new buckets, reopened buckets, multi-version chains)."""
    import shutil

    from cloudfront_kinesis_log_lambda_spark.streaming.upsert import (
        BucketedUpsertStore,
        scd2_merge,
    )

    out = os.path.join(
        tempfile.gettempdir(), f"cfkll-scd2-store-{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
    e = R.load(spark, sf_dir, "events").filter(
        F.to_date("ts") < F.lit("2024-01-09").cast("date")
    )
    daily = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("day_value"),
        )
        .select(
            "user_id",
            "n_events",
            "day_value",
            F.date_format("day", "yyyy-MM-dd").alias("valid_from"),
            F.lit("9999-12-31").alias("valid_to"),
            F.lit(1).alias("is_current"),
        )
        .localCheckpoint(eager=True)
    )
    days = sorted(r["valid_from"] for r in daily.select("valid_from").distinct().collect())
    store = BucketedUpsertStore(out, "user_id", n_buckets=8)
    merge = scd2_merge()
    for i, day in enumerate(days):
        store.apply(daily.filter(F.col("valid_from") == day), i, merge)
    schema = (
        "user_id long, n_events long, day_value double, "
        "valid_from string, valid_to string, is_current int"
    )
    back = store.read(spark, schema).localCheckpoint(eager=True)
    shutil.rmtree(out, ignore_errors=True)
    return back


def multimodal_asset_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over BINARY asset payloads (the multimodal face of
    doc_exact_dedup): checksum-groupBy on the opaque payload column —
    byte-identical images/audio collapse regardless of filename or
    metadata. Returns one row per distinct payload with the keeper
    (min asset_id) and copy count. At 100 TB the md5 runs scan-side and
    only (digest, id) pairs shuffle — payload bytes never enter the
    exchange (the same keyed-shuffle hygiene as the text operators)."""
    assets = M.documents_as_assets(_docs(spark, sf_dir))
    return (
        assets.select("asset_id", F.md5("payload").alias("checksum"))
        .groupBy("checksum")
        .agg(
            F.min("asset_id").alias("keep_asset_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def training_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline capstone composition, sink evidence included:
    documents → deterministic train/val/test split → per-split sequence
    packing (256-token budget) → parquet shards PARTITIONED BY split
    (what a tokenizer job consumes, pruned per split) → read back →
    per-split accounting (docs, sequences, tokens). Every stage is exact
    arithmetic, so the whole composition hash-checks against a recursive
    CTE replaying split + pack in DuckDB — a lost/duplicated row, a
    mis-partitioned shard, or a packing drift all break the oracle.

    Packing runs ONCE with (split, pack_group) as the composite group
    key — one scan, one shuffle (pack_sequences' ``group_cols``); the
    filter-per-split union formulation is semantics-equivalent and
    pinned so in tests/test_pipeline.py.
    """
    import shutil

    from cloudfront_kinesis_log_lambda_spark.pipelines import (
        pack_sequences,
        split_column,
    )

    docs = _docs(spark, sf_dir).withColumn("split", split_column())
    packed = pack_sequences(docs, group_cols=["split"])

    out = os.path.join(tempfile.gettempdir(), f"cfkll-shards-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    packed.repartition("split").write.partitionBy("split").parquet(out)
    # written schema → an all-empty shard tree reads back as an empty
    # frame instead of UNABLE_TO_INFER_SCHEMA (see parquet_roundtrip_daily)
    back = spark.read.schema(packed.schema).parquet(out)
    agg = (
        back.groupBy(F.col("split").cast("string").alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(
                F.col("pack_group").cast("long") * 1000000 + F.col("seq_id")
            ).alias("n_seqs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    return agg


def kinesis_exactly_once_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once materialization, end to end: the events table is
    played through the fake Kinesis data plane WITH duplicate deliveries
    injected (every 7th event re-sent on its own shard, every 13th
    re-sent on a different shard — the at-least-once failure modes of
    the reference's retry loop), streamed through
    ``dedup_within_watermark`` on event_id, written to a parquet store
    via the idempotent ``batch=<id>`` overwrite pattern, read back, and
    rolled up. The oracle is the rollup over the ORIGINAL events table —
    it hash-matches only if every injected duplicate collapsed and no
    real record was lost.

    ``max_records_per_shard`` does not split this run: Spark calls the
    reader's ``latestOffset()`` before ``initialOffset()``, so a new
    query's first batch is uncapped. At sf0.01 all 12199 records land in
    one batch (then one empty batch): the dedup is checked within a
    batch, not across batches.
    """
    import json as _json
    import shutil

    import duckdb

    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import (
        register_kinesis_source,
    )
    from cloudfront_kinesis_log_lambda_spark.streaming.pipeline import (
        dedup_within_watermark,
    )

    root = os.path.join(tempfile.gettempdir(), f"cfkll-eo-rollup-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    store = os.path.join(root, "store")
    os.makedirs(root)
    n_shards = 4
    # fixture tree cached per (sf_dir, n_shards): a registry sweep calls
    # this entry repeatedly in one process, and the driver-side fetchall
    # + jsonl write is pure deterministic test machinery — build it once
    # and reuse (r5 VERDICT item 8). Build-into-tmp + atomic rename so a
    # concurrent sweep can never observe a half-written tree.
    import hashlib

    src = f"{sf_dir}/events.parquet"
    st = os.stat(src)  # mtime+size key the CONTENT: a regenerated
    # testdata tree at the same path must never serve a stale fixture.
    # The GENERATOR is keyed by its own source text (r6 review finding):
    # the duplicate-injection constants (eid%7 / eid%13) and the record
    # shape are baked into the cached tree, so an edit to this function
    # must invalidate it — otherwise the entry reports green evidence
    # for a delivery pattern that never ran.
    import inspect

    gen_src = inspect.getsource(kinesis_exactly_once_rollup)
    key = hashlib.md5(
        f"{src}|{st.st_mtime_ns}|{st.st_size}|{n_shards}|{gen_src}".encode()
    ).hexdigest()[:12]
    in_dir = os.path.join(tempfile.gettempdir(), f"cfkll-eo-fixture-{key}")
    # deferred cleanup for superseded fixture trees (old content or old
    # generator): age-gated on mtime, which each REUSE refreshes below
    # (r6 review finding: creation-time alone would let a sweep delete
    # a >6h-old tree an older-keyed process is actively re-reading)
    import time

    if os.path.isdir(in_dir):
        try:
            os.utime(in_dir)
        except OSError:
            pass
    for name in os.listdir(tempfile.gettempdir()):
        if not name.startswith("cfkll-eo-fixture-") or name.endswith(
            f"-{key}"
        ):
            continue
        stale = os.path.join(tempfile.gettempdir(), name)
        try:
            if time.time() - os.stat(stale).st_mtime > 6 * 3600:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            pass
    if not os.path.isdir(in_dir):
        build = f"{in_dir}.building-{os.getpid()}"
        shutil.rmtree(build, ignore_errors=True)
        os.makedirs(build)
        rows = duckdb.sql(
            f"SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, event_type, "
            f"value FROM '{sf_dir}/events.parquet'"
        ).fetchall()
        files = [
            open(os.path.join(build, f"shard-{i:03d}.jsonl"), "w")
            for i in range(n_shards)
        ]

        def rec(eid, ts, et, v) -> str:
            # wire contract (r14 hostile-numeric sweep): non-finite
            # doubles are not RFC-8259-representable — python's default
            # json.dumps emits bare NaN/Infinity tokens, which Spark's
            # get_json_object rejects, nulling EVERY field of the
            # record (the row then collapses into a null-key dedup
            # group: silent data loss). Encode them as JSON null — the
            # row survives with a null value, like JSON.stringify does.
            return (
                _json.dumps(
                    {
                        "PartitionKey": str(eid),
                        "Data": _json.dumps(
                            {
                                "event_id": eid,
                                "ts": ts,
                                "event_type": et,
                                "value": v
                                if v is not None and math.isfinite(v)
                                else None,
                            }
                        ),
                    }
                )
                + "\n"
            )

        for eid, ts, et, v in rows:
            line = rec(eid, ts, et, v)
            files[eid % n_shards].write(line)
            if eid % 7 == 0:  # duplicate delivery, same shard
                files[eid % n_shards].write(line)
            if eid % 13 == 0:  # duplicate delivery, different shard
                files[(eid + 1) % n_shards].write(line)
        for f in files:
            f.close()
        try:
            os.rename(build, in_dir)
        except OSError:  # a concurrent builder won the rename — use theirs
            shutil.rmtree(build, ignore_errors=True)

    register_kinesis_source(spark)
    stream = (
        spark.readStream.format("kinesis_py")
        .option("fake_dir", in_dir)
        .option("max_records_per_shard", "1000")
        .load()
    )
    decoded = stream.select(
        F.get_json_object("Data", "$.event_id").cast("long").alias("event_id"),
        F.to_timestamp(F.get_json_object("Data", "$.ts")).alias("ts"),
        F.get_json_object("Data", "$.event_type").alias("event_type"),
        F.get_json_object("Data", "$.value").cast("double").alias("value"),
    )
    # in-horizon participation domain (r15 hostile-dates sweep): a
    # record older than the dedup horizon below the stream's max event
    # time is dropped by the watermark state store ANYWAY — but only
    # when it arrives after the watermark has advanced, i.e. the drop
    # depends on micro-batch arrival order. Pre-filtering to the same
    # horizon makes the late-drop deterministic (order-free — the
    # exactly-once claim must not depend on shard interleaving) and
    # oracle-expressible. The cutoff derives from the SOURCE table's
    # max in-envelope event time, mirrored literally in the oracle.
    cutoff = duckdb.sql(
        f"SELECT strftime(MAX(ts) - INTERVAL 3650 DAY, '%Y-%m-%d %H:%M:%S') "
        f"FROM '{src}' "
        f"WHERE ts BETWEEN TIMESTAMP '1677-09-22 00:00:00' "
        f"              AND TIMESTAMP '2262-04-11 00:00:00'"
    ).fetchone()[0]
    decoded = decoded.filter(F.col("ts") >= F.to_timestamp(F.lit(cutoff)))
    deduped = dedup_within_watermark(decoded, ["event_id"], watermark="3650 days")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(store, f"batch={batch_id}")
        )

    q = (
        deduped.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    back = spark.read.parquet(store)
    from cloudfront_kinesis_log_lambda_spark.operators.util import (
        DECIMAL_18_9_BOUND,
        in_decimal_domain,
    )

    out = (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_ids"),
            # decimal-exact sum (r15 dense-dates fixture finding): a
            # double SUM is summation-ORDER-dependent, and two types'
            # totals landed half an ulp apart across the engines
            # exactly on a cent boundary (…14 vs …15 after ROUND 2).
            # DECIMAL(18,9) partials are exact in any order; the
            # domain guard is the standing decimal-exact rule,
            # literal-mirrored in the oracle.
            F.round(
                F.sum(
                    F.when(
                        in_decimal_domain(F.col("value"), DECIMAL_18_9_BOUND),
                        F.col("value").cast("decimal(18,9)"),
                    )
                ).cast("double"),
                2,
            ).alias("sum_value"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


# --- CloudFront pipeline on a deterministic fixture -------------------------

def _fixture_dir() -> str:
    # single-sourced with the DuckDB oracle side (functions/oracles.py
    # reads the same FIXTURE_DIR), so the Spark query and its oracle
    # can never read different trees
    from cloudfront_kinesis_log_lambda_spark.testing.fixtures import (
        ensure_fixture_tree,
    )

    return ensure_fixture_tree()


def cloudfront_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transform chain over a deterministic synthetic log
    tree. Oracle-backed since r13: functions/oracles.py carries a DuckDB
    twin that reads the SAME gzipped TSV fixture tree (shared
    FIXTURE_DIR), so the flagship pipeline is hash-checked end-to-end."""
    return transform_cloudfront(read_cloudfront_logs(spark, _fixture_dir()))


def cloudfront_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire records (Data only — PartitionKey is uuid4-nondeterministic
    by reference design, cloudfront_kinesis_lambda.py:212)."""
    return cloudfront_wire_pipeline(read_cloudfront_logs(spark, _fixture_dir())).select(
        "Data"
    )


def cloudfront_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytics over the reference's OWN data: status-class × env
    traffic rollup on the enriched log records — the kind of question
    the reference's forward-only pipeline can't answer without a
    downstream system. Oracle-backed since r13 via the shared
    FIXTURE_DIR DuckDB oracle (functions/oracles.py); the same rollup is
    also value-asserted end-to-end in tests/test_full_loop.py after a
    sink→source round trip."""
    enriched = transform_cloudfront(read_cloudfront_logs(spark, _fixture_dir()))
    return (
        enriched.groupBy(
            "env", F.substring("http_status", 1, 1).alias("status_class")
        )
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum(F.col("bytes_sent").cast("long")).alias("bytes_sent"),
            F.countDistinct("src_ip").alias("n_client_ips"),
        )
    )


def doc_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level exact-substring dedup with reassembly
    (operators/corpus.py::block_dedup): 16-token blocks, corpus-wide
    keep-first, documents stitched back from surviving blocks. Fully
    oracle-checked — the DuckDB twin replays the identical block split,
    first-occurrence rank, and string_agg reassembly."""
    return C.block_dedup(_docs(spark, sf_dir), block_tokens=16)


def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-removal decontamination (operators/corpus.py::
    decontaminate_blocks): the doc_contamination split (doc_id % 10 == 7
    plays the held-out benchmark), but instead of flagging documents it
    DELETES every 8-token block containing a leaked 3-gram and
    reassembles the clean remainder. Full hash oracle."""
    docs = _docs(spark, sf_dir)
    return C.decontaminate_blocks(
        docs.filter(F.col("doc_id") % 10 != 7),
        docs.filter(F.col("doc_id") % 10 == 7),
        n=3,
        block_tokens=8,
    )


def doc_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle + shard assignment
    (operators/corpus.py::global_shuffle): seeded Knuth-hash order,
    map-only shard assignment, per-shard (not global) position windows.
    All-integer → exact hash oracle."""
    return C.global_shuffle(_docs(spark, sf_dir), n_shards=8, seed=42)


def doc_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-bigram collocations by lift
    (operators/corpus.py::collocation_lift) — exact integer counts and
    one pinned IEEE division, so the ratio hash-checks cross-engine."""
    return C.collocation_lift(_docs(spark, sf_dir), min_count=5, k=20)


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage matryoshka serving (operators/similarity.py::
    matryoshka_topk): 16-dim prefix shortlist → full 64-dim re-rank.
    Deterministic at every stage, so unlike the trained ANN tiers this
    approximate-serving path is fully oracle-checked."""
    return S.matryoshka_topk(
        _emb(spark, sf_dir), query_vec_id=0, k=10, prefix_dim=16
    )


def _drive_time_ordered_waves(st, e) -> None:
    """Shared wave driver for the order-DEPENDENT incremental twins
    (transitions / EWMA / Holt): the events table as three
    TIME-ORDERED arrival waves.

    Waves are terciles of the (ts, event_id) rank, not raw event_id
    ranges: the original id-tercile split leaned on the generator
    writing event_id in ts order, and the r14 hostile-numeric sweep
    broke that lean (appended rows carry early timestamps with
    boundary ids, so an id-tercile wave delivered them out of time
    order and the last-event state bridged WRONG pairs). Ranking by
    the operator's actual order key keeps the in-order arrival
    contract true for ANY table; on a ts-monotone id space the waves
    are identical to the old terciles."""
    from pyspark.sql import Window

    n = e.count()
    c1, c2 = n // 3, (2 * n) // 3
    ranked = e.withColumn(
        "_r", F.row_number().over(Window.orderBy("ts", "event_id")) - 1
    )
    for wave, cond in enumerate(
        [
            F.col("_r") < c1,
            (F.col("_r") >= c1) & (F.col("_r") < c2),
            F.col("_r") >= c2,
        ]
    ):
        st(ranked.filter(cond).drop("_r"), wave)


def event_transitions_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING Markov-transition twin (streaming/transitions.py)
    driven over the events table as three TIME-ORDERED arrival waves
    (event_id terciles — the generator writes event_id in ts order, a
    monotonicity the fixture asserts). Unlike the residue-split sketch
    twins, adjacency pairs SPAN wave boundaries, so the per-user
    last-event state store is load-bearing: dropping it loses exactly
    (#users active in ≥2 waves) pairs. HASH-GREEN: within-batch lead
    pairs + state-bridged boundary pairs reconstruct the batch lead
    exactly (SUM-merge law for the counts) — the oracle IS
    event_transitions' SQL (writeStream leg + re-delivery contracts
    live in test_streaming_transitions)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.transitions import (
        StreamingTransitions,
    )

    def build(root: str) -> DataFrame:
        st = StreamingTransitions(root)
        _drive_time_ordered_waves(st, R.load(spark, sf_dir, "events"))
        return st.transitions(spark)

    return _with_scratch("stream-transitions", build)


def events_ohlc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING OHLC twin (streaming/ohlc.py) driven over the
    events table as three arrival waves split by event_id residue —
    deliberately NOT time-ordered, because every candle merge law
    (MIN/MAX/argmin-by-key/SUM) is commutative; a wave slicing an hour
    in half must merge back exactly. HASH-GREEN: the oracle IS
    events_ohlc's SQL (writeStream + re-delivery contracts live in
    test_streaming_ohlc)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.ohlc import (
        StreamingOHLC,
    )

    def build(root: str) -> DataFrame:
        so = StreamingOHLC(root)
        e = R.load(spark, sf_dir, "events")
        for wave in range(3):
            so(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return so.candles(spark)

    return _with_scratch("stream-ohlc", build)


def events_ewma_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING EWMA twin (streaming/ewma.py) driven over the
    events table as three TIME-ORDERED arrival waves (event_id
    terciles, like the transition twin — EWMA is order-DEPENDENT, so
    unlike OHLC the wave split must respect event time). Users sliced
    across waves exercise the seeded fold; HASH-GREEN: left-fold
    composition makes stream == batch bit-exact, so the oracle IS
    events_ewma's SQL (writeStream + re-delivery + ordering contracts
    live in test_streaming_ewma)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.ewma import (
        StreamingEWMA,
    )

    def build(root: str) -> DataFrame:
        st = StreamingEWMA(root)
        _drive_time_ordered_waves(st, R.load(spark, sf_dir, "events"))
        return st.ewma(spark)

    return _with_scratch("stream-ewma", build)


def events_holt_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Holt twin (streaming/holt.py), time-ordered waves
    like the EWMA/transition twins (Holt is order-dependent).
    HASH-GREEN: the shared merge lambda composes field-for-field, so
    the oracle IS events_holt's SQL (boundary-init/retry/writeStream
    contracts live in test_streaming_holt)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.holt import (
        StreamingHolt,
    )

    def build(root: str) -> DataFrame:
        st = StreamingHolt(root)
        _drive_time_ordered_waves(st, R.load(spark, sf_dir, "events"))
        return st.holt(spark)

    return _with_scratch("stream-holt", build)


def events_holt_winters_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING Holt-Winters twin (streaming/holt_winters.py),
    time-ordered waves. The fold element is an HOURLY BUCKET, so the
    event-id-tercile wave cuts land mid-hour — exactly the split the
    open-bucket decimal state composes across. HASH-GREEN: the serve
    step folds the open hour on read with the shared merge lambda, so
    the oracle IS events_holt_winters's SQL (split-hour/retry/
    writeStream contracts live in test_streaming_holt_winters)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.holt_winters import (
        StreamingHoltWinters,
    )

    def build(root: str) -> DataFrame:
        st = StreamingHoltWinters(root)
        _drive_time_ordered_waves(st, R.load(spark, sf_dir, "events"))
        return st.holt_winters(spark)

    return _with_scratch("stream-holt-winters", build)


def events_linear_trend_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING OLS-trend twin (streaming/lintrend.py): per-batch
    exact moment-sum partials SUM-merge on read into the shared
    closed-form finalizer. Order-free merges, so the waves are the
    sketch twins' residue split, not time-ordered. HASH-GREEN: the
    oracle IS events_linear_trend's SQL."""
    from cloudfront_kinesis_log_lambda_spark.streaming.lintrend import (
        StreamingLinearTrend,
    )

    def build(root: str) -> DataFrame:
        st = StreamingLinearTrend(root)
        e = R.load(spark, sf_dir, "events")
        for wave in range(3):
            st(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return st.trend(spark)

    return _with_scratch("stream-lintrend", build)


def events_psi_drift_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING PSI twin (streaming/psi.py): reference geometry
    frozen once, per-batch (type, bin) count partials SUM-merge on
    read into the batch operator's own psi_from_counts finalizer.
    Order-free merges, so the waves are the sketch twins' residue
    split. HASH-GREEN: the oracle IS events_psi_drift's SQL."""
    from cloudfront_kinesis_log_lambda_spark.operators.quality import (
        PSI_SPLIT,
    )
    from cloudfront_kinesis_log_lambda_spark.streaming.psi import (
        StreamingPSI,
    )

    def build(root: str) -> DataFrame:
        mon = StreamingPSI(root)
        e = R.load(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value"
        )
        mon.freeze_reference(e.filter(F.col("ts") < F.lit(PSI_SPLIT)))
        for wave in range(3):
            mon(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return mon.psi(spark)

    return _with_scratch("stream-psi", build)


def events_chi2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING chi-square twin (streaming/stats.py): (type,
    hour) contingency partials SUM-merge on read into the batch
    test's own finalizer. HASH-GREEN: counts are exact integers, so
    the oracle IS events_chi2_type_hour's SQL."""
    from cloudfront_kinesis_log_lambda_spark.streaming.stats import (
        StreamingChi2,
    )

    def build(root: str) -> DataFrame:
        t = StreamingChi2(root, "event_type", "hour_of_day")
        e = R.load(spark, sf_dir, "events").select(
            "event_id", "event_type", F.hour("ts").alias("hour_of_day")
        )
        for wave in range(3):
            t(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return t.chi2(spark)

    return _with_scratch("stream-chi2", build)


def embedding_drift_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING embedding-drift twin
    (streaming/embedding_drift.py): exact DECIMAL per-dim sums +
    label counts SUM-merge on read into the batch finalizer.
    HASH-GREEN: the oracle IS embedding_drift's SQL."""
    from cloudfront_kinesis_log_lambda_spark.streaming.embedding_drift import (
        StreamingEmbeddingDrift,
    )

    def build(root: str) -> DataFrame:
        mon = StreamingEmbeddingDrift(root)
        emb = R.load(spark, sf_dir, "embeddings").select(
            "vec_id",
            "label",
            "embedding",
            (F.col("vec_id") % 2 == 0).alias("is_ref"),
        )
        for wave in range(3):
            mon(emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == wave), wave)
        return mon.drift(spark)

    return _with_scratch("stream-embdrift", build)


def events_ks_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING KS twin (streaming/stats.py): (type, value) grid
    partials SUM-merge on read into the batch test's finalizer.
    HASH-GREEN: the oracle IS events_ks_drift's SQL."""
    from cloudfront_kinesis_log_lambda_spark.operators.quality import (
        PSI_SPLIT,
    )
    from cloudfront_kinesis_log_lambda_spark.streaming.stats import (
        StreamingKS,
    )

    def build(root: str) -> DataFrame:
        ks = StreamingKS(root, PSI_SPLIT)
        e = R.load(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value"
        )
        for wave in range(3):
            ks(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == wave), wave)
        return ks.ks(spark)

    return _with_scratch("stream-ks", build)


def order_basket_rules_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING association-rules twin (streaming/mining.py):
    distinct (basket, item) edges accumulate — a basket SPLIT across
    waves gains its cross-wave pairs only once both halves arrived —
    and the serve step runs the batch pair expansion over the merged
    edges. HASH-GREEN: the oracle IS order_basket_rules's SQL."""
    from cloudfront_kinesis_log_lambda_spark.streaming.mining import (
        StreamingBasketRules,
    )

    def build(root: str) -> DataFrame:
        sr = StreamingBasketRules(root)
        li = R.load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_linenumber"
        )
        part = R.load(spark, sf_dir, "part").select("p_partkey", "p_brand")
        items = li.join(part, li.l_partkey == part.p_partkey).select(
            F.col("l_orderkey").alias("basket"),
            F.col("p_brand").alias("item"),
            "l_linenumber",
        )
        # split by LINE number, not order: most baskets straddle waves
        for wave in range(3):
            sr(items.filter(F.pmod(F.col("l_linenumber"), F.lit(3)) == wave), wave)
        return sr.rules(spark)

    return _with_scratch("stream-rules", build)


def orders_quality_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING constraint-suite twin (streaming/quality.py):
    SUM-merged condition counters + a per-orderkey count store for
    cross-batch uniqueness; predicates and verdict step imported from
    the batch operator. HASH-GREEN: the oracle IS
    orders_quality_checks's SQL."""
    from cloudfront_kinesis_log_lambda_spark.streaming.quality import (
        StreamingQualityChecks,
    )

    def build(root: str) -> DataFrame:
        customer = R.load(spark, sf_dir, "customer")
        qc = StreamingQualityChecks(root, customer)
        o = R.load(spark, sf_dir, "orders")
        for wave in range(3):
            qc(o.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == wave), wave)
        return qc.checks(spark)

    return _with_scratch("stream-quality", build)


def orders_benford_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Benford twin (streaming/stats.py): first-digit
    count partials SUM-merge on read into the batch audit's grid/χ²/
    MAD finalizer. HASH-GREEN: the oracle IS orders_benford_digits's
    SQL."""
    from cloudfront_kinesis_log_lambda_spark.streaming.stats import (
        StreamingBenford,
    )

    def build(root: str) -> DataFrame:
        b = StreamingBenford(root, "o_totalprice")
        o = R.load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        for wave in range(3):
            b(o.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == wave), wave)
        return b.digits(spark)

    return _with_scratch("stream-benford", build)


def _drive_inverted_index(spark: SparkSession, sf_dir: str, root: str):
    """Shared wave driver for the two retrieval-serving twins: the
    documents table as three doc_id-residue waves (every merge law is
    a commutative SUM — deliberately NOT time/id-ordered, like the
    OHLC twin)."""
    from cloudfront_kinesis_log_lambda_spark.streaming.retrieval import (
        StreamingInvertedIndex,
    )

    st = StreamingInvertedIndex(root)
    d = _docs(spark, sf_dir)
    for wave in range(3):
        st(d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == wave), wave)
    return st


def doc_inverted_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING inverted-index twin (streaming/retrieval.py):
    per-batch (word, doc_id, tf) partials SUM-merge on read and feed
    the SAME assembly code as the batch build. HASH-GREEN: the oracle
    IS doc_inverted_index's SQL (split-doc/retry/writeStream contracts
    live in test_streaming_retrieval)."""

    def build(root: str) -> DataFrame:
        return _drive_inverted_index(spark, sf_dir, root).index(spark)

    return _with_scratch("stream-invidx", build)


def doc_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 serving off the streaming posting store — the query probes
    the merged partials (filter on the query terms), never re-tokenizes
    a document. HASH-GREEN: the oracle IS doc_bm25_topk's SQL."""

    def build(root: str) -> DataFrame:
        return _drive_inverted_index(spark, sf_dir, root).bm25_topk(spark)

    return _with_scratch("stream-bm25", build)


def doc_hybrid_rrf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF serving END-TO-END off incremental state: the lexical
    pool comes from the streaming posting store (no re-tokenize), fused
    by the SAME rrf_fuse core with the cosine pool. HASH-GREEN: SUM
    merges make the store-served BM25 ranking identical to batch, so
    the oracle IS doc_hybrid_rrf's SQL."""
    from cloudfront_kinesis_log_lambda_spark.operators.similarity import (
        cosine_topk,
    )

    def build(root: str) -> DataFrame:
        st = _drive_inverted_index(spark, sf_dir, root)
        bm25 = st.bm25_topk(spark, k=RT.RRF_POOL)
        cos = cosine_topk(
            _emb(spark, sf_dir), query_vec_id=RT.RRF_QUERY_VEC, k=RT.RRF_POOL
        )
        return RT.rrf_fuse(bm25, cos)

    return _with_scratch("stream-rrf", build)


def doc_sorted_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (operators/dedup.py::
    sorted_neighborhood_pairs): the third blocking family next to LSH
    bands and equi-key blocks — candidates O(N·w) via a range-
    partitioned two-phase global rank, kept under a prefix edit-distance
    cap. Fully oracle-checked (rank + explode + levenshtein are plain
    SQL)."""
    from cloudfront_kinesis_log_lambda_spark.operators.dedup import (
        doc_sorted_neighbors as _dsn,
    )

    return _dsn(spark, sf_dir)


def doc_sorted_neighbors_multipass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-pass SNM (operators/dedup.py::
    sorted_neighborhood_pairs_multipass): the standard recall extension
    — a second sweep sorted by the reversed-text prefix catches
    suffix-similar pairs whose prefixes diverge. Fully oracle-checked."""
    from cloudfront_kinesis_log_lambda_spark.operators.dedup import (
        doc_sorted_neighbors_multipass as _dsnm,
    )

    return _dsnm(spark, sf_dir)


# Unordered registry of the extension surface; the driver-facing walk
# order (which decides what the gate's entry budget evaluates) is imposed
# by __spark_entry__.queries() — see _FRONT/_DEFER/_TAIL there.
EXTENSION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # oracle-checked
    "events_hll_users": SKT.events_hll_users,
    "events_hll_daily_merge": SKT.events_hll_daily_merge,
    "events_hll_incremental": events_hll_incremental,
    "word_countmin_topk": SKT.word_countmin_topk,
    "word_countmin_incremental": word_countmin_incremental,
    "doc_weighted_sample_incremental": doc_weighted_sample_incremental,
    "events_hll_type_overlap": SKT.events_hll_type_overlap,
    "events_value_ddsketch": SKT.events_value_ddsketch,
    "events_ddsketch_incremental": events_ddsketch_incremental,
    "doc_bpe_tokens": BPE.doc_bpe_tokens,
    "doc_token_stats": doc_token_stats,
    "doc_quality": doc_quality,
    "doc_subword_tokens": doc_subword_tokens,
    "doc_lang_id": doc_lang_id,
    "doc_tfidf_topk": doc_tfidf_topk,
    "doc_exact_dedup": doc_exact_dedup,
    "doc_repetition": doc_repetition,
    "doc_pii_scrub": doc_pii_scrub,
    "parquet_roundtrip_daily": parquet_roundtrip_daily,
    "events_zorder_roundtrip": events_zorder_roundtrip,
    "doc_chunks_udtf": doc_chunks_udtf,
    "purchases_asof_view": purchases_asof_view,
    "purchases_next_view": purchases_next_view,
    "purchases_asof_cogroup": purchases_asof_cogroup,
    "events_tumbling_windows": events_tumbling_windows,
    "events_sliding_windows": events_sliding_windows,
    "events_session_windows": events_session_windows,
    "events_interval_join": events_interval_join,
    "embedding_norms": embedding_norms,
    "cosine_topk_bruteforce": cosine_topk_bruteforce,
    "cosine_topk_multi_query": cosine_topk_multi_query,
    "embedding_pairs_exact": embedding_pairs_exact,
    "multimodal_features": multimodal_features,
    "near_dup_3gram": near_dup_3gram,
    "near_dup_clusters": near_dup_clusters,
    "doc_dedup_keep": doc_dedup_keep,
    "doc_curation_funnel": doc_curation_funnel,
    "doc_split_assign": doc_split_assign,
    "doc_contamination": doc_contamination,
    "doc_unigram_logprob": doc_unigram_logprob,
    "doc_bigram_logprob": doc_bigram_logprob,
    "doc_source_quota": doc_source_quota,
    "doc_mixture_sample": doc_mixture_sample,
    "doc_gram_novelty": doc_gram_novelty,
    "doc_dup_span_stats": doc_dup_span_stats,
    "doc_quality_sample": doc_quality_sample,
    "doc_pack_sequences": doc_pack_sequences,
    "doc_table_profile": doc_table_profile,
    "multimodal_asset_dedup": multimodal_asset_dedup,
    "scd2_incremental_roundtrip": scd2_incremental_roundtrip,
    "training_shards_roundtrip": training_shards_roundtrip,
    "kinesis_exactly_once_rollup": kinesis_exactly_once_rollup,
    "embedding_quantize_int8": embedding_quantize_int8,
    "ann_quantized_topk": ann_quantized_topk,
    "doc_block_dedup": doc_block_dedup,
    "doc_decontaminate": doc_decontaminate,
    "doc_global_shuffle": doc_global_shuffle,
    "doc_collocations": doc_collocations,
    "matryoshka_topk": matryoshka_topk,
    "doc_bm25_topk": RT.doc_bm25_topk,
    "doc_hybrid_rrf": RT.doc_hybrid_rrf,
    "retrieval_eval_metrics": RT.retrieval_eval_metrics,
    "doc_inverted_index": RT.doc_inverted_index,
    "doc_inverted_index_incremental": doc_inverted_index_incremental,
    "doc_bm25_incremental": doc_bm25_incremental,
    "doc_hybrid_rrf_incremental": doc_hybrid_rrf_incremental,
    "part_fuzzy_pairs": RT.part_fuzzy_pairs,
    "part_entity_resolution": RT.part_entity_resolution,
    "events_ewma": TS.events_ewma,
    "events_holt": TS.events_holt,
    "events_holt_winters": TS.events_holt_winters,
    "events_cusum_changepoints": TS.events_cusum_changepoints,
    "events_linear_trend": TS.events_linear_trend,
    "events_seasonal_outliers": TS.events_seasonal_outliers,
    "events_ohlc": TS.events_ohlc,
    "events_mad_outliers": TS.events_mad_outliers,
    "event_transitions": TS.event_transitions,
    "event_transitions_incremental": event_transitions_incremental,
    "attribution_last_touch": TS.attribution_last_touch,
    "customer_rollup_diff": CDC.customer_rollup_diff,
    "nation_pagerank": G.nation_pagerank,
    "part_triangle_stats": G.part_triangle_stats,
    "doc_sorted_neighbors": doc_sorted_neighbors,
    "doc_sorted_neighbors_multipass": doc_sorted_neighbors_multipass,
    "top_conversion_paths": TS.top_conversion_paths,
    "events_ohlc_incremental": events_ohlc_incremental,
    "events_ewma_incremental": events_ewma_incremental,
    "events_holt_incremental": events_holt_incremental,
    "events_holt_winters_incremental": events_holt_winters_incremental,
    "events_linear_trend_incremental": events_linear_trend_incremental,
    "order_basket_rules": MN.order_basket_rules,
    "events_psi_drift": Q.events_psi_drift,
    "events_ks_drift": Q.events_ks_drift,
    "events_ks_incremental": events_ks_incremental,
    "embedding_drift": Q.embedding_drift,
    "embedding_drift_incremental": embedding_drift_incremental,
    "events_psi_drift_incremental": events_psi_drift_incremental,
    "orders_quality_checks": Q.orders_quality_checks,
    "events_chi2_type_hour": ST.events_chi2_type_hour,
    "lineitem_corr_matrix": ST.lineitem_corr_matrix,
    "events_ab_conversion": ST.events_ab_conversion,
    "events_user_skew_profile": ST.events_user_skew_profile,
    "orders_benford_digits": Q.orders_benford_digits,
    "events_chi2_incremental": events_chi2_incremental,
    "orders_benford_incremental": orders_benford_incremental,
    "order_basket_rules_incremental": order_basket_rules_incremental,
    "orders_quality_incremental": orders_quality_incremental,
    # cloudfront_enriched / cloudfront_status_rollup: oracle-backed
    # since r13 (shared-FIXTURE_DIR DuckDB twins); cloudfront_wire stays
    # rows-only (PartitionKey is uuid-nondeterministic by reference
    # design, wire Data bytes golden-oracle-checked in tests)
    "cloudfront_enriched": cloudfront_enriched,
    "cloudfront_wire": cloudfront_wire,
    "cloudfront_status_rollup": cloudfront_status_rollup,
    # rows-only (iterative global argmax — not recursive-CTE-expressible;
    # exact Python-replay contract in test_bpe)
    "bpe_learn_merges": BPE.bpe_learn_merges_query,
    # rows-only (hash-seeded; recall-gated in tests)
    "doc_semantic_dedup": doc_semantic_dedup,
    "semantic_dedup_incremental": semantic_dedup_incremental,
    "ann_recall_report": ann_recall_report,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "ann_incremental_index": ann_incremental_index,
    "embedding_pairs_lsh": embedding_pairs_lsh,
    "near_dup_minhash_lsh": near_dup_minhash_lsh,
    "near_dup_incremental": near_dup_incremental,
    "simhash_near_pairs": simhash_near_pairs,
    "winnow_near_pairs": winnow_near_pairs,
}
