"""Near-duplicate detection: shingle Jaccard, MinHash-LSH, SimHash.

Spark-first design (no MLlib; DataFrame ops + higher-order functions,
with one Arrow-batched numpy kernel where vectorization wins):

- shingling: ``split`` → ``transform(sequence(...))`` n-grams per doc
- MinHash: gram strings hash JVM-side, then all k universal-hash
  permutation minima ``(a_i·h + b_i) mod p`` compute in one vectorized
  numpy kernel per Arrow batch — map-only, signatures need NO shuffle
  (the exploded-shingle formulation exists only where the SQL oracle
  needs it, in ``near_dup_pairs_exact``)
- LSH banding: signature sliced into b bands, band-hash bucket groupBy —
  candidate generation cost ~ O(docs·b), never O(docs²)
- verification: exact Jaccard on candidates only, via array_intersect
  on the per-doc gram arrays

At 100 TB the only quadratic danger is a hot band bucket (e.g. boiler-
plate shingles); the band hash includes the band index, and genuinely
huge buckets should be capped/salted — see ``max_bucket_size``.

The exact shingle-join variant (``near_dup_pairs_exact``) is the
DuckDB-checkable oracle twin; MinHash/SimHash results are hash-dependent
(checked by planted-duplicate recall tests instead).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.util import (
    ensure_parallelism,
    fits_broadcast,
)

#: Mersenne prime 2^31-1: universal-hash modulus. a·h+b with a,b,h < p
#: stays under 2^62 — no long overflow even with ANSI arithmetic.
_P = 2_147_483_647


def has_min_tokens(text_col: str | Column, n: int) -> Column:
    """Cheap pushdown-safe predicate: document has at least n whitespace
    tokens (⇔ gram_array(text, n) is non-empty).

    Filtering on ``size(gram_array(...)) > 0`` instead is a measured
    5× regression: Catalyst pushes the predicate below the
    ensure_parallelism exchange into the (often single-file, single-task)
    scan stage, so the whole interpreted shingling HOF runs twice — once
    serially. This predicate keeps the pushdown (good: prunes at the
    scan) but costs only one regex split per row there.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # the blank guard matters at n=1: split of a trimmed empty string
    # yields [''] (size 1), which would pass and emit the empty gram —
    # every blank doc would then near-dup every other blank doc
    return (F.size(F.split(F.trim(c), r"\s+")) >= n) & (F.trim(c) != "")


def gram_list(text_col: str | Column, n: int) -> Column:
    """POSITIONAL word n-grams of a text column as an array<string> —
    one entry per token position, repeats preserved (the base for both
    set-semantics shingling and position-level span statistics)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.trim(c), r"\s+")
    # guard: sequence(0, -1) would produce a DESCENDING sequence, so docs
    # shorter than n tokens get an empty gram array (explode drops them)
    return F.when(
        (F.size(toks) >= n) & (F.trim(c) != ""),  # blank ⇒ [''], not a gram
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def gram_array(text_col: str | Column, n: int) -> Column:
    """Distinct word n-grams of a text column as an array<string>."""
    return F.array_distinct(gram_list(text_col, n))


def ordered_pairs(ids: Column, pair) -> Column:
    """All (i < j) element pairs of a sorted array, as an exploded
    column: ``pair(x, y)`` builds each emitted value. ONE home for the
    index arithmetic (the 1-based ``i + 2`` slice start is the subtle
    part) — this expression previously existed as four hand-maintained
    copies across the dedup/similarity/streaming pair generators."""
    return F.explode(
        F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: pair(x, y),
                ),
            )
        )
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) pairs: distinct word n-grams per document."""
    docs = ensure_parallelism(docs)
    return docs.select("doc_id", F.explode(gram_array(text_col, n)).alias("shingle"))


def near_dup_pairs_exact(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shingle self-join.

    The brute-force baseline (and the SQL oracle twin): explode distinct
    shingles, self-join on shingle, count common, Jaccard from set sizes.
    Fine when shingle document-frequency is low; at boilerplate-heavy
    scale use :func:`minhash_lsh_pairs` (this operator's output is its
    recall reference).
    """
    # localCheckpoint, not cache(): operators return lazy frames, so a
    # cache() pinned here can never be unpersisted by this function —
    # back-to-back registry/gate runs would accumulate dead CacheManager
    # entries for the session's lifetime. Measured cost of the disk
    # round-trip vs cache: ~+20% on the winnow path at sf0.1 — the
    # bounded-memory contract wins for a 112-query session.
    sh = shingles(docs, n).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _flatten_ragged(hvecs: "pd.Series"):
    """(lens, flat, ends, starts) for a pandas Series of per-doc int
    arrays — the shared kernel prologue. Every doc must be non-empty
    (enforced; see :func:`_gram_chunks`)."""
    lens = hvecs.map(len).to_numpy(dtype=np.int64)
    if not (lens > 0).all():
        raise ValueError(
            "ragged kernel input contains an empty per-doc array; filter "
            "gram-less docs first (reduceat with repeated offsets would "
            "silently hand the empty doc its neighbor's reduction)"
        )
    flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in hvecs.to_numpy()])
    ends = np.cumsum(lens)
    return lens, flat, ends, ends - lens


def _gram_chunks(starts, ends, chunk):
    """Yield (d0, d1, g0, g1, offs) gram-range chunks over a batch of
    ragged per-doc arrays flattened to [starts[i], ends[i]) spans:
    bounded at ~``chunk`` grams per piece, splitting WITHIN oversized
    docs (callers combine partial reductions), with reduceat offsets
    relative to the chunk. Shared by the MinHash and SimHash kernels —
    the boundary arithmetic is the subtle part and exists once.
    PRECONDITION: every span non-empty (``_flatten_ragged`` enforces it
    — a zero-length span would repeat an offset and reduceat would
    silently assign the next doc's reduction to the empty one)."""
    total = int(ends[-1])
    for g0 in range(0, total, chunk):
        g1 = min(g0 + chunk, total)
        d0 = int(np.searchsorted(ends, g0, side="right"))
        d1 = int(np.searchsorted(starts, g1, side="left"))
        if d0 >= d1:
            continue
        offs = (np.maximum(starts[d0:d1], g0) - g0).astype(np.int64)
        yield d0, d1, g0, g1, offs


def minhash_band_rows(
    grams_df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    kernel_chunk_grams: int = 65536,
) -> DataFrame:
    """(doc_id, band, h) LSH bucket rows from a (doc_id, grams) table —
    the shared signature/banding core of :func:`minhash_lsh_pairs` and
    the streaming incremental detector (streaming/dedup.py), so batch
    and stream bucket IDENTICALLY for the same (num_hashes, bands, seed).

    Signatures are MAP-ONLY: gram strings hash JVM-side (one
    ``transform`` pass of ``xxhash64 mod p`` — the strings never reach
    Python), then an Arrow-batched numpy kernel computes all
    ``num_hashes`` permutation minima per doc in one vectorized
    ``(grams × hashes)`` product + ``minimum.reduceat``. Zero shuffle to
    the signature table (the previous explode + 64-min() hash-aggregate
    carried 1 row/doc through an exchange and measured ~1.5× slower at
    sf0.1; per-element HOF folds measured ~3× slower than that). All
    arithmetic is int64 with a,b,h < p = 2³¹−1 (products < 2⁶²), so the
    kernel's buckets are BIT-IDENTICAL to the JVM formulation — the
    recall-1.0 coupling that lets near_dup_clusters hash-match its exact
    oracle is untouched. Banding hashes signature slices back JVM-side
    (``xxhash64`` over long columns, unchanged values).

    Empty gram arrays (docs shorter than n tokens) are dropped here — a
    doc with no grams has no signature; callers that pre-filter with
    ``has_min_tokens`` make this filter a no-op the optimizer removes
    from the hot path's effective work.
    """
    import random

    if bands < 1 or num_hashes % bands != 0:
        # silent truncation here is a recall trap: num_hashes < bands
        # makes rows=0 (every band hash degenerates to the constant
        # xxhash64(i) — one global bucket), and a non-multiple quietly
        # uses fewer hashes than requested, changing the b·r curve
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )

    grams_df = grams_df.filter(F.size("grams") > 0)

    rows = num_hashes // bands
    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sig_kernel(hvecs: pd.Series) -> pd.Series:
        if not len(hvecs):
            return pd.Series([], dtype=object)
        lens, flat, ends, starts = _flatten_ragged(hvecs)
        # accumulate partial minima per GRAM-RANGE chunk (~64k grams,
        # parameterized so tests can force tiny chunks): bounds the
        # (grams × num_hashes) int64 temporary at ~32 MB regardless of
        # Arrow batch size OR single-document length — a 10M-gram doc is
        # split across chunks and combined with np.minimum, it cannot
        # allocate a multi-GB product matrix
        out = np.full((len(lens), len(A)), _P, dtype=np.int64)
        for d0, d1, g0, g1, offs in _gram_chunks(starts, ends, kernel_chunk_grams):
            prod = (flat[g0:g1, None] * A[None, :] + B[None, :]) % _P
            part = np.minimum.reduceat(prod, offs, axis=0)
            np.minimum(out[d0:d1], part, out=out[d0:d1])
        return pd.Series(list(out))

    hvec = grams_df.select(
        "doc_id",
        F.transform("grams", lambda g: F.pmod(F.xxhash64(g), F.lit(_P))).alias("hv"),
    )
    sig = hvec.select("doc_id", sig_kernel(F.col("hv")).alias("sig"))
    band_cols = [
        F.xxhash64(
            F.lit(i), *[F.element_at("sig", i * rows + j + 1) for j in range(rows)]
        ).alias(f"band_{i}")
        for i in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), F.col(f"band_{i}").alias("h")) for i in range(bands)])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.h")


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact-Jaccard verification.

    b=16 bands × r=4 rows: candidate probability ≈ 1-(1-s⁴)¹⁶ — ~0.97
    at s=0.8, ~0.04 at s=0.2 — tuned for the ≥0.5 near-dup regime.

    Pipeline: per-doc gram-hash arrays (no explode, no shuffle) →
    signature array-folds → band buckets (groupBy: shuffle 1) → in-bucket
    pair generation bounded by bucket size → exact Jaccard on candidates
    via gram-array intersection → threshold filter.
    """
    # localCheckpoint, not cache() — see near_dup_pairs_exact
    hashed = (
        ensure_parallelism(docs.filter(has_min_tokens(text_col, n)))
        .select("doc_id", gram_array(text_col, n).alias("grams"))
        .localCheckpoint(eager=True)
    )
    buckets = minhash_band_rows(hashed, num_hashes, bands, seed)

    # pair generation inside ONE aggregate: collect each bucket's members,
    # drop degenerate buckets (boilerplate guard), emit ordered pairs with
    # a nested transform. Replaces the window-count + bucket self-join +
    # global distinct formulation — 2 shuffles instead of 4-5, and the
    # pairwise blowup stays capped by max_bucket_size.
    members = buckets.groupBy("band", "h").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    ).filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    pairs = members.select(
        ordered_pairs(F.col("ids"), lambda x, y: F.array(x, y)).alias("p")
    )
    candidates = (
        pairs.select(F.col("p")[0].alias("doc_a"), F.col("p")[1].alias("doc_b"))
        # dirty input containing duplicate doc_id rows yields duplicate
        # ids inside a bucket; never let that surface as an (x, x) pair
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )

    sets = hashed.select("doc_id", "grams")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        # duplicate doc_id input rows join twice and would emit the
        # same pair with CONFLICTING jaccard values — collapse to the
        # most-similar interpretation (tiny: output-sized aggregate)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    kernel_piece: int = 1 << 20,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    rolling byte k-gram hashes over whitespace-normalized lowercase text,
    keep the minimum hash of every window of ``window`` consecutive
    grams → a sparse position-robust fingerprint set that survives
    local edits.

    Normalization is a codegen'd JVM projection; the rolling hash +
    windowed minima run as ONE Arrow-batched numpy kernel per batch
    (sliding_window_view + polynomial hash with uint64 wraparound) —
    zero shuffle, scan-parallel. The previous all-HOF formulation
    (substr+xxhash64 inside transform lambdas) was also shuffle-free but
    interpreted per element: ~1.4 M lambda evaluations at sf0.1, ~10 µs
    each — the kernel replaces that with vectorized ops. Output:
    (doc_id, fp) pairs; docs shorter than k bytes emit nothing, docs
    with fewer than ``window`` grams emit their single global min.
    """
    # polynomial-hash powers B^(k-1-j) mod 2^64, computed in Python ints
    # (the kernel's uint64 arithmetic wraps mod 2^64 by design)
    base_mult = 1000003
    pows = np.array(
        [pow(base_mult, k - 1 - j, 2**64) for j in range(k)], dtype=np.uint64
    )

    @F.pandas_udf("array<long>")
    def fps_udf(texts: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        def windowed(arr, width, reduce_fn):
            # overlapped pieces: width-1 overlap keeps every window
            # represented exactly once; the (piece, width) temporary is
            # kernel_piece*width*8 bytes (64 MB at the k=8 default —
            # the bound scales with width, shrink kernel_piece for
            # unusually large k). One definition — the overlap
            # arithmetic is the subtle part.
            parts = [
                reduce_fn(
                    sliding_window_view(
                        arr[st : min(st + kernel_piece + width - 1, len(arr))],
                        width,
                    )
                )
                for st in range(0, len(arr) - width + 1, kernel_piece)
            ]
            return np.concatenate(parts) if len(parts) > 1 else parts[0]

        out = []
        with np.errstate(over="ignore"):
            for s in texts:
                b = np.frombuffer(
                    (s or "").encode("utf-8"), dtype=np.uint8
                ).astype(np.uint64)
                if len(b) < k:
                    out.append([])
                    continue
                grams = windowed(
                    b, k, lambda w: (w * pows).sum(axis=1, dtype=np.uint64)
                )
                if len(grams) >= window:
                    fp = np.unique(windowed(grams, window, lambda w: w.min(axis=1)))
                else:
                    fp = grams.min(keepdims=True)
                out.append(fp.astype(np.int64).tolist())
        return pd.Series(out)

    # asNondeterministic: the kernel IS deterministic, but the marker is
    # load-bearing for the PLAN — Catalyst's InferFiltersFromGenerate
    # derives `size(fps)>0 AND isnotnull(fps)` from the explode below
    # and, for a deterministic UDF, pushes that filter (kernel included)
    # BELOW the ensure_parallelism exchange: the whole fingerprint
    # kernel then runs a second time, single-task, on the unsplit scan —
    # measured at ~1.2 s of the 2.5 s sf0.1 wall. The marker forbids the
    # clone; the kernel runs exactly once, post-exchange, scan-parallel
    # (plan-gated in test_plans: one ArrowEvalPython).
    fps_once = fps_udf.asNondeterministic()
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        ensure_parallelism(docs)
        .select("doc_id", fps_once(norm).alias("_fps"))
        .select("doc_id", F.explode("_fps").alias("fp"))
    )


def winnow_near_pairs(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint Jaccard over the
    *discriminative* fingerprint subspace.

    Fingerprints shared by more than ``max_doc_freq`` documents are
    boilerplate (function words, templates) — they carry no dedup signal
    but dominate a naive fp-match join quadratically (measured: 220 M
    join rows on 5 k small-vocabulary docs). They are excluded from BOTH
    the pair numerator and the per-doc set sizes, so the Jaccard stays a
    true Jaccard — of the rare-fingerprint sets. Near-identical docs
    share their rare fingerprints (J→1); unrelated docs share only the
    hot ones (J→0).

    Shape: one groupBy(fp) feeds both pair generation (nested transform
    over each rare bucket, same pattern as minhash_lsh_pairs) and the
    per-doc rare-set sizes — 3 shuffles total, pairwise work capped by
    ``max_doc_freq``.
    """
    fp = winnow_fingerprints(docs, k, window, text_col)
    rare = (
        fp.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= max_doc_freq)
        # localCheckpoint, not cache() — see near_dup_pairs_exact
        .localCheckpoint(eager=True)
    )
    # the checkpoint freezes AQE's post-shuffle coalesce (the compact
    # bucket table is a few MB → ~3 partitions), but the pair explode
    # below multiplies each bucket into up to C(max_doc_freq, 2) rows —
    # measured 1.3 M pairs in 3 tasks = 1.1 s of the 1.9 s sf0.1 wall.
    # Re-expand the tiny table first; the round-robin shuffle it costs
    # is bucket rows (ids arrays), not pairs.
    rare = ensure_parallelism(rare)
    sizes = (
        rare.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    pairs = (
        rare.filter(F.size("ids") >= 2)
        .select(
            ordered_pairs(F.col("ids"), lambda x, y: F.array(x, y)).alias("p")
        )
        .groupBy(F.col("p")[0].alias("doc_a"), F.col("p")[1].alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components of an undirected pair graph: min-label
    propagation accelerated with POINTER JUMPING — each iteration every
    node takes the minimum of its neighbors' labels (propagation), then
    its label's own label (shortcut, label := label[label]). Returns
    (node, label); every label converges to the minimum doc_id in its
    component.

    Scale shape: propagation alone converges in O(diameter) rounds —
    fine for near-dup cliques (diameter ≤ 2-3), pathological on long
    chains (a 10⁶-node chain would need 10⁶ joins). The shortcut step
    composes label paths, halving the remaining distance-to-root each
    round (same doubling idea as the large-star/small-star contraction
    of Kiveris et al., "Connected Components in MapReduce and Beyond",
    expressed as one extra self-join instead of an edge rewrite), so the
    loop is O(log n) rounds on ANY graph shape — gated by the 64-node
    chain test in tests/test_dedup.py. Each round is 3 bounded shuffles
    (edge-join + aggregate, label self-join); ``localCheckpoint``
    truncates lineage so plans don't grow per round. Labels only ever
    decrease and label values are always node ids within the component,
    so the fixpoint (no change through BOTH steps ⇒ propagation alone is
    at fixpoint) is the same component-minimum labeling as pure
    propagation.

    r15 join strategy (guide §3.1, the operators/graph.py gate): when
    the measured node count × 16 B (a (node, label) pair of longs)
    fits the session's ``autoBroadcastJoinThreshold``
    (``util.fits_broadcast``), every per-round join against a
    ≤|V|-row label table is an explicit
    BROADCAST — the checkpointed inputs carry no statistics, so each
    round otherwise planned 4 SortMergeJoins (edge-join, propagate,
    jump, changed-count) = 7-8 exchanges of tiny tables per round.
    Broadcasting leaves one exchange per round (the groupBy(u)
    neighbor-min — fundamental). Join strategy only: labels only ever
    decrease through the SAME least/coalesce lattice, so the fixpoint
    and every intermediate labeling are unchanged. Above the threshold,
    or with broadcasts off (-1), the sort-merge formulation stands (a
    100 TB doc graph's label table does not broadcast).
    """
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
        .localCheckpoint(eager=True)
    )
    # Driver-memory note (ADVICE r15): broadcast mode builds up to three
    # ≤threshold broadcast relations per round, reclaimed lazily by the
    # ContextCleaner rather than eagerly per round (the DataFrame API
    # exposes no handle to destroy a BroadcastExchange's relation). At
    # the engine's 64m threshold that is up to three 64 MiB-of-data
    # relations per round across ≤25 rounds — bounded, but a
    # small-driver deployment should lower the session's
    # spark.sql.autoBroadcastJoinThreshold rather than rely on GC timing.
    small = fits_broadcast(labels.sparkSession, labels.count(), 16)
    bcast = F.broadcast if small else (lambda df: df)
    for _ in range(max_iter):
        nbr = (
            edges.join(bcast(labels), edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = (
            labels.join(bcast(nbr), labels.node == nbr.u, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                    "label"
                ),
                F.col("label").alias("_old"),
            )
        )
        if not small:
            # materialize before the self-join: both join sides read
            # this subtree — un-checkpointed, the edge-join + aggregate
            # would execute twice per round. In broadcast mode (r15)
            # the recompute is two cheap broadcast joins over a gated-
            # small table whose groupBy exchange ReusedExchange dedupes
            # — skipping the per-round materialization job is the
            # bigger cost on a ≤gate graph; lineage stays truncated by
            # the new_labels checkpoint below either way.
            propagated = propagated.localCheckpoint(eager=True)
        # pointer jump: label := min(label, label[label]) — label values
        # are node ids, so every label resolves in the labels table.
        # The round's START label rides along as ``_old`` (r15) so the
        # convergence probe below is a join-free scan of the
        # checkpointed result instead of a third per-round join.
        new_labels = (
            propagated.alias("p")
            .join(
                bcast(
                    propagated.select(
                        F.col("node").alias("_ln"), F.col("label").alias("_ll")
                    )
                ),
                F.col("p.label") == F.col("_ln"),
                "left",
            )
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("_ll", "label")).alias(
                    "label"
                ),
                F.col("_old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("label") != F.col("_old")
        ).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    return labels


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Cluster-dedup assignment: every document mapped to the canonical
    (minimum) doc_id of its near-dup component; singletons map to
    themselves. Downstream dedup is then ``filter(doc_id == canon_id)``
    — keep one representative per cluster — which, unlike pairwise
    drop-the-second, is stable under transitive chains (A~B, B~C, A≁C
    still collapses to one survivor).
    """
    comp = connected_components(pairs, max_iter)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("canon_id"),
        )
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    kernel_chunk_grams: int = 65536,
) -> DataFrame:
    """64-bit SimHash per document: n-gram hashes → per-bit ±1 vote sums
    → sign bits packed into a long.

    MAP-ONLY, same design as the MinHash kernel (minhash_band_rows):
    gram strings hash JVM-side (``transform`` + ``xxhash64``), then one
    Arrow numpy kernel extracts the 64 sign bits and sums the ±1 votes
    per doc with ``add.reduceat`` over gram-range chunks — zero shuffle
    to the signature table (the previous explode + 64-sum() hash-
    aggregate carried 1 row/doc through an exchange). Bit arithmetic is
    int64 with arithmetic shifts on both sides, so signatures are
    bit-identical to the JVM formulation.

    Docs shorter than n tokens are excluded up front (their signature
    would be 0 and every such unrelated doc would pair at hamming 0);
    the predicate is pushdown-safe (see :func:`has_min_tokens`).
    Defaults to 3-gram shingles: on small-vocabulary corpora unigram
    feature sets overlap heavily across unrelated docs, washing out the
    signature.
    """
    shifts = np.arange(64, dtype=np.int64)

    @F.pandas_udf("long")
    def sim_kernel(hvecs: pd.Series) -> pd.Series:
        if not len(hvecs):
            return pd.Series([], dtype=np.int64)
        lens, flat, ends, starts = _flatten_ragged(hvecs)
        votes = np.zeros((len(lens), 64), dtype=np.int64)
        for d0, d1, g0, g1, offs in _gram_chunks(starts, ends, kernel_chunk_grams):
            bits = ((flat[g0:g1, None] >> shifts[None, :]) & 1) * 2 - 1
            votes[d0:d1] += np.add.reduceat(bits, offs, axis=0)
        sig = np.bitwise_or.reduce(
            np.left_shift((votes > 0).astype(np.int64), shifts[None, :]), axis=1
        )
        return pd.Series(sig)

    hvec = (
        ensure_parallelism(docs.filter(has_min_tokens(text_col, n)))
        .select(
            "doc_id",
            F.transform(gram_array(text_col, n), lambda g: F.xxhash64(g)).alias("hv"),
        )
    )
    return hvec.select("doc_id", sim_kernel(F.col("hv")).alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    chunks (pigeonhole: hamming ≤ 8 pairs are *likely* to agree on ≥1
    chunk; guaranteed for ≤ 3), bucket by chunk value, verify with
    bit_count(xor).

    Pair generation uses the same collect_list + bucket-cap pattern as
    :func:`minhash_lsh_pairs`: each (chunk, v) bucket's members are
    collected in ONE aggregate, buckets larger than ``max_bucket_size``
    are dropped (a 16-bit chunk shared by thousands of docs is
    boilerplate — its pairs are noise and its pairwise expansion is the
    only quadratic risk in this plan), and ordered pairs are emitted by
    a nested transform — so the pairwise work is bounded per bucket and
    there is no self-join anywhere. The trailing distinct dedups pairs
    that agree on several chunks and carries only three scalars.
    """
    sig = simhash(docs, text_col, n)
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("v"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk", "c.v")
    # array_sort over struct(doc_id, simhash) orders by doc_id, so every
    # emitted pair already satisfies doc_a < doc_b
    members = (
        chunks.groupBy("chunk", "v")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size))
    )
    pairs = members.select(
        ordered_pairs(
            F.col("ms"),
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["simhash"].alias("sig_a"),
                y["simhash"].alias("sig_b"),
            ),
        ).alias("p")
    )
    return (
        pairs.select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.bit_count(F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b"))).alias("hamming"),
        )
        # duplicate doc_id rows in dirty input must not become (x, x)
        # hamming-0 self-pairs
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("hamming") <= max_hamming)
        # ...and conflicting signatures for one id must not emit the
        # same pair twice with different distances: keep the closest
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


# --- sorted-neighborhood blocking (r7) ------------------------------------

SNM_WINDOW = 3
SNM_KEY_LEN = 40
SNM_PREFIX_LEN = 80
SNM_MAX_PREFIX_DIST = 20


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = SNM_WINDOW,
    key_len: int = SNM_KEY_LEN,
    key_expr: "F.Column | None" = None,
) -> DataFrame:
    """Sorted-neighborhood method (Hernández/Stolfo): order the corpus
    by a canonical sort key (here the lowercased text prefix), slide a
    fixed window over the sorted sequence, and compare only documents
    within ``window`` positions — the third blocking family next to
    LSH bands (minhash_lsh_pairs) and equi-key blocks (the fuzzy
    prefix join): candidates are O(N·w) by construction, never O(N²),
    and near-duplicates with a shared prefix land adjacent.

    Plan shape: ranks come from util.global_rank — a RANGE-partitioned
    exchange + per-partition windows + a bounded offset pass, never the
    single-partition global window that would serialize the sort at
    scale (same discipline as doc_global_shuffle's per-shard windows);
    the neighbor join is an EQUI-join on rank+i with i exploded from
    1..w, so Catalyst plans a keyed join. Only (rank, doc_id, key,
    prefix) rows move — never full text. Multi-pass SNM (a second sort
    key sweep unioned in) is the standard recall extension — see
    :func:`sorted_neighborhood_pairs_multipass`; ``key_expr`` overrides
    the sort key for such extra passes.
    """
    from cloudfront_kinesis_log_lambda_spark.operators.util import global_rank

    if key_expr is None:
        key_expr = F.substring(F.lower(F.col("text")), 1, key_len)
    keyed = docs.select(
        "doc_id",
        key_expr.alias("snm_key"),
        F.substring(F.col("text"), 1, SNM_PREFIX_LEN).alias("prefix"),
    )
    # Materialize the ranked table once: it feeds BOTH join sides, and
    # without the pin the range exchange + per-partition window behind
    # global_rank executes twice (once per side — the r15 before-plan
    # shows the duplicated Exchange/Sort/Window subtree). The pinned
    # rows are narrow (id, 80-char prefix, rank) — snm_key is dead
    # after ranking and is dropped before the pin.
    ranked = (
        global_rank(keyed, ["snm_key", "doc_id"])
        .select("doc_id", "prefix", "rn")
        .localCheckpoint(eager=True)
    )
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("prefix").alias("prefix_a"),
        F.explode(
            F.array(*[F.col("rn") + F.lit(i) for i in range(1, window + 1)])
        ).alias("rn_b"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("prefix").alias("prefix_b"),
        F.col("rn").alias("rn_b"),
    )
    return (
        left.join(right, "rn_b")
        .withColumn("prefix_dist", F.levenshtein("prefix_a", "prefix_b"))
        .filter(F.col("prefix_dist") <= F.lit(SNM_MAX_PREFIX_DIST))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            F.col("prefix_dist").cast("int").alias("prefix_dist"),
        )
    )


def sorted_neighborhood_pairs_multipass(
    docs: DataFrame,
    window: int = SNM_WINDOW,
    key_len: int = SNM_KEY_LEN,
) -> DataFrame:
    """Two-pass SNM (the standard recall extension): pass 1 sorts by
    the lowercased text PREFIX, pass 2 by the lowercased REVERSED-text
    prefix (suffix-similar documents whose prefixes diverge land
    adjacent in pass 2 — unreachable by pass 1's blocking). The union
    is distinct(): a pair found by both passes carries the same
    (doc_a, doc_b, prefix_dist) row, so dedup is exact. Cost is two
    O(N·w) sweeps — still never O(N²)."""
    p1 = sorted_neighborhood_pairs(docs, window, key_len)
    p2 = sorted_neighborhood_pairs(
        docs,
        window,
        key_len,
        key_expr=F.substring(F.lower(F.reverse(F.col("text"))), 1, key_len),
    )
    return p1.unionByName(p2).distinct()


def doc_sorted_neighbors_multipass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry: two-pass SNM over the documents table — fully
    oracle-checked (both rank sweeps are plain SQL; UNION dedups)."""
    from cloudfront_kinesis_log_lambda_spark.operators.relational import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return sorted_neighborhood_pairs_multipass(docs)


def doc_sorted_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: sorted-neighborhood candidate pairs over the
    documents table (window 3, 40-char sort key), kept when the 80-char
    prefixes are within 20 edits — fully oracle-checked (rank windows,
    explode, levenshtein are all plain SQL)."""
    from cloudfront_kinesis_log_lambda_spark.operators.relational import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return sorted_neighborhood_pairs(docs)
