"""Deduplication operators: exact, MinHash+LSH, SimHash, embedding LSH.

Scale shapes:

* **exact**: one hash-groupBy (map-side partial agg) over the 16-byte
  key ``(xxhash64(column), length(column))`` aggregating ONLY
  ``(count, min(id))`` — no document body ever enters the aggregate
  state or the shuffle.  The (tiny) duplicate-group keys are then
  broadcast-joined back to the corpus to fetch one sample body per
  group.
* **MinHash+LSH**: shingle → per-seed min-hash (JVM-side
  ``transform``+``xxhash64`` — no UDF) → band buckets → self-join per
  bucket.  The self-join is on (band, bucket-hash): only candidate
  pairs shuffle, never the full cross product.  Oversized buckets
  (empty/boilerplate documents — the quadratic skew hazard) are dropped
  by ``max_bucket_size`` before the self-join.  ``exact=True`` adds a
  verification join that scores candidates by TRUE shingle Jaccard
  (``array_intersect``/``array_union``, JVM-side) — candidates are a
  tiny fraction of the corpus, so only they pay the shingle-array
  shuffle.
* **SimHash**: 64-bit bit-vote signature.  Per-token hashes are
  JVM-side ``xxhash64`` (deterministic across executors/restarts —
  Python's builtin ``hash`` is PYTHONHASHSEED-salted and MUST NOT be
  used here); only the numpy bit-vote runs in a vectorized pandas UDF.
* **embedding near-dup**: random-hyperplane LSH buckets JVM-side, exact
  cosine only within (capped) buckets.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import CacheHandle, evict_all
from ..parallelism import fan_out

__all__ = [
    "exact_duplicates",
    "minhash_signatures",
    "minhash_neardup_pairs",
    "simhash_signatures",
    "simhash_neardup_pairs",
    "hamming_lsh_pairs",
    "embedding_neardup_pairs",
    "ngram_jaccard_pairs",
    "unpersist_cached",
]

# Persisted intermediates (the LSH banded frames) are tracked with a
# per-call CacheHandle attached to the returned pairs frame: interleaved
# operator calls no longer evict each other's caches, and callers free
# exactly what they are done with via caching.unpersist_result(pairs)
# (or everything at once via unpersist_cached()).
_HANDLES: list = []


def unpersist_cached(blocking: bool = False) -> int:
    """Evict ALL persisted LSH intermediates registered by dedup
    operator calls in this session.  Safe at any time: un-materialized
    results that referenced them simply recompute.  For per-result
    eviction use :func:`datatest_spark.caching.unpersist_result`.
    Returns #frames evicted."""
    return evict_all(_HANDLES, blocking)


def exact_duplicates(df: DataFrame, column: str, id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by exact content equality.

    Shuffle key is ``(xxhash64(column), length(column))`` — 16 bytes
    per row instead of the document body — and the aggregate state is
    ``(count, min(id))`` ONLY.  On a mostly-unique corpus carrying
    ``min(body)`` through the aggregate would ship ≈ the whole corpus
    as partial-agg state; instead the duplicate-group keys (tiny: only
    groups with count > 1 survive) are broadcast back onto the corpus
    and a second aggregate over *just the duplicate rows* picks one
    sample body per group.  A 64-bit-hash + length collision merging
    two distinct texts needs ~2^64 same-length docs — negligible at
    any target corpus size.
    """
    keyed_cols = [
        F.xxhash64(F.col(column)).alias("_h"),
        F.length(F.col(column)).alias("_len"),
    ]
    groups = (
        df.groupBy(*keyed_cols)
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )
    dup_rows = df.select(*keyed_cols, F.col(column)).join(
        F.broadcast(groups), ["_h", "_len"]
    )
    return (
        dup_rows.groupBy("_h", "_len", "dup_count", "keep_id")
        .agg(F.min(F.col(column)).alias(column))
        .select(column, "dup_count", "keep_id")
    )


def _word_shingles(col: Column, k: int) -> Column:
    # Bind the token array ONCE per row: higher-order functions are
    # interpreted (no whole-stage codegen, no subexpression
    # elimination), so referencing `split(col)` inside the per-element
    # lambda would re-run the split for every shingle (measured ~2x on
    # the posting build).  `transform(array(split(..)), λt: ...)`
    # evaluates the split as a transform ARGUMENT — once per row — and
    # the inner lambdas only touch the bound array variable `t`.
    def shingles_of(t):
        n = F.greatest(F.size(t) - k + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
        )

    return F.flatten(
        F.transform(F.array(F.split(col, " ")), shingles_of)
    )


def _seeded_hash(seed: int):
    # NOTE: must be a factory returning a ONE-argument lambda.  A
    # two-parameter lambda (`lambda s, seed=seed: ...`) is interpreted
    # by F.transform as an (element, index) lambda — the "seed" default
    # silently becomes the array index and every hash family collapses
    # to the same function.
    return lambda s: F.xxhash64(s, F.lit(seed))


def minhash_signatures(df: DataFrame, column: str, id_col: str = "doc_id",
                       num_hashes: int = 32, shingle_k: int = 3) -> DataFrame:
    """MinHash signature per document: k-word shingles, ``num_hashes``
    seeded families, min per family.  Entirely JVM-side (transform +
    array_min) — two chained projections, no shuffle, no UDF.

    Cost shape: the shingle strings are built and string-hashed exactly
    ONCE (first projection) — inlining the shingle expression into each
    family's transform would rebuild/rehash the strings per family
    (measured 30x slower at 32 families).  Each family then double-
    hashes the 8-byte base hash with its seed (cheap long hashing)."""
    df = fan_out(df)  # starved-scan guard: shingling is per-row-heavy
    base = df.select(
        F.col(id_col),
        F.transform(
            _word_shingles(F.col(column), shingle_k), lambda s: F.xxhash64(s)
        ).alias("_h"),
    )
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_h"), _seeded_hash(seed)))
            for seed in range(num_hashes)
        ]
    )
    return base.select(F.col(id_col), sig.alias("minhash"))


def _drop_oversized_buckets(banded: DataFrame, max_bucket_size: Optional[int]) -> DataFrame:
    """Remove LSH buckets above ``max_bucket_size`` before the
    self-join: one hot bucket (empty/boilerplate docs) otherwise makes
    the join quadratic.  The oversized list is tiny → broadcast
    anti-join.  Dropped buckets mean those (pathological) documents are
    not paired by the affected band — the standard LSH skew guard."""
    if max_bucket_size is None:
        return banded
    oversized = (
        banded.groupBy("band", "bucket")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .select("band", "bucket")
    )
    return banded.join(F.broadcast(oversized), ["band", "bucket"], "left_anti")


def _banded(sigs: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("minhash")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
        F.col("minhash"),
    ).select(id_col, "bb.band", "bb.bucket", "minhash")


def minhash_neardup_pairs(df: DataFrame, column: str, id_col: str = "doc_id",
                          num_hashes: int = 32, bands: int = 8,
                          shingle_k: int = 3,
                          min_jaccard: Optional[float] = 0.5,
                          max_bucket_size: Optional[int] = 10_000,
                          exact: bool = False) -> DataFrame:
    """LSH near-duplicate pairs.

    ``exact=False`` (default): estimate Jaccard as the fraction of
    agreeing minhash components → (id_a, id_b, est_jaccard).
    ``exact=True``: LSH only generates candidates (ids-only through the
    pair shuffle), then a verification join computes the TRUE shingle
    Jaccard JVM-side → (id_a, id_b, jaccard).  Candidates ≪ corpus, so
    the shingle arrays are shuffled only for them.

    Returns pairs with id_a < id_b.
    """
    handle = CacheHandle(_HANDLES)
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, column, id_col, num_hashes, shingle_k)
    # banded feeds the bucket-count pass and both self-join sides; the
    # cache keeps the 32-seed shingle hashing to ONE scan (spills to
    # disk if it outgrows memory — at cluster scale prefer a persisted
    # intermediate table over recomputing the projection 3×)
    banded = _banded(sigs, id_col, bands, rows_per_band)
    if exact:
        banded = banded.drop("minhash")  # candidates need ids only
    banded = handle.register(banded.persist())
    banded = _drop_oversized_buckets(banded, max_bucket_size)

    if exact:
        # candidates: ids only — no signatures through the shuffle
        a = banded.select("band", "bucket", F.col(id_col).alias("id_a"))
        b = banded.select("band", "bucket", F.col(id_col).alias("id_b"))
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        sh = fan_out(df).select(
            F.col(id_col),
            F.array_distinct(_word_shingles(F.col(column), shingle_k)).alias("_sh"),
        )
        j = (
            cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa")), "id_a")
            .join(sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb")), "id_b")
        )
        jac = F.round(
            F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
            / F.size(F.array_union(F.col("_sa"), F.col("_sb"))),
            4,
        )
        out = j.select("id_a", "id_b", jac.alias("jaccard"))
        if min_jaccard is not None:
            out = out.filter(F.col("jaccard") >= min_jaccard)
        return handle.attach(out)

    # estimated-jaccard path: score BEFORE the pair-dedup so the
    # distinct shuffles (id_a, id_b, one double), not two signatures
    a = banded.select(
        "band", "bucket",
        F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a"),
    )
    b = banded.select(
        "band", "bucket",
        F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(float(num_hashes))
    )
    out = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .distinct()
    )
    if min_jaccard is not None:
        out = out.filter(F.col("est_jaccard") >= min_jaccard)
    return handle.attach(out)


def simhash_signatures(df: DataFrame, column: str, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document.

    Per-token hashes are computed JVM-side with ``xxhash64`` so the
    signature is deterministic across Python workers, executors, and
    restarts (builtin ``hash()`` is PYTHONHASHSEED-salted — using it
    silently breaks pair recall on a real cluster).  Only the numpy
    bit-vote over the hash array runs in a vectorized pandas UDF."""
    # no fan_out here: the per-row work (one split + token xxhash +
    # vectorized bit-vote) is cheap enough that the guard's repartition
    # costs more than it recovers (measured 0.70s vs 1.18s at sf0.1)
    token_hashes = F.transform(
        F.split(F.col(column), " "), lambda w: F.xxhash64(w)
    )

    @F.pandas_udf(T.LongType())
    def bitvote(hashes_col: pd.Series) -> pd.Series:
        out = []
        shifts = np.arange(64, dtype=np.uint64)
        for arr in hashes_col:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            hashes = np.asarray(arr, dtype=np.int64).view(np.uint64)
            bits = ((hashes[:, None] >> shifts) & 1).astype(np.int64)
            votes = bits.sum(axis=0) * 2 - len(hashes)
            sig = int(((votes > 0).astype(np.uint64) << shifts).sum())
            out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
        return pd.Series(out, dtype="int64")

    return df.select(F.col(id_col), bitvote(token_hashes).alias("simhash"))


def hamming_lsh_pairs(sigs: DataFrame, id_col: str, sig_col: str,
                      max_hamming: int = 3,
                      max_bucket_size: Optional[int] = 10_000) -> DataFrame:
    """Near-dup pairs over any 64-bit signature column: 4-band Hamming
    LSH (any 16-bit band equal → candidate), exact Hamming distance
    filter JVM-side.  The Hamming distance is scored BEFORE the
    pair-dedup so the distinct shuffles one small int per pair, not two
    signatures.  Shared by SimHash text near-dup and the audio
    spectral-fingerprint near-dup (audio.audio_neardup_pairs).

    Recall is EXACTLY 1.0 for ``max_hamming <= 3`` with the bucket cap
    disabled: ≤3 differing bits touch ≤3 of the 4 bands, so one band
    always collides (pigeonhole) — certified against brute-force
    all-pairs ground truth in tests/test_audio.py
    (TestNeardupLshExactness).  At ``max_hamming >= 4`` or with
    ``max_bucket_size`` set, the operator is approximate (missed pairs
    possible by band spread or hot-bucket drop)."""
    handle = CacheHandle(_HANDLES)
    banded = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(sig_col), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, sig_col, "bb.band", "bb.bucket")
    # cache: the banded frame feeds the bucket-count pass and both join
    # sides — without it the signature stage re-runs per subtree
    banded = handle.register(banded.cache())
    banded = _drop_oversized_buckets(banded, max_bucket_size)

    a = banded.select("band", "bucket", F.col(id_col).alias("id_a"),
                      F.col(sig_col).alias("sig_a"))
    b = banded.select("band", "bucket", F.col(id_col).alias("id_b"),
                      F.col(sig_col).alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return handle.attach(
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_neardup_pairs(df: DataFrame, column: str, id_col: str = "doc_id",
                          max_hamming: int = 3,
                          max_bucket_size: Optional[int] = 10_000) -> DataFrame:
    """Near-dup pairs by SimHash over a text column — signatures from
    :func:`simhash_signatures`, banding/scoring from
    :func:`hamming_lsh_pairs`."""
    return hamming_lsh_pairs(
        simhash_signatures(df, column, id_col), id_col, "simhash",
        max_hamming=max_hamming, max_bucket_size=max_bucket_size,
    )


def embedding_neardup_pairs(df: DataFrame, column: str = "embedding",
                            id_col: str = "vec_id", planes: int = 16,
                            min_cosine: float = 0.9,
                            seed: int = 42,
                            max_bucket_size: Optional[int] = 10_000) -> DataFrame:
    """Embedding near-duplicates: random-hyperplane LSH bucket (sign
    bits of ``planes`` seeded projections) then exact cosine within
    buckets.  Hyperplanes are deterministic from ``seed``; oversized
    buckets (degenerate/zero vectors) are dropped before the self-join."""
    dim_row = df.select(F.size(F.col(column)).alias("d")).first()
    dim = dim_row["d"]
    rng = np.random.RandomState(seed)
    hyper = rng.randn(planes, dim)

    proj_bits = []
    for p in range(planes):
        coeffs = F.array(*[F.lit(float(x)) for x in hyper[p]])
        dot = F.aggregate(
            F.zip_with(F.col(column).cast("array<double>"), coeffs,
                       lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        proj_bits.append((dot > 0).cast("long") * F.lit(2 ** p))
    bucket = sum(proj_bits[1:], proj_bits[0])

    withb = df.select(F.col(id_col), F.col(column), bucket.alias("bucket"))
    if max_bucket_size is not None:
        oversized = (
            withb.groupBy("bucket").count()
            .filter(F.col("count") > max_bucket_size)
            .select("bucket")
        )
        withb = withb.join(F.broadcast(oversized), ["bucket"], "left_anti")
    a = withb.select("bucket", F.col(id_col).alias("id_a"),
                     F.col(column).alias("va"))
    b = withb.select("bucket", F.col(id_col).alias("id_b"),
                     F.col(column).alias("vb"))
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x.cast("array<double>"), y.cast("array<double>"),
                       lambda p_, q_: p_ * q_),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cos = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va")))
        * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return pairs.select(
        "id_a", "id_b", F.round(cos, 4).alias("cosine")
    ).filter(F.col("cosine") >= min_cosine)


def ngram_jaccard_pairs(df: DataFrame, column: str, id_col: str = "doc_id",
                        n: int = 3, min_jaccard: float = 0.5,
                        max_df: Optional[int] = 1000) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs via an inverted
    shingle index — the classic posting-list self-join, no sketching.

    Where MinHash estimates Jaccard from a fixed-width signature, this
    operator computes the true set Jaccard over word ``n``-gram shingle
    sets, so it is the precision-first member of the dedup family
    (use it to re-score LSH candidates, or standalone on corpora where
    the index fits).

    Plan shape (100 TB lens):

    1. Per-doc DISTINCT shingle hashes (JVM ``transform``+``xxhash64``
       — shuffles carry 8-byte longs, never shingle text).
    2. Inverted index: explode to ``(doc, shingle_hash)`` postings,
       persisted RAW so the shingle split+hash runs once per document.
    3. ``max_df`` stop-shingle cap: shingles appearing in more than
       ``max_df`` documents (boilerplate — "the terms of", markup
       fragments) are removed from the similarity space BEFORE the
       self-join, bounding the quadratic posting-list blowup to
       ``max_df**2`` candidate rows per shingle.  Doc frequencies come
       from a map-side-combined ``groupBy(g).count()`` — every task
       pre-aggregates its shingles, so only ``(g, partial_count)``
       rows shuffle and no task ever buffers a hot shingle's full
       posting list (a window over the postings would: the exact skew
       this cap exists to remove).  The surviving stop-shingle list is
       tiny (by construction: only shingles with df > max_df) →
       persisted, and broadcast left-anti joined back onto the postings.
    4. Each surviving posting carries its document's set size ``sz``,
       counted over the SAME filtered space, so the reported value is
       the exact Jaccard of the filtered shingle sets —
       self-consistent semantics, not a truncated intersection over an
       unfiltered union.  The sized postings are persisted too, so the
       size aggregate is planned once and both self-join sides read
       one materialization.
    5. Self-join on shingle hash with a length filter in the join
       condition, then per-pair intersection counts grouped by
       ``(id_a, id_b, sz_a, sz_b)`` (map-side partial agg) — no join
       follows the aggregation: ``|A∪B| = |A|+|B|-|A∩B|`` is a
       projection.  The length filter drops pairs whose size ratio
       ``min(sz)/max(sz)`` — an upper bound of their Jaccard — falls
       below ``min_jaccard`` by more than the 4-dp rounding of the
       score can make up, so no pair the final filter keeps is dropped.

    Every shuffle row in the pipeline is a few longs (or the
    partially-aggregated ``(long, count)``).  Reference analogue: the
    fuzzy/duplicate checks
    of datatest's requirements (requirements.py:303-360) generalized
    to corpus-scale pairwise similarity.
    """
    sh = F.array_distinct(
        F.transform(_word_shingles(F.col(column), n),
                    lambda s: F.xxhash64(s))
    )
    # starved-scan guard: the shingle split+hash is the per-row-heavy
    # stage AND the persisted postings inherit this partitioning — a
    # 1-split input would otherwise run the whole posting build and
    # every cache read on one core (guide §2.5/§6)
    shingled = fan_out(df).select(F.col(id_col).alias("id"), sh.alias("sh"))
    postings = shingled.select("id", F.explode("sh").alias("g"))
    handle = CacheHandle(_HANDLES)
    # persist the RAW postings: the df-count pass and the sized
    # postings both read them, and without the persist the shingle
    # split+hash would run once per reader
    postings = handle.register(postings.persist())
    if max_df is not None:
        # doc-frequency cap: partial-agg count (only (g, count) rows
        # shuffle; a window over the postings would buffer each hot
        # shingle's ENTIRE posting list on one task before filtering —
        # the exact skew the cap exists to remove), then broadcast the
        # tiny df>max_df stop list as a left-anti join — a map-side
        # filter, no extra shuffle.  The stop list is persisted: the
        # size pass and the sized postings both filter by it, and Spark
        # would otherwise plan its aggregate once per reader
        stop = (
            postings.groupBy("g")
            .count()
            .filter(F.col("count") > max_df)
            .select("g")
        )
        stop = handle.register(stop.persist())
        postings = postings.join(F.broadcast(stop), ["g"], "left_anti")
    sizes = postings.groupBy("id").agg(F.count("*").alias("sz"))
    # both self-join sides read ONE persisted (id, g, sz) frame, so the
    # size aggregate is planned (and compiled) once instead of once per
    # join side
    sized = handle.register(postings.join(sizes, "id").persist())
    a = sized.select(F.col("id").alias("id_a"), "g", F.col("sz").alias("sz_a"))
    b = sized.select(F.col("id").alias("id_b"), "g", F.col("sz").alias("sz_b"))
    cond = F.col("id_a") < F.col("id_b")
    if min_jaccard is not None:
        # J <= min(sz)/max(sz), and round(J, 4) >= t needs
        # J >= t - 0.00005; the wider margin absorbs float error, so
        # no pair the final filter keeps is dropped here
        cond = cond & (F.least("sz_a", "sz_b")
                       >= F.greatest("sz_a", "sz_b") * (min_jaccard - 1e-4))
    out = (
        a.join(b, "g")
        .filter(cond)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
        .select(
            "id_a", "id_b",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ).alias("jaccard_r"),
        )
    )
    if min_jaccard is not None:
        out = out.filter(F.col("jaccard_r") >= min_jaccard)
    return handle.attach(out)
