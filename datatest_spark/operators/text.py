"""Text-analysis operators for large-scale corpus pipelines.

All hot paths are built-in Column expressions (whole-stage codegen):
``split``/``array_distinct``/``xxhash64``/``transform`` — no Python in
the per-row path.  These complement the validation rules: their outputs
feed interval/drift rules (e.g. "token count ∈ [10, 10_000]").
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import local_frame

__all__ = [
    "token_stats",
    "text_quality",
    "repetition_stats",
    "unigram_logprob",
    "lang_id",
    "fingerprint",
]


def _tokens(col: Column) -> Column:
    return F.split(col, " ")


# BPE-ish segmentation: letter runs, digit runs, punctuation runs (each
# with an optional leading space, the GPT-2-style pre-tokenizer shape)
# and residual space runs.  Deliberately restricted to RE2-compatible
# syntax (no lookahead, no \p classes) so the SQL oracle's
# regexp_extract_all segments IDENTICALLY.
BPE_TOKEN_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"


def token_stats(df: DataFrame, column: str, id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count, BPE-ish sub-word token estimate
    (:data:`BPE_TOKEN_PATTERN` via JVM ``regexp_extract_all`` — no
    Python in the row path) and character count per document."""
    c = F.col(column)
    # Column-based form (not an F.expr f-string): column names needing
    # backticks (spaces, dots, hyphens) or containing quotes must not
    # break parsing / inject SQL — consistent with the F.col-based API
    # everywhere else.
    bpe = F.size(
        F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    )
    return df.select(
        F.col(id_col),
        F.size(_tokens(c)).alias("n_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length(c).cast("int").alias("n_chars_calc"),
    )


def text_quality(df: DataFrame, column: str, id_col: str = "doc_id") -> DataFrame:
    """Quality metrics: token count, distinct tokens, type-token ratio,
    average word length, punctuation ratio and stopword ratio — the
    standard corpus-quality signals, one projection, no shuffle.

    ``punct_ratio_r`` = non-alphanumeric-non-space chars / chars;
    ``stopword_ratio_r`` = tokens in the English stopword list /
    tokens (boilerplate and low-content docs sit at the extremes of
    both — the usual quality-filter features)."""
    c = F.col(column)
    toks = _tokens(c)
    n_tokens = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    n_punct = F.length(F.regexp_replace(c, "[a-zA-Z0-9 ]", ""))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        F.round(n_types / n_tokens, 4).alias("ttr_r"),
        F.round(
            (F.length(c) - n_tokens + F.lit(1.0)) / n_tokens, 4
        ).alias("awl_r"),
        F.round(n_punct / F.greatest(F.length(c), F.lit(1)), 4).alias(
            "punct_ratio_r"
        ),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio_r"),
    )


def _ngram_rep_cols(toks: Column, n: int) -> list:
    """max-frequency and duplicated-occurrence counts of word
    ``n``-grams, computed per row with a sorted-array run-length
    aggregate — pure JVM higher-order functions, so the repetition
    signal costs a projection, not a (doc_id, shingle) shuffle.

    State = (prev shingle, current run, max run, occurrences inside
    runs >= 2).  On a sorted array, equal shingles are adjacent, so
    run statistics are exactly per-shingle frequencies: a run of
    length r >= 2 contributes r duplicated occurrences (+2 when the
    run reaches 2, +1 per further repeat)."""
    size = F.greatest(F.size(toks) - n + 1, F.lit(1))
    grams = F.array_sort(F.transform(
        F.sequence(F.lit(0), size - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    ))
    st0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("mx"),
        F.lit(0).alias("dup"),
    )

    def step(st, x):
        same = st["prev"].eqNullSafe(x)
        run = F.when(same, st["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(st["mx"], run).alias("mx"),
            (st["dup"] + F.when(same & (run == 2), 2)
             .when(same, 1).otherwise(0)).alias("dup"),
        )

    agg = F.aggregate(grams, st0, step)
    return [
        size.alias(f"ngrams_{n}"),
        agg["mx"].alias(f"top_ngram_{n}"),
        agg["dup"].alias(f"dup_ngrams_{n}"),
        F.round(agg["mx"] / size, 4).alias(f"top_frac_{n}_r"),
        F.round(agg["dup"] / size, 4).alias(f"dup_frac_{n}_r"),
    ]


def repetition_stats(df: DataFrame, column: str, id_col: str = "doc_id",
                     ngrams: Sequence[int] = (2, 3)) -> DataFrame:
    """Intra-document repetition signals (the Gopher / MassiveText
    quality-filter family): per word-``n``-gram size, the frequency of
    the MOST repeated n-gram and the number of n-gram occurrences
    belonging to duplicated n-grams, plus their fractions of all
    n-grams.  High values mark boilerplate loops, keyword stuffing and
    degenerate generations.

    One projection per row — no shuffle, no Python (plan-tested);
    documents shorter than ``n`` words count their whole text as one
    n-gram (top_frac is then 1 by definition, dup_frac 0: nothing
    repeats).  Null text rows are dropped (no n-grams to measure).
    """
    toks = _tokens(F.col(column))
    cols: list = [F.col(id_col)]
    for n in ngrams:
        cols += _ngram_rep_cols(toks, int(n))
    return df.where(F.col(column).isNotNull()).select(*cols)


def unigram_logprob(df: DataFrame, column: str, id_col: str = "doc_id",
                    vocab_size: int = 50_000) -> DataFrame:
    """Corpus-LM quality score (the CCNet filtering idea, self-trained):
    fit a unigram language model on the corpus itself — the top
    ``vocab_size`` tokens by frequency, add-one smoothing over the full
    observed vocabulary — then score every document by its mean token
    log-probability and perplexity.  Low log-prob marks gibberish and
    boilerplate soups; *suspiciously high* log-prob marks degenerate
    repeated-common-word text, so both tails feed interval rules.

    Output per document: ``n_tokens``, ``n_oov`` (tokens outside the
    model vocabulary, scored at the unseen floor 1/(N+V+1)),
    ``logprob_r`` (mean ln-prob, 4 dp), ``ppl_r`` (exp(-mean), 2 dp).

    Plan shape (scale notes): pass 1 is the word-count classic — one
    ``groupBy(token)`` with map-side partial aggregation, persisted
    just long enough to take (a) one tiny agg for the smoothing
    scalars N and V and (b) the top-``vocab_size`` rows (TakeOrdered,
    deterministic ``(count desc, token asc)`` tie-break) — a
    driver-bounded collect of ≤ ``vocab_size`` pairs, a few MB.  Pass 2
    re-scans the source (cheaper at corpus scale than materializing the
    exploded token frame, which is strictly larger than its source),
    broadcast-joins the vocabulary, and aggregates per document — one
    shuffle keyed by ``id_col``.  Nothing anywhere is proportional to
    corpus size except the two scans and the two shuffles.
    """
    spark = df.sparkSession
    base = df.where(F.col(column).isNotNull())
    tok = base.select(
        F.col(id_col),
        F.explode(_tokens(F.col(column))).alias("tok"),
    )

    counts = tok.groupBy("tok").agg(F.count("*").alias("c")).persist()
    try:
        tot = counts.agg(F.sum("c").alias("n"),
                         F.count("*").alias("v")).first()
        n_total, v_full = int(tot["n"] or 0), int(tot["v"] or 0)
        vocab_rows = [
            (r["tok"], r["c"])
            for r in counts.orderBy(F.desc("c"), F.asc("tok"))
            .limit(int(vocab_size)).collect()
        ]
    finally:
        counts.unpersist()

    denom = float(n_total + v_full + 1)
    vocab = local_frame(spark, vocab_rows, "tok string, c long")

    lp = F.log((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
               / F.lit(denom))
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .select(
            F.col(id_col),
            lp.alias("lp"),
            F.col("c").isNull().cast("int").alias("oov"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("oov").cast("int").alias("n_oov"),
            F.round(F.avg("lp"), 4).alias("logprob_r"),
            F.round(F.exp(-F.avg("lp")), 2).alias("ppl_r"),
        )
    )


_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que"],
    "es": ["el", "la", "de", "y", "un", "una", "es", "que"],
    "de": ["der", "die", "das", "und", "ein", "ist", "zu", "nicht"],
}


def lang_id(df: DataFrame, column: str, id_col: str = "doc_id",
            stopwords: Optional[dict] = None) -> DataFrame:
    """N-gram/stopword heuristic language ID: the language whose
    stopword set overlaps the document's token set most.  Pure Column
    ops (array_intersect against broadcast literal arrays)."""
    stopwords = stopwords or _STOPWORDS
    toks = F.array_distinct(_tokens(F.lower(F.col(column))))
    scores = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
            .alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in stopwords.items()
    ]
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        best["lang"].alias("lang_guess"),
        best["score"].alias("lang_score"),
    )


def fingerprint(df: DataFrame, column: str, id_col: str = "doc_id",
                shingle_len: int = 8) -> DataFrame:
    """Document fingerprinting: full-text hash + a winnowed shingle
    fingerprint (min hash over character shingles — rolling-hash
    equivalent, computed JVM-side with ``transform``+``xxhash64``)."""
    c = F.col(column)
    n = F.greatest(F.length(c) - shingle_len + 1, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), n), lambda i: c.substr(i, F.lit(shingle_len))
    )
    # xxhash64(NULL) returns the seed (42), not NULL — and greatest()
    # ignores nulls, so the shingle path also degenerates to 42 on null
    # text.  Guard both so a null text fingerprints as NULL like every
    # other derived column.
    null_long = F.lit(None).cast("long")
    return df.select(
        F.col(id_col),
        F.when(c.isNull(), null_long).otherwise(F.xxhash64(c)).alias(
            "text_hash"
        ),
        F.when(c.isNull(), null_long)
        .otherwise(F.array_min(F.transform(shingles, lambda s: F.xxhash64(s))))
        .alias("shingle_min_hash"),
    )
