"""Corpus-fit BPE subword tokenizer: distributed fit + distributed encode.

The missing piece between :func:`token_stats` (which *counts* BPE-ish
segments with a fixed regex) and a real training pipeline, which needs
a tokenizer FIT ON THE CORPUS: byte-pair-encoding merges learned from
word frequencies (Sennrich et al. 2016, arXiv:1508.07909), then applied
to every document.  Reference lineage: datatest has no tokenizer — this
is a §2F pipeline addition in the same spirit as the unigram-LM quality
score (`text.py:unigram_logprob`), and reuses its scale discipline.

Spec (fixed so an independent replay agrees exactly):

* Pre-tokenization: documents split on single spaces (the corpus
  tables' word delimiter — identical to ``text._tokens``); empty
  strings dropped.  A word's symbol sequence is its characters plus a
  terminal ``</w>`` marker, so merges never cross word boundaries and
  word-final units stay distinct from word-internal ones.
* Fit: at each step, count adjacent symbol pairs weighted by word
  frequency (every adjacent position counts, the classic ``get_stats``)
  and merge the pair with the highest count — ties broken by the
  lexicographically SMALLEST ``(left, right)`` so the learned table is
  deterministic, not dict-order-lucky.  Stop at ``num_merges`` or when
  the best pair's count falls below ``min_pair_count``.
* Encode: per word, repeatedly find the present pair with the LOWEST
  merge rank and fuse ALL its non-overlapping occurrences left-to-right
  until no learned pair remains.

Scale shape (the 100 TB story): the ONLY corpus-wide work is one
word-count aggregation — ``groupBy(word)`` with map-side partial
aggregation, the same shuffle ``unigram_logprob`` pays.  The merge loop
runs on the driver over the WORD VOCABULARY (Zipf: millions of types
for trillions of tokens), bounded by ``vocab_cap`` with a deterministic
``(count desc, word asc)`` truncation — rare singleton types carry no
weight in pair counts, so the cap changes nothing observable at real
scale and is replayed exactly by the oracle.  Encoding broadcasts the
merge table (``num_merges`` rows, a few KB) into one Arrow-batched
pandas UDF that memoizes per distinct word per batch — again Zipf:
a 10k-row batch typically holds a few hundred distinct words.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import local_frame

__all__ = [
    "EOW",
    "word_counts",
    "bpe_merges_from_counts",
    "bpe_train",
    "bpe_encode_word",
    "bpe_encode",
    "MERGES_SCHEMA",
]

EOW = "</w>"

MERGES_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def word_counts(df: DataFrame, column: str) -> DataFrame:
    """``(word, c)`` corpus word frequencies — one map-side-combined
    ``groupBy`` shuffle, the fit's only corpus-scale stage."""
    return (
        df.where(F.col(column).isNotNull())
        .select(F.explode(F.split(F.col(column), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )


def _fuse(syms, left: str, right: str) -> list:
    """Fuse all non-overlapping (left, right) occurrences left-to-right
    — the single-sourced merge sweep shared by fit and encode (the two
    must agree or encode diverges from the learned table)."""
    fused = left + right
    out: List[str] = []
    i = 0
    while i < len(syms):
        if (i + 1 < len(syms) and syms[i] == left
                and syms[i + 1] == right):
            out.append(fused)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_merges_from_counts(
    counts: Sequence[Tuple[str, int]], num_merges: int,
    min_pair_count: int = 2,
) -> List[Tuple[str, str, int]]:
    """Driver-side classic BPE fit over a word-frequency table →
    ``[(left, right, pair_count), ...]`` in merge order.

    Cost is O(vocab · merges) worst case but each step only touches
    words containing the merged pair (tracked by an inverted index),
    the standard fast-BPE trick — fitting 10k merges over a 1M-type
    vocabulary is seconds, not hours.
    """
    # symbol sequences per word type, weighted by frequency
    words = {w: tuple(w) + (EOW,) for w, _ in counts}
    freq = dict(counts)
    # pair -> total weighted count, and pair -> set of words containing it
    pair_counts: dict = {}
    pair_words: dict = {}

    def add_word(w: str) -> None:
        syms = words[w]
        f = freq[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(w)

    def remove_word(w: str) -> None:
        syms = words[w]
        f = freq[w]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] -= f
            if pair_counts[p] <= 0:
                del pair_counts[p]
                pair_words.pop(p, None)
            else:
                s = pair_words.get(p)
                if s is not None:
                    s.discard(w)

    for w in words:
        add_word(w)

    merges: List[Tuple[str, str, int]] = []
    for _ in range(int(num_merges)):
        if not pair_counts:
            break
        # max count, lexicographically smallest pair on ties
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        if cnt < int(min_pair_count):
            break
        merges.append((left, right, int(cnt)))
        touched = list(pair_words.get((left, right), ()))
        for w in touched:
            remove_word(w)
            words[w] = tuple(_fuse(words[w], left, right))
            add_word(w)
    return merges


def bpe_train(df: DataFrame, column: str, num_merges: int = 200,
              vocab_cap: int = 1_000_000,
              min_pair_count: int = 2) -> DataFrame:
    """Fit BPE merges on a corpus column → the ranked merge table
    (``rank, left, right, pair_count``; ``rank`` is merge order).

    Distributed word counting; driver fit over at most ``vocab_cap``
    word types taken deterministically by ``(count desc, word asc)``
    (TakeOrdered — a bounded collect like ``unigram_logprob``'s
    vocabulary).  The returned frame is tiny (``num_merges`` rows) and
    broadcast-joins into any downstream plan.
    """
    wc = word_counts(df, column)
    rows = [
        (r["word"], int(r["c"]))
        for r in wc.orderBy(F.desc("c"), F.asc("word"))
        .limit(int(vocab_cap)).collect()
    ]
    merges = bpe_merges_from_counts(rows, num_merges, min_pair_count)
    spark = df.sparkSession
    data = [
        (k, left, right, cnt)
        for k, (left, right, cnt) in enumerate(merges)
    ]
    return local_frame(spark, data, MERGES_SCHEMA)


def bpe_encode_word(word: str, ranks: dict) -> List[str]:
    """Apply learned merges to one word (lowest rank first, all
    non-overlapping occurrences per sweep) → subword tokens."""
    syms: List[str] = list(word) + [EOW]
    while len(syms) > 1:
        best_rank: Optional[int] = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _fuse(syms, *best_pair)
    return syms


def bpe_encode(df: DataFrame, merges, column: str,
               id_col: str = "doc_id") -> DataFrame:
    """Tokenize a corpus column with a learned merge table →
    ``(id_col, tokens array<string>, n_tokens)``.

    ``merges`` is the :func:`bpe_train` frame or a ``[(left, right),
    ...]`` list in rank order; either way it is collected (tiny) and
    shipped in the UDF closure — a broadcast, never a join.  One
    Arrow-batched pandas UDF with a per-batch word memo; no shuffle.
    """
    if isinstance(merges, DataFrame):
        pairs = [
            (r["left"], r["right"])
            for r in merges.orderBy("rank").collect()
        ]
    else:
        pairs = [(m[0], m[1]) for m in merges]
    ranks = {p: k for k, p in enumerate(pairs)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tokenize(texts: pd.Series) -> pd.Series:
        memo: dict = {}

        def enc(text):
            if text is None:
                return []  # oracle contract: null text -> 0 tokens,
                # never a null array (size(null) is -1 and would
                # poison downstream token budgets)
            out: List[str] = []
            for w in text.split(" "):
                if not w:
                    continue
                toks = memo.get(w)
                if toks is None:
                    toks = bpe_encode_word(w, ranks)
                    memo[w] = toks
                out.extend(toks)
            return out

        return texts.map(enc)

    toks = tokenize(F.col(column))
    return df.select(
        F.col(id_col),
        toks.alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens"))
