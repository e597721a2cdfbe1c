"""ASR transcript fidelity — CER / WER against a reference manifest.

The flagship suite (:mod:`datatest_spark.suite`) checks transcript
EQUALITY against the reference manifest (the input_hint's per-row
invariant) plus a fuzzy variant.  A speech-corpus curation pipeline
additionally needs the QUANTITATIVE error rates every ASR evaluation
reports:

* **CER** — character error rate: ``levenshtein(hyp, ref) /
  len(ref)``.  Entirely JVM-side (``F.levenshtein`` runs inside
  whole-stage codegen) — the at-scale path, zero Python.
* **WER** — word error rate: word-level edit distance / reference
  word count.  Word-level Levenshtein has no JVM builtin, so the
  distance runs as ONE Arrow-batched pandas UDF over the two (short)
  transcript strings; the DP is vectorized over the reference axis
  (``O(|hyp|)`` numpy passes per row, the classic two-row formulation
  with a prefix-min ``np.minimum.accumulate`` for the insertion
  chain).  Everything around it (tokenisation counts, the ratio, the
  join) stays JVM-side.

Null semantics (both metrics): a null/absent hypothesis counts as
fully deleted (rate 1.0 against a non-empty reference) — a missing
transcript is a total transcription failure, not a skip; a null
reference yields a null rate (nothing to grade against).

Scale shape: one shuffle on the join key (sort-merge on ``clip_id``;
AQE broadcasts the manifest side when it is small).  Only
``(id, two short strings)`` ever shuffles — ``bytes`` and every other
payload column is pruned at the scan.  The metric columns are pure
projections on the joined frame.

Reference lineage: datatest's Deviation/accepted.tolerance semantics
(`/root/reference/datatest/differences.py`,
`/root/reference/datatest/acceptances.py` tolerance classes) — the
rule form emits DEVIATION rows with ``deviation = rate - threshold``,
exactly the shape RequiredApprox violations use, so ``accepted.
tolerance`` / ``accepted.percent`` compose with it unchanged.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..audio import audio_partition_col
from ..requirements import Rule, ValidationContext, finalize_cols
from ..schema import DEVIATION, INVALID, partition_column

__all__ = ["transcript_cer", "transcript_wer", "word_edit_distance",
           "normalize_transcript", "TranscriptFidelityRule",
           "transcript_fidelity"]


def normalize_transcript(col):
    """Standard ASR scoring normalization (the Whisper/Kaldi-style
    surface form): lowercase → every char outside letters/digits/
    whitespace becomes a space → whitespace collapsed → trimmed.

    Entirely JVM-side (``lower`` + two codegen ``regexp_replace``).
    The character classes are Unicode (``\\p{L}``/``\\p{N}``), so
    "café" keeps its accent and CJK text is untouched; only
    punctuation/symbols are scoring-neutral.  Both metric functions
    apply it to BOTH sides when ``normalize=True`` — hypothesis
    casing and punctuation then cost zero edits, which is how WER is
    reported for every modern ASR benchmark.
    """
    s = F.lower(col)
    s = F.regexp_replace(s, r"[^\p{L}\p{N}\s]+", " ")
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def word_edit_distance(a_words, b_words) -> int:
    """Unit-cost Levenshtein distance between two word sequences.

    Two-row DP, vectorized over the ``b`` axis: substitution/deletion
    candidates are elementwise numpy minima; the insertion chain
    ``cur[j] = min(cur[j], cur[j-1] + 1)`` is the running minimum of
    ``cand[j'] + (j - j')`` over ``j' <= j``, computed with one
    ``np.minimum.accumulate`` over ``cand - arange`` — no Python inner
    loop.
    """
    if not a_words:
        return len(b_words)
    if not b_words:
        return len(a_words)
    bw = np.asarray(b_words, dtype=object)
    prev = np.arange(len(b_words) + 1, dtype=np.int64)
    for i, w in enumerate(a_words, 1):
        sub = prev[:-1] + (bw != w)          # substitute (cost 0 if equal)
        cand = np.minimum(prev[1:] + 1, sub)  # delete a-word vs substitute
        full = np.concatenate(([np.int64(i)], cand))  # cur[0] = i
        idx = np.arange(len(full), dtype=np.int64)
        prev = np.minimum.accumulate(full - idx) + idx  # insert chain
    return int(prev[-1])


def _word_edits_batch(hyp: pd.Series, ref: pd.Series) -> pd.Series:
    """Arrow-batched word edit distance; null hyp = empty, null ref
    propagates null."""
    out = np.empty(len(hyp), dtype=object)
    for k, (h, r) in enumerate(zip(hyp, ref)):
        if r is None or (isinstance(r, float) and np.isnan(r)):
            out[k] = None
            continue
        hw = h.split() if isinstance(h, str) else []
        out[k] = word_edit_distance(hw, r.split())
    return pd.Series(out)


def _word_edits_udf():
    # built lazily: pandas_udf resolves its return type against the
    # ACTIVE session, so a module-level decorator would make importing
    # this module require a running SparkContext
    return pandas_udf(_word_edits_batch, "long")


def _joined(hyp: DataFrame, ref: DataFrame, id_col: str,
            hyp_col: str, ref_col: str, how: str,
            normalize: bool = False) -> DataFrame:
    h_expr: object = F.col(hyp_col)
    r_expr: object = F.col(ref_col)
    if normalize:
        h_expr = normalize_transcript(h_expr)
        r_expr = normalize_transcript(r_expr)
    h = hyp.select(F.col(id_col), h_expr.alias("__hyp"))
    r = ref.select(F.col(id_col), r_expr.alias("__ref"))
    return h.join(r, id_col, how)


def transcript_cer(hyp: DataFrame, ref: DataFrame,
                   id_col: str = "clip_id",
                   hyp_col: str = "transcript",
                   ref_col: str = "transcript_ref",
                   normalize: bool = False) -> DataFrame:
    """Per-clip character error rate vs the reference manifest.

    Output: ``(id_col, ref_chars, char_edits, cer)`` — one row per
    hypothesis row whose id exists in the manifest (inner join; use
    the suite's completeness rules for manifest-coverage checks).
    ``cer = char_edits / max(ref_chars, 1)`` rounded to 6 decimals.
    ``normalize=True`` scores both sides through
    :func:`normalize_transcript` (case/punctuation cost nothing).
    Fully JVM-side: ``F.levenshtein`` + ``F.length`` projections over
    one sort-merge/broadcast join.
    """
    j = _joined(hyp, ref, id_col, hyp_col, ref_col, "inner",
                normalize=normalize)
    ref_chars = F.length(F.col("__ref"))
    edits = F.levenshtein(F.coalesce(F.col("__hyp"), F.lit("")),
                          F.col("__ref"))
    return j.select(
        F.col(id_col),
        ref_chars.cast("long").alias("ref_chars"),
        edits.cast("long").alias("char_edits"),
        F.round(edits / F.greatest(ref_chars, F.lit(1)), 6).alias("cer"),
    )


def transcript_wer(hyp: DataFrame, ref: DataFrame,
                   id_col: str = "clip_id",
                   hyp_col: str = "transcript",
                   ref_col: str = "transcript_ref",
                   normalize: bool = False) -> DataFrame:
    """Per-clip word error rate vs the reference manifest.

    Output: ``(id_col, ref_words, word_edits, wer)``.  The word-level
    distance is the module's one Arrow-batched Python stage (see
    module docstring); word counts and the ratio are JVM projections.
    Whitespace tokenisation on both sides (``\\s+`` after trim —
    identical to Python ``str.split()`` for the distance stage).
    ``normalize=True`` scores both sides through
    :func:`normalize_transcript` — the benchmark-standard WER.
    """
    j = _joined(hyp, ref, id_col, hyp_col, ref_col, "inner",
                normalize=normalize)
    ref_trim = F.trim(F.col("__ref"))
    ref_words = F.when(
        F.col("__ref").isNull() | (ref_trim == F.lit("")), F.lit(0)
    ).otherwise(F.size(F.split(ref_trim, r"\s+")))
    edits = _word_edits_udf()(F.col("__hyp"), F.col("__ref"))
    return j.select(
        F.col(id_col),
        ref_words.cast("long").alias("ref_words"),
        edits.alias("word_edits"),
        F.round(edits / F.greatest(ref_words, F.lit(1)), 6).alias("wer"),
    )


class TranscriptFidelityRule(Rule):
    """Suite rule: transcript CER vs the reference manifest.

    * hypothesis id absent from the manifest → INVALID
      (``rule:noref``) — ungradeable rows surface instead of silently
      passing (datatest ``Missing`` spirit, keyed per clip).
    * ``cer > max_cer`` → DEVIATION (``rule:cer``), ``deviation =
      round(cer - max_cer, 6)``, ``expected_num = max_cer`` — the
      RequiredApprox shape, so tolerance acceptances compose.

    ``max_cer = 0.0`` (default) is exact-match grading in error-rate
    form.  Pure JVM plan: one join + projections, no decode, no
    Python.
    """

    kind = "plan"

    def __init__(self, ref: DataFrame, max_cer: float = 0.0,
                 id_col: str = "clip_id",
                 hyp_col: str = "transcript",
                 ref_col: str = "transcript_ref",
                 rule_id: str = "transcript_cer"):
        super().__init__(rule_id)
        self.ref = ref
        self.max_cer = float(max_cer)
        self.id_col = id_col
        self.hyp_col = hyp_col
        self.ref_col = ref_col

    def plan(self, ctx: ValidationContext) -> DataFrame:
        df = ctx.df
        rid = self.rule_id
        h = df.select(
            F.col(self.id_col), F.col(self.hyp_col).alias("__hyp"),
            partition_column(df, audio_partition_col(ctx)).alias("partition_id"),
        )
        r = self.ref.select(
            F.col(self.id_col), F.col(self.ref_col).alias("__ref"),
            F.lit(True).alias("__in_ref"),
        )
        j = h.join(r, self.id_col, "left")

        noref = j.filter(F.col("__in_ref").isNull()).select(
            finalize_cols(
                f"{rid}:noref", INVALID,
                key=F.col(self.id_col), column=self.hyp_col,
                invalid=F.col("__hyp"),
                expected=F.lit("reference transcript present"),
                partition_id=F.col("partition_id"),
            )
        )

        ref_chars = F.length(F.col("__ref"))
        cer = F.round(
            F.levenshtein(F.coalesce(F.col("__hyp"), F.lit("")),
                          F.col("__ref"))
            / F.greatest(ref_chars, F.lit(1)),
            6,
        )
        over = (
            j.filter(F.col("__in_ref").isNotNull())
            .withColumn("__cer", cer)
            .filter(F.col("__cer") > F.lit(self.max_cer))
            .select(
                finalize_cols(
                    f"{rid}:cer", DEVIATION,
                    key=F.col(self.id_col), column=self.hyp_col,
                    invalid=F.col("__cer"),
                    expected=F.lit(self.max_cer),
                    deviation=F.round(F.col("__cer") - self.max_cer, 6),
                    expected_num=F.lit(self.max_cer),
                    partition_id=F.col("partition_id"),
                )
            )
        )
        return noref.unionByName(over)


def transcript_fidelity(ref: DataFrame, max_cer: float = 0.0,
                        id_col: str = "clip_id",
                        hyp_col: str = "transcript",
                        ref_col: str = "transcript_ref",
                        rule_id: str = "transcript_cer",
                        ) -> TranscriptFidelityRule:
    """Factory for :class:`TranscriptFidelityRule` (suite style)."""
    return TranscriptFidelityRule(ref, max_cer=max_cer, id_col=id_col,
                                  hyp_col=hyp_col, ref_col=ref_col,
                                  rule_id=rule_id)
