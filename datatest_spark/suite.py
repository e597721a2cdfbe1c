"""The flagship constraint suite over the audio+transcript table.

This is the "full constraint-suite pass" that BASELINE.json's metric
(validated clips/sec) measures.  :func:`validate_audio_table` is
``Engine.validate`` over :func:`audio_rules` — the one compile that
``run_checkpointed``, ``quarantine``, ``validate_stream``,
``sampled_verdicts`` and the CLI run over the same rule list.  The
compiled plan, one fragment per line:

  1. one fused row-rule projection (interval checks on sr_hz/dur_ms,
     allowed sr_hz, clip_id regex)
  2. the consistency rule's decode pass — the only fragment that reads
     ``bytes``; with the manifest hash check its frame is persisted and
     read twice (violations + mismatch probe), and only hash-mismatched
     clips, if any, are decoded again for the exact SNR
  3. uniqueness of clip_id                     — 1 shuffle (agg)
  4. codec set membership                      — distinct + anti-join
  5. referential: clip_id ⊆ manifest           — distinct + anti-join
  6. transcript equality vs reference (+fuzzy) — join

Every other fragment reads only metadata columns (column pruning), so
the payload bytes are scanned once per compile.  All
fragments union into one violation DataFrame; per-partition verdicts
aggregate from it.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import requirements as R
from .audio import AUDIO_PARTITION_COL, AudioConsistencyRule
from .requirements import Rule
from .schema import verdict_counts
from .validation import Engine, ValidationResult

__all__ = ["audio_rules", "validate_audio_table", "image_rules",
           "validate_image_table", "video_rules",
           "validate_video_table", "verdicts"]

ALLOWED_CODECS = {"pcm_s16le", "flac", "opus"}
ALLOWED_SRS = {8000, 16000, 22050, 44100, 48000}


def audio_rules(
    manifest: Optional[DataFrame] = None,
    check_snr: bool = False,
    fuzzy_cutoff: Optional[float] = None,
    dur_tol_ms: int = 50,
    extra_rules: Optional[List[Rule]] = None,
) -> List[Rule]:
    """The full audio constraint suite (north_star rule families).

    ``extra_rules`` appends caller rules (e.g.
    ``audio.TranscriptRateRule(use_decoded=False)`` — declared-duration
    mode rides the suite's own dur_ms certification with zero extra
    decode passes) to the compiled suite."""
    rules: List[Rule] = [
        # row rules — fused into ONE projection by the engine
        R.interval("sr_hz", 8000, 48000, rule_id="interval:sr_hz"),
        R.interval("dur_ms", 1, 120_000, rule_id="interval:dur_ms"),
        R.predicate("sr_hz", ALLOWED_SRS, rule_id="sr_hz:allowed"),
        R.regex("clip_id", r"^clip-\d{12}$", rule_id="regex:clip_id"),
        # plan rules
        R.unique("clip_id", rule_id="unique:clip_id"),
        R.subset("codec", ALLOWED_CODECS, rule_id="subset:codec"),
        # decode pass: decodability + sr/dur/codec consistency (+SNR —
        # hash fast path when the manifest carries pcm_sha256)
        AudioConsistencyRule(
            dur_tol_ms=dur_tol_ms,
            check_snr=check_snr,
            pcm_manifest=(
                manifest
                if manifest is not None and "pcm_sha256" in manifest.columns
                else None
            ),
        ),
    ]
    if manifest is not None:
        rules.append(
            R.subset(
                "clip_id",
                manifest.select("clip_id"),
                rule_id="subset:clip_id_manifest",
            )
        )
        ref_col = (
            "transcript_ref"
            if "transcript_ref" in manifest.columns
            else manifest.columns[-1]
        )
        rules.append(
            R.ref_match(
                "transcript",
                manifest,
                on="clip_id",
                ref_column=ref_col,
                fuzzy_cutoff=fuzzy_cutoff,
                rule_id="ref_match:transcript",
            )
        )
    if extra_rules:
        rules.extend(extra_rules)
    return rules


def _partition_col(df: DataFrame,
                   partition_col: Optional[str]) -> Optional[str]:
    """The suites' partition column: the named one, else ``part_id``
    when the table has it, else none.  A named column the table lacks
    is returned as named, so the compile raises ``ValueError`` for
    it."""
    if partition_col is None and AUDIO_PARTITION_COL in df.columns:
        return AUDIO_PARTITION_COL
    return partition_col


def validate_audio_table(
    df: DataFrame,
    manifest: Optional[DataFrame] = None,
    check_snr: bool = False,
    fuzzy_cutoff: Optional[float] = None,
    partition_col: Optional[str] = None,
    extra_rules: Optional[List[Rule]] = None,
) -> ValidationResult:
    """Run the full audio constraint suite, returning the lazy
    violation frame.  To SPLIT the table instead — clean clips onward,
    implicated clips held for repair — compose the same rule set with
    the generic curation operator::

        from datatest_spark.validation import quarantine
        res = quarantine(df, audio_rules(manifest=m, check_snr=True),
                         key="clip_id")
        res.clean.write.parquet(...)   # validated training input
    """
    rules = audio_rules(manifest=manifest, check_snr=check_snr,
                        fuzzy_cutoff=fuzzy_cutoff, extra_rules=extra_rules)
    return Engine(df.sparkSession).validate(
        df, rules, partition_col=_partition_col(df, partition_col),
        description="audio constraint suite",
    )


def verdicts(violations: DataFrame) -> DataFrame:
    """Per-partition pass/fail verdict rows from a violation stream.

    Aggregate-level violations (set membership, uniqueness Extras) have
    no single source partition; they land in the ``__global__`` bucket.
    """
    return verdict_counts(
        violations, F.countDistinct("rule_id").alias("n_rules_failed")
    ).withColumn("passed", F.lit(False))


def image_rules() -> List[Rule]:
    """Constraint suite for the image fixture table (the multimodal
    twin of :func:`audio_rules`): id shape + uniqueness + the one-pass
    decode/dims consistency rule."""
    from .operators.image import ImageConsistencyRule

    return [
        R.regex("image_id", r"^img-\d{12}$", rule_id="regex:image_id"),
        R.unique("image_id", rule_id="unique:image_id"),
        ImageConsistencyRule(),
    ]


def validate_image_table(
    df: DataFrame,
    partition_col: Optional[str] = None,
) -> ValidationResult:
    return Engine(df.sparkSession).validate(
        df, image_rules(), partition_col=_partition_col(df, partition_col),
        description="image constraint suite",
    )


def video_rules() -> List[Rule]:
    """Constraint suite for the video fixture table: id shape +
    uniqueness + the header-seek frame-count consistency rule."""
    from .operators.video import VideoConsistencyRule

    return [
        R.regex("video_id", r"^vid-\d{12}$", rule_id="regex:video_id"),
        R.unique("video_id", rule_id="unique:video_id"),
        VideoConsistencyRule(),
    ]


def validate_video_table(
    df: DataFrame,
    partition_col: Optional[str] = None,
) -> ValidationResult:
    return Engine(df.sparkSession).validate(
        df, video_rules(), partition_col=_partition_col(df, partition_col),
        description="video constraint suite",
    )
