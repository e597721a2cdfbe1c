"""The flagship constraint suite over the audio+transcript table.

This is the "full constraint-suite pass" that BASELINE.json's metric
(validated clips/sec) measures: every north_star rule family exercised
over the input_hint shape in a minimal number of Spark jobs:

  1. one fused row-rule projection (interval checks on sr_hz/dur_ms,
     codec regex)                                    — 1 scan
  2. one decode pass (all audio consistency rules)   — 1 scan (Arrow)
  3. uniqueness of clip_id                           — 1 shuffle (agg)
  4. codec set membership                            — reuses the agg path
  5. referential: clip_id ⊆ manifest                 — sort-merge anti-join
  6. transcript equality vs reference (+fuzzy)       — sort-merge join
  7. per-column profile + PSI drift                  — 1 agg pass

All fragments union into one violation DataFrame; per-partition
verdicts aggregate from it.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import requirements as R
from .audio import AudioConsistencyRule
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


def validate_audio_table(
    df: DataFrame,
    manifest: Optional[DataFrame] = None,
    check_snr: bool = False,
    fuzzy_cutoff: Optional[float] = None,
    partition_col: Optional[str] = "part_id",
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
    part = partition_col if partition_col in df.columns else None
    engine = Engine(df.sparkSession)
    core = audio_rules(manifest=manifest, check_snr=check_snr,
                       fuzzy_cutoff=fuzzy_cutoff)
    extra = list(extra_rules or [])

    acr = next((r for r in core if isinstance(r, AudioConsistencyRule)),
               None)
    hash_path = (acr is not None and acr.check_snr
                 and acr.pcm_manifest is not None)
    if not hash_path:
        return engine.validate(df, core + extra, partition_col=part,
                               description="audio constraint suite")

    # Shared-decode compilation (hash path): the consistency rule's
    # persisted decode output already carries every column the
    # metadata rules read (clip_id + declared sr_hz/dur_ms/codec +
    # partition id, ~100 B/row) — compiling those rules against it
    # removes one payload-table scan per fragment (each a full
    # 64 MB-split task fan-out over the binary parquet) for
    # byte-identical violations.  Only rules that genuinely need raw
    # columns — the decode itself, the transcript ref-match, and any
    # caller-supplied extra rules (their column set is unknown) — still
    # compile against the raw table.
    from .requirements import RefMatchRule, ValidationContext

    ref_rules = [r for r in core if isinstance(r, RefMatchRule)]
    meta_rules = [r for r in core
                  if r is not acr and not isinstance(r, RefMatchRule)]

    ctx = ValidationContext(df, partition_col=part)
    # thread the ref-match rules' raw columns (e.g. transcript) through
    # the one decode pass zero-copy, so those rules also read the
    # cached frame instead of re-scanning the payload table with its
    # full split fan-out — the last extra payload-parquet FileScan in
    # the hash-path plan
    carry = []
    for r in ref_rules:
        for c in (r.on, r.column):
            if c in df.columns and c not in carry:
                carry.append(c)
    info = acr.decode_frame(ctx, carry=carry)
    from .audio import DECODE_INFO_SCHEMA

    # columns of `info` whose values equal the RAW table's: the four
    # declared pass-throughs plus whatever `carry` threaded through
    # (decode-output names like ok/error/rms shadow any same-named raw
    # column and MUST NOT satisfy a ref rule)
    safe_cols = {"clip_id", "sr_hz", "dur_ms", "codec"} | (
        set(info.columns) - {f.name for f in DECODE_INFO_SCHEMA.fields}
    )
    ref_on_info = [r for r in ref_rules
                   if r.on in safe_cols and r.column in safe_cols]
    raw_rules = ([acr]
                 + [r for r in ref_rules if r not in ref_on_info]
                 + extra)
    meta_cols = ["clip_id", "sr_hz", "dur_ms", "codec"]
    if part:
        meta = info.select(*meta_cols,
                           F.col("partition_id").alias(part))
    else:
        meta = info.select(*meta_cols)
    frags_meta = engine.compile(meta, meta_rules, partition_col=part)
    frags_raw = engine._compile_ctx(ctx, raw_rules)
    violations = frags_meta.unionByName(frags_raw)
    if ref_on_info:
        ref_sel = []
        for r in ref_on_info:
            for c in (r.on, r.column):
                if c not in ref_sel:
                    ref_sel.append(c)
        if part:
            refsrc = info.select(*ref_sel,
                                 F.col("partition_id").alias(part))
        else:
            refsrc = info.select(*ref_sel)
        frags_ref = engine.compile(refsrc, ref_on_info, partition_col=part)
        violations = violations.unionByName(frags_ref)
    return ValidationResult(ctx.handle.attach(violations),
                            "audio constraint suite")


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
    partition_col: Optional[str] = "part_id",
) -> ValidationResult:
    part = partition_col if partition_col in df.columns else None
    engine = Engine(df.sparkSession)
    return engine.validate(
        df, image_rules(), partition_col=part,
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
    partition_col: Optional[str] = "part_id",
) -> ValidationResult:
    part = partition_col if partition_col in df.columns else None
    engine = Engine(df.sparkSession)
    return engine.validate(
        df, video_rules(), partition_col=part,
        description="video constraint suite",
    )
