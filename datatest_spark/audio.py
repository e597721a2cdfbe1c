"""Audio predicates — batch decode + consistency rules over binary clips.

The input shape (BASELINE.json input_hint) is an Iceberg/parquet table

    (clip_id string, bytes binary, sr_hz int, dur_ms int,
     codec string, transcript string)

This module supplies the audio-specific constraint rules:

* decodability (header parse + payload size)
* ``sr_hz`` / ``dur_ms`` consistency with the values encoded in ``bytes``
* ``codec`` consistency with the container magic
* decoded-PCM allclose vs a reference: SNR >= 30 dB (input_hint)

All decoding runs inside ONE Arrow-batched pass (``mapInArrow`` over
zero-copy payload views, through the one payload kernel
:func:`datatest_spark.payload._map_clips` with :func:`decode_bytes`) so
N audio rules cost a single decode per row — the Spark analogue of the
reference evaluating many requirements over one data pass.  No per-row
Python UDFs.

Codecs: ``pcm_s16le`` clips are real RIFF/WAV files parsed here from
scratch (numpy header + frombuffer).  ``flac`` and ``opus`` clips use
deterministic *synthetic* containers defined in
:mod:`datatest_spark.fixtures` (magic + metadata + PCM payload),
because real decoder libraries are not available in this environment;
the parsing below is real work against those containers, and
unrecognized real-world FLAC/Opus payloads raise a clear
``unsupported codec payload`` violation rather than pretending to
decode.  (Reference parity: datatest has no audio layer at all — these
rules are the ``RequiredPredicate``-style per-row invariants of
SURVEY.md §2B applied to the audio table.)
"""

from __future__ import annotations

import math
import struct
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .payload import _map_clips
from .requirements import Rule, ValidationContext, finalize_cols
from .schema import (DEVIATION, INVALID, explode_violations,
                     partition_column, violation_struct)

__all__ = ["decode_info", "AudioConsistencyRule",
           "audio_consistency", "pcm_snr_db", "audio_features",
           "AUDIO_FEATURES_SCHEMA", "spectral_signature",
           "spectral_signatures", "audio_neardup_pairs",
           "band_energies", "spectral_embedding", "spectral_embeddings",
           "TranscriptRateRule", "transcript_rate", "audio_dedup_groups",
           "audio_transcript_conflicts", "audio_analysis",
           "AUDIO_ANALYSIS_SCHEMA", "trim_silence", "normalize_loudness",
           "TRIM_SILENCE_SCHEMA", "NORMALIZE_SCHEMA",
           "prepare_training_audio", "PREPARE_SCHEMA",
           "resample_audio", "resample_pcm", "RESAMPLE_SCHEMA",
           "augment_speed", "AUGMENT_SCHEMA", "SPEED_FACTORS",
           "augment_noise", "mix_noise_pcm", "NOISE_AUGMENT_SCHEMA",
           "fbank", "fbank_features", "mel_filterbank", "hz_to_mel",
           "mel_to_hz", "FBANK_SCHEMA", "FBANK_FEATS_SCHEMA",
           "cmvn", "spec_augment", "mfcc", "dct_matrix",
           "feature_pipeline", "PIPELINE_DIGEST_SCHEMA",
           "delta_features", "add_deltas",
           "vad_runs", "vad_segments", "vad_stats", "remove_silence",
           "dataset_card", "DATASET_CARD_SCHEMA",
           "SpeechRatioRule", "speech_ratio",
           "REMOVE_SILENCE_SCHEMA",
           "VAD_SEGMENTS_SCHEMA", "VAD_STATS_SCHEMA"]


# ---------------------------------------------------------------------------
# Container parsing (pure numpy — vectorized per Arrow batch)
# ---------------------------------------------------------------------------

def _parse_wav(buf: bytes):
    """Parse a RIFF/WAV (PCM16LE mono) buffer → (sr, pcm int16 array).

    Raises ValueError on malformed input.  Standalone parser — no
    external audio libs.
    """
    if len(buf) < 44 or buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    # walk chunks: fmt then data
    pos = 12
    sr = None
    bits = None
    channels = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        if pos + 8 + size > len(buf):
            raise ValueError("truncated chunk")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("short fmt chunk")
            fmt_code, channels, sr, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 1:
                raise ValueError(f"not PCM (fmt={fmt_code})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if sr is None or data is None or bits != 16 or channels != 1:
        raise ValueError("missing fmt/data or unsupported layout")
    if len(data) % 2:
        raise ValueError("truncated sample")
    return sr, np.frombuffer(data, dtype="<i2")


def _parse_synth_flac(buf: bytes):
    """Parse the deterministic synthetic 'flac' container from
    fixtures.py: b'fLaC' + <u32 sr> + <u32 n> + PCM16LE payload."""
    if len(buf) < 12 or buf[:4] != b"fLaC":
        raise ValueError("not a synthetic flac buffer")
    sr, n = struct.unpack("<II", buf[4:12])
    payload = buf[12:]
    if len(payload) != 2 * n:
        raise ValueError("flac payload length mismatch")
    return sr, np.frombuffer(payload, dtype="<i2")


def _parse_synth_opus(buf: bytes):
    """Parse the deterministic synthetic 'opus' container:
    b'OpusHead' + <u32 sr> + <u32 n> + PCM16LE payload."""
    if len(buf) < 16 or buf[:8] != b"OpusHead":
        raise ValueError("not a synthetic opus buffer")
    sr, n = struct.unpack("<II", buf[8:16])
    payload = buf[16:]
    if len(payload) != 2 * n:
        raise ValueError("opus payload length mismatch")
    return sr, np.frombuffer(payload, dtype="<i2")


def decode_bytes(buf: Optional[bytes]):
    """Decode any supported container → (codec, sr, pcm) or raise.

    Accepts any buffer-like payload (``bytes`` or a ``memoryview``
    into an Arrow data buffer) and never copies it: the chunk walk
    slices the view and ``pcm`` is a ``frombuffer`` view into the
    payload.  A header that parses but declares a non-positive sample
    rate is a decode FAILURE (``invalid sample rate``), not a
    decodable clip — every downstream materialization op divides by
    ``sr``, and one poisoned header in a 10^12-row corpus must surface
    as an ``ok=false`` audit row, never a task crash.
    """
    if buf is None:
        raise ValueError("null bytes")
    head = bytes(buf[:8])  # 8-byte magic copy only
    if head[:4] == b"RIFF":
        codec = "pcm_s16le"
        sr, pcm = _parse_wav(buf)
    elif head[:4] == b"fLaC":
        codec = "flac"
        sr, pcm = _parse_synth_flac(buf)
    elif head == b"OpusHead":
        codec = "opus"
        sr, pcm = _parse_synth_opus(buf)
    else:
        raise ValueError("unsupported codec payload")
    if sr <= 0:
        raise ValueError("invalid sample rate")
    return codec, sr, pcm


def pcm_snr_db(decoded: np.ndarray, reference: np.ndarray) -> float:
    """Signal-to-noise ratio of decoded vs reference PCM, in dB."""
    if len(decoded) != len(reference):
        return float("-inf")
    ref = reference.astype(np.float64)
    err = decoded.astype(np.float64) - ref
    sig = float(np.sum(ref * ref))
    noise = float(np.sum(err * err))
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return 10.0 * math.log10(sig / noise)


# ---------------------------------------------------------------------------
# Batched decode info (one pass for all audio rules)
# ---------------------------------------------------------------------------

DECODE_INFO_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("dec_codec", T.StringType(), True),
        T.StructField("dec_sr_hz", T.IntegerType(), True),
        T.StructField("dec_dur_ms", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("pcm_sha256", T.StringType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("snr_db", T.DoubleType(), True),
        T.StructField("partition_id", T.StringType(), True),
    ]
)


#: The audio table's partition column: audio-table rules attribute their
#: rows to it when the caller names no partition column and the table
#: has it.
AUDIO_PARTITION_COL = "part_id"


def audio_partition_col(ctx: ValidationContext) -> Optional[str]:
    """The partition column of an audio-table rule compiled in *ctx*:
    the context's, or :data:`AUDIO_PARTITION_COL` when the context
    names none and the table has it."""
    if ctx.partition_col is None and AUDIO_PARTITION_COL in ctx.df.columns:
        return AUDIO_PARTITION_COL
    return ctx.partition_col


def decode_info(df: DataFrame, with_snr: bool = False,
                with_rms: bool = True,
                partition_col: Optional[str] = None) -> DataFrame:
    """One Arrow-native decode pass over the audio table, on the clip
    kernel (:func:`_map_clips`: column-pruned, zero-copy payload views).
    Every row gets a ``pcm_sha256`` of the decoded samples — the cheap
    content fingerprint the SNR fast path joins against (hash-equal ⇒
    SNR=∞) — hashed straight from the PCM view's buffer.

    ``with_snr=True`` additionally computes the full SNR per row by
    regenerating the reference PCM — the slow path, used only as a
    fallback when no manifest hash is available or for hash-mismatched
    rows.  ``with_rms=False`` skips the RMS reduction (callers that
    never read ``rms`` — the consistency-rule path — save one float64
    conversion + reduction per clip; the column is emitted as NULL).

    The declared ``sr_hz``/``dur_ms``/``codec`` come through unchanged,
    and ``partition_id`` is ``partition_col`` as a string (NULL when
    None; ``ValueError`` when ``df`` lacks it).
    """
    import hashlib

    def per_clip(row, sr, pcm):
        ns = len(pcm)
        if not with_rms:
            rms = None
        elif ns:
            rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2)))
        else:
            rms = 0.0
        snr = None
        if with_snr:
            ref = _fixture_expected_pcm_by_id(row[0])
            if ref is not None:
                snr = pcm_snr_db(pcm, ref)
        return (sr, int(round(1000.0 * ns / sr)), ns, rms,
                hashlib.sha256(pcm).hexdigest(), snr)

    return _map_clips(
        df.withColumn("partition_id", partition_column(df, partition_col)),
        per_clip, DECODE_INFO_SCHEMA,
        carry=["sr_hz", "dur_ms", "codec", "partition_id"],
        decode=decode_bytes)


def _fixture_expected_pcm_by_id(clip_id):
    from .fixtures import clip_index_from_id, clip_params, synth_pcm

    try:
        i = clip_index_from_id(clip_id)
    except (ValueError, TypeError):
        return None
    params = clip_params(i)
    return synth_pcm(i, params.true_sr, params.true_dur_ms)


# ---------------------------------------------------------------------------
# Per-clip quality features (the audio analogue of operators.text
# text_quality — curation signals for a training-data pipeline)
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("dec_sr_hz", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("peak_abs", T.IntegerType(), True),
        T.StructField("clipping_ratio", T.DoubleType(), True),
        T.StructField("silence_ratio", T.DoubleType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("zcr", T.DoubleType(), True),
        T.StructField("rms_dbfs", T.DoubleType(), True),
        T.StructField("centroid_hz", T.DoubleType(), True),
    ]
)

#: |sample| at-or-below this int16 magnitude counts as silence
#: (~ -40 dBFS: 32768 * 10^(-40/20) ≈ 327.68, floored to stay integer)
SILENCE_THRESHOLD = 327


def pcm_features(sr: int, pcm: np.ndarray,
                 silence_threshold: int = SILENCE_THRESHOLD,
                 mag: Optional[np.ndarray] = None) -> tuple:
    """Quality features of one int16 PCM buffer.

    Counting features (peak, clipping/silence counts, zero crossings,
    sum of squares) are computed in exact integer arithmetic so an
    independent reimplementation agrees bit-for-bit; the two float
    outputs derived from them (``rms_dbfs`` via ``math``, ratios via
    one int/int division) are then reproducible to the last bit as
    well.  ``centroid_hz`` is the rfft-magnitude-weighted mean
    frequency, rounded to 6 decimals.

    Returns ``(n_samples, peak_abs, clipping_ratio, silence_ratio,
    zero_crossings, zcr, rms_dbfs, centroid_hz)``.
    """
    n = int(len(pcm))
    if n == 0:
        return (0, None, None, None, None, None, None, None)
    a = np.abs(pcm.astype(np.int64))
    peak = int(a.max())
    clip_ratio = int((a >= 32767).sum()) / n
    sil_ratio = int((a <= silence_threshold).sum()) / n
    neg = pcm < 0
    crossings = int(np.count_nonzero(neg[1:] != neg[:-1]))
    zcr = crossings / (n - 1) if n > 1 else 0.0
    sum_sq = int(np.sum(pcm.astype(np.int64) ** 2))
    rms_dbfs = (
        20.0 * math.log10(math.sqrt(sum_sq / n) / 32768.0)
        if sum_sq > 0 else None
    )
    if mag is None:  # callers with the rfft in hand pass |rfft| in
        mag = np.abs(np.fft.rfft(pcm.astype(np.float64)))
    den = float(np.sum(mag))
    if den > 0.0:
        num = float(np.sum(mag * np.fft.rfftfreq(n, d=1.0 / sr)))
        centroid = round(num / den, 6)
    else:
        centroid = 0.0
    return (n, peak, round(clip_ratio, 6), round(sil_ratio, 6),
            crossings, round(zcr, 6),
            None if rms_dbfs is None else round(rms_dbfs, 6), centroid)


def audio_features(df: DataFrame,
                   silence_threshold: int = SILENCE_THRESHOLD) -> DataFrame:
    """Per-clip audio quality features in ONE Arrow-batched decode pass:
    peak / clipping ratio / silence ratio / zero-crossing rate /
    RMS dBFS / spectral centroid.  The audio analogue of
    ``operators.text.text_quality`` — the signals a curation pipeline
    filters on (near-silent clips, clipped recordings, tonal vs noise
    content) before spending training compute.

    Column-prunes to ``(clip_id, bytes)`` before the Python stage;
    undecodable clips come back with ``ok=false`` and null features
    (feed them to the decodability rule, not this one).  Per-clip cost
    is one decode + one rfft (O(n log n) in clip length), linear in
    executors at any table size; no shuffle anywhere.
    """

    def per_clip(row, sr, pcm):
        return (sr,) + pcm_features(sr, pcm, silence_threshold)

    return _map_clips(df, per_clip, AUDIO_FEATURES_SCHEMA, decode=decode_bytes)


# ---------------------------------------------------------------------------
# Cross-modal transcript-rate validation (words/sec vs decoded audio)
# ---------------------------------------------------------------------------

_RATE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("n_words", T.LongType(), True),
        T.StructField("wps", T.DoubleType(), True),
        T.StructField("partition_id", T.StringType(), True),
    ]
)


class TranscriptRateRule(Rule):
    """Cross-modal speech-rate check: words-per-second of the
    transcript against the DECODED audio duration.

    * transcript null/whitespace-only → INVALID (``rule:empty``) —
      judged without decoding (audio decodability is the decodable
      rule's business, not this one's)
    * words / decoded-seconds outside ``[min_wps, max_wps]`` →
      DEVIATION (``rule:wps``), deviation = wps − violated bound

    A transcript claiming 40 words/sec (or 0.2) cannot match its
    audio; this catches transcript/audio pairing errors that equality
    against a reference manifest cannot (no manifest needed).

    Scale shape: the word count is a JVM projection; only rows WITH
    words enter the Arrow decode pass (row-pruned + column-pruned),
    and the pass emits 5 tiny columns — never the payload.  With
    ``use_decoded=False`` the declared ``dur_ms`` column is used
    instead and the rule is a pure JVM projection (zero decode) — the
    at-scale choice when the suite's consistency rule already certifies
    ``dur_ms`` against the decoded duration.

    wps is rounded to 6 decimals (numpy half-even, matching the
    independent oracle) before the bound comparison.
    """

    kind = "plan"

    def __init__(self, min_wps: float = 1.0, max_wps: float = 8.0,
                 use_decoded: bool = True,
                 rule_id: str = "transcript_rate"):
        super().__init__(rule_id)
        self.min_wps = min_wps
        self.max_wps = max_wps
        self.use_decoded = use_decoded

    def plan(self, ctx: ValidationContext) -> DataFrame:
        df = ctx.df.withColumn(
            "partition_id", partition_column(ctx.df, audio_partition_col(ctx)))
        rid = self.rule_id
        n_words = F.when(
            F.col("transcript").isNull()
            | (F.trim(F.col("transcript")) == F.lit("")),
            F.lit(0),
        ).otherwise(F.size(F.split(F.trim(F.col("transcript")), r"\s+")))

        empty = df.filter(n_words == 0).select(
            finalize_cols(
                f"{rid}:empty", INVALID,
                key=F.col("clip_id"), column="transcript",
                invalid=F.col("transcript"),
                expected=F.lit("non-empty transcript"),
                partition_id=F.col("partition_id"),
            )
        )

        if self.use_decoded:
            def per_clip(row, sr, pcm):
                dur_s = int(round(1000.0 * len(pcm) / sr)) / 1000.0
                return (float(np.round(row[1] / dur_s, 6))
                        if dur_s > 0 else None,)

            base = _map_clips(
                df.filter(n_words > 0).withColumn("n_words", n_words),
                per_clip, _RATE_SCHEMA, carry=["n_words", "partition_id"],
                decode=decode_bytes)
        else:
            base = df.filter(n_words > 0).select(
                F.col("clip_id"), F.lit(True).alias("ok"),
                n_words.cast("long").alias("n_words"),
                F.round(n_words / (F.col("dur_ms") / F.lit(1000.0)), 6)
                .alias("wps"),
                F.col("partition_id"),
            )

        wps = F.col("wps")
        checks = [
            F.when(
                F.col("ok") & wps.isNotNull() & (wps > self.max_wps),
                violation_struct(
                    f"{rid}:wps", DEVIATION,
                    key=F.col("clip_id"), column="transcript",
                    invalid=wps, expected=F.lit(self.max_wps),
                    deviation=F.round(wps - self.max_wps, 6),
                    expected_num=F.lit(self.max_wps),
                    partition_id=F.col("partition_id"),
                ),
            ),
            F.when(
                F.col("ok") & wps.isNotNull() & (wps < self.min_wps),
                violation_struct(
                    f"{rid}:wps", DEVIATION,
                    key=F.col("clip_id"), column="transcript",
                    invalid=wps, expected=F.lit(self.min_wps),
                    deviation=F.round(wps - self.min_wps, 6),
                    expected_num=F.lit(self.min_wps),
                    partition_id=F.col("partition_id"),
                ),
            ),
        ]
        return empty.unionByName(explode_violations(base, checks))


def transcript_rate(min_wps: float = 1.0, max_wps: float = 8.0,
                    use_decoded: bool = True,
                    rule_id: str = "transcript_rate") -> TranscriptRateRule:
    return TranscriptRateRule(min_wps, max_wps, use_decoded, rule_id)


# ---------------------------------------------------------------------------
# Content-level near-duplicate detection (spectral fingerprint + LSH)
# ---------------------------------------------------------------------------

#: log-spaced band edges for the 64-bit spectral signature.  Capped at
#: 6 kHz so the signature is identical at any sample rate >= 12 kHz —
#: the same content re-encoded at a different sr/duration/codec still
#: collides (the whole point of CONTENT-level dedup; byte- and
#: PCM-hash dedup both miss those).
SPECTRAL_BAND_EDGES = 60.0 * (6000.0 / 60.0) ** (np.arange(65) / 64.0)


def band_energies(sr: int, pcm: np.ndarray,
                  mag2: Optional[np.ndarray] = None) -> np.ndarray:
    """Power-spectrum energy in the 64 log-spaced bands (60 Hz-6 kHz),
    the shared basis of :func:`spectral_signature` and
    :func:`spectral_embeddings`.  Pass ``mag2`` (= ``|rfft|**2``) to
    reuse an rfft computed once per clip."""
    if mag2 is None:
        mag2 = np.abs(np.fft.rfft(pcm.astype(np.float64))) ** 2
    mag = mag2
    freqs = np.fft.rfftfreq(len(pcm), d=1.0 / sr) if len(pcm) else np.zeros(0)
    e = SPECTRAL_BAND_EDGES
    return np.array([mag[(freqs >= e[b]) & (freqs < e[b + 1])].sum()
                     for b in range(64)])


def spectral_signature(sr: int, pcm: np.ndarray,
                       en: Optional[np.ndarray] = None) -> int:
    """64-bit spectral fingerprint of one PCM buffer (Haitsma-Kalker
    style): power-spectrum energy in 64 log-spaced bands (60 Hz-6 kHz),
    bit b = ``E[b] > E[b+1]`` (bit 63 wraps to band 0).  Energy-slope
    signs are amplitude-invariant and, because bands are fixed in Hz,
    sample-rate- and duration-invariant for stationary content —
    perceptually-same clips land within a small Hamming distance.
    Returns a SIGNED 64-bit int (Spark LongType)."""
    if en is None:
        en = band_energies(sr, pcm)
    bits = np.zeros(64, dtype=np.uint64)
    bits[:63] = en[:63] > en[1:]
    bits[63] = en[63] > en[0]
    sig = int((bits << np.arange(64, dtype=np.uint64)).sum())
    return sig - (1 << 64) if sig >= (1 << 63) else sig


SPECTRAL_SIG_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sig", T.LongType(), True),
    ]
)


def spectral_signatures(df: DataFrame) -> DataFrame:
    """Per-clip 64-bit spectral fingerprint in one Arrow decode pass
    (column-pruned to ``(clip_id, bytes)``).  Undecodable clips come
    back ``ok=false`` with a null signature."""

    return _map_clips(
        df, lambda row, sr, pcm: (spectral_signature(sr, pcm),),
        SPECTRAL_SIG_SCHEMA, decode=decode_bytes)


def spectral_embedding(sr: int, pcm: np.ndarray,
                       en: Optional[np.ndarray] = None) -> list:
    """64-dim content embedding of one PCM buffer: ``log1p`` of the
    log-band energies, L2-normalized, rounded to 6 decimals (rounding
    makes the vector reproducible across summation orders, and the
    round-6 cosine downstream in ann.knn_join absorbs the residual
    ulps)."""
    if en is None:
        en = band_energies(sr, pcm)
    v = np.log1p(en)
    n = float(np.linalg.norm(v))
    if n == 0.0:
        return [0.0] * 64
    return [float(x) for x in np.round(v / n, 6)]


SPECTRAL_EMB_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ]
)


def spectral_embeddings(df: DataFrame) -> DataFrame:
    """Per-clip 64-dim spectral content embedding in one Arrow decode
    pass — the bridge from the audio payload to the ANN/kNN layer
    (operators.ann): similarity search, embedding near-dup and kNN
    joins all run directly on this column.  Undecodable clips come
    back ``ok=false`` with a null embedding."""

    return _map_clips(
        df, lambda row, sr, pcm: (spectral_embedding(sr, pcm),),
        SPECTRAL_EMB_SCHEMA, decode=decode_bytes)


AUDIO_ANALYSIS_SCHEMA = T.StructType(
    list(AUDIO_FEATURES_SCHEMA.fields) + [
        T.StructField("sig", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ]
)


def audio_analysis(df: DataFrame,
                   silence_threshold: int = SILENCE_THRESHOLD) -> DataFrame:
    """EVERYTHING a curation pipeline derives from the waveform —
    quality features, the 64-bit dedup signature and the 64-dim ANN
    embedding — in ONE Arrow decode pass and ONE rfft per clip.

    Run separately, :func:`audio_features`, :func:`spectral_signatures`
    and :func:`spectral_embeddings` each decode every clip and the
    latter two each run their own FFT — at 10^12 clips that is 3×
    the decode I/O and 3× the transform compute for byte-identical
    outputs.  This operator shares the decode and the spectrum:
    ``|rfft|`` feeds the centroid, ``|rfft|²`` feeds the band energies
    that both the signature bits and the embedding are derived from —
    every emitted value is bit-identical to its single-operator twin
    (asserted in tests).  Persist the result and all downstream
    operators (drift rules, Hamming LSH, kNN joins, label-conflict
    groups) run without touching ``bytes`` again.
    """

    def per_clip(row, sr, pcm):
        if len(pcm) == 0:  # features degrade like pcm_features;
            # sig/embedding undefined on an empty spectrum
            return (sr,) + pcm_features(sr, pcm) + (None, None)
        mag = np.abs(np.fft.rfft(pcm.astype(np.float64)))
        feats = pcm_features(sr, pcm, silence_threshold, mag=mag)
        en = band_energies(sr, pcm, mag2=mag ** 2)
        return ((sr,) + feats + (spectral_signature(sr, pcm, en=en),
                                 spectral_embedding(sr, pcm, en=en)))

    return _map_clips(df, per_clip, AUDIO_ANALYSIS_SCHEMA, decode=decode_bytes)


def audio_neardup_pairs(df: DataFrame, max_hamming: int = 3,
                        max_bucket_size: Optional[int] = 10_000) -> DataFrame:
    """Near-duplicate audio pairs by decoded-content fingerprint.

    Pipeline: ONE Arrow decode pass → 64-bit spectral signature →
    4-band 16-bit Hamming LSH self-join (shared with text SimHash:
    operators.dedup.hamming_lsh_pairs) → exact Hamming filter.  Finds
    same-content clips across container formats, sample rates, and
    durations — pairs that byte-level and PCM-hash dedup structurally
    miss.  Scale shape: only the 9-byte (clip_id, sig) rows shuffle,
    candidates are banded (never all-pairs), and oversized buckets
    (silence/boilerplate audio — the quadratic hazard) are dropped by
    ``max_bucket_size`` before the self-join.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    from .operators.dedup import hamming_lsh_pairs

    sigs = spectral_signatures(df).filter(F.col("ok")).select(
        "clip_id", "sig")
    return hamming_lsh_pairs(sigs, "clip_id", "sig",
                             max_hamming=max_hamming,
                             max_bucket_size=max_bucket_size)


def audio_dedup_groups(df: DataFrame) -> DataFrame:
    """Content-duplicate groups by EXACT spectral signature — the
    linear-output dedup path for duplicate-heavy corpora at 10^12-clip
    scale, mirroring operators.dedup.exact_duplicates' shape: one
    decode pass, then a groupBy on the 8-byte signature whose aggregate
    state is ``(count, min(clip_id))`` only.  Where the pairwise LSH
    (:func:`audio_neardup_pairs`) materializes O(group²) rows per
    duplicate group, this emits ONE row per group — the form a dedup
    pipeline actually keeps (canonical id per group).

    Returns ``(sig, dup_count, keep_id)`` for groups with >1 clip.
    """
    sigs = spectral_signatures(df).filter(F.col("ok"))
    return (
        sigs.groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("clip_id").alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def audio_transcript_conflicts(df: DataFrame,
                               transcript_col: str = "transcript",
                               ) -> DataFrame:
    """Cross-modal label-consistency check: content groups (same
    spectral signature) whose transcripts DISAGREE — the speech-corpus
    analogue of "one image, contradictory captions".  Exact-duplicate
    audio with different labels is a labeling bug; near-identical
    content (same tone/pitch profile) with different labels is the
    review queue a curation pipeline actually triages.

    Returns one row per conflicting group: ``(sig, n_clips, n_labels,
    sample_id)`` with ``n_labels`` the number of distinct transcripts
    (NULL transcript counts as its own label).

    Plan: the one-decode-pass signature stage (shared with
    :func:`audio_dedup_groups`), a thin ``(clip_id, transcript)``
    projection deduplicated by clip_id (transcript is functionally
    dependent on clip_id — enforced separately by the uniqueness rule),
    one join keyed by clip_id, one groupBy on the 8-byte signature.
    Every shuffled row is ~(8B sig + id + transcript); ``bytes`` never
    leaves the scan stage.
    """
    # ONE pass: carry the transcript through the decode stage instead
    # of re-scanning the corpus for a (clip_id, transcript) side frame
    # and joining it back.  The join form read the payload source twice
    # (for a computed/generated source, two full decodes) to attach a
    # value every row already carries; under the operator's stated
    # precondition (transcript functionally dependent on clip_id —
    # enforced separately by the uniqueness rule) the per-row label IS
    # the joined label, so the aggregate is unchanged.
    sigs = _map_clips(
        df.select("clip_id", "bytes", F.col(transcript_col).alias("_label")),
        lambda row, sr, pcm: (spectral_signature(sr, pcm),),
        SPECTRAL_SIG_SCHEMA, carry=["_label"],
        decode=decode_bytes).filter(F.col("ok"))
    return (
        sigs.groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.count_distinct(
                F.coalesce(F.col("_label"), F.lit("\x00"))
            ).alias("n_labels"),
            F.min("clip_id").alias("sample_id"),
        )
        .filter(F.col("n_labels") > 1)
    )


class AudioConsistencyRule(Rule):
    """All per-row audio invariants in one decode pass:

    * undecodable bytes → INVALID (rule ``audio:decodable``)
    * decoded sr != sr_hz → DEVIATION (``audio:sr_hz``)
    * |decoded duration - dur_ms| > dur_tol_ms → DEVIATION (``audio:dur_ms``)
    * container codec != codec column → INVALID (``audio:codec``)
    * (optional) SNR vs reference PCM < min_snr_db → DEVIATION
      (``audio:snr``) — the input_hint's decoded-PCM allclose check.

    SNR fast path: when ``pcm_manifest`` (clip_id, pcm_sha256) is given,
    the decoded-PCM hash joins against it — hash-equal means SNR=∞ ≥
    any threshold, so the expensive reference-PCM regeneration runs
    ONLY for the (rare) hash-mismatched rows via a semi-join-pruned
    second decode.  At 10^12 rows this turns the allclose check into a
    join on 64-byte hashes plus a near-empty slow path.  The fast path
    reads its decode frame twice (the violations and the compile-time
    mismatch probe), so :meth:`plan` persists it on the compile's
    ``ctx.handle``: the payload is decoded once per compile, and the
    frame is freed with the returned violations.
    """

    kind = "plan"

    def __init__(self, dur_tol_ms: int = 50, check_snr: bool = False,
                 min_snr_db: float = 30.0, pcm_manifest=None,
                 rule_id: str = "audio"):
        super().__init__(rule_id)
        self.dur_tol_ms = dur_tol_ms
        self.check_snr = check_snr
        self.min_snr_db = min_snr_db
        self.pcm_manifest = pcm_manifest

    def plan(self, ctx: ValidationContext) -> DataFrame:
        use_hash_path = self.check_snr and self.pcm_manifest is not None
        # with_rms=False: no consistency violation reads the RMS, so the
        # decode pass skips one float64 conversion + reduction per clip.
        info = decode_info(ctx.df,
                           with_snr=self.check_snr and not use_hash_path,
                           with_rms=False,
                           partition_col=audio_partition_col(ctx))
        if use_hash_path:
            from pyspark import StorageLevel

            # the hash path reads `info` twice (the violations below
            # and the mismatch probe); persisted, the payload is
            # decoded once
            info = ctx.handle.register(
                info.persist(StorageLevel.MEMORY_AND_DISK))
        rid = self.rule_id
        clip, part = F.col("clip_id"), F.col("partition_id")
        checks = [
            F.when(
                ~F.col("ok"),
                violation_struct(
                    f"{rid}:decodable", INVALID, key=clip, column="bytes",
                    invalid=F.col("error"),
                    expected=F.lit("decodable audio payload"),
                    partition_id=part),
            ),
            F.when(
                F.col("ok") & (F.col("dec_sr_hz") != F.col("sr_hz")),
                violation_struct(
                    f"{rid}:sr_hz", DEVIATION, key=clip, column="sr_hz",
                    invalid=F.col("sr_hz"), expected=F.col("dec_sr_hz"),
                    deviation=(F.col("sr_hz") - F.col("dec_sr_hz")).cast("double"),
                    expected_num=F.col("dec_sr_hz").cast("double"),
                    partition_id=part),
            ),
            F.when(
                F.col("ok")
                & (F.abs(F.col("dec_dur_ms") - F.col("dur_ms")) > self.dur_tol_ms),
                violation_struct(
                    f"{rid}:dur_ms", DEVIATION, key=clip, column="dur_ms",
                    invalid=F.col("dur_ms"), expected=F.col("dec_dur_ms"),
                    deviation=(F.col("dur_ms") - F.col("dec_dur_ms")).cast("double"),
                    expected_num=F.col("dec_dur_ms").cast("double"),
                    partition_id=part),
            ),
            F.when(
                F.col("ok") & ~F.col("dec_codec").eqNullSafe(F.col("codec")),
                violation_struct(
                    f"{rid}:codec", INVALID, key=clip, column="codec",
                    invalid=F.col("codec"), expected=F.col("dec_codec"),
                    partition_id=part),
            ),
        ]
        if self.check_snr and not use_hash_path:
            checks.append(
                F.when(
                    F.col("ok")
                    & F.col("snr_db").isNotNull()
                    & (F.col("snr_db") < self.min_snr_db),
                    violation_struct(
                        f"{rid}:snr", DEVIATION, key=clip, column="bytes",
                        invalid=F.col("snr_db"),
                        expected=F.lit(self.min_snr_db),
                        deviation=F.col("snr_db") - self.min_snr_db,
                        expected_num=F.lit(self.min_snr_db),
                        partition_id=part),
                )
            )

        out = explode_violations(info, checks)

        if use_hash_path:
            manifest = self.pcm_manifest.select(
                F.col("clip_id"), F.col("pcm_sha256").alias("_exp_sha")
            )
            mismatched = (
                info.filter(F.col("ok"))
                .join(manifest, "clip_id", "inner")
                .filter(F.col("pcm_sha256") != F.col("_exp_sha"))
                .select("clip_id")
            )
            # rule-level runtime adaptivity: `mismatched` derives from the
            # CACHED decode info, so checking emptiness is one tiny job —
            # and an empty mismatch set means the slow path (a second full
            # scan of the binary column) can be dropped from the plan
            # entirely.  At 10^12 rows this is the difference between one
            # and two passes over the payload bytes.
            if mismatched.isEmpty():
                return out
            # slow path only for hash-mismatched clips: semi-join prune,
            # then full decode + reference regeneration + exact SNR
            slow = decode_info(
                ctx.df.join(mismatched, "clip_id", "left_semi"),
                with_snr=True, with_rms=False,
                partition_col=audio_partition_col(ctx),
            )
            snr_viol = slow.filter(
                F.col("ok")
                & F.col("snr_db").isNotNull()
                & (F.col("snr_db") < self.min_snr_db)
            ).select(
                finalize_cols(
                    f"{rid}:snr",
                    DEVIATION,
                    key=F.col("clip_id"),
                    column="bytes",
                    invalid=F.col("snr_db"),
                    expected=F.lit(self.min_snr_db),
                    deviation=F.col("snr_db") - self.min_snr_db,
                    expected_num=F.lit(self.min_snr_db),
                    partition_id=F.col("partition_id"),
                )
            )
            out = out.unionByName(snr_viol)
        return out


def audio_consistency(dur_tol_ms=50, check_snr=False, min_snr_db=30.0,
                      pcm_manifest=None):
    return AudioConsistencyRule(dur_tol_ms, check_snr, min_snr_db, pcm_manifest)


# ---------------------------------------------------------------------------
# Clip segmentation — fixed-window training chunks
# ---------------------------------------------------------------------------

SEGMENT_PLAN_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("chunk_idx", T.LongType(), False),
        T.StructField("start_ms", T.LongType(), False),
        T.StructField("chunk_ms", T.LongType(), False),
    ]
)


def segment_plan(df: DataFrame, window_ms: int = 5000,
                 hop_ms: Optional[int] = None,
                 min_ms: int = 1,
                 max_chunks: Optional[int] = None) -> DataFrame:
    """Chunk GRID from declared durations — zero decode, zero Python.

    The planning half of training-window segmentation: one row per
    (clip, chunk) with ``start_ms = k*hop`` and ``chunk_ms =
    min(window, dur_ms - start)``, tail chunks shorter than ``min_ms``
    dropped.  Entirely JVM-side (``sequence`` + ``explode`` inside the
    scan projection, no shuffle), so a 10^12-clip chunk inventory —
    counts, total training seconds, shard planning — costs one
    metadata-column scan with ``bytes`` never read.  Pair with
    :func:`segment_bytes` to materialize the audio.
    """
    window = int(window_ms)
    hop = int(hop_ms or window_ms)
    if window <= 0 or hop <= 0:
        raise ValueError("window_ms and hop_ms must be positive")
    dur = F.col("dur_ms").cast("long")
    n = F.when(dur > 0, F.ceil(dur / F.lit(hop)).cast("long")).otherwise(F.lit(0))
    if max_chunks is not None:
        # poisoned duration metadata (one bogus 2e9-ms row) must not
        # explode the output 1000x — cap the grid, validate the column
        n = F.least(n, F.lit(int(max_chunks)).cast("long"))
    ks = F.when(n > 0, F.sequence(F.lit(0).cast("long"), n - 1)
                ).otherwise(F.array().cast("array<long>"))
    out = (
        df.select("clip_id", dur.alias("_dur"), F.explode(ks).alias("chunk_idx"))
        .select(
            "clip_id",
            "chunk_idx",
            (F.col("chunk_idx") * hop).alias("start_ms"),
            F.least(F.lit(window).cast("long"),
                    F.col("_dur") - F.col("chunk_idx") * hop).alias("chunk_ms"),
        )
        .where(F.col("chunk_ms") >= int(min_ms))
    )
    return out


def encode_wav(sr: int, pcm: np.ndarray) -> bytes:
    """Canonical 44-byte-header PCM WAV writer (mono int16) — the
    normalized output container for segmented training chunks."""
    data = np.asarray(pcm, dtype="<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, int(sr), int(sr) * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


SEGMENT_BYTES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("chunk_idx", T.LongType(), True),
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("chunk_ms", T.LongType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def segment_bytes(df: DataFrame, window_ms: int = 5000,
                  hop_ms: Optional[int] = None,
                  min_ms: int = 1) -> DataFrame:
    """Materialized training chunks: decode once, slice the PCM on the
    :func:`segment_plan` grid over the clip's TRUE duration, re-encode
    every chunk as a normalized mono-int16 WAV.

    One pass of the Arrow clip kernel (``mapInArrow`` over
    ``(clip_id, bytes)`` only — column-pruned like every audio
    operator); per-clip cost is the decode plus cheap array slices, and
    output order inside a clip is chunk_idx — no shuffle introduced.
    Undecodable clips surface as one ``ok=false`` row instead of
    vanishing (route them to the decodability rule).  Chunk grids here
    use the decoded sample count, so declared-duration drift never
    yields short/padded training windows.
    """
    window = int(window_ms)
    hop = window if hop_ms is None else int(hop_ms)
    if window <= 0 or hop <= 0:
        raise ValueError("window_ms and hop_ms must be positive")
    min_keep = int(min_ms)

    def per_clip(row, sr, pcm):
        win = max(1, window * sr // 1000)
        # clamp: a tiny decoded sr must not floor the hop to 0
        hop_n = max(1, hop * sr // 1000)
        out = []
        for k in range(-(-len(pcm) // hop_n)):
            seg = pcm[k * hop_n: k * hop_n + win]
            ms = len(seg) * 1000 // sr
            if ms >= min_keep:
                out.append((k, k * hop_n * 1000 // sr, ms, sr,
                            encode_wav(sr, seg)))
        return out

    return _map_clips(df, per_clip, SEGMENT_BYTES_SCHEMA, decode=decode_bytes)


# ---------------------------------------------------------------------------
# Materialization ops: silence trimming + loudness normalization
# ---------------------------------------------------------------------------

def _trim_bounds(pcm: np.ndarray, threshold: int,
                 pad_n: int) -> Optional[tuple]:
    """``(lo, hi)`` slice bounds of the active region (|s| > threshold,
    re-padded by ``pad_n`` samples, clamped), or None when the whole
    clip is silence.  argmax on the boolean mask finds both edges
    without materializing an index array per clip."""
    mask = np.abs(pcm.astype(np.int64)) > threshold
    if not mask.any():
        return None
    first = int(mask.argmax())
    last = len(pcm) - 1 - int(mask[::-1].argmax())
    return max(0, first - pad_n), min(len(pcm), last + 1 + pad_n)


def _apply_gain(seg: np.ndarray, target_dbfs: float, max_gain_db: float,
                peak_guard: bool) -> Optional[tuple]:
    """``(rms_dbfs, gain_db, scaled_int16)`` for one PCM buffer under
    the documented normalization spec (target − RMS, ±max clamp, peak
    guard, float64 scale, round half-to-even), or None for digital
    silence (RMS undefined).  Shared by :func:`normalize_loudness` and
    :func:`prepare_training_audio` so the fused op stays bit-identical
    to the staged composition by construction."""
    m = len(seg)
    sum_sq = int(np.sum(seg.astype(np.int64) ** 2)) if m else 0
    if sum_sq == 0:
        return None
    rms_dbfs = 20.0 * math.log10(math.sqrt(sum_sq / m) / 32768.0)
    gain_db = min(max(target_dbfs - rms_dbfs, -max_gain_db), max_gain_db)
    if peak_guard:
        peak = int(np.abs(seg.astype(np.int64)).max())
        gain_db = min(gain_db, 20.0 * math.log10(32767.0 / peak))
    scaled = np.clip(np.rint(seg.astype(np.float64)
                             * 10.0 ** (gain_db / 20.0)),
                     -32768, 32767).astype("<i2")
    return rms_dbfs, gain_db, scaled


TRIM_SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("orig_ms", T.LongType(), True),
        T.StructField("dur_ms", T.LongType(), True),
        T.StructField("trimmed_lead_ms", T.LongType(), True),
        T.StructField("trimmed_tail_ms", T.LongType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def trim_silence(df: DataFrame,
                 threshold: int = SILENCE_THRESHOLD,
                 pad_ms: int = 0) -> DataFrame:
    """Strip leading/trailing silence and re-encode as normalized WAV.

    The standard pre-training materialization step for speech corpora:
    dead air at clip boundaries wastes tokens/compute and skews
    duration-budget packing, so pipelines trim to the active region
    (optionally re-padded by ``pad_ms`` of context) before windowing.

    A sample is *active* when ``|s| > threshold`` (the complement of
    :func:`pcm_features`'s silence definition, same default).  The kept
    region is ``[first_active - pad, last_active + pad]`` clamped to the
    clip; all arithmetic is exact integer math (sample indices, floor
    millisecond conversions) so an independent replay agrees on the
    output bytes hash.  Clips with NO active sample come back
    ``ok=true`` with ``dur_ms=0`` and null ``bytes`` (the whole clip was
    silence — route to a drop filter); undecodable clips come back
    ``ok=false`` (route to the decodability rule).

    Scale shape: one Arrow-batched decode pass over ``(clip_id,
    bytes)`` only (column-pruned), per-clip cost = decode + one
    ``np.nonzero`` + slice + WAV re-encode; linear in executors, no
    shuffle, output rows ≤ input rows.
    """
    thr = int(threshold)
    pad = int(pad_ms)
    if pad < 0:
        raise ValueError("pad_ms must be >= 0")

    def per_clip(row, sr, pcm):
        n = len(pcm)
        orig_ms = n * 1000 // sr
        bounds = _trim_bounds(pcm, thr, pad * sr // 1000)
        if bounds is None:
            return (sr, orig_ms, 0, orig_ms, 0, None)
        lo, hi = bounds
        seg = pcm[lo:hi]
        return (sr, orig_ms, len(seg) * 1000 // sr, lo * 1000 // sr,
                (n - hi) * 1000 // sr, encode_wav(sr, seg))

    return _map_clips(df, per_clip, TRIM_SILENCE_SCHEMA, decode=decode_bytes)


NORMALIZE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("rms_dbfs", T.DoubleType(), True),
        T.StructField("gain_db", T.DoubleType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def normalize_loudness(df: DataFrame, target_dbfs: float = -20.0,
                       max_gain_db: float = 40.0,
                       peak_guard: bool = True) -> DataFrame:
    """Gain-normalize every clip to a target RMS level (dBFS) and
    re-encode as normalized WAV.

    Training corpora mix sources recorded at wildly different levels;
    level normalization before featurization/augmentation is the other
    standard audio materialization step next to :func:`trim_silence`.

    The applied gain is ``target_dbfs - rms_dbfs`` clamped to
    ``±max_gain_db`` (a corrupt near-silent clip must not be amplified
    by 90 dB into full-scale noise) and, with ``peak_guard`` (default),
    further capped so the post-gain peak cannot exceed int16 full scale
    — normalization never *introduces* clipping.  Samples are scaled in
    float64 and rounded half-to-even (``np.rint``), the exact formula
    an independent replay can reproduce bit-for-bit on the same
    platform.  Digital-silence clips (all-zero PCM: RMS undefined) come
    back ``ok=true`` with null ``gain_db``/``bytes``; undecodable clips
    ``ok=false``.

    Scale shape: one Arrow-batched decode pass over ``(clip_id,
    bytes)``, integer-exact RMS (sum of squares in int64) + one
    vectorized multiply per clip; linear in executors, no shuffle.
    """
    target = float(target_dbfs)
    max_gain = float(max_gain_db)
    if max_gain < 0:
        raise ValueError("max_gain_db must be >= 0")

    def per_clip(row, sr, pcm):
        gained = _apply_gain(pcm, target, max_gain, peak_guard)
        if gained is None:
            return (sr, len(pcm), None, None, None)
        rms_dbfs, gain_db, scaled = gained
        return (sr, len(pcm), round(rms_dbfs, 6), round(gain_db, 6),
                encode_wav(sr, scaled))

    return _map_clips(df, per_clip, NORMALIZE_SCHEMA, decode=decode_bytes)


RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("src_sr_hz", T.IntegerType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def resample_pcm(pcm: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Deterministic linear-interpolation resample of int16 PCM.

    Output sample ``j`` sits at source position ``j·sr_in/sr_out``,
    carried as EXACT rational arithmetic (``divmod(j·sr_in, sr_out)``
    in int64) so the integer/fractional split is bit-reproducible;
    only the final two-tap blend runs in float64 (round half-to-even
    back to int16).  Output length is ``ceil(n·sr_out/sr_in)`` — the
    grid covers the same time span, and the last tap clamps to the
    final source sample.  Linear interpolation is the standard
    cheap-and-deterministic choice for validation/curation pipelines;
    it attenuates above-Nyquist content rather than filtering it
    (a windowed-sinc kernel is a drop-in upgrade when a DSP library
    is available).
    """
    sr_in = int(sr_in)
    sr_out = int(sr_out)
    if sr_in <= 0 or sr_out <= 0:
        raise ValueError("sample rates must be positive")
    n = len(pcm)
    if sr_in == sr_out or n == 0:
        return np.asarray(pcm, dtype="<i2")
    n_out = -((-n * sr_out) // sr_in)  # ceil
    j = np.arange(n_out, dtype=np.int64)
    idx, rem = np.divmod(j * sr_in, sr_out)
    idx = np.minimum(idx, n - 1)
    nxt = np.minimum(idx + 1, n - 1)
    frac = rem.astype(np.float64) / sr_out
    x = pcm.astype(np.float64)
    out = x[idx] * (1.0 - frac) + x[nxt] * frac
    return np.clip(np.rint(out), -32768, 32767).astype("<i2")


def resample_audio(df: DataFrame, target_sr: int = 16000) -> DataFrame:
    """Resample every clip to one target sample rate and re-encode as
    normalized WAV — mixed-rate corpora (the fixture mixes
    8/16/22.05/44.1/48 kHz, like any web-crawled audio set) must be
    rate-uniform before batching into a training model.

    Already-at-rate clips round-trip their PCM unchanged (container
    still normalized to WAV); undecodable clips come back ``ok=false``.
    One Arrow-batched decode pass over ``(clip_id, bytes)``, vectorized
    interpolation per clip, no shuffle — linear in executors.
    """
    tsr = int(target_sr)
    if tsr <= 0:
        raise ValueError("target_sr must be positive")

    def per_clip(row, sr, pcm):
        res = resample_pcm(pcm, sr, tsr)
        return (sr, tsr, len(res), encode_wav(tsr, res))

    return _map_clips(df, per_clip, RESAMPLE_SCHEMA, decode=decode_bytes)


AUGMENT_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("speed_num", T.IntegerType(), True),
        T.StructField("speed_den", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)

#: the classic ASR 3-way speed-perturbation set (0.9x / 1.0x / 1.1x)
SPEED_FACTORS = ((9, 10), (10, 10), (11, 10))


def _salted_md5(salt: str, n_hex: int) -> Column:
    """``int(md5(clip_id || salt).hexdigest()[:n_hex], 16)`` as a JVM
    column (a null ``clip_id`` hashes as ``""``): the per-clip seed of
    the augmentation ops, computed before the decode so that failure
    rows carry it too."""
    key = F.concat(F.coalesce(F.col("clip_id").cast("string"), F.lit("")),
                   F.lit(salt))
    return F.conv(F.substring(F.md5(key), 1, n_hex), 16, 10).cast("long")


def augment_speed(df: DataFrame,
                  factors=SPEED_FACTORS,
                  salt: str = "") -> DataFrame:
    """Deterministic speed-perturbation augmentation — the standard
    ASR training-data trick (0.9×/1.0×/1.1× playback speed, cf. Ko et
    al., *Audio augmentation for speech recognition*, Interspeech
    2015), expressed so that re-running the pipeline reproduces the
    identical augmented corpus.

    Each clip's factor is chosen by ``md5(clip_id || salt)`` — the same
    engine-portable determinism contract as
    :func:`operators.split.hash_split` (changing ``salt`` re-rolls
    every assignment; appends never reshuffle existing rows).  Factors
    are exact rationals ``(num, den)``: speed ``num/den`` maps sample
    ``j`` to source position ``j·num/den`` via :func:`resample_pcm`'s
    exact divmod grid, with the sample rate unchanged — duration scales
    by ``den/num``, pitch shifts with speed exactly as in the reference
    recipe's sox implementation.

    One Arrow-batched decode pass over ``(clip_id, bytes)``, no
    shuffle.  To materialize ALL factors per clip (the usual 3×
    training corpus), union three calls with single-factor lists —
    each stays one decode pass over the source.
    """
    fl = [(int(a), int(b)) for a, b in factors]
    if not fl or any(a <= 0 or b <= 0 for a, b in fl):
        raise ValueError("factors must be positive (num, den) rationals")
    pick = (_salted_md5(salt, 4) % len(fl) + 1).cast("int")

    def per_clip(row, sr, pcm):
        res = resample_pcm(pcm, row[1], row[2])
        return (sr, len(res), encode_wav(sr, res))

    return _map_clips(
        df.withColumns({
            "speed_num": F.element_at(F.array(*[F.lit(a) for a, _ in fl]),
                                      pick),
            "speed_den": F.element_at(F.array(*[F.lit(b) for _, b in fl]),
                                      pick)}),
        per_clip, AUGMENT_SCHEMA, carry=["speed_num", "speed_den"],
        decode=decode_bytes)


PREPARE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("chunk_idx", T.LongType(), True),
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("chunk_ms", T.LongType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("gain_db", T.DoubleType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def prepare_training_audio(df: DataFrame,
                           threshold: int = SILENCE_THRESHOLD,
                           pad_ms: int = 0,
                           target_dbfs: float = -20.0,
                           max_gain_db: float = 40.0,
                           peak_guard: bool = True,
                           window_ms: int = 5000,
                           hop_ms: Optional[int] = None,
                           min_ms: int = 1,
                           target_sr: Optional[int] = None,
                           vad: bool = False,
                           vad_frame_ms: int = 20,
                           vad_threshold_dbfs: float = -40.0,
                           vad_max_gap_ms: int = 150,
                           vad_min_speech_ms: int = 100) -> DataFrame:
    """Fused training-audio materialization: [resample →] silence-trim
    → loudness-normalize → fixed-window segmentation in ONE decode
    pass.

    Staging :func:`resample_audio` → :func:`trim_silence` →
    :func:`normalize_loudness` → :func:`segment_bytes` produces
    bit-identical chunks (parity-tested)
    but costs four decode+encode round-trips of the full corpus —
    at 10^12 clips that is 4× the I/O and 3 intermediate materialized
    tables for no semantic gain.  This operator decodes once,
    optionally resamples to ``target_sr`` (rate-uniform training
    batches), trims and
    scales the PCM in memory, slices the window grid off the processed
    samples, and encodes each kept chunk exactly once.

    Gain is computed on the TRIMMED region (normalizing against
    boundary silence would understate RMS and over-amplify), with the
    same ±``max_gain_db`` clamp and peak guard as
    :func:`normalize_loudness`.  ``start_ms``/``chunk_ms`` index the
    processed (trimmed) clip, matching :func:`segment_bytes` run on the
    trimmed output.  Undecodable clips come back as one ``ok=false``
    row; all-silent clips as one ``ok=true`` row with null
    ``chunk_idx``/``bytes`` (staged composition silently drops them —
    the fused op keeps the audit trail).

    ``vad=True`` swaps the boundary trim for full VAD dead-air
    compaction (the :func:`vad_runs` spec: internal silence gaps >
    ``vad_max_gap_ms`` removed too, segments concatenated before gain +
    windowing) — bit-identical to staging :func:`remove_silence` →
    :func:`normalize_loudness` → :func:`segment_bytes` (parity-tested)
    at ¼ the decode I/O; ``threshold``/``pad_ms`` are trim-path knobs
    and are ignored under VAD.

    Scale shape: one Arrow-batched pass over ``(clip_id, bytes)``,
    no shuffle, output ≈ corpus duration / hop.
    """
    thr = int(threshold)
    pad = int(pad_ms)
    if pad < 0:
        raise ValueError("pad_ms must be >= 0")
    target = float(target_dbfs)
    max_gain = float(max_gain_db)
    if max_gain < 0:
        raise ValueError("max_gain_db must be >= 0")
    window = int(window_ms)
    hop = window if hop_ms is None else int(hop_ms)
    if window <= 0 or hop <= 0:
        raise ValueError("window_ms and hop_ms must be positive")
    min_keep = int(min_ms)
    tsr = int(target_sr) if target_sr is not None else None
    if tsr is not None and tsr <= 0:
        raise ValueError("target_sr must be positive")

    def per_clip(row, sr, pcm):
        if tsr is not None and sr != tsr:
            pcm = resample_pcm(pcm, sr, tsr)
            sr = tsr
        silent = [(None, None, None, sr, None, None)]
        if vad:
            runs = vad_runs(sr, pcm, vad_frame_ms, vad_threshold_dbfs,
                            vad_max_gap_ms, vad_min_speech_ms)
            if not runs:
                return silent
            seg = np.concatenate([pcm[lo:hi] for lo, hi in runs])
        else:
            bounds = _trim_bounds(pcm, thr, pad * sr // 1000)
            if bounds is None:
                return silent
            lo, hi = bounds
            seg = pcm[lo:hi]
        gained = _apply_gain(seg, target, max_gain, peak_guard)
        if gained is None:  # unreachable when threshold >= 0
            return silent
        _, gain_db, proc = gained
        g = round(gain_db, 6)
        win = max(1, window * sr // 1000)
        # a pathologically small decoded sr can floor the hop to 0
        # samples; clamp to 1 so the grid always advances
        hop_n = max(1, hop * sr // 1000)
        out = []
        for k in range(-(-len(proc) // hop_n)):
            chunk = proc[k * hop_n: k * hop_n + win]
            ms = len(chunk) * 1000 // sr
            if ms >= min_keep:
                out.append((k, k * hop_n * 1000 // sr, ms, sr, g,
                            encode_wav(sr, chunk)))
        return out

    return _map_clips(df, per_clip, PREPARE_SCHEMA, decode=decode_bytes)


NOISE_AUGMENT_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("noise_seed", T.LongType(), True),
        T.StructField("snr_db", T.DoubleType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def mix_noise_pcm(pcm: np.ndarray, seed: int, snr_db: float):
    """Mix seeded Gaussian noise into int16 PCM at a target SNR.

    Returns ``(mixed int16 ndarray, achieved)`` where ``achieved`` is
    the target ``snr_db`` when mixing happened and ``None`` when the
    clip is empty or all-silent (signal power 0 makes SNR undefined —
    the PCM passes through unchanged rather than being replaced by
    pure noise, so a silent-but-valid clip survives augmentation as an
    auditable no-op instead of turning into synthetic garbage).

    Determinism contract: the noise stream is
    ``np.random.RandomState(seed).standard_normal(n)`` — RandomState
    is NumPy's frozen-stream legacy generator (its bit stream is
    guaranteed stable across NumPy versions), so the same
    ``(pcm, seed, snr_db)`` reproduces identical bytes on any worker,
    any rerun, any platform.  The noise is scaled by its own measured
    RMS, so the pre-quantization SNR equals the target exactly;
    rounding to int16 (``np.rint``, banker's rounding — deterministic)
    and the ±32767 saturation clamp are the only departures.
    """
    n = len(pcm)
    sig = pcm.astype(np.float64)
    sig_power = float(np.dot(sig, sig))
    if n == 0 or sig_power == 0.0:
        return pcm, None
    noise = np.random.RandomState(seed % (2 ** 32)).standard_normal(n)
    noise_power = float(np.dot(noise, noise))
    # scale so that 10*log10(sig_power / scaled_noise_power) == snr_db
    scale = math.sqrt(sig_power / (noise_power * 10.0 ** (snr_db / 10.0)))
    mixed = np.clip(np.rint(sig + noise * scale), -32768, 32767)
    return mixed.astype(np.int16), float(snr_db)


def augment_noise(df: DataFrame, snr_db: float = 20.0,
                  salt: str = "") -> DataFrame:
    """Deterministic additive-noise augmentation at a target SNR — the
    second standard ASR training-data perturbation next to
    :func:`augment_speed` (cf. the noise-mixing recipes popularized by
    Deep Speech / SpecAugment-era pipelines), expressed so re-running
    the pipeline reproduces the identical augmented corpus.

    Each clip's noise stream is seeded by ``md5(clip_id || salt)`` —
    the same engine-portable determinism contract as
    :func:`augment_speed`'s factor choice and
    :func:`~datatest_spark.operators.split.hash_split` (changing
    ``salt`` re-rolls every noise realization; appends never reseed
    existing rows).  Gaussian noise is scaled by its measured RMS so
    the pre-quantization SNR is exactly ``snr_db``
    (:func:`mix_noise_pcm`); silent or empty clips pass through
    unchanged with ``snr_db`` null (mixing is undefined at zero signal
    power), undecodable clips surface as ``ok=false`` audit rows.

    One Arrow-batched decode pass over ``(clip_id, bytes)``, no
    shuffle.  Scale shape: output rows == input rows, output bytes ≈
    input bytes — linear in executors at 10^12 clips.
    """
    target = float(snr_db)

    def per_clip(row, sr, pcm):
        mixed, achieved = mix_noise_pcm(pcm, row[1], target)
        return (sr, achieved, len(mixed), encode_wav(sr, mixed))

    return _map_clips(df.withColumn("noise_seed", _salted_md5(salt, 8)),
                      per_clip, NOISE_AUGMENT_SCHEMA, carry=["noise_seed"],
                      decode=decode_bytes)


# ---------------------------------------------------------------------------
# Log-mel filterbank features (fbank) — the standard ASR training feature
# ---------------------------------------------------------------------------

def hz_to_mel(f):
    """HTK mel scale: ``2595 * log10(1 + f/700)`` (O'Shaughnessy 1987,
    the formula used by HTK/Kaldi fbank front ends)."""
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m):
    """Inverse of :func:`hz_to_mel`."""
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


_MEL_CACHE: dict = {}


def mel_filterbank(sr: int, n_fft: int, n_mels: int = 40,
                   fmin: float = 20.0,
                   fmax: Optional[float] = None) -> np.ndarray:
    """``(n_mels, n_fft//2 + 1)`` triangular mel filter matrix, HTK
    bin-index construction: band edges equally spaced on the mel scale
    between ``fmin`` and ``fmax`` (default Nyquist), each mapped to an
    FFT bin via ``floor((n_fft+1) * f / sr)``.  At small FFT sizes
    (short frames at 8 kHz) adjacent edges can collapse onto one bin,
    leaving a zero filter — deterministic, and log-floored downstream.
    Cached per ``(sr, n_fft, n_mels, fmin, fmax)``; the matrix is tiny
    (40 x n_fft/2) and shared by every clip of the same layout."""
    top = float(fmax) if fmax is not None else sr / 2.0
    key = (int(sr), int(n_fft), int(n_mels), float(fmin), top)
    got = _MEL_CACHE.get(key)
    if got is not None:
        return got
    n_bins = n_fft // 2 + 1
    edges_hz = mel_to_hz(np.linspace(hz_to_mel(fmin), hz_to_mel(top),
                                     n_mels + 2))
    bins = np.minimum(
        np.floor((n_fft + 1) * edges_hz / sr).astype(np.int64),
        n_bins - 1)
    fb = np.zeros((n_mels, n_bins), dtype=np.float64)
    for m in range(n_mels):
        lo, ctr, hi = int(bins[m]), int(bins[m + 1]), int(bins[m + 2])
        for k in range(lo, ctr):
            fb[m, k] = (k - lo) / (ctr - lo)
        for k in range(ctr, hi):
            fb[m, k] = (hi - k) / (hi - ctr)
    _MEL_CACHE[key] = fb
    return fb


def fbank(sr: int, pcm: np.ndarray, frame_ms: float = 25.0,
          hop_ms: float = 10.0, n_mels: int = 40,
          preemph: float = 0.97, fmin: float = 20.0,
          fmax: Optional[float] = None) -> np.ndarray:
    """Log-mel filterbank matrix ``(n_frames, n_mels)`` for one PCM
    buffer — the standard ASR acoustic front end (25 ms Hamming
    frames, 10 ms hop, 0.97 pre-emphasis, power spectrum through
    :func:`mel_filterbank`, natural log with a 1e-10 floor).  Frames
    are strided views (no copy until the FFT); FFT size is the next
    power of two >= the frame length.  Clips shorter than one frame
    return an empty ``(0, n_mels)`` matrix."""
    flen = int(round(sr * frame_ms / 1000.0))
    hop = int(round(sr * hop_ms / 1000.0))
    x = pcm.astype(np.float64)
    if preemph:
        x = np.concatenate(([x[0]], x[1:] - preemph * x[:-1])) \
            if len(x) else x
    if len(x) < flen or flen <= 0 or hop <= 0:
        return np.zeros((0, n_mels), dtype=np.float64)
    n_frames = 1 + (len(x) - flen) // hop
    frames = np.lib.stride_tricks.sliding_window_view(
        x, flen)[::hop][:n_frames]
    n_fft = 1
    while n_fft < flen:
        n_fft *= 2
    spec = np.fft.rfft(frames * np.hamming(flen), n=n_fft)
    power = np.abs(spec) ** 2
    mel = mel_filterbank(sr, n_fft, n_mels, fmin, fmax)
    return np.log(np.maximum(power @ mel.T, 1e-10))


FBANK_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("n_mels", T.IntegerType(), True),
        T.StructField("logmel_mean", T.DoubleType(), True),
        T.StructField("logmel_min", T.DoubleType(), True),
        T.StructField("logmel_max", T.DoubleType(), True),
        T.StructField("feat_sha", T.LongType(), True),
    ]
)

FBANK_FEATS_SCHEMA = T.StructType(
    list(FBANK_SCHEMA.fields) + [
        T.StructField("feats", T.ArrayType(T.ArrayType(T.DoubleType())),
                      True),
    ]
)


def _fbank_digest(logm: np.ndarray):
    """(mean, min, max, sha64) of a round-6 log-mel matrix.  Rounding
    to 6 decimals before hashing makes the digest reproducible across
    BLAS builds; ``+ 0.0`` folds any ``-0.0`` produced by rounding
    into ``+0.0`` so the byte image is canonical.  The 64-bit digest
    is the big-endian first 8 bytes of sha256 over the little-endian
    float64 bytes, two's-complement signed (Spark LongType)."""
    import hashlib

    r = np.round(logm, 6) + 0.0
    sha = int.from_bytes(
        hashlib.sha256(r.astype("<f8").tobytes()).digest()[:8],
        "big", signed=True)
    if r.size == 0:
        return None, None, None, sha
    return (round(float(r.mean()), 6), round(float(r.min()), 6),
            round(float(r.max()), 6), sha)


def fbank_features(df: DataFrame, frame_ms: float = 25.0,
                   hop_ms: float = 10.0, n_mels: int = 40,
                   with_feats: bool = False) -> DataFrame:
    """Per-clip log-mel filterbank features in one Arrow decode pass —
    the acoustic-model training input next to the waveform-level
    :func:`prepare_training_audio` family.  Default output is the
    certifiable digest row (frame count + round-6 mean/min/max +
    64-bit content sha); ``with_feats=True`` appends the full round-6
    ``(n_frames, n_mels)`` matrix as ``array<array<double>>`` for
    shard export.  Undecodable clips surface as ``ok=false`` audit
    rows (reference parity: datatest surfaces Invalid rows rather
    than dropping them — test_validation.py semantics).

    Scale shape: narrow projection ``(clip_id, bytes)``, no shuffle,
    output rows == input rows; digest mode emits ~70 bytes/clip, so
    the certify pass over 10^12 clips is scan-bound, not sink-bound.
    """
    def per_clip(row, sr, pcm):
        logm = fbank(sr, pcm, frame_ms, hop_ms, n_mels)
        rec = (sr, int(logm.shape[0]), n_mels) + _fbank_digest(logm)
        if with_feats:
            rec += ([[float(v) for v in fr]
                     for fr in np.round(logm, 6) + 0.0],)
        return rec

    return _map_clips(df, per_clip,
                      FBANK_FEATS_SCHEMA if with_feats else FBANK_SCHEMA,
                      decode=decode_bytes)


# ---------------------------------------------------------------------------
# Acoustic feature pipeline on top of fbank: CMVN, SpecAugment, MFCC
# ---------------------------------------------------------------------------

def cmvn(feats: np.ndarray, var_norm: bool = True,
         eps: float = 1e-8) -> np.ndarray:
    """Per-utterance cepstral mean (and variance) normalization — the
    standard ASR feature post-process (Kaldi ``apply-cmvn`` utterance
    mode): subtract each coefficient's mean over frames; with
    ``var_norm`` also divide by its population std.  Coefficients
    whose std is <= ``eps`` (constant columns — e.g. a SpecAugment
    frequency mask filled them with one value) are zeroed, NOT divided
    by the floor: their post-mean residual is pure summation noise
    (~1e-16 relative), and dividing it by 1e-8 would amplify
    BLAS-thread-order ulps into the round-6 digest — the variance of a
    constant is 0, so 0 is the correct normalized value.  Empty
    matrices pass through."""
    if feats.shape[0] == 0:
        return feats
    out = feats - feats.mean(axis=0)
    if var_norm:
        std = np.sqrt((out ** 2).mean(axis=0))
        inv = np.zeros_like(std)
        live = std > eps
        inv[live] = 1.0 / std[live]
        out = out * inv
    return out


def spec_augment(feats: np.ndarray, seed: int,
                 freq_masks: int = 2, freq_width: int = 8,
                 time_masks: int = 2, time_pct: float = 0.05
                 ) -> np.ndarray:
    """Deterministic SpecAugment (Park et al. 2019) masking of one
    log-mel matrix: ``freq_masks`` frequency bands up to
    ``freq_width`` bins wide and ``time_masks`` time spans up to
    ``ceil(time_pct * n_frames)`` frames long, filled with the
    pre-mask matrix mean (the paper's mean-fill variant).  All span
    draws come from one seeded frozen-stream RandomState — frequency
    spans first, then time spans — so a given ``(clip, salt)``
    reproduces the identical augmented features on any
    platform/partitioning."""
    if feats.shape[0] == 0:
        return feats
    out = feats.copy()
    fill = float(feats.mean())
    t_cap = int(math.ceil(time_pct * feats.shape[0]))
    rs = np.random.RandomState(seed & 0x7FFFFFFF)
    for _ in range(freq_masks):
        cap = min(freq_width, feats.shape[1])
        w = int(rs.randint(0, cap + 1))
        s = int(rs.randint(0, feats.shape[1] - w + 1))
        out[:, s:s + w] = fill
    for _ in range(time_masks):
        cap = min(t_cap, feats.shape[0])
        w = int(rs.randint(0, cap + 1)) if cap > 0 else 0
        s = int(rs.randint(0, feats.shape[0] - w + 1))
        out[s:s + w, :] = fill
    return out


_DCT_CACHE: dict = {}


def dct_matrix(n_mfcc: int, n_mels: int) -> np.ndarray:
    """Orthonormal DCT-II matrix ``(n_mfcc, n_mels)`` (the HTK/Kaldi
    cepstral transform): ``C[k,j] = sqrt(2/N) cos(pi k (2j+1) / 2N)``
    with the ``k=0`` row scaled by ``1/sqrt(2)``."""
    key = (int(n_mfcc), int(n_mels))
    got = _DCT_CACHE.get(key)
    if got is None:
        j = np.arange(n_mels, dtype=np.float64)
        k = np.arange(n_mfcc, dtype=np.float64)[:, None]
        got = np.sqrt(2.0 / n_mels) * np.cos(
            np.pi * k * (2.0 * j + 1.0) / (2.0 * n_mels))
        got[0] *= 1.0 / np.sqrt(2.0)
        _DCT_CACHE[key] = got
    return got


def mfcc(sr: int, pcm: np.ndarray, n_mfcc: int = 13,
         n_mels: int = 40, **fbank_kw) -> np.ndarray:
    """MFCC matrix ``(n_frames, n_mfcc)``: orthonormal DCT-II over the
    :func:`fbank` log-mel rows — the classical compact ASR feature
    (Davis & Mermelstein 1980 by way of the HTK recipe)."""
    return fbank(sr, pcm, n_mels=n_mels, **fbank_kw) \
        @ dct_matrix(n_mfcc, n_mels).T


PIPELINE_DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("n_coeffs", T.IntegerType(), True),
        T.StructField("feat_mean", T.DoubleType(), True),
        T.StructField("feat_min", T.DoubleType(), True),
        T.StructField("feat_max", T.DoubleType(), True),
        T.StructField("feat_sha", T.LongType(), True),
    ]
)


def feature_pipeline(df: DataFrame, *, n_mels: int = 40,
                     frame_ms: float = 25.0, hop_ms: float = 10.0,
                     apply_cmvn: bool = False,
                     augment: bool = False, salt: str = "",
                     freq_masks: int = 2, freq_width: int = 8,
                     time_masks: int = 2, time_pct: float = 0.05,
                     n_mfcc: Optional[int] = None,
                     deltas: int = 0) -> DataFrame:
    """The full acoustic training-feature pipeline in ONE Arrow decode
    pass: fbank → [SpecAugment] → [per-utterance CMVN] → [MFCC],
    emitting the same certifiable digest row shape as
    :func:`fbank_features` (``n_coeffs`` = mel bins, or ``n_mfcc``
    when the DCT stage is on).  Stage order is the standard training
    order: masking operates on log-mels *before* normalization so the
    mean-fill value is in the mel domain, and the DCT (if any) runs
    last.  SpecAugment spans are seeded per clip by
    ``md5(clip_id || salt)`` — the corpus-wide determinism contract
    shared with :func:`augment_speed`/:func:`augment_noise` (re-runs
    reproduce the identical augmented features; ``salt`` re-rolls).

    Scale shape: identical to :func:`fbank_features` — narrow
    ``(clip_id, bytes)`` projection, zero shuffle, ~70 output
    bytes/clip; every stage is numpy-vectorized per Arrow batch.
    """
    out_coeffs = (int(n_mfcc) if n_mfcc else int(n_mels)) \
        * (1 + int(deltas))
    carry = ["_seed"] if augment else []

    def per_clip(row, sr, pcm):
        feats = fbank(sr, pcm, frame_ms, hop_ms, n_mels)
        if augment:
            feats = spec_augment(feats, row[1], freq_masks, freq_width,
                                 time_masks, time_pct)
        if apply_cmvn:
            feats = cmvn(feats)
        if n_mfcc:
            feats = feats @ dct_matrix(n_mfcc, n_mels).T
        if deltas:
            feats = add_deltas(feats, order=deltas)
        return (sr, int(feats.shape[0]), out_coeffs) + _fbank_digest(feats)

    return _map_clips(df.withColumn("_seed", _salted_md5(salt, 8)),
                      per_clip, PIPELINE_DIGEST_SCHEMA,
                      carry=carry, decode=decode_bytes).drop(*carry)


def delta_features(feats: np.ndarray, window: int = 2) -> np.ndarray:
    """First-order delta (velocity) coefficients of a feature matrix —
    the standard regression formula (HTK book / Kaldi ``add-deltas``):
    ``d_t = sum_k k (x_{t+k} - x_{t-k}) / (2 sum_k k^2)`` over
    ``k = 1..window``, with edge frames replicated.  Empty matrices
    pass through."""
    n = feats.shape[0]
    if n == 0:
        return feats
    denom = 2.0 * sum(k * k for k in range(1, window + 1))
    idx = np.arange(n)
    out = np.zeros_like(feats)
    for k in range(1, window + 1):
        fwd = feats[np.minimum(idx + k, n - 1)]
        bwd = feats[np.maximum(idx - k, 0)]
        out += k * (fwd - bwd)
    return out / denom


def add_deltas(feats: np.ndarray, order: int = 2,
               window: int = 2) -> np.ndarray:
    """Append ``order`` delta streams column-wise: ``[x, Δx, ΔΔx]``
    for the default order 2 — tripling ``n_coeffs`` exactly as ASR
    front ends feed acoustic models."""
    blocks = [feats]
    for _ in range(order):
        blocks.append(delta_features(blocks[-1], window))
    return np.hstack(blocks)


# ---------------------------------------------------------------------------
# Energy VAD: speech/silence segmentation INSIDE clips
# ---------------------------------------------------------------------------

VAD_SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("seg_idx", T.LongType(), True),
        T.StructField("start_ms", T.LongType(), True),
        T.StructField("end_ms", T.LongType(), True),
        T.StructField("dur_ms", T.LongType(), True),
        T.StructField("energy_dbfs", T.DoubleType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)

VAD_STATS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("total_ms", T.LongType(), True),
        T.StructField("speech_ms", T.LongType(), True),
        T.StructField("speech_ratio", T.DoubleType(), True),
        T.StructField("n_segments", T.LongType(), True),
    ]
)


def vad_runs(sr: int, pcm: np.ndarray, frame_ms: int = 20,
             threshold_dbfs: float = -40.0, max_gap_ms: int = 150,
             min_speech_ms: int = 100) -> list:
    """Pure per-clip energy VAD → ``[(start_sample, end_sample), ...]``.

    Spec (all arithmetic exact / order-fixed so an independent replay
    agrees bit-for-bit):

    1. Non-overlapping frames of ``frame_ms`` (last frame may be
       short).  A frame is *speech* when its integer sum-of-squares
       exceeds ``m · 32768² · 10^(threshold_dbfs/10)`` (``m`` = frame
       sample count) — i.e. frame RMS above ``threshold_dbfs``.
    2. Speech runs separated by ≤ ``max_gap_ms // frame_ms`` silent
       FRAMES are merged (gap hangover, so intra-utterance pauses and
       plosive dips don't split an utterance).
    3. Merged runs shorter than ``min_speech_ms`` (floor-ms of the
       sample span, gap frames included) are dropped as noise blips.

    Vectorized: one reshape + row-sum for frame energies, one
    ``np.flatnonzero`` for run detection — no per-sample Python.
    """
    frame_n = max(1, int(frame_ms) * int(sr) // 1000)
    n = len(pcm)
    if n == 0:
        return []
    x = pcm.astype(np.int64)
    nf = (n + frame_n - 1) // frame_n
    padded = np.zeros(nf * frame_n, dtype=np.int64)
    padded[:n] = x
    sumsq = (padded * padded).reshape(nf, frame_n).sum(axis=1)
    m = np.full(nf, frame_n, dtype=np.int64)
    m[-1] = n - (nf - 1) * frame_n
    bound = (m.astype(np.float64) * (32768.0 ** 2)
             * (10.0 ** (float(threshold_dbfs) / 10.0)))
    idx = np.flatnonzero(sumsq.astype(np.float64) > bound)
    if len(idx) == 0:
        return []
    gap_frames = int(max_gap_ms) // max(1, int(frame_ms))
    runs = []
    start = prev = int(idx[0])
    for f in idx[1:]:
        f = int(f)
        if f - prev - 1 <= gap_frames:
            prev = f
        else:
            runs.append((start, prev))
            start = prev = f
    runs.append((start, prev))
    out = []
    for a, b in runs:
        lo = a * frame_n
        hi = min(n, (b + 1) * frame_n)
        if (hi - lo) * 1000 // sr >= int(min_speech_ms):
            out.append((lo, hi))
    return out


def vad_segments(df: DataFrame, frame_ms: int = 20,
                 threshold_dbfs: float = -40.0, max_gap_ms: int = 150,
                 min_speech_ms: int = 100,
                 with_bytes: bool = False) -> DataFrame:
    """Voice-activity segmentation: one row per detected speech
    segment, optionally materialized as a normalized WAV chunk.

    :func:`trim_silence` only strips clip *boundaries*; real speech
    corpora have internal silence (turn gaps, dead air between
    utterances) that wastes training compute and breaks forced
    alignment, so pipelines split clips into utterance segments before
    windowing/packing.  ``energy_dbfs`` is the segment's overall RMS
    level (gap frames included) — a ranking signal for curation.

    Undecodable clips surface as one ``ok=false`` audit row; decodable
    clips with NO detected speech emit no segment rows (pair with
    :func:`vad_stats` for the per-clip accounting view).

    Scale shape: one Arrow-batched decode pass over ``(clip_id,
    bytes)`` only (column-pruned), per-clip cost = decode + one
    vectorized frame-energy pass; linear in executors, no shuffle —
    segmentation of a 10^12-clip corpus is embarrassingly parallel.
    ``with_bytes=False`` (default) keeps the output a thin plan table
    (audio bytes never re-enter the plan); ``with_bytes=True``
    re-encodes each segment (exact PCM slice → canonical WAV) for
    direct hand-off to :func:`segment_bytes`-style training export.
    """

    def per_clip(row, sr, pcm):
        out = []
        for k, (lo, hi) in enumerate(vad_runs(
                sr, pcm, frame_ms, threshold_dbfs, max_gap_ms,
                min_speech_ms)):
            seg = pcm[lo:hi]
            ssq = int(np.sum(seg.astype(np.int64) ** 2))
            energy = (10.0 * math.log10(ssq / (len(seg) * 32768.0 ** 2))
                      if ssq > 0 else None)
            out.append((k, lo * 1000 // sr, hi * 1000 // sr,
                        (hi - lo) * 1000 // sr, energy, sr,
                        encode_wav(sr, seg) if with_bytes else None))
        return out

    return _map_clips(df, per_clip, VAD_SEGMENTS_SCHEMA, decode=decode_bytes)


def vad_stats(df: DataFrame, frame_ms: int = 20,
              threshold_dbfs: float = -40.0, max_gap_ms: int = 150,
              min_speech_ms: int = 100) -> DataFrame:
    """Per-clip speech accounting from the same VAD spec: total/speech
    milliseconds, speech ratio, segment count — the curation signal for
    "mostly dead air" drops and duration-budget corrections (billing a
    clip by *speech* seconds, not container seconds).

    ``speech_ms`` is the floor-ms of the summed speech SAMPLES (not the
    sum of per-segment floor-ms), so the ratio is exact.  Same
    single-decode-pass scale shape as :func:`vad_segments`; exactly one
    output row per input row, so verdict joins stay 1:1.
    """

    def per_clip(row, sr, pcm):
        runs = vad_runs(sr, pcm, frame_ms, threshold_dbfs, max_gap_ms,
                        min_speech_ms)
        n = len(pcm)
        sp = sum(hi - lo for lo, hi in runs)
        return (n * 1000 // sr, sp * 1000 // sr, (sp / n) if n else 0.0,
                len(runs))

    return _map_clips(df, per_clip, VAD_STATS_SCHEMA, decode=decode_bytes)


REMOVE_SILENCE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("orig_ms", T.LongType(), True),
        T.StructField("dur_ms", T.LongType(), True),
        T.StructField("removed_ms", T.LongType(), True),
        T.StructField("n_segments", T.LongType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)


def remove_silence(df: DataFrame, frame_ms: int = 20,
                   threshold_dbfs: float = -40.0, max_gap_ms: int = 150,
                   min_speech_ms: int = 100) -> DataFrame:
    """Dead-air compaction: keep only the VAD speech segments,
    concatenated in order, re-encoded as one canonical WAV per clip.

    :func:`trim_silence` strips clip boundaries; this removes INTERNAL
    silence too (the same :func:`vad_runs` spec, so gaps ≤
    ``max_gap_ms`` survive inside an utterance and natural short pauses
    are preserved).  The standard storage/compute compaction for
    long-form speech — a 10-minute recording with 40% dead air becomes
    6 minutes of trainable audio, and duration-budget packing then
    bills true speech time.

    Output mirrors :func:`trim_silence`: ``ok=false`` audit rows for
    undecodable clips, ``dur_ms=0`` + null bytes when no speech was
    detected, exact integer sample/ms arithmetic throughout so the
    output bytes hash is independently replayable.  Same scale shape as
    every materialization op: one Arrow decode pass, zero shuffle.
    """

    def per_clip(row, sr, pcm):
        orig_ms = len(pcm) * 1000 // sr
        runs = vad_runs(sr, pcm, frame_ms, threshold_dbfs, max_gap_ms,
                        min_speech_ms)
        if not runs:
            return (sr, orig_ms, 0, orig_ms, 0, None)
        kept = np.concatenate([pcm[lo:hi] for lo, hi in runs])
        dur = len(kept) * 1000 // sr
        return (sr, orig_ms, dur, orig_ms - dur, len(runs),
                encode_wav(sr, kept))

    return _map_clips(df, per_clip, REMOVE_SILENCE_SCHEMA, decode=decode_bytes)


DATASET_CARD_SCHEMA = T.StructType(
    [
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_clips", T.LongType(), False),
        T.StructField("n_undecodable", T.LongType(), False),
        T.StructField("n_distinct_content", T.LongType(), False),
        T.StructField("declared_ms", T.LongType(), True),
        T.StructField("decoded_ms", T.LongType(), True),
        T.StructField("n_clipped", T.LongType(), False),
        T.StructField("n_near_silent", T.LongType(), False),
        T.StructField("n_null_transcript", T.LongType(), False),
    ]
)


def dataset_card(df: DataFrame, clipped_above: float = 0.01,
                 near_silent_above: float = 0.9) -> DataFrame:
    """Corpus health card: one row per declared codec plus a
    ``__all__`` total — the summary a 100 TB audio corpus publishes
    with each snapshot (clips, duplicate content, declared-vs-decoded
    duration, decode-failure / clipping / dead-air / missing-label
    counts).

    Every aggregate is INTEGER-exact (counts, long sums, distinct
    64-bit content hashes) — float means would depend on partition
    reduction order and break replay certification, so rate columns
    are materialized as threshold COUNTS (``clipping_ratio >
    clipped_above``, ``silence_ratio >= near_silent_above``) and the
    reader divides.

    Plan: ``xxhash64(bytes)`` content identity is computed JVM-side in
    the scan projection, then ONE Arrow decode pass carries the thin
    metadata columns through alongside the waveform flags — no join
    anywhere (a ``clip_id`` join would fan out on duplicate-id rows,
    the very violation the card is counting), so the card is exactly
    one decode pass + one ``rollup(codec)`` aggregate over thin rows.
    Output is O(codecs) rows.
    """

    flags_schema = T.StructType(
        [
            T.StructField("ok", T.BooleanType(), False),
            T.StructField("_dec_ms", T.LongType(), True),
            T.StructField("_clipped", T.IntegerType(), True),
            T.StructField("_near_silent", T.IntegerType(), True),
        ]
    )

    def per_clip(row, sr, pcm):
        n = len(pcm)
        if n == 0:
            return (0, None, None)
        # same integer counting math as pcm_features, minus the rfft
        # the card never uses (no centroid here — one FFT per clip
        # would double the pass's compute)
        a = np.abs(pcm.astype(np.int64))
        clip_r = int((a >= 32767).sum()) / n
        sil_r = int((a <= SILENCE_THRESHOLD).sum()) / n
        return (n * 1000 // sr, int(clip_r > float(clipped_above)),
                int(sil_r >= float(near_silent_above)))

    meta = {
        "_codec": F.col("codec"),
        "_decl_ms": F.col("dur_ms").cast("long"),
        "_tr_null": F.col("transcript").isNull().cast("int"),
        "_content": F.xxhash64("bytes"),
    }
    flags = _map_clips(df.withColumns(meta), per_clip, flags_schema,
                       carry=list(meta), decode=decode_bytes)

    return (
        flags.rollup("_codec")
        .agg(
            F.grouping("_codec").alias("_is_total"),
            F.count(F.lit(1)).alias("n_clips"),
            F.sum((~F.col("ok")).cast("long")).alias("n_undecodable"),
            F.countDistinct("_content").alias("n_distinct_content"),
            F.sum("_decl_ms").alias("declared_ms"),
            F.sum("_dec_ms").alias("decoded_ms"),
            F.sum(F.col("_clipped").cast("long")).alias("n_clipped"),
            F.sum(F.col("_near_silent").cast("long"))
            .alias("n_near_silent"),
            F.sum(F.col("_tr_null").cast("long"))
            .alias("n_null_transcript"),
        )
        .select(
            F.when(F.col("_is_total") == 1, F.lit("__all__"))
            .otherwise(F.col("_codec")).alias("codec"),
            "n_clips", "n_undecodable", "n_distinct_content",
            "declared_ms", "decoded_ms", "n_clipped", "n_near_silent",
            "n_null_transcript",
        )
    )


_SPEECH_RATIO_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("speech_ratio", T.DoubleType(), True),
        T.StructField("partition_id", T.StringType(), True),
    ]
)


class SpeechRatioRule(Rule):
    """VAD as a first-class constraint: clips whose speech ratio
    (:func:`vad_runs` spec) falls below ``min_ratio`` emit DEVIATION
    rows (``rule:ratio``, deviation = ratio − min_ratio) — the
    "mostly dead air" gate expressed in the engine's violation
    vocabulary, so acceptances (``accepted.tolerance`` /
    ``accepted.percent``) and per-partition verdicts compose with it
    like any other rule.

    Undecodable clips emit nothing here (the decodable rule's
    business).  The ratio is speech samples / total samples rounded to
    6 decimals (numpy half-even, matching the oracle) before the bound
    comparison.  Scale shape: column-pruned Arrow decode pass emitting
    4 thin columns, violations filtered JVM-side; no shuffle.
    """

    kind = "plan"

    def __init__(self, min_ratio: float = 0.3, frame_ms: int = 20,
                 threshold_dbfs: float = -40.0, max_gap_ms: int = 150,
                 min_speech_ms: int = 100,
                 rule_id: str = "speech_ratio"):
        super().__init__(rule_id)
        self.min_ratio = float(min_ratio)
        self.frame_ms = int(frame_ms)
        self.threshold_dbfs = float(threshold_dbfs)
        self.max_gap_ms = int(max_gap_ms)
        self.min_speech_ms = int(min_speech_ms)

    def plan(self, ctx: ValidationContext) -> DataFrame:
        rid = self.rule_id
        fm, th = self.frame_ms, self.threshold_dbfs
        gap, msp = self.max_gap_ms, self.min_speech_ms

        def per_clip(row, sr, pcm):
            n = len(pcm)
            sp = sum(hi - lo for lo, hi in vad_runs(sr, pcm, fm, th, gap,
                                                    msp))
            return (float(np.round(sp / n, 6)) if n else None,)

        base = _map_clips(
            ctx.df.withColumn("partition_id", partition_column(
                ctx.df, audio_partition_col(ctx))),
            per_clip, _SPEECH_RATIO_SCHEMA, carry=["partition_id"],
            decode=decode_bytes)
        r = F.col("speech_ratio")
        viol = F.when(
            F.col("ok") & r.isNotNull() & (r < self.min_ratio),
            violation_struct(
                f"{rid}:ratio", DEVIATION,
                key=F.col("clip_id"), column="bytes",
                invalid=r, expected=F.lit(self.min_ratio),
                deviation=F.round(r - self.min_ratio, 6),
                expected_num=F.lit(self.min_ratio),
                partition_id=F.col("partition_id"),
            ),
        )
        return explode_violations(base, [viol])


def speech_ratio(min_ratio: float = 0.3, **kw) -> SpeechRatioRule:
    """Factory matching the module's rule-helper convention."""
    return SpeechRatioRule(min_ratio=min_ratio, **kw)
