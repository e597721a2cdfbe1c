"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/video are treated like the audio column in the main engine:
``binary`` payloads flowing through the one Arrow payload kernel
(:func:`datatest_spark.payload._map_clips`, one ``mapInArrow`` stage
per operator), with typed metadata columns carried alongside.  The
Spark-side plumbing (schema, partition-preserving batch iteration,
pruned Arrow transfer) is real and tested; the *decoders themselves*
are stubbed because image/video libraries are not available in this
container:

* audio → fully real (datatest_spark.audio decodes WAV from scratch)
* image → REAL for uncompressed formats (operators/image.py parses
  PPM P6 and 24-bit BMP from their public specs, plus dHash/resize/
  channel-mean features, all numpy)
* video → REAL for YUV4MPEG2 (operators/video.py parses Y4M headers
  and frame-samples raw YUV planes)
* compressed codecs (JPEG/PNG/mp4/webm) → :func:`decode_stub` raises
  ``NotImplementedError`` unless ``fake=True``, in which case a
  deterministic fake decoder (payload-hash-derived dimensions)
  exercises the full pipeline shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..payload import _map_clips, _map_id_payloads

__all__ = ["decode_stub", "extract_clip_features"]


def decode_stub(df: DataFrame, binary_col: str, id_col: str = "id",
                fake: bool = False) -> DataFrame:
    """Image/video decode pipeline shape.

    Real decoding requires libs absent from this environment; with
    ``fake=True`` a deterministic stand-in derives (width, height,
    n_frames) from the payload hash so the batch plumbing, schema, and
    downstream rules are fully exercised.  Null payloads are
    ``ok=false`` rows either way.  The output is ``(id, ok, width,
    height, n_frames, payload_sha256)``, ``id`` keeping the ``id_col``
    type.
    """

    def decode(view):
        if view is None:
            raise ValueError("null payload")
        if not fake:
            raise NotImplementedError(
                "image/video decoding requires codec libraries not "
                "present in this container; pass fake=True for the "
                "deterministic pipeline-shape stand-in"
            )
        return "stub", hashlib.sha256(view).hexdigest()

    def per_clip(row, digest):
        h = int(digest[:8], 16)
        return (64 + h % 1920, 64 + (h >> 8) % 1080, 1 + (h >> 16) % 240,
                digest)

    return _map_id_payloads(
        df, binary_col, id_col, per_clip,
        [T.StructField(c, T.IntegerType(), True)
         for c in ("width", "height", "n_frames")]
        + [T.StructField("payload_sha256", T.StringType(), True)],
        decode=decode)


def extract_clip_features(df: DataFrame, binary_col: str = "bytes",
                          id_col: str = "clip_id",
                          frame_ms: int = 100) -> DataFrame:
    """Audio feature extraction (REAL, not stubbed): per-frame RMS
    energy over decoded PCM — the audio analogue of frame-sampling a
    video.  One pass of the payload kernel; output is (clip_id,
    ok, array<float> frame_rms), ``clip_id`` holding ``id_col``."""
    import numpy as np

    from ..audio import decode_bytes

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), True),
            T.StructField("ok", T.BooleanType(), False),
            T.StructField("frame_rms", T.ArrayType(T.FloatType()), True),
        ]
    )

    def per_clip(row, sr, pcm):
        try:
            hop = max(int(sr * frame_ms / 1000), 1)
        except TypeError as e:  # a non-numeric frame_ms fails every clip
            raise ValueError(str(e)) from e
        n_frames = max(len(pcm) // hop, 1)
        frames = pcm[: n_frames * hop].reshape(n_frames, hop)
        rms = np.sqrt(np.mean(frames.astype(np.float64) ** 2, axis=1))
        return (rms.astype(np.float32).tolist(),)

    return _map_clips(
        df.select(F.col(id_col).alias("clip_id"),
                  F.col(binary_col).alias("bytes")),
        per_clip, schema, decode=decode_bytes)
