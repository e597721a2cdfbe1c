"""Video operators: real from-scratch Y4M decode + frame sampling.

YUV4MPEG2 (.y4m) is the standard *uncompressed* video interchange
format (used by ffmpeg/x264 test corpora): a plain-text stream header
``YUV4MPEG2 W<w> H<h> F<num>:<den> ... [C<chroma>]\\n`` followed by
``FRAME\\n`` + raw YUV planes per frame.  Entirely parseable with
numpy — no codec library — so the video column gets the same REAL
treatment as audio (WAV) and images (PPM/BMP): decode where the data
lives, in one pass of the Arrow payload kernel
(:mod:`datatest_spark.payload`, ``mapInArrow``), ship only small
fixed-width features.

Supported chroma: C444 (full planes) and C420/C420jpeg/C420mpeg2
(quarter U/V planes).  Compressed containers (mp4/webm) still need
external codecs — they surface as ok=false, like undecodable images.

Frame sampling (``every_nth``) happens INSIDE the decode loop: the
byte offsets of skipped frames are computed, not materialized, so
sampling 1-in-30 reads ~1/30th of the pixel work — the moral
equivalent of keyframe extraction for a training-data pipeline.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..payload import _map_clips, _map_id_payloads

__all__ = [
    "encode_y4m",
    "decode_y4m_header",
    "iter_y4m_frames",
    "video_frame_features",
    "count_y4m_frames",
    "VideoConsistencyRule",
]

_CHROMA_DIV = {
    "444": (1, 1),
    "420": (2, 2),
    "420jpeg": (2, 2),
    "420mpeg2": (2, 2),
}


def encode_y4m(frames: np.ndarray, fps: Tuple[int, int] = (30, 1),
               chroma: str = "444") -> bytes:
    """Y4M stream from (n, h, w, 3) uint8 YUV frames (C444) or
    (n, h, w) luma-only stacked planes are not supported — keep 444
    for fixtures; C420 is exercised on the decode side."""
    n, h, w, c = frames.shape
    if c != 3 or chroma != "444":
        raise ValueError("encoder supports C444 (h, w, 3) frames only")
    head = b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C444\n" % (w, h, *fps)
    parts = [head]
    for i in range(n):
        parts.append(b"FRAME\n")
        # planar: all Y, then all U, then all V
        parts.append(frames[i, :, :, 0].astype(np.uint8).tobytes())
        parts.append(frames[i, :, :, 1].astype(np.uint8).tobytes())
        parts.append(frames[i, :, :, 2].astype(np.uint8).tobytes())
    return b"".join(parts)


def decode_y4m_header(buf: bytes) -> Tuple[int, int, Tuple[int, int], str, int]:
    """Parse the stream header → (w, h, (fps_num, fps_den), chroma,
    header_len).  Raises ValueError on malformed input."""
    if not buf.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    end = buf.find(b"\n")
    if end < 0:
        raise ValueError("truncated Y4M header")
    w = h = None
    fps = (30, 1)
    chroma = "420"  # spec default when no C tag
    for tok in buf[9:end].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            num, den = val.split(b":")
            fps = (int(num), int(den))
        elif tag == b"C":
            chroma = val.decode("ascii")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if chroma not in _CHROMA_DIV:
        raise ValueError(f"unsupported chroma {chroma}")
    return w, h, fps, chroma, end + 1


def iter_y4m_frames(buf: bytes, every_nth: int = 1):
    """Yield (frame_index, (h, w, 3) uint8 YUV444 array) for every
    ``every_nth``-th frame; skipped frames are seeked over, not
    decoded.  C420 chroma is upsampled to 444 by pixel doubling."""
    if every_nth < 1:
        raise ValueError("every_nth must be >= 1")
    w, h, _fps, chroma, pos = decode_y4m_header(bytes(buf))
    dx, dy = _CHROMA_DIV[chroma]
    cw, ch = w // dx, h // dy
    frame_bytes = w * h + 2 * cw * ch
    buf = bytes(buf)
    idx = 0
    while pos < len(buf):
        nl = buf.find(b"\n", pos)
        if nl < 0 or not buf[pos : pos + 5] == b"FRAME":
            raise ValueError(f"bad FRAME marker at offset {pos}")
        data_start = nl + 1
        if data_start + frame_bytes > len(buf):
            raise ValueError("truncated Y4M frame")
        if idx % every_nth == 0:
            y = np.frombuffer(
                buf, np.uint8, w * h, data_start
            ).reshape(h, w)
            u = np.frombuffer(
                buf, np.uint8, cw * ch, data_start + w * h
            ).reshape(ch, cw)
            v = np.frombuffer(
                buf, np.uint8, cw * ch, data_start + w * h + cw * ch
            ).reshape(ch, cw)
            if (dx, dy) != (1, 1):
                u = u.repeat(dy, 0).repeat(dx, 1)[:h, :w]
                v = v.repeat(dy, 0).repeat(dx, 1)[:h, :w]
            yield idx, np.stack([y, u, v], axis=-1)
        pos = data_start + frame_bytes
        idx += 1


def _decode_y4m(buf):
    """Payload-kernel decode for Y4M streams → ``("y4m", header,
    buf)``: the parsed :func:`decode_y4m_header` tuple and the payload
    as ``bytes``.  Raises ValueError for null or malformed payloads."""
    if buf is None:
        raise ValueError("null payload")
    buf = bytes(buf)
    return "y4m", decode_y4m_header(buf), buf


def video_frame_features(df: DataFrame, binary_col: str,
                         id_col: str = "id",
                         every_nth: int = 1) -> DataFrame:
    """Frame-sampled per-frame mean luma over Y4M payloads — the
    decode/sample/extract pipeline shape for video columns, one pass of
    the payload kernel, no shuffle."""

    def per_clip(row, header, buf):
        lumas = [float(frame[:, :, 0].mean())
                 for _i, frame in iter_y4m_frames(buf, every_nth)]
        return header[0], header[1], len(lumas), lumas

    return _map_id_payloads(
        df, binary_col, id_col, per_clip,
        [T.StructField("width", T.IntegerType(), True),
         T.StructField("height", T.IntegerType(), True),
         T.StructField("n_frames_sampled", T.IntegerType(), True),
         T.StructField("frame_mean_luma", T.ArrayType(T.DoubleType()),
                       True)],
        decode=_decode_y4m)


def count_y4m_frames(buf: bytes) -> Tuple[int, int, int]:
    """(width, height, n_frames) by seeking frame markers only — no
    pixel data is touched, so counting a 10-minute clip costs header
    scans, not decodes."""
    w, h, _fps, chroma, pos = decode_y4m_header(bytes(buf))
    dx, dy = _CHROMA_DIV[chroma]
    frame_bytes = w * h + 2 * (w // dx) * (h // dy)
    buf = bytes(buf)
    n = 0
    while pos < len(buf):
        nl = buf.find(b"\n", pos)
        if nl < 0 or not buf[pos : pos + 5] == b"FRAME":
            raise ValueError(f"bad FRAME marker at offset {pos}")
        if nl + 1 + frame_bytes > len(buf):
            raise ValueError("truncated Y4M frame")
        pos = nl + 1 + frame_bytes
        n += 1
    return w, h, n


from ..requirements import Rule as _Rule


class VideoConsistencyRule(_Rule):
    """Per-row video invariants in one header-seek pass (the video twin
    of Image/AudioConsistencyRule):

    * undecodable bytes → INVALID (``video:decodable``)
    * counted frames != decl_frames → DEVIATION (``video:frames``)

    The pass seeks over frame payloads (count_y4m_frames) — no pixel
    decode, so the Arrow stage is header-bound even for long clips.
    """

    kind = "plan"

    def __init__(self, binary_col: str = "bytes", id_col: str = "video_id",
                 decl_frames_col: str = "decl_frames",
                 rule_id: str = "video"):
        super().__init__(rule_id)
        self.binary_col = binary_col
        self.id_col = id_col
        self.decl_frames_col = decl_frames_col

    def plan(self, ctx) -> DataFrame:
        from ..schema import (DEVIATION, INVALID, explode_violations,
                              violation_struct)

        df = ctx.df
        info = _map_clips(
            df.select(
                F.col(self.id_col).alias("clip_id"),
                F.col(self.binary_col).alias("bytes"),
                F.col(self.decl_frames_col).alias("_df"),
                ctx.partition_expr().alias("partition_id")),
            lambda row, header, buf: (count_y4m_frames(buf)[2],),
            T.StructType([
                T.StructField("clip_id", df.schema[self.id_col].dataType),
                T.StructField("ok", T.BooleanType(), False),
                T.StructField("n_frames", T.IntegerType(), True),
                T.StructField("_df", T.IntegerType(), True)]),
            decode=_decode_y4m, carry=["_df", "partition_id"])
        rid = self.rule_id
        clip, part = F.col("clip_id"), F.col("partition_id")
        checks = [
            F.when(
                ~F.col("ok"),
                violation_struct(
                    f"{rid}:decodable", INVALID, key=clip,
                    column=self.binary_col,
                    invalid=F.lit("undecodable video payload"),
                    expected=F.lit("decodable y4m payload"),
                    partition_id=part),
            ),
            F.when(
                F.col("ok") & (F.col("_df") != F.col("n_frames")),
                violation_struct(
                    f"{rid}:frames", DEVIATION, key=clip,
                    column=self.decl_frames_col,
                    invalid=F.col("_df"), expected=F.col("n_frames"),
                    deviation=(F.col("_df") - F.col("n_frames")).cast("double"),
                    expected_num=F.col("n_frames").cast("double"),
                    partition_id=part),
            ),
        ]
        return explode_violations(info, checks)
