"""Image operators: real from-scratch decode for uncompressed formats.

Mirrors the audio column's design (datatest_spark/audio.py): payloads
are opaque ``binary`` columns; every decode/feature stage is one pass
of the Arrow payload kernel (:mod:`datatest_spark.payload`,
``mapInArrow``) with pure-numpy codecs — nothing here needs an image
library.  Two REAL formats are implemented from their public specs:

* **PPM (P6)** — ``P6\\n<w> <h>\\n255\\n`` + raw RGB rows.
* **BMP (24-bit BI_RGB)** — BITMAPFILEHEADER/BITMAPINFOHEADER,
  bottom-up BGR rows padded to 4 bytes.

Compressed codecs (JPEG/PNG/WebP) require external libraries this
container lacks — those payloads decode as ``ok=false, codec=null``
(and :func:`datatest_spark.operators.multimodal.decode_stub` remains
the documented stub for pipelines that must pretend-decode them).

Feature stages are the standard image-pipeline set, all numpy:
nearest-neighbor resize, per-channel means, and a 64-bit **dHash**
perceptual fingerprint (9x8 grayscale, adjacent-column gradient sign)
— the image analogue of simhash: re-encoding the same pixels in a
different container yields the SAME dHash, so format-crossing
near-dup detection is a plain groupBy on the hash.

Scale shape: decode runs where the data lives (mapInArrow, no
shuffle); only (id, small-fixed-width features) leave the stage —
payload bytes never cross a shuffle boundary.
"""

from __future__ import annotations

import hashlib
from typing import Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..payload import _map_clips, _map_id_payloads

__all__ = [
    "encode_ppm",
    "decode_ppm",
    "encode_bmp",
    "decode_bmp",
    "decode_image_bytes",
    "decode_images",
    "image_features",
    "dhash64",
    "resize_nearest",
    "ImageConsistencyRule",
]


# ---------------------------------------------------------------------------
# codecs (pure numpy, public format specs)
# ---------------------------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) from an (h, w, 3) uint8 array."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("PPM P6 requires 3 channels")
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_ppm(buf: bytes) -> np.ndarray:
    """Parse binary PPM (P6).  Raises ValueError on malformed input."""
    if not buf.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens (comments with '#' allowed); pixel data follows the single
    # whitespace byte after maxval
    tokens = []
    i = 2
    while len(tokens) < 3:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if i < len(buf) and buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        start = i
        while i < len(buf) and not buf[i : i + 1].isspace():
            i += 1
        if start == i:
            raise ValueError("truncated PPM header")
        tokens.append(buf[start:i])
    i += 1  # the single whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError("only maxval=255 supported")
    need = w * h * 3
    data = buf[i : i + need]
    if len(data) < need:
        raise ValueError("truncated PPM pixel data")
    return np.frombuffer(data, np.uint8).reshape(h, w, 3).copy()


def encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit uncompressed BMP (BI_RGB) from an (h, w, 3) uint8 RGB
    array — bottom-up BGR rows padded to 4 bytes, per the public spec."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("BMP writer requires 3 channels")
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip + BGR
    pixels = rows.tobytes()
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(pixels)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(pixels).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    return header + pixels


def decode_bmp(buf: bytes) -> np.ndarray:
    """Parse 24-bit uncompressed BMP.  Raises ValueError otherwise."""
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(buf[10:14], "little")
    w = int.from_bytes(buf[18:22], "little", signed=True)
    h = int.from_bytes(buf[22:26], "little", signed=True)
    bpp = int.from_bytes(buf[28:30], "little")
    comp = int.from_bytes(buf[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB BMP supported")
    if w <= 0 or h == 0:
        raise ValueError("bad BMP dimensions")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    need = stride * h
    data = buf[off : off + need]
    if len(data) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(data, np.uint8).reshape(h, stride)[:, : w * 3]
    arr = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if bottom_up:
        arr = arr[::-1]
    return arr.copy()


def decode_image_bytes(buf: Optional[bytes]) -> Tuple[str, np.ndarray]:
    """Sniff + decode a payload → (codec, (h, w, 3) uint8 RGB).
    Raises ValueError for null/undecodable payloads."""
    if buf is None:
        raise ValueError("null payload")
    buf = bytes(buf)
    if buf.startswith(b"P6"):
        return "ppm", decode_ppm(buf)
    if buf.startswith(b"BM"):
        return "bmp", decode_bmp(buf)
    raise ValueError("unsupported image format")


# ---------------------------------------------------------------------------
# numpy feature kernels
# ---------------------------------------------------------------------------


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (pixel-center sampling).  Index math is
    pure-integer (``(2i+1)·h // 2·out_h`` ≡ floor((i+0.5)·h/out_h)) so
    any reimplementation lands on identical source pixels."""
    h, w = arr.shape[:2]
    ys = np.minimum((2 * np.arange(out_h) + 1) * h // (2 * out_h), h - 1)
    xs = np.minimum((2 * np.arange(out_w) + 1) * w // (2 * out_w), w - 1)
    return arr[ys][:, xs]


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference-hash: grayscale, resize to 9x8, sign of the
    horizontal gradient — a public-domain perceptual fingerprint.
    Depends only on pixel VALUES, so ppm/bmp encodings of the same
    image collide (by design).  Grayscale uses the integer-scaled
    BT.601 weights (299r+587g+114b — no float ties, bit-stable across
    implementations)."""
    gray = (
        arr[:, :, 0].astype(np.int64) * 299
        + arr[:, :, 1].astype(np.int64) * 587
        + arr[:, :, 2].astype(np.int64) * 114
    )
    small = resize_nearest(gray, 8, 9)
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out - (1 << 64) if out >= (1 << 63) else out


# ---------------------------------------------------------------------------
# Spark stages: passes of the payload kernel (datatest_spark/payload.py)
# ---------------------------------------------------------------------------

_INT, _DOUBLE, _STRING = T.IntegerType(), T.DoubleType(), T.StringType()


def _fields(*pairs):
    return [T.StructField(name, dtype, True) for name, dtype in pairs]


def decode_images(df: DataFrame, binary_col: str,
                  id_col: str = "id") -> DataFrame:
    """Decode header+pixels per batch → (id, ok, codec, w, h, sha256).
    Undecodable payloads yield ok=false rows (never a job failure)."""

    def decode(view):
        codec, arr = decode_image_bytes(view)
        return codec, arr, hashlib.sha256(view).hexdigest()

    return _map_id_payloads(
        df, binary_col, id_col,
        lambda row, arr, sha: (arr.shape[1], arr.shape[0], sha),
        _fields(("dec_codec", _STRING), ("width", _INT), ("height", _INT),
                ("payload_sha256", _STRING)),
        decode=decode)


def image_features(df: DataFrame, binary_col: str,
                   id_col: str = "id") -> DataFrame:
    """Decode + per-channel means + dHash fingerprint, one Arrow pass.
    ``groupBy("dhash")`` on the output = cross-format exact/near-dup
    image groups (dHash ignores the container byte-stream)."""

    def per_clip(row, arr):
        r, g, b = arr.reshape(-1, 3).mean(axis=0)
        return (arr.shape[1], arr.shape[0], float(r), float(g), float(b),
                dhash64(arr))

    return _map_id_payloads(
        df, binary_col, id_col, per_clip,
        _fields(("dec_codec", _STRING), ("width", _INT), ("height", _INT),
                ("mean_r", _DOUBLE), ("mean_g", _DOUBLE),
                ("mean_b", _DOUBLE), ("dhash", T.LongType())),
        decode=decode_image_bytes)


# ---------------------------------------------------------------------------
# engine integration: the image analogue of AudioConsistencyRule
# ---------------------------------------------------------------------------


from ..requirements import Rule as _Rule


class ImageConsistencyRule(_Rule):
    """All per-row image invariants in ONE decode pass (the image twin
    of audio.AudioConsistencyRule — reference analogue: datatest's
    per-element predicate checks lifted to a payload decode):

    * undecodable bytes → INVALID (``image:decodable``)
    * decoded width  != decl_width  → DEVIATION (``image:width``)
    * decoded height != decl_height → DEVIATION (``image:height``)

    Plan shape: one column-pruned pass of the payload kernel (payload
    never shuffles), checks assembled as one nullable-struct array over
    the decode output, filtered + exploded JVM-side.
    """

    kind = "plan"

    def __init__(self, binary_col: str = "bytes", id_col: str = "image_id",
                 decl_width_col: str = "decl_width",
                 decl_height_col: str = "decl_height",
                 rule_id: str = "image"):
        super().__init__(rule_id)
        self.binary_col = binary_col
        self.id_col = id_col
        self.decl_width_col = decl_width_col
        self.decl_height_col = decl_height_col

    def plan(self, ctx) -> DataFrame:
        from ..schema import (DEVIATION, INVALID, explode_violations,
                              violation_struct)

        df = ctx.df
        info = _map_clips(
            df.select(
                F.col(self.id_col).alias("clip_id"),
                F.col(self.binary_col).alias("bytes"),
                F.col(self.decl_width_col).alias("_dw"),
                F.col(self.decl_height_col).alias("_dh"),
                ctx.partition_expr().alias("partition_id")),
            lambda row, arr: (arr.shape[1], arr.shape[0]),
            T.StructType([
                T.StructField("clip_id", df.schema[self.id_col].dataType),
                T.StructField("ok", T.BooleanType(), False),
                *_fields(("width", _INT), ("height", _INT),
                         ("_dw", _INT), ("_dh", _INT))]),
            decode=decode_image_bytes, carry=["_dw", "_dh", "partition_id"])
        rid = self.rule_id
        clip, part = F.col("clip_id"), F.col("partition_id")
        checks = [
            F.when(
                ~F.col("ok"),
                violation_struct(
                    f"{rid}:decodable", INVALID, key=clip,
                    column=self.binary_col,
                    invalid=F.lit("undecodable image payload"),
                    expected=F.lit("decodable ppm/bmp payload"),
                    partition_id=part),
            ),
            F.when(
                F.col("ok") & (F.col("_dw") != F.col("width")),
                violation_struct(
                    f"{rid}:width", DEVIATION, key=clip,
                    column=self.decl_width_col,
                    invalid=F.col("_dw"), expected=F.col("width"),
                    deviation=(F.col("_dw") - F.col("width")).cast("double"),
                    expected_num=F.col("width").cast("double"),
                    partition_id=part),
            ),
            F.when(
                F.col("ok") & (F.col("_dh") != F.col("height")),
                violation_struct(
                    f"{rid}:height", DEVIATION, key=clip,
                    column=self.decl_height_col,
                    invalid=F.col("_dh"), expected=F.col("height"),
                    deviation=(F.col("_dh") - F.col("height")).cast("double"),
                    expected_num=F.col("height").cast("double"),
                    partition_id=part),
            ),
        ]
        return explode_violations(info, checks)
