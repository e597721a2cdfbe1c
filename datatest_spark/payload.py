"""The one payload kernel: every operator over a ``binary`` payload
column (audio clips, images, video streams, the decode stub) slices,
decodes, reports failures and batches its results back here, in one
``mapInArrow`` stage per operator.

The kernel is codec-agnostic: the caller passes the ``decode``
function of its container family (``audio.decode_bytes``,
``image.decode_image_bytes``, ...) and a ``per_clip`` function that
turns one decoded payload into output fields.  Operators whose tables
name their id and payload columns differently alias them to
``clip_id``/``bytes`` on the way in.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _binary_views(arr, n_rows):
    """Zero-copy per-row ``memoryview`` slices of a pyarrow
    Binary/String array (+ validity bools) — no per-row ``bytes``
    objects, no payload copies.  Returns ``(views, valid)`` where
    ``views[i]`` is a memoryview into the Arrow data buffer and
    ``valid`` is a bool ndarray (or None when there are no nulls).
    Offsets are 64-bit when Spark sends large types
    (``spark.sql.execution.arrow.useLargeVarTypes``)."""
    import pyarrow as pa

    vbuf, obuf, dbuf = arr.buffers()
    off0 = arr.offset
    large = arr.type in (pa.large_binary(), pa.large_string())
    width = np.int64 if large else np.int32
    offs = np.frombuffer(obuf, dtype=width)[off0: off0 + n_rows + 1]
    data = memoryview(dbuf) if dbuf is not None else memoryview(b"")
    valid = None
    if arr.null_count:
        bits = np.unpackbits(
            np.frombuffer(vbuf, dtype=np.uint8), bitorder="little"
        )
        valid = bits[off0: off0 + n_rows].astype(bool)
    views = [data[offs[i]: offs[i + 1]] for i in range(n_rows)]
    return views, valid


def _map_clips(df: DataFrame, per_clip, out_schema: T.StructType, *,
               decode, carry=()) -> DataFrame:
    """The one Arrow payload kernel: decode every payload of ``df``
    once and map it through ``per_clip`` in a single ``mapInArrow``
    stage.

    The stage reads only ``clip_id``, ``bytes`` and the ``carry``
    columns, pruned before the Python stage so the Arrow transfer ships
    no dead bytes.  Each payload is a zero-copy
    ``memoryview`` of the Arrow data buffer (no per-row ``bytes``
    copies); a null payload reaches ``decode`` as ``None``.

    Decode contract: ``decode(view)`` returns ``(codec, *decoded)`` —
    the container codec, then the decoded values ``per_clip`` takes —
    or raises ``ValueError`` for a payload it cannot decode (including
    ``None``).  Any other exception fails the task.

    Per-clip contract: ``per_clip(row, *decoded)`` gets ``row =
    (clip_id, *carry)`` and returns the clip's computed fields — the
    ``out_schema`` fields the kernel does not fill, in schema order —
    as one tuple for one row, or as a list of tuples for any number of
    rows (``[]`` emits none).  A ``ValueError`` raised by ``decode`` or
    by ``per_clip`` yields one ``ok=false`` row with null computed
    fields instead of failing the task.

    The kernel fills these fields itself:

    * ``ok`` — the payload decoded and ``per_clip`` returned;
    * ``error`` — the ``ValueError`` text, null on ``ok`` rows;
    * ``dec_codec`` — the codec ``decode`` returned, null on failure
      rows;
    * ``clip_id`` and every carried name — the input values, cast to
      the ``out_schema`` type, so failure rows keep them too.  Those
      ``out_schema`` lacks (other than ``clip_id``) are appended with
      their input type, once each, in first-seen order.  These columns
      reference the input batch zero-copy when every clip yields one
      row, and are repeated with ``take`` otherwise.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    given = {f.name: f.dataType for f in out_schema.fields}
    row_names = [c for c in dict.fromkeys(["clip_id", *carry])
                 if c != "bytes"]
    pruned = df.select(F.col("bytes"), *[
        (F.col(c).cast(given[c]) if c in given else F.col(c)).alias(c)
        for c in row_names])
    pos = {c: i + 1 for i, c in enumerate(row_names)}
    schema = T.StructType(list(out_schema.fields) + [
        pruned.schema[c] for c in row_names
        if c not in given and c != "clip_id"])
    arrow_schema = to_arrow_schema(schema)
    computed = [c for c in given
                if c not in pos and c not in ("ok", "error", "dec_codec")]
    nulls = (None,) * len(computed)

    def gen(batches):
        for b in batches:
            n = b.num_rows
            views, valid = _binary_views(b.column(0), n)
            if valid is not None:
                views = [v if ok else None for v, ok in zip(views, valid)]
            rows = zip(*[b.column(pos[c]).to_pylist() for c in row_names])
            out, src, errs, codecs = [], [], [], []
            spread = False
            for i, (row, view) in enumerate(zip(rows, views)):
                err = None
                try:
                    codec, *decoded = decode(view)
                    got = per_clip(row, *decoded)
                except ValueError as e:
                    got, codec, err = nulls, None, str(e)
                errs.append(err)
                codecs.append(codec)
                if type(got) is list:
                    spread = True
                    out += got
                    src += [i] * len(got)
                else:
                    out.append(got)
                    src.append(i)
            take = pa.array(src, pa.int64()) if spread else None
            per_clip_cols = {"ok": [e is None for e in errs],
                             "error": errs, "dec_codec": codecs}
            values = dict(zip(computed,
                              list(zip(*out)) or [()] * len(computed)))
            arrays = []
            for f in arrow_schema:
                if f.name in values:
                    arrays.append(pa.array(values[f.name], f.type))
                    continue
                arr = (b.column(pos[f.name]) if f.name in pos
                       else pa.array(per_clip_cols[f.name], f.type))
                arrays.append(arr if take is None else arr.take(take))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return pruned.mapInArrow(gen, schema)


def _map_id_payloads(df: DataFrame, binary_col: str, id_col: str,
                     per_clip, fields, *, decode) -> DataFrame:
    """:func:`_map_clips` over a table keyed by ``id_col`` with its
    payload in ``binary_col``: the two are aliased to
    ``clip_id``/``bytes`` on the way in, and ``clip_id``/``dec_codec``
    are renamed to ``id``/``codec`` on the way out.  The output is
    ``(id, ok, *fields)``, ``id`` keeping the ``id_col`` type."""
    schema = T.StructType([
        T.StructField("clip_id", df.schema[id_col].dataType, True),
        T.StructField("ok", T.BooleanType(), False), *fields])
    return _map_clips(
        df.select(F.col(id_col).alias("clip_id"),
                  F.col(binary_col).alias("bytes")),
        per_clip, schema, decode=decode,
    ).withColumnsRenamed({"clip_id": "id", "dec_codec": "codec"})
