"""Training-shard export — webdataset-style tar shards for audio corpora.

Large-scale audio training jobs don't read 10^12 parquet rows of
binary; they stream size-bounded archive shards (the WebDataset /
tarfile convention popularized by large ASR/speech pipelines).  This
module materializes a curated ``(clip_id, bytes, transcript)`` corpus
into deterministic tar shards plus a manifest that locates every clip:

* :func:`plan_shards` — assign every clip a ``shard_id`` and its exact
  byte ``offset`` inside that shard's tar stream, without building any
  archive.  Assignment is a pure function of the data (md5 ordering +
  running byte total), so re-running the plan — on this engine or an
  independent replay — reproduces it bit-for-bit.
* :func:`shard_tars` — build each shard's tar **bytes** as a DataFrame
  column (one row per shard), fully distributed: each task holds one
  shard (≤ ``target_bytes`` + one member) in memory and emits the
  archive plus its sha256.  The caller sinks them with any Spark
  writer — no driver involvement, works against any FS Spark can
  write.
* :func:`write_shards` — convenience sink: stream each shard to
  ``<out_dir>/shard-NNNNNN.tar`` from the executors.

Determinism contract (what the oracle replays): clips are ordered by
``md5(clip_id || salt)``; each clip contributes two ustar members —
``<clip_id>.<audio_ext>`` (the raw container bytes) then
``<clip_id>.txt`` (UTF-8 transcript) — with zeroed mtime/uid/gid/uname
and mode 0644, so the tar bytes are a pure function of the corpus.  A
clip whose running start offset falls in ``[k·target, (k+1)·target)``
lands in shard ``k``: every shard holds at most ``target_bytes`` of
member starts, i.e. its tar payload is bounded by ``target_bytes`` +
one member + the 10 KiB tarfile record padding.  NULL audio/transcript
become zero-length members (the clip stays locatable; upstream rules
quarantine it).

Scale shape (10^12 clips): one scan computes byte sizes; the global
running total uses the two-pass prefix-sum pattern (per-partition
totals → driver prefix — ONE row per partition crosses to the driver,
the same trick as ``accepted.count``'s distributed counter); shard
assembly shuffles each clip once, keyed by ``shard_id``, and shard
sizes are bounded *by construction* so the per-task memory is
``target_bytes``, never a skewed key's worth.  No all-to-driver
collect anywhere.

Reference lineage: the reference engine has no export layer (it
validates, `datatest/validation.py`); this module is part of the
§2F training-pipeline surface the Spark engine adds on top, sharing
its determinism discipline with ``hash_split`` / ``mixture_sample``
(md5 bucketing, `operators/split.py:48`).
"""

from __future__ import annotations

import hashlib
import io
import tarfile
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..caching import CacheHandle, evict_all

__all__ = ["plan_shards", "shard_tars", "write_shards",
           "read_shards", "read_shard_files", "shard_audit",
           "tar_member_blocks", "unpersist_cached"]

_HANDLES: list = []


def unpersist_cached(blocking: bool = False) -> int:
    """Evict every persisted intermediate created by this module."""
    return evict_all(_HANDLES, blocking)

_BLOCK = 512
_ORD = "__shard_ord"
_PID = "__shard_pid"

#: plan rows at or below this are broadcast for the payload attach in
#: :func:`shard_tars` — the plan is ~50 B/row, so the gate is ~100 MB
#: of broadcast (the guide-§8 "broadcast the plan" regime).  Above it
#: the attach degrades to a shuffle join on the id, which is the floor
#: for an unbounded plan.  Measured for free by plan_shards' existing
#: per-bucket totals pass, like the union-find and quality-argmax
#: gates: strategy choice from data size, never a blind hint.
PLAN_BROADCAST_MAX_ROWS = 2_000_000


def tar_member_blocks(size_col: Column) -> Column:
    """Bytes a member of ``size_col`` payload bytes occupies in a tar
    stream: one 512-byte ustar header + payload zero-padded to a
    512-byte boundary."""
    return (
        F.lit(_BLOCK)
        + F.floor((size_col + F.lit(_BLOCK - 1)) / F.lit(_BLOCK))
        * F.lit(_BLOCK)
    ).cast("long")


def _shuffle_partitions(spark) -> int:
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return max(1, int(raw))
    except (TypeError, ValueError):  # e.g. "auto" on AQE-managed platforms
        return max(1, spark.sparkContext.defaultParallelism)


def plan_shards(df: DataFrame, target_bytes: int,
                id_col: str = "clip_id", bytes_col: str = "bytes",
                text_col: Optional[str] = "transcript",
                salt: str = "") -> DataFrame:
    """Deterministic shard assignment + in-tar offsets, no archives built.

    Returns one row per clip::

        (clip_id, audio_bytes, text_bytes, block_bytes, shard_id, offset)

    ``block_bytes`` is the clip's total footprint in the tar stream
    (audio member + transcript member, headers and padding included);
    ``offset`` is the byte position of the clip's **audio member
    header** inside its shard's tar.  ``shard_id = floor(global_start /
    target_bytes)`` over the md5-ordered running byte total, so shard
    payloads are bounded by ``target_bytes`` plus one clip.

    Two-pass global prefix sum: ``repartitionByRange`` on the md5 key
    preserves order across partitions, per-partition byte totals make
    one driver round-trip (one row per partition), and a
    within-partition window plus the broadcast partition offset is the
    exact global running total — no single-partition global window.
    Rows tying on the order key are exact duplicates of each other
    (same id ⇒ same members), so any tie order yields the same shard
    bytes.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    spark = df.sparkSession

    audio_len = F.coalesce(
        F.octet_length(F.col(bytes_col)), F.lit(0)
    ).cast("long")
    if text_col is None:
        text_len = F.lit(0).cast("long")
    else:
        text_len = F.coalesce(
            F.octet_length(F.col(text_col)), F.lit(0)
        ).cast("long")

    sized = df.select(
        F.col(id_col).alias("clip_id"),
        audio_len.alias("audio_bytes"),
        text_len.alias("text_bytes"),
        F.md5(F.concat(F.col(id_col).cast("string"),
                       F.lit(salt))).alias(_ORD),
    ).withColumn(
        "block_bytes",
        tar_member_blocks(F.col("audio_bytes"))
        + tar_member_blocks(F.col("text_bytes")),
    )

    # Deterministic range bucketing on the md5 key instead of
    # repartitionByRange: the md5 hex string is uniform, so bucket
    # ``floor(first-8-hex-chars * nparts / 2^32)`` is an
    # order-preserving range split (equal keys share a bucket; a
    # lexicographically smaller md5 never lands in a later bucket).
    # This removes RangePartitioner's SAMPLING pass — one full scan of
    # the input (for a generated/computed source, one full regeneration)
    # and one shuffle fewer — and the bucket id is a pure function of
    # the data, so an evicted-cache recompute reproduces the exact
    # offsets with no partitioner nondeterminism.  The groupBy/window
    # below shuffle by the bucket VALUE, so physical placement of the
    # cached rows is irrelevant.
    nparts = _shuffle_partitions(spark)
    bucket = F.floor(
        F.conv(F.substring(F.col(_ORD), 1, 8), 16, 10).cast("long")
        * F.lit(int(nparts)) / F.lit(4294967296)
    ).cast("int")
    handle = CacheHandle(_HANDLES)
    ranged = handle.register(
        sized.withColumn(_PID, bucket).persist()
    )
    rows_total = 0
    totals = {}
    for r in (ranged.groupBy(_PID)
              .agg(F.sum("block_bytes").alias("t"),
                   F.count(F.lit(1)).alias("n"))
              .collect()):
        totals[r[_PID]] = r["t"]
        rows_total += r["n"]
    acc = 0
    offsets = {}
    for p in sorted(totals):
        offsets[p] = acc
        acc += totals[p] or 0
    if offsets:
        off_expr = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in offsets.items() for x in kv]
            )[F.col(_PID)],
            F.lit(0),
        )
    else:
        off_expr = F.lit(0)

    w = (
        Window.partitionBy(_PID)
        .orderBy(_ORD, "clip_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (
        F.sum("block_bytes").over(w) - F.col("block_bytes") + off_expr
    ).alias("global_start")
    assigned = ranged.select(
        "clip_id", "audio_bytes", "text_bytes", "block_bytes", _ORD,
        F.floor(start / F.lit(int(target_bytes)))
        .cast("long").alias("shard_id"),
    )
    # in-shard offset: running start within the (size-bounded) shard
    ws = (
        Window.partitionBy("shard_id")
        .orderBy(_ORD, "clip_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = assigned.withColumn(
        "offset", (F.sum("block_bytes").over(ws)
                   - F.col("block_bytes")).cast("long")
    ).drop(_ORD)
    result = handle.attach(
        out.select("clip_id", "audio_bytes", "text_bytes",
                   "block_bytes", "shard_id", "offset")
    )
    # measured size, collected for free with the bucket totals: lets
    # shard_tars broadcast the plan side under a row gate (guide-§8
    # shape: decide with small rows, move the payload once)
    result._datatest_plan_rows = rows_total
    return result


_TAR_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType(), False),
    T.StructField("n_clips", T.LongType(), False),
    T.StructField("audio_bytes_total", T.LongType(), False),
    T.StructField("tar_len", T.LongType(), False),
    T.StructField("tar_sha256", T.StringType(), False),
    T.StructField("tar_bytes", T.BinaryType(), False),
])


def _deterministic_member(name: str, data: bytes) -> tarfile.TarInfo:
    if len(name.encode("utf-8")) > 100:
        raise ValueError(f"tar member name > 100 bytes: {name!r}")
    ti = tarfile.TarInfo(name)
    ti.size = len(data)
    ti.mtime = 0
    ti.uid = 0
    ti.gid = 0
    ti.uname = ""
    ti.gname = ""
    ti.mode = 0o644
    return ti


def _build_tar(rows) -> bytes:
    """rows: iterable of (clip_id, audio_bytes, transcript) already in
    shard order. ustar format with zeroed metadata ⇒ byte-deterministic."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as t:
        for clip_id, audio, text, ext in rows:
            a = bytes(audio) if audio is not None else b""
            x = (text if text is not None else "").encode("utf-8")
            t.addfile(_deterministic_member(f"{clip_id}.{ext}", a),
                      io.BytesIO(a))
            t.addfile(_deterministic_member(f"{clip_id}.txt", x),
                      io.BytesIO(x))
    return buf.getvalue()


def shard_tars(df: DataFrame, target_bytes: int,
               id_col: str = "clip_id", bytes_col: str = "bytes",
               text_col: Optional[str] = "transcript",
               audio_ext: str = "wav", salt: str = "") -> DataFrame:
    """Materialize the :func:`plan_shards` assignment into real tar
    archives, one row per shard::

        (shard_id, n_clips, audio_bytes_total, tar_len, tar_sha256,
         tar_bytes)

    The plan joins back to the payload columns on ``clip_id`` (the
    join is keyed on the id, never the binary), the shuffle is keyed
    on ``shard_id`` whose groups are ≤ ``target_bytes`` + one clip by
    construction, and each task assembles exactly one archive in
    memory.  ``tar_len`` includes tarfile's end-of-archive record
    padding, so ``tar_bytes`` round-trips through ``tarfile.open``
    unchanged.
    """
    plan = plan_shards(df, target_bytes, id_col=id_col,
                       bytes_col=bytes_col, text_col=text_col, salt=salt)
    if text_col is None:
        payload = df.select(
            F.col(id_col).alias("clip_id"),
            F.col(bytes_col).alias("__audio"),
            F.lit(None).cast("string").alias("__text"),
        )
    else:
        payload = df.select(
            F.col(id_col).alias("clip_id"),
            F.col(bytes_col).alias("__audio"),
            F.col(text_col).cast("string").alias("__text"),
        )
    # Move the payload ONCE (guide §8): the plan is metadata-only
    # (~50 B/row) and below PLAN_BROADCAST_MAX_ROWS — the row count the
    # prefix-sum pass already measured — it is broadcast, so attaching
    # shard_id/offset is a map-side hash join and the only payload
    # shuffle is the final groupBy(shard_id).  Above the gate the join
    # shuffles by id (the floor for an unbounded plan).  Duplicate ids
    # are NOT pre-deduplicated with a payload shuffle anymore: plan
    # ties are exact row copies, so the k×k join fan-out per duplicate
    # id is collapsed to one row per tar slot inside the (already
    # grouped) assemble step — zero extra payload movement, identical
    # bytes.
    plan_side = plan
    n_plan = getattr(plan, "_datatest_plan_rows", None)
    if n_plan is not None and n_plan <= PLAN_BROADCAST_MAX_ROWS:
        plan_side = F.broadcast(plan)
    joined = plan_side.join(payload, "clip_id")

    ext = str(audio_ext)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        shard_id = int(pdf["shard_id"].iloc[0])
        # one row per tar slot: duplicate ids joined every copy of
        # their (identical) payload — keep the first per offset
        pdf = (pdf.sort_values("offset")
               .drop_duplicates(subset=["offset"], keep="first"))
        # zip, not itertuples: leading-underscore columns get renamed
        # to positional names by itertuples
        rows = [
            (cid, audio, text, ext)
            for cid, audio, text in zip(pdf["clip_id"], pdf["__audio"],
                                        pdf["__text"])
        ]
        raw = _build_tar(rows)
        total = int(pdf["audio_bytes"].sum())
        return pd.DataFrame(
            [(shard_id, len(rows), total, len(raw),
              hashlib.sha256(raw).hexdigest(), raw)],
            columns=[f.name for f in _TAR_SCHEMA.fields],
        )

    result = joined.groupBy("shard_id").applyInPandas(assemble, _TAR_SCHEMA)
    # the result owns the plan's persisted intermediate until consumed
    plan_handle = getattr(plan, "_datatest_cache_handle", None)
    if plan_handle is not None:
        handle = CacheHandle(_HANDLES)
        handle.absorb(plan_handle)
        result = handle.attach(result)
    return result


def write_shards(df: DataFrame, out_dir: str, target_bytes: int,
                 id_col: str = "clip_id", bytes_col: str = "bytes",
                 text_col: Optional[str] = "transcript",
                 audio_ext: str = "wav", salt: str = "") -> DataFrame:
    """Sink :func:`shard_tars` to ``<out_dir>/shard-NNNNNN.tar`` and
    return the manifest (digest columns only, no archive bytes).

    Executors write through plain file I/O — ``out_dir`` must be a
    path every executor can open (local dir in local mode; a mounted /
    FUSE path on a cluster).  For object stores, sink
    :func:`shard_tars` output with a Spark writer instead.  Writes are
    idempotent: shard content is deterministic, a retry overwrites the
    same bytes.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    tars = shard_tars(df, target_bytes, id_col=id_col,
                      bytes_col=bytes_col, text_col=text_col,
                      audio_ext=audio_ext, salt=salt)

    def sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                path = os.path.join(out_dir, f"shard-{r.shard_id:06d}.tar")
                tmp = path + ".inprogress"
                with open(tmp, "wb") as fh:
                    fh.write(r.tar_bytes)
                os.replace(tmp, path)
            yield pdf.drop(columns=["tar_bytes"])

    manifest_schema = T.StructType(
        [f for f in _TAR_SCHEMA.fields if f.name != "tar_bytes"]
    )
    return tars.mapInPandas(sink, manifest_schema)


_READ_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType(), True),
    T.StructField("clip_id", T.StringType(), True),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("transcript", T.StringType(), True),
    T.StructField("offset", T.LongType(), True),
])


def read_shards(tars: DataFrame, shard_id_col: str = "shard_id",
                tar_col: str = "tar_bytes") -> DataFrame:
    """Re-ingest tar shards into a ``(shard_id, clip_id, bytes,
    transcript, offset)`` table — the inverse of :func:`shard_tars`.

    One Arrow-batched pass, one tar per row: members are paired by
    stem (``<clip_id>.<ext>`` payload + ``<clip_id>.txt`` transcript);
    ``offset`` is the audio member's header offset as reported by the
    parser, so a round-trip re-derives the :func:`plan_shards`
    manifest from the archives alone.  A payload member with no
    ``.txt`` twin (or vice versa) still yields a row, with the absent
    side NULL — :func:`shard_audit` then surfaces it.

    Scale shape: no shuffle; parallelism = shard count, per-task
    memory = one shard.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _READ_SCHEMA.fields]
        for pdf in batches:
            out = []
            for sid, raw in zip(pdf[shard_id_col], pdf[tar_col]):
                sid = None if sid is None else int(sid)
                clips: dict = {}
                order: list = []
                with tarfile.open(fileobj=io.BytesIO(bytes(raw))) as tf:
                    for m in tf.getmembers():
                        stem, _, kind = m.name.rpartition(".")
                        data = (tf.extractfile(m).read()
                                if m.size else b"")
                        slot = clips.get(stem)
                        # duplicate clip_ids: a stem whose audio slot
                        # is already filled starts a new row pair
                        if kind == "txt":
                            if slot is None or slot.get("txt_done"):
                                slot = {"off": None}
                                clips[stem] = slot
                                order.append((stem, slot))
                            slot["transcript"] = data.decode("utf-8")
                            slot["txt_done"] = True
                        else:
                            if slot is None or "bytes" in slot:
                                slot = {}
                                clips[stem] = slot
                                order.append((stem, slot))
                            slot["bytes"] = data
                            slot["off"] = int(m.offset)
                        if all(k in slot
                               for k in ("bytes", "transcript")):
                            clips.pop(stem, None)
                for stem, slot in order:
                    out.append((sid, stem, slot.get("bytes"),
                                slot.get("transcript"),
                                slot.get("off")))
            yield pd.DataFrame(out, columns=cols)

    return tars.select(shard_id_col, tar_col).mapInPandas(
        gen, _READ_SCHEMA)


def read_shard_files(spark, path: str) -> DataFrame:
    """:func:`read_shards` over ``<path>/shard-NNNNNN.tar`` files via
    Spark's binaryFile source (pushdown-pruned to ``*.tar``)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)\.tar$", 1)
            .cast("long").alias("shard_id"),
            F.col("content").alias("tar_bytes"),
        )
    )
    return read_shards(files)


def shard_audit(corpus: DataFrame, roundtrip: DataFrame,
                id_col: str = "clip_id", bytes_col: str = "bytes",
                text_col: str = "transcript",
                rule_id: str = "shards:content") -> DataFrame:
    """Validate re-ingested shards against the source corpus, emitting
    the engine's typed violation rows (the difference vocabulary of
    reference datatest/differences.py, distributed form):

    * ``MISSING`` — a source (clip_id, content) the shards lack
    * ``EXTRA`` — shard content absent from the source
    * ``DEVIATION`` — content present on both sides but with a
      different multiplicity (duplicate clips dropped or doubled);
      ``deviation = shards_count − corpus_count``

    Contents compare by ``(xxhash64(bytes), octet_length,
    xxhash64(transcript))`` — audio payloads never shuffle, only
    16-byte keys + counts.  An empty result certifies the export:
    every source byte is in exactly one shard slot.
    """
    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("clip_id"),
            F.xxhash64(F.coalesce(F.col(bytes_col), F.lit(b""))
                       ).alias("a_hash"),
            F.coalesce(F.octet_length(F.col(bytes_col)), F.lit(0))
            .alias("a_len"),
            F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))
            .alias("t_hash"),
        ).groupBy("clip_id", "a_hash", "a_len", "t_hash").agg(
            F.count(F.lit(1)).alias("n")
        )

    keys = ["clip_id", "a_hash", "a_len", "t_hash"]
    j = keyed(corpus).alias("c").join(
        keyed(roundtrip).alias("s"), keys, "full_outer"
    ).select(
        *keys,
        F.col("c.n").alias("n_corpus"),
        F.col("s.n").alias("n_shards"),
    )
    diff_type = (
        F.when(F.col("n_shards").isNull(), F.lit("MISSING"))
        .when(F.col("n_corpus").isNull(), F.lit("EXTRA"))
        .otherwise(F.lit("DEVIATION"))
    )
    content = F.concat(
        F.lit("xxh64:"), F.col("a_hash").cast("string"),
        F.lit("/len:"), F.col("a_len").cast("string"),
    )
    return j.where(
        F.col("n_shards").isNull() | F.col("n_corpus").isNull()
        | (F.col("n_shards") != F.col("n_corpus"))
    ).select(
        F.lit(rule_id).alias("rule_id"),
        F.col("clip_id").cast("string").alias("key"),
        F.lit(bytes_col).alias("column"),
        diff_type.alias("diff_type"),
        content.alias("invalid"),
        F.lit(None).cast("string").alias("expected"),
        (F.coalesce(F.col("n_shards"), F.lit(0))
         - F.coalesce(F.col("n_corpus"), F.lit(0)))
        .cast("double").alias("deviation"),
        F.coalesce(F.col("n_corpus"), F.lit(0)).cast("double")
        .alias("expected_num"),
        F.lit(None).cast("string").alias("partition_id"),
    )
