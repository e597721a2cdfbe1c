"""The Arrow payload kernel (``payload._map_clips``) behind every
payload operator — audio, image, video and the decode stub: its
per-clip contract, and the plan shape of each operator built on it."""

import hashlib
from functools import partial

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datatest_spark import audio as A
from datatest_spark import fixtures as FX
from datatest_spark import payload
from datatest_spark.operators.image import (
    decode_image_bytes, decode_images, dhash64, encode_bmp, encode_ppm,
    image_features)
from datatest_spark.operators.multimodal import (
    decode_stub, extract_clip_features)
from datatest_spark.operators.video import (
    decode_y4m_header, iter_y4m_frames, video_frame_features)
from datatest_spark.suite import validate_image_table, validate_video_table
from datatest_spark.validation import Engine

# the kernel with the audio container decode, as every audio operator
# calls it
_map_clips = partial(payload._map_clips, decode=A.decode_bytes)


def _wav(dur_ms):
    return FX.make_wav(8000, FX.synth_pcm(1, 8000, dur_ms))


@pytest.fixture(scope="module")
def clips(spark):
    # a: 800 samples, b: null payload, c: corrupt payload, d: 2000 samples
    return spark.createDataFrame(
        [("a", _wav(100), "x", 0), ("b", None, "y", 1),
         ("c", b"notaudio", None, 1), ("d", _wav(250), "z", 2)],
        "clip_id string, bytes binary, tag string, part_id int")


def _schema(*fields):
    return T.StructType(
        [T.StructField("clip_id", T.StringType()),
         T.StructField("ok", T.BooleanType(), False), *fields])


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


class TestMapClips:
    def test_one_row_per_clip_with_failure_rows(self, spark, clips):
        schema = _schema(T.StructField("error", T.StringType()),
                         T.StructField("dec_codec", T.StringType()),
                         T.StructField("n", T.LongType()))
        out = _map_clips(clips, lambda row, sr, pcm: (len(pcm),), schema)
        assert out.columns == ["clip_id", "ok", "error", "dec_codec", "n"]
        assert _rows(out) == [
            ("a", True, None, "pcm_s16le", 800),
            ("b", False, "null bytes", None, None),
            ("c", False, "unsupported codec payload", None, None),
            ("d", True, None, "pcm_s16le", 2000),
        ]

    def test_row_is_clip_id_then_carried_values(self, spark, clips):
        schema = _schema(T.StructField("seen", T.StringType()))
        out = _map_clips(clips, lambda row, sr, pcm: (repr(row),), schema,
                         carry=["tag", "part_id"])
        got = {r["clip_id"]: r["seen"] for r in out.collect()}
        assert got["a"] == repr(("a", "x", 0))
        assert got["d"] == repr(("d", "z", 2))

    def test_per_clip_value_error_is_a_failure_row(self, spark, clips):
        def per_clip(row, sr, pcm):
            if row[0] == "d":
                raise ValueError("too long")
            return (sr,)

        schema = _schema(T.StructField("error", T.StringType()),
                         T.StructField("sr", T.IntegerType()))
        got = {r["clip_id"]: tuple(r)[1:]
               for r in _map_clips(clips, per_clip, schema).collect()}
        assert got["a"] == (True, None, 8000)
        assert got["d"] == (False, "too long", None)

    def test_failure_rows_keep_carried_fields(self, spark, clips):
        # a carried name inside out_schema is filled in place, cast to
        # the declared type, on ok rows and failure rows alike
        schema = _schema(T.StructField("part_id", T.LongType()),
                         T.StructField("n", T.LongType()))
        out = _map_clips(clips, lambda row, sr, pcm: (len(pcm),), schema,
                         carry=["part_id"])
        assert out.schema["part_id"].dataType == T.LongType()
        assert _rows(out) == [("a", True, 0, 800), ("b", False, 1, None),
                              ("c", False, 1, None), ("d", True, 2, 2000)]

    def test_several_rows_per_clip_repeat_carried_columns(self, spark,
                                                         clips):
        # 400-sample chunks: a → 2 rows, d → 5 rows; a clip returning
        # [] emits no row, a failure emits exactly one
        def per_clip(row, sr, pcm):
            return [(k,) for k in range(len(pcm) // 400)] \
                if row[0] != "a" else []

        schema = _schema(T.StructField("k", T.LongType()))
        out = _map_clips(clips, per_clip, schema,
                         carry=["tag", "tag", "clip_id", "bytes"])
        assert out.columns == ["clip_id", "ok", "k", "tag"]
        assert _rows(out) == sorted(
            [("d", True, k, "z") for k in range(5)]
            + [("b", False, None, "y"), ("c", False, None, None)], key=repr)

    def test_one_to_one_carry_appends_once_in_first_seen_order(
            self, spark, clips):
        out = _map_clips(clips, lambda row, sr, pcm: (), _schema(),
                         carry=["part_id", "tag", "part_id"])
        assert out.columns == ["clip_id", "ok", "part_id", "tag"]
        assert out.schema["part_id"].dataType == T.IntegerType()
        assert _rows(out) == [("a", True, 0, "x"), ("b", False, 1, "y"),
                              ("c", False, 1, None), ("d", True, 2, "z")]

    def test_partition_column(self, spark, clips):
        # the kernel has no partition logic: a caller puts partition_id
        # into the input and carries it like any other column, cast to
        # the out_schema type when the schema names it
        shard = clips.withColumnRenamed("part_id", "shard")
        out = _map_clips(
            shard.withColumn("partition_id", F.col("shard").cast("string")),
            lambda row, sr, pcm: (), _schema(), carry=["partition_id"])
        assert out.columns == ["clip_id", "ok", "partition_id"]
        assert {r["clip_id"]: r["partition_id"] for r in out.collect()} \
            == {"a": "0", "b": "1", "c": "1", "d": "2"}
        schema = _schema(T.StructField("n", T.LongType()),
                         T.StructField("partition_id", T.StringType()))
        out = _map_clips(clips.withColumn("partition_id", F.col("part_id")),
                         lambda row, sr, pcm: (len(pcm),), schema,
                         carry=["partition_id"])
        assert out.columns == ["clip_id", "ok", "n", "partition_id"]
        assert out.schema["partition_id"].dataType == T.StringType()
        assert _rows(out) == [("a", True, 800, "0"), ("b", False, None, "1"),
                              ("c", False, None, "1"),
                              ("d", True, 2000, "2")]
        # nothing carried: no partition_id field
        assert _map_clips(clips, lambda row, sr, pcm: (), _schema()) \
            .columns == ["clip_id", "ok"]

    def test_partition_id_in_schema_without_partition_column(self, spark,
                                                             clips):
        # a schema naming partition_id that no input carries gets no
        # special case: per_clip computes it like any other field
        schema = _schema(T.StructField("n", T.LongType()),
                         T.StructField("partition_id", T.StringType()))
        out = _map_clips(clips, lambda row, sr, pcm: (len(pcm), "p"), schema)
        assert out.columns == ["clip_id", "ok", "n", "partition_id"]
        assert _rows(out) == [("a", True, 800, "p"), ("b", False, None, None),
                              ("c", False, None, None),
                              ("d", True, 2000, "p")]

    def test_large_var_types(self, spark, clips):
        # with 64-bit Arrow offsets on the wire the payload views must
        # still slice each clip exactly
        conf = "spark.sql.execution.arrow.useLargeVarTypes"
        schema = _schema(T.StructField("n", T.LongType()))
        spark.conf.set(conf, "true")
        try:
            got = {r["clip_id"]: r["n"] for r in _map_clips(
                clips, lambda row, sr, pcm: (len(pcm),), schema,
                carry=["tag"]).collect()}
        finally:
            spark.conf.unset(conf)
        assert got == {"a": 800, "b": None, "c": None, "d": 2000}

    def test_zero_rows(self, spark, clips):
        schema = _schema(T.StructField("n", T.LongType()))
        out = _map_clips(clips.filter(F.lit(False)),
                         lambda row, sr, pcm: [(len(pcm),)], schema,
                         carry=["tag", "part_id"])
        assert out.columns == ["clip_id", "ok", "n", "tag", "part_id"]
        assert out.collect() == []


# every operator built on the kernel, as a function of a parquet source
OPERATORS = {
    "decode_info": A.decode_info,
    "audio_features": A.audio_features,
    "transcript_rate": lambda df: Engine(df.sparkSession).compile(
        df, [A.TranscriptRateRule()]),
    "spectral_signatures": A.spectral_signatures,
    "spectral_embeddings": A.spectral_embeddings,
    "audio_analysis": A.audio_analysis,
    "audio_transcript_conflicts": A.audio_transcript_conflicts,
    "segment_bytes": A.segment_bytes,
    "trim_silence": A.trim_silence,
    "normalize_loudness": A.normalize_loudness,
    "resample_audio": A.resample_audio,
    "augment_speed": A.augment_speed,
    "prepare_training_audio": A.prepare_training_audio,
    "augment_noise": A.augment_noise,
    "fbank_features": A.fbank_features,
    "feature_pipeline": lambda df: A.feature_pipeline(df, augment=True),
    "vad_segments": A.vad_segments,
    "vad_stats": A.vad_stats,
    "remove_silence": A.remove_silence,
    "dataset_card": A.dataset_card,
    "speech_ratio": lambda df: Engine(df.sparkSession).compile(
        df, [A.SpeechRatioRule()]),
    "extract_clip_features": extract_clip_features,
}


@pytest.fixture(scope="module")
def parquet_clips(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("kernel") / "clips")
    FX.audio_clips_df(spark, 40, parts=2).write.parquet(src)
    return spark.read.parquet(src)


def _plans_one_arrow_stage(frame):
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_plans_one_arrow_stage(spark, parquet_clips, name):
    _plans_one_arrow_stage(OPERATORS[name](parquet_clips))


# the image, video and stub operators, as functions of parquet image
# and video fixture tables
IMAGE_OPERATORS = {
    "decode_images": lambda df: decode_images(df, "bytes", "image_id"),
    "image_features": lambda df: image_features(df, "bytes", "image_id"),
    "validate_image_table": lambda df: validate_image_table(df).violations,
    "decode_stub": lambda df: decode_stub(
        df.select(F.xxhash64("image_id").alias("id"), "bytes"), "bytes",
        fake=True),
}
VIDEO_OPERATORS = {
    "video_frame_features": lambda df: video_frame_features(
        df, "bytes", "video_id", every_nth=2),
    "validate_video_table": lambda df: validate_video_table(df).violations,
}


def _parquet(tmp_path_factory, frame, name):
    src = str(tmp_path_factory.mktemp("kernel") / name)
    frame.write.parquet(src)
    return frame.sparkSession.read.parquet(src)


@pytest.fixture(scope="module")
def parquet_images(spark, tmp_path_factory):
    return _parquet(tmp_path_factory, FX.image_table_df(spark, 40, parts=2),
                    "images")


@pytest.fixture(scope="module")
def parquet_videos(spark, tmp_path_factory):
    return _parquet(tmp_path_factory, FX.video_table_df(spark, 20, parts=2),
                    "videos")


@pytest.mark.parametrize("name", sorted(IMAGE_OPERATORS))
def test_image_operator_plans_one_arrow_stage(spark, parquet_images, name):
    _plans_one_arrow_stage(IMAGE_OPERATORS[name](parquet_images))


@pytest.mark.parametrize("name", sorted(VIDEO_OPERATORS))
def test_video_operator_plans_one_arrow_stage(spark, parquet_videos, name):
    _plans_one_arrow_stage(VIDEO_OPERATORS[name](parquet_videos))


# ---------------------------------------------------------------------------
# row equality of the image, video and stub operators over one mixed
# table, against the codecs applied clip by clip in this process
# ---------------------------------------------------------------------------

_IMG = FX.synth_image_array(3)
_MIXED_PAYLOADS = [
    encode_ppm(_IMG), encode_bmp(_IMG), encode_ppm(FX.synth_image_array(8)),
    FX.synth_video_bytes(2), FX.synth_video_bytes(5), None,
    b"BM\x00trunc", b"YUV4MPEG2 W0", b"",
]


def _mixed_frame(spark, id_type):
    # long ids beyond 2^53 and string ids, one of them null: all must
    # come back unchanged (a pandas round trip turns a long column with
    # a null into float64 and merges neighbouring ids)
    ids = ([(1 << 62) + k for k in range(len(_MIXED_PAYLOADS))]
           if id_type == "long"
           else [f"item-{k}" for k in range(len(_MIXED_PAYLOADS))])
    ids[-1] = None
    return spark.createDataFrame(
        list(zip(ids, _MIXED_PAYLOADS)),
        f"item {id_type}, payload binary"), ids


@pytest.fixture(scope="module", params=["long", "string"])
def mixed(spark, request):
    return _mixed_frame(spark, request.param)


def _image_rows(ids, per_image, n_null):
    rows = []
    for rid, buf in zip(ids, _MIXED_PAYLOADS):
        try:
            codec, arr = decode_image_bytes(buf)
            rows.append((rid, True, codec, arr.shape[1], arr.shape[0],
                         *per_image(arr, buf)))
        except ValueError:
            rows.append((rid, False) + (None,) * (3 + n_null))
    return rows


def _sorted(rows):
    return sorted(map(tuple, rows), key=repr)


def test_decode_images_rows(spark, mixed):
    df, ids = mixed
    out = decode_images(df, "payload", "item")
    assert out.columns == ["id", "ok", "codec", "width", "height",
                           "payload_sha256"]
    assert out.schema["id"].dataType == df.schema["item"].dataType
    assert _sorted(out.collect()) == _sorted(_image_rows(
        ids, lambda arr, buf: (hashlib.sha256(buf).hexdigest(),), 1))


def test_image_features_rows(spark, mixed):
    df, ids = mixed
    out = image_features(df, "payload", "item")
    assert out.columns == ["id", "ok", "codec", "width", "height", "mean_r",
                           "mean_g", "mean_b", "dhash"]

    def feats(arr, buf):
        return (*map(float, arr.reshape(-1, 3).mean(axis=0)), dhash64(arr))

    expected = _image_rows(ids, feats, 4)
    # a 64-bit dhash beyond float precision must come back exact
    assert any(r[-1] is not None and abs(r[-1]) > 1 << 53 for r in expected)
    assert _sorted(out.collect()) == _sorted(expected)


@pytest.mark.parametrize("every_nth", [0, 1, 2])
def test_video_frame_features_rows(spark, mixed, every_nth):
    df, ids = mixed
    out = video_frame_features(df, "payload", "item", every_nth=every_nth)
    assert out.columns == ["id", "ok", "width", "height",
                           "n_frames_sampled", "frame_mean_luma"]
    expected = []
    for rid, buf in zip(ids, _MIXED_PAYLOADS):
        try:
            if buf is None:
                raise ValueError("null payload")
            w, h = decode_y4m_header(buf)[:2]
            lumas = [float(f[:, :, 0].mean())
                     for _i, f in iter_y4m_frames(buf, every_nth)]
            expected.append((rid, True, w, h, len(lumas), lumas))
        except ValueError:
            expected.append((rid, False, None, None, None, None))
    # every_nth=0 fails every clip, one ok=false row each
    assert any(r[1] for r in expected) == (every_nth > 0)
    assert _sorted(out.collect()) == _sorted(expected)


def test_decode_stub_rows(spark):
    # the stub keys its rows by the caller's id, in the id's own type
    for id_type in ("long", "string"):
        df, ids = _mixed_frame(spark, id_type)
        out = decode_stub(df, "payload", "item", fake=True)
        assert out.columns == ["id", "ok", "width", "height", "n_frames",
                               "payload_sha256"]
        assert out.schema["id"].dataType == df.schema["item"].dataType
        expected = []
        for rid, buf in zip(ids, _MIXED_PAYLOADS):
            if buf is None:
                expected.append((rid, False, None, None, None, None))
                continue
            digest = hashlib.sha256(buf).hexdigest()
            h = int(digest[:8], 16)
            expected.append((rid, True, 64 + h % 1920, 64 + (h >> 8) % 1080,
                             1 + (h >> 16) % 240, digest))
        assert _sorted(out.collect()) == _sorted(expected)


def test_decode_stub_over_fixture_string_ids(spark):
    # the image and video fixture tables key their rows by string ids
    for df, id_col in ((FX.image_table_df(spark, 12, parts=2), "image_id"),
                       (FX.video_table_df(spark, 6, parts=2), "video_id")):
        out = decode_stub(df, "bytes", id_col, fake=True)
        assert out.schema["id"].dataType == T.StringType()
        got = sorted(r["id"] for r in out.collect())
        assert got == sorted(r[id_col] for r in df.select(id_col).collect())
