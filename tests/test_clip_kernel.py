"""The Arrow clip kernel (``audio._map_clips``) behind every audio
payload operator: its per-clip contract, and the plan shape of each
operator built on it."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datatest_spark import audio as A
from datatest_spark import fixtures as FX
from datatest_spark.audio import _map_clips
from datatest_spark.operators.multimodal import extract_clip_features
from datatest_spark.validation import Engine


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
        def parts(df, partition_col):
            out = _map_clips(df, lambda row, sr, pcm: (), _schema(),
                             partition_col=partition_col)
            assert out.columns == ["clip_id", "ok", "partition_id"]
            return {r["clip_id"]: r["partition_id"] for r in out.collect()}

        shard = clips.withColumnRenamed("part_id", "shard")
        assert parts(shard, "shard") == {"a": "0", "b": "1", "c": "1",
                                         "d": "2"}
        # a partition column the frame lacks reads as NULL
        assert parts(clips, "shard") == dict.fromkeys("abcd")
        # no partition column asked for: no partition_id field
        assert _map_clips(clips, lambda row, sr, pcm: (), _schema()) \
            .columns == ["clip_id", "ok"]

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
                         carry=["tag"], partition_col="part_id")
        assert out.columns == ["clip_id", "ok", "n", "tag", "partition_id"]
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


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_plans_one_arrow_stage(spark, parquet_clips, name):
    plan = OPERATORS[name](parquet_clips) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan
