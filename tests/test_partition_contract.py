"""The partition-column contract: every rule attributes its violation
rows to the ``partition_id`` its ``ValidationContext`` resolves.

* a named partition column → each row carries that column's value (a
  row the rule can attribute) or NULL (an aggregate no single partition
  owns);
* no column named → NULL, except the audio-table rules, which fall back
  to the table's ``part_id`` when it has one;
* a named column the table lacks → ``ValueError`` before any rule
  compiles, from every rule alike;
* the audio, image and video suites name ``part_id`` for the whole
  compile when no column is named and the table has it, and raise like
  the rules for a named column the table lacks.
"""

from collections import Counter

import pytest

from datatest_spark import fixtures as FX
from datatest_spark import requirements as R
from datatest_spark.audio import (AudioConsistencyRule, SpeechRatioRule,
                                  TranscriptRateRule)
from datatest_spark.caching import unpersist_result
from datatest_spark.operators.asr import TranscriptFidelityRule
from datatest_spark.operators.image import ImageConsistencyRule
from datatest_spark.operators.video import VideoConsistencyRule
from datatest_spark.plans.checkpoint import run_checkpointed
from datatest_spark.stats import partitioned_profile
from datatest_spark.suite import (validate_audio_table, validate_image_table,
                                  validate_video_table)
from datatest_spark.validation import Engine

N = 600


def _parquet(tmp_path_factory, frame, name):
    src = str(tmp_path_factory.mktemp("contract") / name)
    frame.write.parquet(src)
    return frame.sparkSession.read.parquet(src)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    return {
        "audio": _parquet(tmp_path_factory,
                          FX.audio_clips_df(spark, N, parts=4), "audio"),
        "image": _parquet(tmp_path_factory,
                          FX.image_table_df(spark, 120, parts=3), "image"),
        "video": _parquet(tmp_path_factory,
                          FX.video_table_df(spark, 40, parts=4), "video"),
    }


@pytest.fixture(scope="module")
def manifest(spark, tmp_path_factory):
    return _parquet(tmp_path_factory, FX.reference_transcripts_df(spark, N),
                    "manifest")


# name → (table, id column, rule factory over the manifest, compile key,
# whether no named column falls back to part_id, whether the rule
# attributes rows to a partition at all)
CASES = {
    "fused_row_rule": (
        "audio", "clip_id",
        lambda m: R.regex("codec", r"^(pcm_s16le|flac|opus)$",
                          rule_id="regex:codec"),
        "clip_id", False, True),
    "ref_match": (
        "audio", "clip_id",
        lambda m: R.ref_match("transcript", m, on="clip_id",
                              ref_column="transcript_ref"),
        None, False, True),
    "unique": (
        "audio", "clip_id", lambda m: R.unique("sr_hz"), None, False, False),
    "audio_consistency_hash_path": (
        "audio", "clip_id",
        lambda m: AudioConsistencyRule(check_snr=True, pcm_manifest=m),
        None, True, True),
    "audio_consistency_plain_path": (
        "audio", "clip_id", lambda m: AudioConsistencyRule(),
        None, True, True),
    "transcript_rate": (
        "audio", "clip_id", lambda m: TranscriptRateRule(max_wps=0.01),
        None, True, True),
    "speech_ratio": (
        "audio", "clip_id", lambda m: SpeechRatioRule(min_ratio=1.01),
        None, True, True),
    "transcript_fidelity": (
        "audio", "clip_id", lambda m: TranscriptFidelityRule(m),
        None, True, True),
    "image_consistency": (
        "image", "image_id", lambda m: ImageConsistencyRule(),
        None, False, True),
    "video_consistency": (
        "video", "video_id", lambda m: VideoConsistencyRule(),
        None, False, True),
}


def _violations(df, case, manifest, partition_col):
    _, _, make, key, _, _ = case
    frame = Engine(df.sparkSession).compile(
        df, [make(manifest)], key=key, partition_col=partition_col)
    try:
        rows = frame.select("key", "partition_id").collect()
    finally:
        unpersist_result(frame)
    assert rows, "the case must emit violations to check"
    return rows


def _parts(df, id_col, part_col):
    return {r[0]: str(r[1]) for r in df.select(id_col, part_col).collect()}


@pytest.mark.parametrize("name", sorted(CASES))
def test_named_column_attributes_each_row(tables, manifest, name):
    case = CASES[name]
    df = tables[case[0]].withColumnRenamed("part_id", "shard")
    parts = _parts(df, case[1], "shard")
    for key, part in _violations(df, case, manifest, "shard"):
        assert part == (parts[key] if case[5] else None), (key, part)


@pytest.mark.parametrize("name", sorted(CASES))
def test_no_named_column(tables, manifest, name):
    case = CASES[name]
    df = tables[case[0]]
    parts = _parts(df, case[1], "part_id")
    for key, part in _violations(df, case, manifest, None):
        assert part == (parts[key] if case[4] else None), (key, part)


@pytest.mark.parametrize("name", sorted(n for n in CASES if CASES[n][4]))
def test_audio_fallback_needs_part_id(tables, manifest, name):
    # without a part_id column the audio-table rules' fallback is NULL
    case = CASES[name]
    df = tables[case[0]].withColumnRenamed("part_id", "shard")
    assert {part for _, part in _violations(df, case, manifest, None)} \
        == {None}


@pytest.mark.parametrize("name", sorted(CASES))
def test_named_missing_column_raises(spark, tables, manifest, name):
    case = CASES[name]
    with pytest.raises(ValueError, match="'shard'.*columns"):
        Engine(spark).compile(tables[case[0]], [case[2](manifest)],
                              key=case[3], partition_col="shard")


def test_checkpoint_and_profile_raise_on_a_missing_column(tables, tmp_path):
    df = tables["audio"]
    with pytest.raises(ValueError, match="'shard'"):
        run_checkpointed(df, [R.unique("clip_id")], "shard",
                         str(tmp_path / "ckpt"))
    assert not (tmp_path / "ckpt").exists()
    with pytest.raises(ValueError, match="'shard'"):
        partitioned_profile(df, ["sr_hz"], partition_col="shard")


SUITES = {
    "audio": lambda df, m, **kw: validate_audio_table(df, manifest=m, **kw),
    "image": lambda df, m, **kw: validate_image_table(df, **kw),
    "video": lambda df, m, **kw: validate_video_table(df, **kw),
}


@pytest.mark.parametrize("table", sorted(SUITES))
def test_suite_raises_on_a_missing_named_column(tables, manifest, table):
    with pytest.raises(ValueError, match="'shrd'.*columns"):
        SUITES[table](tables[table], manifest, partition_col="shrd")


def test_suite_default_attributes_every_rule_to_part_id(tables, manifest):
    # no column named: the suite names part_id for the whole compile,
    # so the fused row rules attribute like the audio-table rules
    df = tables["audio"]
    res = validate_audio_table(df, manifest=manifest,
                               extra_rules=[SpeechRatioRule(min_ratio=1.01)])
    try:
        rows = res.violations.select("rule_id", "key",
                                     "partition_id").collect()
    finally:
        res.unpersist()
    parts = _parts(df, "clip_id", "part_id")
    aggregate = {"unique:clip_id", "subset:codec"}
    assert {r["rule_id"] for r in rows} >= aggregate | {
        "interval:dur_ms", "audio:decodable", "ref_match:transcript",
        "speech_ratio:ratio"}
    for rule_id, key, part in rows:
        if rule_id in aggregate:
            assert part is None, (rule_id, key)
        elif key is not None:
            assert part == parts[key], (rule_id, key, part)
    out_of_range = df.filter("dur_ms < 1 or dur_ms > 120000")
    assert Counter(part for rule_id, _, part in rows
                   if rule_id == "interval:dur_ms") \
        == Counter(str(r[0]) for r in out_of_range.select("part_id")
                   .collect())
