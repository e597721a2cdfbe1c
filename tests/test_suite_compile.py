"""One compile path for the audio suite.

``validate_audio_table`` is ``Engine.validate`` over ``audio_rules``:
the suite, a bare engine compile and the violations a checkpointed run
writes are the same rows, on the plain path and on the manifest-hash
path.  A few payloads of the table are replaced by noise-mixed PCM of
the same rate and length, so the hash path's SNR slow path runs too.
"""

import os

import pytest
from pyspark.sql import functions as F

from datatest_spark import fixtures as FX
from datatest_spark.audio import (DECODE_INFO_SCHEMA, encode_wav,
                                  mix_noise_pcm)
from datatest_spark.caching import _HANDLE_ATTR
from datatest_spark.plans import run_checkpointed
from datatest_spark.schema import VIOLATION_COLUMNS, bucket_global
from datatest_spark.suite import audio_rules, validate_audio_table
from datatest_spark.validation import Engine

N = 400
PARTS = 4


def _clean_wav(i):
    """Clip ``i`` is a WAV that decodes to its declared rate, length
    and codec, so a same-shape payload swap trips only the SNR check."""
    p = FX.clip_params(i)
    return (not p.corrupt and p.dup_of is None
            and p.codec == p.true_codec == "pcm_s16le"
            and p.decl_sr == p.true_sr and p.decl_dur_ms == p.true_dur_ms)


#: one noise-mixed clip per partition
NOISY = [next(i for i in range(N) if _clean_wav(i) and i % PARTS == r)
         for r in range(PARTS)]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("suite_compile")
    noisy = {}
    for i in NOISY:
        p = FX.clip_params(i)
        pcm, _ = mix_noise_pcm(FX.synth_pcm(i, p.true_sr, p.true_dur_ms),
                               seed=i, snr_db=10.0)
        noisy[FX.clip_id_for(i)] = encode_wav(p.true_sr, pcm)
    pdf = FX.audio_clips_df(spark, N, parts=PARTS).toPandas()
    pdf["bytes"] = [noisy.get(c, bytes(b))
                    for c, b in zip(pdf["clip_id"], pdf["bytes"])]
    spark.createDataFrame(pdf, FX.AUDIO_SCHEMA).write.parquet(
        str(root / "audio"))
    FX.reference_transcripts_df(spark, N).write.parquet(
        str(root / "manifest"))
    return (spark.read.parquet(str(root / "audio")),
            spark.read.parquet(str(root / "manifest")))


def _rows(violations):
    return sorted((tuple(r) for r in bucket_global(violations)
                   .select(*VIOLATION_COLUMNS).collect()), key=repr)


@pytest.mark.parametrize("check_snr", [False, True], ids=["plain", "hash"])
def test_suite_engine_and_checkpoint_report_the_same_rows(
        spark, tables, tmp_path, check_snr):
    df, m = tables
    results = [
        validate_audio_table(df, manifest=m, check_snr=check_snr),
        Engine(spark).validate(df, audio_rules(m, check_snr=check_snr),
                               partition_col="part_id"),
    ]
    try:
        got = [_rows(res.violations) for res in results]
    finally:
        for res in results:
            res.unpersist()
    ckpt = str(tmp_path / "ckpt")
    run_checkpointed(df, audio_rules(m, check_snr=check_snr), "part_id",
                     ckpt)
    written = spark.read.parquet(os.path.join(ckpt, "violations"))
    got.append(_rows(written.withColumn(
        "partition_id", F.col("partition_id").cast("string"))))
    assert got[0], "the fixture injects violations"
    assert got[0] == got[1] == got[2]
    rule_ids = {r[0] for r in got[0]}
    assert ("audio:snr" in rule_ids) == check_snr


def test_hash_path_persists_only_the_decode_frame(spark, tables):
    df, m = tables
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    res = validate_audio_table(df, manifest=m, check_snr=True)
    try:
        frames = getattr(res.violations, _HANDLE_ATTR)._frames
        assert len(frames) == 1
        assert set(frames[0].columns) == set(DECODE_INFO_SCHEMA.fieldNames())
        assert jsc.getPersistentRDDs().size() == before + 1
    finally:
        res.unpersist()
    assert jsc.getPersistentRDDs().size() == before


def test_snr_slow_path_flags_noise_mixed_payloads(tables):
    df, m = tables
    res = validate_audio_table(df, manifest=m, check_snr=True)
    try:
        snr = sorted(
            (r["key"], r["partition_id"]) for r in
            res.violations.filter(F.col("rule_id") == "audio:snr").collect())
        plan = res.violations._jdf.queryExecution().optimizedPlan().toString()
    finally:
        res.unpersist()
    assert snr == sorted((FX.clip_id_for(i), str(i % PARTS)) for i in NOISY)
    # the slow path's semi-join carries no forced broadcast: AQE picks
    # the join strategy from the mismatch set's runtime size
    semi = [line for line in plan.splitlines() if "LeftSemi" in line]
    assert semi
    assert not any("broadcast" in line.lower() for line in semi)
