"""One cache lifecycle: every frame a validation compile persists is
freed once its owner is freed or collected.

Each test runs the audio suite's hash path (``audio_rules(manifest=m,
check_snr=True)``), whose consistency rule persists its decode
frame at compile time, and checks that the session's persistent-RDD
count returns to where it started.
"""

import gc

import pytest

from datatest_spark import fixtures as FX
from datatest_spark.caching import unpersist_result
from datatest_spark.plans import run_checkpointed
from datatest_spark.suite import audio_rules, validate_audio_table
from datatest_spark.validation import Engine, quarantine

N = 400


@pytest.fixture(scope="module")
def clips(spark):
    return (FX.audio_clips_df(spark, N, parts=4),
            FX.reference_transcripts_df(spark, N))


def persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_checkpointed_frees_compile_caches(spark, clips, tmp_path):
    df, m = clips
    before = persisted(spark)
    run = run_checkpointed(df, audio_rules(manifest=m, check_snr=True),
                           "part_id", str(tmp_path / "ckpt"))
    assert sorted(run.processed_partitions) == ["0", "1", "2", "3"]
    assert persisted(spark) == before


def test_unpersist_result_frees_a_bare_compile(spark, clips):
    df, m = clips
    before = persisted(spark)
    violations = Engine(spark).compile(
        df, audio_rules(manifest=m, check_snr=True), partition_col="part_id")
    assert persisted(spark) > before  # the decode frame, probed at compile
    assert unpersist_result(violations) == 1
    assert persisted(spark) == before


def test_dropped_result_frees_at_gc(spark, clips):
    df, m = clips
    before = persisted(spark)
    res = validate_audio_table(df, manifest=m, check_snr=True)
    violations = res.violations
    assert violations.count() > 0
    assert persisted(spark) > before
    del res, violations
    gc.collect()
    assert persisted(spark) == before


def test_result_keeps_its_cache_while_violations_are_reachable(spark, clips):
    df, m = clips
    before = persisted(spark)
    violations = validate_audio_table(df, manifest=m,
                                      check_snr=True).violations
    gc.collect()
    assert persisted(spark) > before  # the result object alone was dropped
    unpersist_result(violations)
    assert persisted(spark) == before


def test_freeing_one_result_keeps_a_cache_another_result_shares(spark,
                                                                  clips):
    # Spark keeps ONE cache entry for equal plans: both results over the
    # same table share the decode frame, so freeing the first must not
    # evict it under the second
    df, m = clips
    before = persisted(spark)
    r1 = validate_audio_table(df, manifest=m, check_snr=True)
    r2 = validate_audio_table(df, manifest=m, check_snr=True)
    assert persisted(spark) == before + 1
    r1.unpersist()
    assert persisted(spark) == before + 1
    assert r2.violations.count() > 0
    assert persisted(spark) == before + 1
    r2.unpersist()
    assert persisted(spark) == before


def test_shared_plan_count_survives_concurrent_handles():
    # more threads than cores registering and freeing one plan with a
    # short switch interval: a lost update to the per-plan count would
    # leave it non-zero (a cache never freed) or free it early
    import sys
    import threading

    from datatest_spark import caching

    class Frame:
        freed = 0

        def semanticHash(self):
            return -7

        def unpersist(self, blocking=False):
            Frame.freed += 1

    frame = Frame()
    keeper = caching.CacheHandle([])
    keeper.register(frame)

    def churn():
        for _ in range(500):
            handle = caching.CacheHandle([])
            handle.register(frame)
            handle.unpersist()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert Frame.freed == 0  # the keeper's registration held it
    assert keeper.unpersist() == 1
    assert Frame.freed == 1
    assert -7 not in caching._LIVE


def test_quarantine_unpersist_frees_violations_and_decode_frame(spark, clips):
    df, m = clips
    before = persisted(spark)
    res = quarantine(df, audio_rules(manifest=m, check_snr=True),
                     key="clip_id", partition_col="part_id")
    assert res.clean.count() + res.quarantined.count() == N
    res.unpersist()
    assert persisted(spark) == before


def test_sampled_verdicts_sample_frees_at_gc(spark):
    from datatest_spark import requirements as R
    from datatest_spark.sampling import sampled_verdicts

    df = spark.range(200).selectExpr("id", "id % 50 as v")
    before = persisted(spark)
    out = sampled_verdicts(df, [R.unique("v")], "id", fraction=0.5)
    out.collect()
    assert persisted(spark) > before  # the persisted plan-rule sample
    del out
    gc.collect()
    assert persisted(spark) == before
