"""Audio fixture + decode + constraint-suite tests (FIXTURES.md F1/F2)."""

import numpy as np
import pytest

from datatest_spark import fixtures as FX
from datatest_spark.audio import (
    AudioConsistencyRule,
    decode_bytes,
    decode_info,
    pcm_snr_db,
)
from datatest_spark.suite import audio_rules, validate_audio_table, verdicts
from datatest_spark.validation import Engine

N = 3000  # covers every injection period (≥2000)


@pytest.fixture(scope="module")
def audio_df(spark):
    df = FX.audio_clips_df(spark, N, parts=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def manifest_df(spark):
    return FX.reference_transcripts_df(spark, N).cache()


class TestSynthDeterminism:
    def test_same_index_same_bytes(self):
        assert FX.synth_clip_bytes(42) == FX.synth_clip_bytes(42)
        assert FX.synth_clip_bytes(42) != FX.synth_clip_bytes(43)

    def test_roundtrip_wav(self):
        p = FX.clip_params(5)
        pcm = FX.synth_pcm(5, p.true_sr, p.true_dur_ms)
        codec, sr, decoded = decode_bytes(FX.make_wav(p.true_sr, pcm))
        assert codec == "pcm_s16le"
        assert sr == p.true_sr
        assert np.array_equal(decoded, pcm)

    def test_roundtrip_flac_opus(self):
        pcm = FX.synth_pcm(9, 16000, 500)
        for maker, name in [(FX.make_flac, "flac"), (FX.make_opus, "opus")]:
            codec, sr, decoded = decode_bytes(maker(16000, pcm))
            assert codec == name and sr == 16000
            assert np.array_equal(decoded, pcm)

    def test_corrupt_raises(self):
        with pytest.raises(ValueError):
            decode_bytes(b"XXXXnotaudio")
        with pytest.raises(ValueError):
            decode_bytes(FX.make_wav(8000, FX.synth_pcm(1, 8000, 300))[:20])

    def test_snr_identical_is_inf(self):
        pcm = FX.synth_pcm(3, 8000, 300)
        assert pcm_snr_db(pcm, pcm) == float("inf")

    def test_snr_noisy(self):
        pcm = FX.synth_pcm(3, 8000, 300)
        noisy = pcm + np.round(
            np.sin(np.arange(len(pcm))) * 100
        ).astype("<i2")
        snr = pcm_snr_db(noisy, pcm)
        assert 20 < snr < 60


class TestDecodeInfo:
    def test_decode_pass_counts(self, spark, audio_df):
        info = decode_info(audio_df).cache()
        total = info.count()
        assert total == N
        bad = info.filter("not ok").count()
        # corrupt rate 1/500
        assert bad == len([i for i in range(N) if i % 500 == 11])
        info.unpersist()

    def test_sr_mismatch_detection(self, spark, audio_df):
        info = decode_info(audio_df)
        mism = info.filter("ok and dec_sr_hz != sr_hz").count()
        expected = len(
            [i for i in range(N) if i % 200 == 13 and i % 500 != 11]
        )
        assert mism == expected


class TestAudioSuite:
    def test_full_suite_violation_counts(self, spark, audio_df, manifest_df):
        res = validate_audio_table(audio_df, manifest=manifest_df)
        v = res.violations.cache()
        by_rule = {
            r["rule_id"]: r["count"]
            for r in v.groupBy("rule_id").count().collect()
        }
        v.unpersist()

        # closed-form expectations from the injection rules
        n_dup = len([i for i in range(N) if i % 1000 == 7 and i > 0])
        n_corrupt = len([i for i in range(N) if i % 500 == 11])
        n_bad_codec = len([i for i in range(N) if i % 333 == 19])

        assert by_rule.get("unique:clip_id", 0) == n_dup
        assert by_rule.get("audio:decodable", 0) == n_corrupt
        # invalid codec values: distinct bad values ("mp3 ", "") → ≤2 extras
        assert 1 <= by_rule.get("subset:codec", 0) <= 2
        assert n_bad_codec > 0  # injection actually happened

        # sr mismatches (excluding corrupt rows which fail decode instead)
        n_sr = len([i for i in range(N) if i % 200 == 13 and i % 500 != 11])
        assert by_rule.get("audio:sr_hz", 0) == n_sr

        # dur mismatches: declared +500ms > 50ms tolerance
        n_dur = len(
            [i for i in range(N) if (i % 200 == 17 or i % 2000 == 21) and i % 500 != 11]
        )
        assert by_rule.get("audio:dur_ms", 0) == n_dur

        # transcript mismatches vs manifest: ~1% differing + ~0.5% null
        # (duplicate rows carry the original's transcript → they match)
        n_tr = len([i for i in range(N) if i % 100 == 23 or i % 200 == 29])
        assert by_rule.get("ref_match:transcript", 0) == n_tr

    def test_snr_rule_on_clean_subset(self, spark):
        # clean clips decode to exactly the synthesized PCM → SNR = inf
        df = FX.audio_clips_df(spark, 200, parts=2).filter(
            "clip_id >= 'clip-000000000000'"
        )
        engine = Engine(spark)
        res = engine.validate(
            df, [AudioConsistencyRule(check_snr=True)], partition_col="part_id"
        )
        snr_viol = res.violations.filter("rule_id = 'audio:snr'").count()
        assert snr_viol == 0

    def test_custom_partition_col_attributes_like_part_id(
            self, spark, audio_df, manifest_df):
        # the hash path, the rate rule and the speech-ratio rule read
        # the caller's partition column: renaming part_id to shard must
        # leave every per-(rule, partition) count unchanged
        from datatest_spark.audio import speech_ratio, transcript_rate

        def counts(df, **kw):
            res = validate_audio_table(
                df, manifest=manifest_df, check_snr=True,
                extra_rules=[transcript_rate(),
                             speech_ratio(min_ratio=1.01)], **kw)
            got = {(r["rule_id"], r["partition_id"]): r["count"]
                   for r in res.violations
                   .groupBy("rule_id", "partition_id").count().collect()}
            res.unpersist()
            return got

        base = counts(audio_df)
        assert base[("speech_ratio:ratio", "0")] > 0
        assert base[("transcript_rate:wps", "0")] > 0
        assert base[("audio:sr_hz", "1")] > 0  # from the decode frame
        assert counts(audio_df.withColumnRenamed("part_id", "shard"),
                      partition_col="shard") == base

    def test_consistency_rule_reused_on_a_second_table(self, spark,
                                                       manifest_df):
        # one hash-path rule validated against two tables reports each
        # table's own violations (its decode frame is per compile)
        rule = AudioConsistencyRule(check_snr=True, pcm_manifest=manifest_df)
        engine = Engine(spark)
        for lo, hi in ((0, 600), (600, 1200)):
            df = FX.audio_clips_df(spark, hi, parts=2).filter(
                f"clip_id >= '{FX.clip_id_for(lo)}'")
            fresh = AudioConsistencyRule(check_snr=True,
                                         pcm_manifest=manifest_df)
            got, want = (engine.validate(df, [r]) for r in (rule, fresh))
            keys = [sorted((v["rule_id"], v["key"])
                           for v in res.violations.collect())
                    for res in (got, want)]
            got.unpersist()
            want.unpersist()
            assert keys[0] == keys[1]
            corrupt = next(i for i in range(lo, hi) if i % 500 == 11)
            assert ("audio:decodable", FX.clip_id_for(corrupt)) in keys[0]

    def test_verdicts_shape(self, spark, audio_df, manifest_df):
        res = validate_audio_table(audio_df, manifest=manifest_df)
        vd = verdicts(res.violations)
        rows = vd.collect()
        assert {r["partition_id"] for r in rows} <= {"0", "1", "2", "3", "__global__"}
        assert all(r["n_violations"] > 0 for r in rows)


class TestAudioFeatures:
    """audio_features: per-clip quality signals in one decode pass."""

    def test_matches_local_recompute(self, spark):
        from datatest_spark.audio import audio_features, pcm_features

        df = FX.audio_clips_df(spark, 300, parts=2)
        rows = audio_features(df).collect()
        assert len(rows) == 300
        got = {r["clip_id"]: r for r in rows}
        # i=7 duplicates i=6 (same clip_id, identical bytes) → 299 ids
        assert len(got) == 299
        for i in (0, 1, 17, 123, 250):
            cid = FX.clip_id_for(i)
            src = FX.clip_params(i)
            src_i = src.dup_of if src.dup_of is not None else i
            _, sr, pcm = decode_bytes(FX.synth_clip_bytes(src_i))
            exp = pcm_features(sr, pcm)
            row = got[cid]
            assert row["ok"] is True and row["dec_sr_hz"] == sr
            assert (row["n_samples"], row["peak_abs"]) == exp[:2]
            assert row["clipping_ratio"] == exp[2]
            assert row["silence_ratio"] == exp[3]
            assert row["zero_crossings"] == exp[4]
            assert row["zcr"] == exp[5]
            assert row["rms_dbfs"] == exp[6]
            assert row["centroid_hz"] == exp[7]

    def test_feature_drift_composition(self, spark):
        """audio_features → DriftRule.from_histogram: a drifted
        baseline fires, the true-distribution baseline passes —
        distribution-drift checks over decoded audio, end-to-end."""
        from datatest_spark.audio import audio_features
        from datatest_spark.stats import DriftJSRule, DriftPSIRule
        from datatest_spark.validation import Engine

        feats = audio_features(FX.audio_clips_df(spark, 300, parts=2))
        feats = feats.persist()
        try:
            edges = [500.0, 750.0, 1000.0, 1500.0]
            eng = Engine(spark)
            fired = eng.validate(feats, [DriftPSIRule.from_histogram(
                "centroid_hz", edges, [10, 10, 10, 100, 200],
                threshold=0.25)]).violations.collect()
            assert len(fired) == 1
            assert fired[0]["column"] == "centroid_hz"
            assert fired[0]["diff_type"] == "DEVIATION"
            # true histogram of this 300-clip slice → JS ≈ 0
            counts = [0] * 5
            for r in feats.select("centroid_hz").collect():
                v = r[0]
                if v is not None:
                    counts[sum(v > e for e in edges)] += 1
            assert Engine(spark).validate(feats, [DriftJSRule.from_histogram(
                "centroid_hz", edges, counts, threshold=0.02)]).ok
        finally:
            feats.unpersist()

    def test_audio_analysis_matches_single_ops(self, spark):
        """audio_analysis (one decode + one rfft) must be bit-identical
        to audio_features + spectral_signatures + spectral_embeddings
        run separately, including the undecodable rows."""
        from datatest_spark.audio import (audio_analysis, audio_features,
                                          spectral_embeddings,
                                          spectral_signatures)

        df = FX.audio_clips_df(spark, 600, parts=2)
        combined = audio_analysis(df).collect()
        assert len(combined) == 600
        feats = {(r["clip_id"], r["n_samples"]): r
                 for r in audio_features(df).collect()}
        sigs = {r["clip_id"]: r["sig"]
                for r in spectral_signatures(df).collect()}
        embs = {r["clip_id"]: r["embedding"]
                for r in spectral_embeddings(df).collect()}
        n_undecodable = 0
        for r in combined:
            f = feats[(r["clip_id"], r["n_samples"])]
            for c in ("ok", "dec_sr_hz", "peak_abs", "clipping_ratio",
                      "silence_ratio", "zero_crossings", "zcr",
                      "rms_dbfs", "centroid_hz"):
                assert r[c] == f[c], (r["clip_id"], c)
            assert r["sig"] == sigs[r["clip_id"]], r["clip_id"]
            assert r["embedding"] == embs[r["clip_id"]], r["clip_id"]
            n_undecodable += not r["ok"]
        assert n_undecodable > 0  # the corrupt injections went through

    def test_audio_analysis_single_python_stage(self, spark, tmp_path):
        from datatest_spark.audio import audio_analysis

        src = str(tmp_path / "clips")
        FX.audio_clips_df(spark, 50, parts=1).write.parquet(src)
        plan = audio_analysis(spark.read.parquet(src)) \
            ._jdf.queryExecution().executedPlan().toString()
        # one decode stage (the clip kernel plans it as MapInArrow)
        assert plan.count("MapInPandas") + plan.count("MapInArrow") == 1
        assert "Exchange" not in plan
        assert "ReadSchema: struct<clip_id:string,bytes:binary>" in plan

    def test_transcript_conflicts_match_bruteforce(self, spark):
        """audio_transcript_conflicts == a local recompute with the
        same primitives: per-signature distinct-label count over the
        300-clip slice, byte-dup rows counted per row."""
        from datatest_spark.audio import (audio_transcript_conflicts,
                                          spectral_signature)

        n = 300
        df = FX.audio_clips_df(spark, n, parts=2)
        got = {r["sig"]: (r["n_clips"], r["n_labels"], r["sample_id"])
               for r in audio_transcript_conflicts(df).collect()}

        groups = {}
        for i in range(n):
            p = FX.clip_params(i)
            src_i = p.dup_of if p.dup_of is not None else i
            try:
                _, sr, pcm = decode_bytes(FX.synth_clip_bytes(src_i))
            except ValueError:
                continue
            sig = spectral_signature(sr, pcm)
            label = FX.clip_params(src_i).transcript
            g = groups.setdefault(sig, [0, set(), FX.clip_id_for(i)])
            g[0] += 1
            g[1].add(label if label is not None else "\x00")
            g[2] = min(g[2], FX.clip_id_for(i))
        want = {sig: (c, len(labels), cid)
                for sig, (c, labels, cid) in groups.items()
                if len(labels) > 1}
        assert got == want
        assert want  # the slice really contains conflicting groups

    def test_corrupt_clips_flagged_not_raised(self, spark):
        from datatest_spark.audio import audio_features

        # i % 500 == 11 → corrupt payload; 600 rows include i=11, 511
        df = FX.audio_clips_df(spark, 600, parts=2)
        rows = audio_features(df).collect()
        bad = [r for r in rows if not r["ok"]]
        assert {r["clip_id"] for r in bad} == {
            FX.clip_id_for(11), FX.clip_id_for(511)
        }
        assert all(r["n_samples"] is None for r in bad)

    def test_feature_edge_values(self):
        from datatest_spark.audio import pcm_features

        # all-silent buffer: silence_ratio 1, rms None, centroid 0
        n, peak, clip_r, sil_r, zc, zcr, rms, cen = pcm_features(
            16000, np.zeros(1600, dtype="<i2"))
        assert (peak, clip_r, sil_r, zc, zcr, rms, cen) == (
            0, 0.0, 1.0, 0, 0.0, None, 0.0)
        # hard-clipped square wave: clipping_ratio 1, rms ~ 0 dBFS
        sq = np.where(np.arange(1600) % 2 == 0, 32767, -32767).astype("<i2")
        n, peak, clip_r, sil_r, zc, zcr, rms, cen = pcm_features(16000, sq)
        assert peak == 32767 and clip_r == 1.0 and sil_r == 0.0
        assert zc == 1599 and zcr == 1.0
        assert rms == pytest.approx(-0.000265, abs=1e-4)
        # empty buffer
        assert pcm_features(16000, np.zeros(0, dtype="<i2"))[0] == 0

    def test_plan_is_single_pass_no_shuffle(self, spark):
        from datatest_spark.audio import audio_features

        df = FX.audio_clips_df(spark, 100, parts=2)
        base = df._jdf.queryExecution().executedPlan().toString()
        plan = audio_features(df)._jdf.queryExecution().executedPlan().toString()
        # the fixture generator repartitions its range; audio_features
        # itself must add no shuffle on top of it
        assert plan.count("Exchange") == base.count("Exchange")
        assert "BatchEvalPython" not in plan  # Arrow path only


class TestAudioNeardup:
    """Spectral fingerprint + Hamming LSH content-level near-dup."""

    def test_signature_sr_and_duration_invariant(self):
        from datatest_spark.audio import spectral_signature

        # the same tone rendered at different sample rates / durations
        # must land within LSH range (small Hamming distance)
        for i in (5, 42, 321):
            a = spectral_signature(16000, FX.synth_pcm(i, 16000, 900))
            b = spectral_signature(48000, FX.synth_pcm(i, 48000, 1700))
            ham = bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
            assert ham <= 4, f"clip {i}: hamming {ham}"

    def test_pairs_match_bruteforce(self, spark):
        from datatest_spark.audio import (
            audio_neardup_pairs, decode_bytes, spectral_signature)

        n = 200
        df = FX.audio_clips_df(spark, n, parts=2)
        got = {(r["id_a"], r["id_b"], r["hamming"])
               for r in audio_neardup_pairs(df).collect()}

        sig = {}
        for i in range(n):
            cid = FX.clip_id_for(i)
            if cid in sig:
                continue
            try:
                _, sr, pcm = decode_bytes(FX.synth_clip_bytes(i))
            except ValueError:
                continue
            sig[cid] = spectral_signature(sr, pcm) & 0xFFFFFFFFFFFFFFFF
        ids = sorted(sig)
        want = set()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = sig[ids[x]], sig[ids[y]]
                if not any((a >> (16 * k)) & 0xFFFF == (b >> (16 * k)) & 0xFFFF
                           for k in range(4)):
                    continue
                ham = bin(a ^ b).count("1")
                if ham <= 3:
                    want.add((ids[x], ids[y], ham))
        assert got == want and len(want) > 0

    def test_corrupt_batchmate_does_not_corrupt_sigs(self, spark):
        # regression: a None sig in a batch must NOT coerce the column
        # to float64 and shave the low bits off every other signature
        # in the batch (53-bit mantissa < 64-bit signature)
        from datatest_spark.audio import (
            decode_bytes, spectral_signature, spectral_signatures)

        # single partition → the corrupt clip (i=11) shares a batch
        # with every other clip
        df = FX.audio_clips_df(spark, 40, parts=1).coalesce(1)
        got = {r["clip_id"]: r["sig"]
               for r in spectral_signatures(df).filter("ok").collect()}
        for i in (16, 26, 31):  # historically the corrupted ones
            _, sr, pcm = decode_bytes(FX.synth_clip_bytes(i))
            assert got[FX.clip_id_for(i)] == spectral_signature(sr, pcm)


class TestSpectralEmbedding:
    """spectral_embeddings: the audio → ANN-layer bridge."""

    def test_embedding_properties(self):
        from datatest_spark.audio import spectral_embedding

        _, sr, pcm = (None, 16000, FX.synth_pcm(3, 16000, 700))
        v = np.array(spectral_embedding(sr, pcm))
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-4  # unit up to round-6
        # all-zero pcm → zero vector, not NaN
        z = spectral_embedding(16000, np.zeros(800, dtype="<i2"))
        assert z == [0.0] * 64

    def test_same_tone_high_cosine_cross_sr(self):
        from datatest_spark.audio import spectral_embedding

        a = np.array(spectral_embedding(16000, FX.synth_pcm(9, 16000, 900)))
        b = np.array(spectral_embedding(48000, FX.synth_pcm(9, 48000, 1500)))
        c = np.array(spectral_embedding(16000, FX.synth_pcm(77, 16000, 900)))
        assert float(a @ b) > 0.98          # same tone, different sr/dur
        assert float(a @ c) < float(a @ b)  # different tone ranks lower

    def test_knn_join_on_audio(self, spark):
        from datatest_spark.audio import spectral_embeddings
        from datatest_spark.operators import knn_join

        emb = spectral_embeddings(
            FX.audio_clips_df(spark, 120, parts=2)
        ).filter("ok").dropDuplicates(["clip_id"])
        queries = emb.filter("clip_id < 'clip-000000000002'")
        res = knn_join(emb, queries, k=3, column="embedding",
                       id_col="clip_id").collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == {"clip-000000000000", "clip-000000000001"}
        for qid, rows in by_q.items():
            assert len(rows) == 3
            # self-match present at cosine 1.0
            assert any(r["neighbor_id"] == qid and r["cosine"] == 1.0
                       for r in rows)


class TestTranscriptRate:
    """Cross-modal words/sec rule (TranscriptRateRule)."""

    def test_decoded_counts_match_closed_form(self, spark):
        from datatest_spark.audio import TranscriptRateRule

        N2 = 1000
        df = FX.audio_clips_df(spark, N2, parts=2)
        viols = Engine(spark).compile(
            df, [TranscriptRateRule(min_wps=1.0, max_wps=8.0)]
        ).collect()
        by_rule = {}
        for r in viols:
            by_rule.setdefault(r["rule_id"], []).append(r)

        # empty transcripts: i%200==29 (never coincides with dup i%1000==7)
        n_empty = len([i for i in range(N2) if i % 200 == 29])
        assert len(by_rule.get("transcript_rate:empty", [])) == n_empty

        # wps deviations: recompute from fixture + engine decode
        expected_wps = 0
        for i in range(N2):
            p = FX.clip_params(i)
            src = FX.clip_params(p.dup_of) if p.dup_of is not None else p
            src_i = p.dup_of if p.dup_of is not None else i
            t = src.transcript
            if t is None or (i % 500 == 11):  # empty or corrupt
                continue
            _, sr, pcm = decode_bytes(FX.synth_clip_bytes(src_i))
            dur_s = round(1000.0 * len(pcm) / sr) / 1000.0
            wps = round(len(t.split()) / dur_s, 6)
            if wps > 8.0 or wps < 1.0:
                expected_wps += 1
        assert len(by_rule.get("transcript_rate:wps", [])) == expected_wps
        assert expected_wps > 0
        row = by_rule["transcript_rate:wps"][0]
        assert row["diff_type"] == "DEVIATION"
        assert row["column"] == "transcript"
        assert row["deviation"] is not None

    def test_declared_mode_is_pure_jvm(self, spark):
        from datatest_spark.audio import TranscriptRateRule

        df = FX.audio_clips_df(spark, 200, parts=2)
        plan_df = Engine(spark).compile(
            df, [TranscriptRateRule(use_decoded=False)])
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        # the fixture generator itself is one Arrow stage; the rule in
        # declared mode must add NO second Python stage
        base = df._jdf.queryExecution().executedPlan().toString()
        for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert plan.count(marker) <= 2 * base.count(marker), marker
        assert plan_df.filter("rule_id = 'transcript_rate:wps'").count() > 0


class TestSuiteExtraRules:
    def test_transcript_rate_inside_suite(self, spark):
        from datatest_spark.audio import TranscriptRateRule

        df = FX.audio_clips_df(spark, 400, parts=2)
        res = validate_audio_table(
            df,
            extra_rules=[TranscriptRateRule(use_decoded=False)],
        )
        by_rule = {r["rule_id"] for r in
                   res.violations.select("rule_id").distinct().collect()}
        assert "transcript_rate:wps" in by_rule
        assert "unique:clip_id" in by_rule  # base suite still present


class TestAudioDedupGroups:
    def test_groups_match_bruteforce(self, spark):
        from datatest_spark.audio import (
            audio_dedup_groups, decode_bytes, spectral_signature)

        n = 300
        df = FX.audio_clips_df(spark, n, parts=2)
        got = {(r["sig"], r["dup_count"], r["keep_id"])
               for r in audio_dedup_groups(df).collect()}

        groups = {}
        for i in range(n):
            p = FX.clip_params(i)
            src_i = p.dup_of if p.dup_of is not None else i
            try:
                _, sr, pcm = decode_bytes(FX.synth_clip_bytes(src_i))
            except ValueError:
                continue
            s = spectral_signature(sr, pcm)
            cnt, keep = groups.get(s, (0, None))
            cid = FX.clip_id_for(i)
            groups[s] = (cnt + 1,
                         cid if keep is None or cid < keep else keep)
        want = {(s, c, k) for s, (c, k) in groups.items() if c > 1}
        assert got == want and len(want) > 0
        # the injected byte-dup pair (i=7 dups 6) must be in a group
        dup_sigs = [s for s, (c, k) in groups.items()
                    if k == FX.clip_id_for(6)]
        assert any((s, c, k) in got for s, (c, k) in
                   ((ds, groups[ds]) for ds in dup_sigs))


class TestSegmentation:
    """Training-window segmentation: JVM-only grid planning plus the
    Arrow-batched decode/slice/re-encode materializer."""

    def test_segment_plan_grid(self, spark):
        from datatest_spark.audio import segment_plan

        df = spark.createDataFrame(
            [("a", 12345), ("b", 4000), ("c", 0), ("d", -5)],
            "clip_id string, dur_ms long",
        )
        rows = sorted(
            (r.clip_id, r.chunk_idx, r.start_ms, r.chunk_ms)
            for r in segment_plan(df, window_ms=5000, hop_ms=5000).collect()
        )
        assert rows == [
            ("a", 0, 0, 5000), ("a", 1, 5000, 5000), ("a", 2, 10000, 2345),
            ("b", 0, 0, 4000),
        ]

    def test_segment_plan_overlap_min_and_cap(self, spark):
        from datatest_spark.audio import segment_plan

        df = spark.createDataFrame([("a", 6000)], "clip_id string, dur_ms long")
        rows = segment_plan(df, window_ms=4000, hop_ms=2000,
                            min_ms=2500).collect()
        # starts 0,2000,4000 -> chunk_ms 4000,4000,2000; min drops the tail
        assert sorted(r.start_ms for r in rows) == [0, 2000]

        poisoned = spark.createDataFrame(
            [("p", 2_000_000_000)], "clip_id string, dur_ms long"
        )
        capped = segment_plan(poisoned, window_ms=1000, max_chunks=4).collect()
        assert len(capped) == 4  # bogus metadata cannot explode output

    def test_segment_plan_never_reads_bytes(self, spark, tmp_path):
        from datatest_spark.audio import segment_plan
        from datatest_spark.fixtures import audio_clips_df
        from datatest_spark.plans.inspect import read_schema_columns

        path = str(tmp_path / "clips.parquet")
        audio_clips_df(spark, 50, parts=2).write.parquet(path)
        out = segment_plan(spark.read.parquet(path), window_ms=1000)
        schemas = read_schema_columns(out)
        assert schemas and all(set(s) <= {"clip_id", "dur_ms"} for s in schemas)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Python" not in plan

    def test_segment_bytes_roundtrip(self, spark):
        import numpy as np

        from datatest_spark.audio import decode_bytes, segment_bytes
        from datatest_spark.fixtures import make_wav, synth_pcm

        sr = 16000
        pcm = synth_pcm(3, sr, 2500)  # 40000 samples
        df = spark.createDataFrame([("a", bytearray(make_wav(sr, pcm))),
                                    ("bad", bytearray(b"notaudio"))],
                                   "clip_id string, bytes binary")
        rows = {(r.clip_id, r.chunk_idx): r
                for r in segment_bytes(df, window_ms=1000).collect()}
        assert rows[("bad", None)].ok is False
        # 2500ms @ window 1000 -> chunks 1000,1000,500
        chunks = [rows[("a", k)] for k in range(3)]
        assert [c.chunk_ms for c in chunks] == [1000, 1000, 500]
        for k, c in enumerate(chunks):
            _, csr, cpcm = decode_bytes(bytes(c.bytes))
            assert csr == sr
            lo = k * sr  # hop = window = 1000ms = sr samples
            np.testing.assert_array_equal(cpcm, pcm[lo:lo + sr])

    def test_segment_bytes_true_duration_wins(self, spark):
        # declared dur lies; the chunk grid follows the decoded PCM
        from datatest_spark.audio import segment_bytes
        from datatest_spark.fixtures import make_wav, synth_pcm

        sr = 8000
        df = spark.createDataFrame(
            [("a", bytearray(make_wav(sr, synth_pcm(1, sr, 900))))],
            "clip_id string, bytes binary",
        )
        rows = segment_bytes(df, window_ms=1000, min_ms=1).collect()
        assert len(rows) == 1 and rows[0].chunk_ms == 900


class TestTrimNormalize:
    """Silence-trim + loudness-normalize materialization ops."""

    def _clip(self, sr, lead_n, sig, tail_n):
        import numpy as np

        from datatest_spark.fixtures import make_wav

        pcm = np.concatenate([
            np.zeros(lead_n, dtype="<i2"), sig.astype("<i2"),
            np.zeros(tail_n, dtype="<i2"),
        ])
        return make_wav(sr, pcm), pcm

    def test_trim_silence_slices_active_region(self, spark):
        import numpy as np

        from datatest_spark.audio import decode_bytes, trim_silence

        sr = 8000
        sig = np.full(sr // 2, 5000, dtype="<i2")  # 500 ms active
        buf, _ = self._clip(sr, sr // 4, sig, sr // 8)  # 250ms lead, 125ms tail
        df = spark.createDataFrame(
            [("a", bytearray(buf)), ("bad", bytearray(b"nope"))],
            "clip_id string, bytes binary",
        )
        rows = {r.clip_id: r for r in trim_silence(df).collect()}
        a = rows["a"]
        assert (a.ok, a.orig_ms, a.dur_ms) == (True, 875, 500)
        assert (a.trimmed_lead_ms, a.trimmed_tail_ms) == (250, 125)
        _, osr, opcm = decode_bytes(bytes(a.bytes))
        assert osr == sr
        np.testing.assert_array_equal(opcm, sig)
        assert rows["bad"].ok is False and rows["bad"].bytes is None

    def test_trim_silence_pad_and_threshold(self, spark):
        import numpy as np

        from datatest_spark.audio import decode_bytes, trim_silence

        sr = 8000
        sig = np.full(sr // 10, 5000, dtype="<i2")
        buf, pcm = self._clip(sr, sr // 4, sig, sr // 4)
        df = spark.createDataFrame([("a", bytearray(buf))],
                                   "clip_id string, bytes binary")
        r = trim_silence(df, pad_ms=100).collect()[0]
        # 100ms pad kept on each side of the active region
        assert (r.trimmed_lead_ms, r.trimmed_tail_ms) == (150, 150)
        _, _, opcm = decode_bytes(bytes(r.bytes))
        lo = sr // 4 - sr // 10
        np.testing.assert_array_equal(opcm, pcm[lo:len(pcm) - lo])
        # a threshold above the signal level -> whole clip is silence
        allsil = trim_silence(df, threshold=6000).collect()[0]
        assert (allsil.ok, allsil.dur_ms, allsil.bytes) == (True, 0, None)
        assert allsil.trimmed_lead_ms == allsil.orig_ms

    def test_normalize_hits_target_rms(self, spark):
        import math

        import numpy as np

        from datatest_spark.audio import decode_bytes, normalize_loudness
        from datatest_spark.fixtures import make_wav, synth_pcm

        sr = 16000
        pcm = synth_pcm(5, sr, 800)
        df = spark.createDataFrame([("a", bytearray(make_wav(sr, pcm)))],
                                   "clip_id string, bytes binary")
        r = normalize_loudness(df, target_dbfs=-25.0).collect()[0]
        assert r.ok and r.gain_db is not None
        _, _, out = decode_bytes(bytes(r.bytes))
        rms = 20 * math.log10(
            math.sqrt(float(np.mean(out.astype(np.int64) ** 2))) / 32768.0)
        assert abs(rms - (-25.0)) < 0.1  # int16 rounding only

    def test_normalize_peak_guard_and_clamps(self, spark):
        import numpy as np

        from datatest_spark.audio import decode_bytes, normalize_loudness
        from datatest_spark.fixtures import make_wav

        sr = 8000
        # near-full-scale square wave: any positive gain would clip
        loud = np.full(sr, 30000, dtype="<i2")
        loud[::2] = -30000
        # very quiet clip: wants ~+50dB, must clamp at max_gain_db
        quiet = np.full(sr, 3, dtype="<i2")
        zero = np.zeros(sr, dtype="<i2")
        df = spark.createDataFrame(
            [("loud", bytearray(make_wav(sr, loud))),
             ("quiet", bytearray(make_wav(sr, quiet))),
             ("zero", bytearray(make_wav(sr, zero)))],
            "clip_id string, bytes binary",
        )
        rows = {r.clip_id: r
                for r in normalize_loudness(df, target_dbfs=-3.0,
                                            max_gain_db=20.0).collect()}
        _, _, out = decode_bytes(bytes(rows["loud"].bytes))
        assert int(np.abs(out.astype(np.int64)).max()) <= 32767
        assert rows["quiet"].gain_db == 20.0  # clamped, not +50dB
        z = rows["zero"]
        assert z.ok and z.gain_db is None and z.bytes is None

    def test_trim_normalize_column_pruned(self, spark, tmp_path):
        from datatest_spark.audio import normalize_loudness, trim_silence
        from datatest_spark.fixtures import audio_clips_df
        from datatest_spark.plans.inspect import read_schema_columns

        path = str(tmp_path / "clips.parquet")
        audio_clips_df(spark, 50, parts=2).write.parquet(path)
        src = spark.read.parquet(path)
        for op in (trim_silence, normalize_loudness):
            schemas = read_schema_columns(op(src))
            assert schemas and all(
                set(s) <= {"clip_id", "bytes"} for s in schemas)


class TestPrepareTrainingAudio:
    """Fused trim → normalize → segment: one decode pass, bit-identical
    to the staged three-operator composition."""

    def test_parity_with_staged_composition(self, spark):
        from datatest_spark.audio import (
            normalize_loudness,
            prepare_training_audio,
            segment_bytes,
            trim_silence,
        )
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 120, parts=2)
        kw = dict(threshold=2000, pad_ms=20, target_dbfs=-22.0)
        fused = {
            (r.clip_id, r.chunk_idx): (r.start_ms, r.chunk_ms, r.sr_hz,
                                       bytes(r.bytes) if r.bytes else None)
            for r in prepare_training_audio(src, window_ms=400,
                                            **kw).collect()
            if r.ok and r.chunk_idx is not None
        }
        trimmed = trim_silence(src, threshold=2000, pad_ms=20) \
            .where("ok AND bytes IS NOT NULL").select("clip_id", "bytes")
        normed = normalize_loudness(trimmed, target_dbfs=-22.0) \
            .where("ok AND bytes IS NOT NULL").select("clip_id", "bytes")
        staged = {
            (r.clip_id, r.chunk_idx): (r.start_ms, r.chunk_ms, r.sr_hz,
                                       bytes(r.bytes))
            for r in segment_bytes(normed, window_ms=400).collect()
            if r.ok
        }
        assert fused == staged and len(fused) > 120

    def test_error_and_silent_rows_kept(self, spark):
        import numpy as np

        from datatest_spark.audio import prepare_training_audio
        from datatest_spark.fixtures import make_wav

        sr = 8000
        df = spark.createDataFrame(
            [("bad", bytearray(b"junk")),
             ("silent", bytearray(make_wav(sr, np.zeros(sr, dtype="<i2"))))],
            "clip_id string, bytes binary",
        )
        rows = {r.clip_id: r for r in prepare_training_audio(df).collect()}
        assert rows["bad"].ok is False
        s = rows["silent"]
        assert s.ok and s.chunk_idx is None and s.bytes is None

    def test_gain_measured_on_trimmed_region(self, spark):
        import math

        import numpy as np

        from datatest_spark.audio import decode_bytes, prepare_training_audio
        from datatest_spark.fixtures import make_wav

        sr = 8000
        sig = (6000 * np.sin(2 * np.pi * 220 *
                             np.arange(sr) / sr)).astype("<i2")
        pcm = np.concatenate([np.zeros(3 * sr, dtype="<i2"), sig])
        df = spark.createDataFrame([("a", bytearray(make_wav(sr, pcm)))],
                                   "clip_id string, bytes binary")
        rows = prepare_training_audio(df, threshold=327, target_dbfs=-20.0,
                                      window_ms=10_000).collect()
        assert len(rows) == 1
        _, _, out = decode_bytes(bytes(rows[0].bytes))
        rms = 20 * math.log10(
            math.sqrt(float(np.mean(out.astype(np.int64) ** 2))) / 32768.0)
        # RMS of the OUTPUT (trimmed region only) hits the target; had
        # gain been computed over the 75%-silence original it would
        # overshoot by ~6 dB
        assert abs(rms - (-20.0)) < 0.1


class TestResample:
    """Deterministic linear-interp resampling to a uniform rate."""

    def test_resample_pcm_exact_grid(self):
        import numpy as np

        from datatest_spark.audio import resample_pcm

        # 2x upsample of a ramp: every other sample is the midpoint
        pcm = np.array([0, 100, 200, 300], dtype="<i2")
        up = resample_pcm(pcm, 8000, 16000)
        np.testing.assert_array_equal(
            up, [0, 50, 100, 150, 200, 250, 300, 300])
        # 2x downsample recovers the even-index samples
        np.testing.assert_array_equal(resample_pcm(up, 16000, 8000), pcm)
        # identity is a no-op
        np.testing.assert_array_equal(resample_pcm(pcm, 8000, 8000), pcm)

    def test_resample_pcm_length_and_span(self):
        import numpy as np

        from datatest_spark.audio import resample_pcm

        pcm = np.arange(44100, dtype="<i2")
        out = resample_pcm(pcm, 44100, 16000)
        assert len(out) == 16000  # ceil(44100*16000/44100)
        assert out[0] == pcm[0]
        # non-integer ratio: 22050 -> 16000
        out2 = resample_pcm(np.arange(22050, dtype="<i2"), 22050, 16000)
        assert len(out2) == 16000

    def test_resample_audio_uniform_rate(self, spark):
        from datatest_spark.audio import audio_features, resample_audio
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 300, parts=2)
        out = resample_audio(src, target_sr=16000).cache()
        bad = out.where("NOT ok").count()
        assert bad == 1  # the i%500==11 corrupt clip
        # every materialized clip decodes at exactly 16 kHz
        feats = audio_features(out.where("ok").select("clip_id", "bytes"))
        rates = {(r.ok, r.dec_sr_hz) for r in feats.collect()}
        assert rates == {(True, 16000)}
        out.unpersist()

    def test_resample_tone_preserves_frequency(self):
        import numpy as np

        from datatest_spark.audio import resample_pcm

        # 440 Hz tone at 44100 resampled to 16000 peaks at ~440 Hz
        sr_in, sr_out = 44100, 16000
        t = np.arange(sr_in) / sr_in
        pcm = (10000 * np.sin(2 * np.pi * 440 * t)).astype("<i2")
        out = resample_pcm(pcm, sr_in, sr_out)
        mag = np.abs(np.fft.rfft(out.astype(np.float64)))
        peak_hz = np.argmax(mag) * sr_out / len(out)
        assert abs(peak_hz - 440.0) < 2.0


class TestAugmentSpeed:
    """Deterministic 3-way speed perturbation."""

    def test_speed_scales_duration_exactly(self, spark):
        import numpy as np

        from datatest_spark.audio import augment_speed, decode_bytes
        from datatest_spark.fixtures import make_wav

        sr = 8000
        pcm = np.arange(sr, dtype="<i2")  # 1 s ramp
        df = spark.createDataFrame([("a", bytearray(make_wav(sr, pcm)))],
                                   "clip_id string, bytes binary")
        fast = augment_speed(df, factors=[(11, 10)]).collect()[0]
        slow = augment_speed(df, factors=[(9, 10)]).collect()[0]
        unit = augment_speed(df, factors=[(10, 10)]).collect()[0]
        # n_out = ceil(n * den / num)
        assert fast.n_samples == -(-sr * 10 // 11)
        assert slow.n_samples == -(-sr * 10 // 9)
        _, usr, upcm = decode_bytes(bytes(unit.bytes))
        assert usr == sr
        np.testing.assert_array_equal(upcm, pcm)  # 1.0x is the identity

    def test_choice_is_md5_deterministic_and_salted(self, spark):
        import hashlib

        from datatest_spark.audio import SPEED_FACTORS, augment_speed
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 200, parts=2)
        rows = {r.clip_id: (r.speed_num, r.speed_den)
                for r in augment_speed(src, salt="v1").collect()}
        # replay the documented md5 contract
        for cid, nd in rows.items():
            k = int(hashlib.md5((cid + "v1").encode()).hexdigest()[:4],
                    16) % 3
            assert nd == SPEED_FACTORS[k]
        # all three factors actually occur; a different salt re-rolls
        assert len(set(rows.values())) == 3
        rows2 = {r.clip_id: (r.speed_num, r.speed_den)
                 for r in augment_speed(src, salt="v2").collect()}
        assert rows2 != rows

    def test_prepare_target_sr_parity_with_staged(self, spark):
        from datatest_spark.audio import (
            prepare_training_audio,
            resample_audio,
        )
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 80, parts=2)
        fused = {
            (r.clip_id, r.chunk_idx): (r.chunk_ms, r.sr_hz,
                                       bytes(r.bytes) if r.bytes else None)
            for r in prepare_training_audio(
                src, threshold=2000, window_ms=400,
                target_sr=16000).collect()
            if r.ok and r.chunk_idx is not None
        }
        resampled = resample_audio(src, target_sr=16000) \
            .where("ok").select("clip_id", "bytes")
        staged = {
            (r.clip_id, r.chunk_idx): (r.chunk_ms, r.sr_hz,
                                       bytes(r.bytes) if r.bytes else None)
            for r in prepare_training_audio(
                resampled, threshold=2000, window_ms=400).collect()
            if r.ok and r.chunk_idx is not None
        }
        assert fused == staged and len(fused) > 80
        assert {v[1] for v in fused.values()} == {16000}


class TestPoisonedHeaders:
    """Headers that parse but declare garbage rates must surface as
    ok=false audit rows, never task crashes or hangs."""

    def test_sr_zero_is_a_decode_failure(self, spark):
        import struct

        import numpy as np

        from datatest_spark.audio import (
            decode_bytes,
            normalize_loudness,
            prepare_training_audio,
            resample_audio,
            trim_silence,
        )
        from datatest_spark.fixtures import make_flac, make_wav

        pcm = np.arange(100, dtype="<i2")
        # sr=0 in the synthetic flac header; and a WAV with fmt sr=0
        bad_flac = b"fLaC" + struct.pack("<II", 0, 100) + pcm.tobytes()
        wav = bytearray(make_wav(8000, pcm))
        wav[24:28] = struct.pack("<I", 0)  # fmt chunk sample rate
        for buf in (bad_flac, bytes(wav)):
            with pytest.raises(ValueError, match="invalid sample rate"):
                decode_bytes(buf)
        good = make_flac(16000, pcm)
        df = spark.createDataFrame(
            [("bad1", bytearray(bad_flac)), ("bad2", wav),
             ("good", bytearray(good))],
            "clip_id string, bytes binary",
        )
        for op in (trim_silence, normalize_loudness, resample_audio,
                   prepare_training_audio):
            rows = {r.clip_id: r.ok for r in op(df).collect()}
            assert rows == {"bad1": False, "bad2": False, "good": True}

    def test_tiny_sr_never_hangs_segmentation(self, spark):
        import numpy as np

        from datatest_spark.audio import prepare_training_audio, segment_bytes
        from datatest_spark.fixtures import make_flac

        # sr=1: hop_n = 500*1//1000 floors to 0 without the clamp
        buf = make_flac(1, np.full(7, 1000, dtype="<i2"))
        df = spark.createDataFrame([("a", bytearray(buf))],
                                   "clip_id string, bytes binary")
        rows = segment_bytes(df, window_ms=500, min_ms=0).collect()
        assert 0 < len(rows) <= 7  # terminates, 1-sample hops
        prows = prepare_training_audio(df, window_ms=500,
                                       min_ms=0).collect()
        assert 0 < len(prows) <= 7

    def test_hop_zero_raises(self, spark):
        from datatest_spark.audio import prepare_training_audio, segment_bytes
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 4, parts=1)
        for op in (segment_bytes, prepare_training_audio):
            with pytest.raises(ValueError, match="must be positive"):
                op(src, window_ms=400, hop_ms=0)


class TestAugmentNoise:
    """Deterministic SNR-targeted additive-noise augmentation."""

    def test_achieved_snr_close_to_target(self, spark):
        import numpy as np

        from datatest_spark.audio import augment_noise, decode_bytes
        from datatest_spark.fixtures import make_wav

        sr = 8000
        t = np.arange(sr, dtype=np.float64) / sr
        pcm = (8000 * np.sin(2 * np.pi * 440 * t)).astype("<i2")
        df = spark.createDataFrame([("a", bytearray(make_wav(sr, pcm)))],
                                   "clip_id string, bytes binary")
        for target in (10.0, 20.0, 30.0):
            row = augment_noise(df, snr_db=target).collect()[0]
            assert row.ok and row.snr_db == target
            _, msr, mixed = decode_bytes(bytes(row.bytes))
            assert msr == sr and len(mixed) == len(pcm)
            err = mixed.astype(np.float64) - pcm.astype(np.float64)
            sig_p = float(np.dot(pcm.astype(np.float64),
                                 pcm.astype(np.float64)))
            measured = 10 * np.log10(sig_p / float(np.dot(err, err)))
            # int16 rounding adds ~uniform(±0.5) on top of the scaled
            # noise; at these amplitudes the dB error stays tiny
            assert abs(measured - target) < 0.2, (target, measured)

    def test_seed_is_md5_deterministic_and_salted(self, spark):
        import hashlib

        from datatest_spark.audio import augment_noise
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 120, parts=2)
        a = {r.clip_id: (r.noise_seed,
                         bytes(r.bytes) if r.bytes else None)
             for r in augment_noise(src, salt="v1").collect()}
        b = {r.clip_id: (r.noise_seed,
                         bytes(r.bytes) if r.bytes else None)
             for r in augment_noise(src, salt="v1").collect()}
        assert a == b  # rerun-identical corpus
        for cid, (seed, _) in a.items():
            want = int(hashlib.md5((cid + "v1").encode())
                       .hexdigest()[:8], 16)
            assert seed == want
        c = {r.clip_id: (r.noise_seed,
                         bytes(r.bytes) if r.bytes else None)
             for r in augment_noise(src, salt="v2").collect()}
        assert c != a  # salt re-rolls every realization

    def test_silent_and_corrupt_clips(self, spark):
        import numpy as np

        from datatest_spark.audio import augment_noise, decode_bytes
        from datatest_spark.fixtures import make_wav

        sr = 8000
        silent = np.zeros(400, dtype="<i2")
        df = spark.createDataFrame(
            [("sil", bytearray(make_wav(sr, silent))),
             ("bad", bytearray(b"\x00garbage"))],
            "clip_id string, bytes binary")
        rows = {r.clip_id: r for r in augment_noise(df).collect()}
        assert rows["sil"].ok and rows["sil"].snr_db is None
        _, _, out = decode_bytes(bytes(rows["sil"].bytes))
        np.testing.assert_array_equal(out, silent)  # auditable no-op
        assert rows["bad"].ok is False and rows["bad"].bytes is None
        assert rows["bad"].noise_seed is not None  # audit row keeps key


class TestNeardupLshExactness:
    """The 4x16-bit-band LSH is EXACT for max_hamming <= 3: at most 3
    differing bits touch at most 3 of the 4 bands, so one band always
    collides (pigeonhole).  With the bucket cap disabled, operator
    output must therefore EQUAL the brute-force all-pairs ground truth
    — recall 1.0 is a theorem here, and these tests pin it."""

    def test_hamming_lsh_equals_brute_force_on_random_sigs(self, spark):
        import itertools
        import random

        from datatest_spark.operators.dedup import hamming_lsh_pairs

        rng = random.Random(99)
        base = [rng.getrandbits(63) for _ in range(40)]
        sigs = []
        for i, s in enumerate(base):
            sigs.append((f"c{i:03d}_0", s))
            # planted neighbours at Hamming 1..4 (4 must NOT pair at
            # max_hamming=3 unless it collides by chance elsewhere)
            for d in (1, 2, 3, 4):
                v = s
                for bit in rng.sample(range(63), d):
                    v ^= 1 << bit
                sigs.append((f"c{i:03d}_{d}", v))
        df = spark.createDataFrame(sigs, "clip_id string, sig long")
        got = {(r.id_a, r.id_b, r.hamming)
               for r in hamming_lsh_pairs(
                   df, "clip_id", "sig", max_hamming=3,
                   max_bucket_size=None).collect()}
        want = set()
        for (ia, sa), (ib, sb) in itertools.combinations(sorted(sigs), 2):
            h = bin(sa ^ sb).count("1")
            if h <= 3:
                want.add((ia, ib, h))
        assert got == want
        assert len(want) >= 3 * len(base)  # planted d=1..3 all found

    def test_audio_neardup_equals_brute_force(self, spark):
        import itertools

        from datatest_spark.audio import (
            audio_neardup_pairs,
            spectral_signatures,
        )
        from datatest_spark.fixtures import audio_clips_df

        src = audio_clips_df(spark, 400, parts=2)
        got = {(r.id_a, r.id_b, r.hamming)
               for r in audio_neardup_pairs(
                   src, max_hamming=3, max_bucket_size=None).collect()}
        sig_rows = sorted(
            (r.clip_id, r.sig)
            for r in spectral_signatures(src).where("ok").collect())
        want = set()
        for (ia, sa), (ib, sb) in itertools.combinations(sig_rows, 2):
            if ia == ib:  # the fixture's injected duplicate clip_id —
                continue  # the operator's id_a < id_b drops these too
            h = bin((sa ^ sb) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                want.add((ia, ib, h))
        assert got == want and len(want) > 0


class TestFbank:
    """Log-mel filterbank front end (fbank / fbank_features)."""

    def test_mel_scale_roundtrip(self):
        from datatest_spark.audio import hz_to_mel, mel_to_hz
        f = np.array([20.0, 440.0, 4000.0, 8000.0])
        assert np.allclose(mel_to_hz(hz_to_mel(f)), f)

    def test_filterbank_shape_and_rows(self):
        from datatest_spark.audio import mel_filterbank
        fb = mel_filterbank(16000, 512, n_mels=40)
        assert fb.shape == (40, 257)
        # triangles: non-negative, each bounded by 1
        assert fb.min() >= 0.0 and fb.max() <= 1.0
        # cached instance is reused
        assert mel_filterbank(16000, 512, n_mels=40) is fb

    def test_fbank_frame_count(self):
        from datatest_spark.audio import fbank
        sr = 16000
        pcm = (1000 * np.sin(2 * np.pi * 440 *
                             np.arange(sr) / sr)).astype(np.int16)
        m = fbank(sr, pcm)  # 1 s @ 25ms/10ms -> 1 + (16000-400)//160
        assert m.shape == (1 + (sr - 400) // 160, 40)

    def test_fbank_short_clip_empty(self):
        from datatest_spark.audio import fbank
        m = fbank(16000, np.zeros(100, dtype=np.int16))
        assert m.shape == (0, 40)

    def test_fbank_tone_peaks_in_right_band(self):
        from datatest_spark.audio import fbank, mel_filterbank
        sr = 16000
        t = np.arange(2 * sr) / sr
        pcm = (8000 * np.sin(2 * np.pi * 1000 * t)).astype(np.int16)
        m = fbank(sr, pcm, preemph=0.0)
        mean = m.mean(axis=0)
        fb = mel_filterbank(sr, 512, 40)
        freqs = np.fft.rfftfreq(512, d=1.0 / sr)
        # centre frequency of the arg-max mel band should bracket 1 kHz
        band = int(mean.argmax())
        w = fb[band]
        centre = float((freqs * w).sum() / w.sum())
        assert 700.0 < centre < 1400.0

    def test_fbank_amplitude_shifts_level_not_argmax(self):
        from datatest_spark.audio import fbank
        sr = 16000
        t = np.arange(sr) / sr
        quiet = (500 * np.sin(2 * np.pi * 800 * t)).astype(np.int16)
        loud = (16000 * np.sin(2 * np.pi * 800 * t)).astype(np.int16)
        mq, ml = fbank(sr, quiet), fbank(sr, loud)
        assert ml.mean() > mq.mean()
        assert np.array_equal(mq.mean(axis=0).argmax(),
                              ml.mean(axis=0).argmax())

    def test_features_digest_matches_local_recompute(self, spark):
        import hashlib
        from datatest_spark.audio import (decode_bytes, fbank,
                                          fbank_features)
        df = FX.audio_clips_df(spark, 60, parts=2)
        collected = fbank_features(df).collect()
        assert len(collected) == 60  # one fixture dup id, same bytes
        rows = {r.clip_id: r for r in collected}
        src = {r.clip_id: r.bytes
               for r in df.select("clip_id", "bytes").collect()}
        checked = 0
        for cid, r in rows.items():
            try:
                _, sr, pcm = decode_bytes(src[cid])
            except ValueError:
                assert r.ok is False and r.feat_sha is None
                continue
            logm = np.round(fbank(sr, pcm), 6) + 0.0
            sha = int.from_bytes(
                hashlib.sha256(logm.astype("<f8").tobytes())
                .digest()[:8], "big", signed=True)
            assert r.ok and r.feat_sha == sha
            assert r.n_frames == logm.shape[0] and r.n_mels == 40
            assert r.logmel_mean == round(float(logm.mean()), 6)
            checked += 1
        assert checked > 40

    def test_with_feats_matrix_roundtrip(self, spark):
        from datatest_spark.audio import decode_bytes, fbank, \
            fbank_features
        df = FX.audio_clips_df(spark, 12, parts=2)
        out = {r.clip_id: r for r in
               fbank_features(df, with_feats=True).collect()}
        src = {r.clip_id: r.bytes
               for r in df.select("clip_id", "bytes").collect()}
        seen = 0
        for cid, r in out.items():
            if not r.ok:
                assert r.feats is None
                continue
            _, sr, pcm = decode_bytes(src[cid])
            exp = np.round(fbank(sr, pcm), 6) + 0.0
            assert np.array_equal(np.array(r.feats), exp)
            seen += 1
        assert seen >= 10

    def test_oracle_parity(self, spark):
        import oracles
        from datatest_spark.audio import fbank_features
        got = {r.clip_id: tuple(r)[1:] for r in
               fbank_features(FX.audio_clips_df(spark, 80, parts=2))
               .collect()}
        exp = {r[0]: r[1:] for r in oracles.audio_fbank_rows(80, 2)}
        assert got == exp


class TestFeaturePipeline:
    """CMVN + SpecAugment + MFCC + the fused feature_pipeline."""

    def test_cmvn_zero_mean_unit_var(self):
        from datatest_spark.audio import cmvn
        rng = np.random.RandomState(3)
        m = cmvn(rng.randn(50, 8) * 4 + 7)
        assert np.allclose(m.mean(axis=0), 0.0, atol=1e-12)
        assert np.allclose((m ** 2).mean(axis=0), 1.0, atol=1e-12)

    def test_cmvn_constant_column_zeroed_not_amplified(self):
        from datatest_spark.audio import cmvn
        m = np.ones((30, 3)) * 5.0
        m[:, 1] = np.arange(30.0)
        out = cmvn(m)
        # constant columns: exactly zero (no 1/eps noise blow-up)
        assert np.all(out[:, 0] == 0.0) and np.all(out[:, 2] == 0.0)
        assert np.allclose((out[:, 1] ** 2).mean(), 1.0)

    def test_cmvn_mean_only(self):
        from datatest_spark.audio import cmvn
        m = np.arange(20.0).reshape(10, 2)
        out = cmvn(m, var_norm=False)
        assert np.allclose(out.mean(axis=0), 0.0)
        assert not np.allclose((out ** 2).mean(axis=0), 1.0)

    def test_spec_augment_deterministic_and_masks(self):
        from datatest_spark.audio import fbank, spec_augment
        sr = 16000
        pcm = (3000 * np.sin(2 * np.pi * 500 * np.arange(sr) / sr)
               ).astype(np.int16)
        feats = fbank(sr, pcm)
        a1 = spec_augment(feats, 1234)
        a2 = spec_augment(feats, 1234)
        assert np.array_equal(a1, a2)
        a3 = spec_augment(feats, 1235)
        assert not np.array_equal(a1, a3)
        # masked cells take the pre-mask mean; unmasked cells untouched
        fill = float(feats.mean())
        changed = a1 != feats
        assert np.all(a1[changed] == fill)
        # frequency masks are whole columns, time masks whole rows
        assert changed.sum() > 0

    def test_spec_augment_empty_passthrough(self):
        from datatest_spark.audio import spec_augment
        m = np.zeros((0, 40))
        assert spec_augment(m, 7).shape == (0, 40)

    def test_dct_matrix_orthonormal(self):
        from datatest_spark.audio import dct_matrix
        c = dct_matrix(40, 40)
        assert np.allclose(c @ c.T, np.eye(40), atol=1e-12)

    def test_mfcc_shape_and_energy_compaction(self):
        from datatest_spark.audio import fbank, mfcc
        sr = 16000
        pcm = (5000 * np.sin(2 * np.pi * 900 * np.arange(sr) / sr)
               ).astype(np.int16)
        m = mfcc(sr, pcm, n_mfcc=13)
        fb = fbank(sr, pcm)
        assert m.shape == (fb.shape[0], 13)
        # DCT on smooth log-mel rows compacts energy into low coeffs
        lo = np.abs(m[:, 1:4]).mean()
        hi = np.abs(m[:, 10:13]).mean()
        assert lo > hi

    def test_pipeline_stage_composition_parity(self, spark):
        """feature_pipeline == manual fbank→aug→cmvn→dct composition."""
        import hashlib
        from datatest_spark.audio import (cmvn, dct_matrix,
                                          decode_bytes, fbank,
                                          feature_pipeline,
                                          spec_augment, _fbank_digest)
        df = FX.audio_clips_df(spark, 40, parts=2)
        got = {r.clip_id: r for r in feature_pipeline(
            df, apply_cmvn=True, augment=True, salt="zz",
            n_mfcc=13).collect()}
        src = {r.clip_id: r.bytes
               for r in df.select("clip_id", "bytes").collect()}
        checked = 0
        for cid, r in got.items():
            if not r.ok:
                continue
            _, sr, pcm = decode_bytes(src[cid])
            seed = int(hashlib.md5((cid + "zz").encode())
                       .hexdigest()[:8], 16)
            m = cmvn(spec_augment(fbank(sr, pcm), seed)) \
                @ dct_matrix(13, 40).T
            assert r.feat_sha == _fbank_digest(m)[3]
            assert r.n_coeffs == 13 and r.n_frames == m.shape[0]
            checked += 1
        assert checked > 30

    def test_pipeline_oracle_parity(self, spark):
        import oracles
        from datatest_spark.audio import feature_pipeline
        got = sorted(tuple(r) for r in feature_pipeline(
            FX.audio_clips_df(spark, 80, parts=2), apply_cmvn=True,
            augment=True, salt="sa1", n_mfcc=13).collect())
        exp = sorted(oracles.audio_pipeline_rows(
            80, 2, True, True, "sa1", 13))
        assert got == exp

    def test_salt_rerolls_masks(self, spark):
        from datatest_spark.audio import feature_pipeline
        df = FX.audio_clips_df(spark, 30, parts=2)
        a = {r.clip_id: r.feat_sha for r in feature_pipeline(
            df, augment=True, salt="a").collect() if r.ok}
        b = {r.clip_id: r.feat_sha for r in feature_pipeline(
            df, augment=True, salt="b").collect() if r.ok}
        assert set(a) == set(b)
        assert any(a[k] != b[k] for k in a)


class TestDeltaFeatures:
    def test_delta_of_linear_ramp_is_constant_slope(self):
        from datatest_spark.audio import delta_features
        m = np.arange(20.0)[:, None] * np.array([1.0, 2.0])
        d = delta_features(m)
        # interior frames of a linear ramp: delta == exact slope
        assert np.allclose(d[2:-2, 0], 1.0)
        assert np.allclose(d[2:-2, 1], 2.0)
        # edges replicate → attenuated but finite
        assert 0 < d[0, 0] < 1.0 and 0 < d[-1, 0] < 1.0

    def test_delta_constant_is_zero(self):
        from datatest_spark.audio import delta_features
        assert np.all(delta_features(np.full((15, 4), 3.3)) == 0.0)

    def test_add_deltas_shape_and_blocks(self):
        from datatest_spark.audio import add_deltas, delta_features
        rng = np.random.RandomState(0)
        m = rng.randn(30, 13)
        out = add_deltas(m, order=2)
        assert out.shape == (30, 39)
        assert np.array_equal(out[:, :13], m)
        d1 = delta_features(m)
        assert np.array_equal(out[:, 13:26], d1)
        assert np.array_equal(out[:, 26:], delta_features(d1))

    def test_empty_keeps_output_width(self):
        from datatest_spark.audio import add_deltas
        # zero frames still widen to the stacked coefficient count so
        # downstream consumers see a stable schema
        assert add_deltas(np.zeros((0, 13))).shape == (0, 39)

    def test_pipeline_deltas_oracle_parity(self, spark):
        import oracles
        from datatest_spark.audio import feature_pipeline
        got = sorted(tuple(r) for r in feature_pipeline(
            FX.audio_clips_df(spark, 60, parts=2), apply_cmvn=True,
            augment=True, salt="sa1", n_mfcc=13, deltas=2).collect())
        exp = sorted(oracles.audio_pipeline_rows(
            60, 2, True, True, "sa1", 13, 40, 2))
        assert got == exp
        assert all(r[4] == 39 for r in got if r[1])  # n_coeffs


class TestVad:
    """Energy-VAD segmentation (audio.vad_runs/vad_segments/vad_stats)
    over the F7 speech-shaped fixture and hand-built PCM."""

    def _tone(self, sr, ms, amp=9000.0, f0=220.0):
        t = np.arange(ms * sr // 1000, dtype=np.float64) / sr
        return np.round(amp * np.sin(2 * np.pi * f0 * t)).astype("<i2")

    def _silence(self, sr, ms):
        return np.zeros(ms * sr // 1000, dtype="<i2")

    def test_runs_merge_short_gap_split_long(self):
        from datatest_spark.audio import vad_runs

        sr = 8000
        pcm = np.concatenate([
            self._silence(sr, 100), self._tone(sr, 300),
            self._silence(sr, 100),   # <= max_gap 150 → merged
            self._tone(sr, 300),
            self._silence(sr, 400),   # > max_gap → split
            self._tone(sr, 300), self._silence(sr, 100),
        ])
        runs = vad_runs(sr, pcm)
        assert len(runs) == 2
        # first run spans both bursts + the short gap (~700 ms)
        (l0, h0), (l1, h1) = runs
        assert 650 <= (h0 - l0) * 1000 // sr <= 750
        assert 250 <= (h1 - l1) * 1000 // sr <= 350
        # boundaries land on frame edges near the true burst edges
        assert abs(l0 * 1000 // sr - 100) <= 20
        assert abs(l1 * 1000 // sr - 1200) <= 20

    def test_runs_drop_short_blip_and_all_silence(self):
        from datatest_spark.audio import vad_runs

        sr = 16000
        pcm = np.concatenate([
            self._silence(sr, 200), self._tone(sr, 40),  # < min_speech
            self._silence(sr, 400), self._tone(sr, 200),
            self._silence(sr, 50),
        ])
        runs = vad_runs(sr, pcm)
        assert len(runs) == 1
        lo, hi = runs[0]
        assert 180 <= (hi - lo) * 1000 // sr <= 220
        assert vad_runs(sr, self._silence(sr, 500)) == []
        assert vad_runs(sr, np.array([], dtype="<i2")) == []

    def test_threshold_is_dbfs_exact(self):
        from datatest_spark.audio import vad_runs

        sr = 8000
        # constant amplitude a → rms_dbfs = 20 log10(a/32768);
        # -40 dBFS ↔ a ≈ 327.68: a=320 stays silent, a=340 is speech
        quiet = np.full(sr, 320, dtype="<i2")
        loud = np.full(sr, 340, dtype="<i2")
        assert vad_runs(sr, quiet) == []
        assert vad_runs(sr, loud) == [(0, sr)]

    def test_segments_bytes_and_stats_agree(self, spark):
        from datatest_spark.audio import (decode_bytes, vad_segments,
                                          vad_stats)
        from datatest_spark.fixtures import (speech_clip_bytes,
                                             speech_clips_df)

        df = speech_clips_df(spark, 120, parts=4)
        segs = vad_segments(df, with_bytes=True).collect()
        stats = {r.clip_id: r for r in vad_stats(df).collect()}
        assert len(stats) == 120
        # per-clip: segment count + summed sample-ms consistent
        by_clip = {}
        bad_clips = set()
        for r in segs:
            if not r.ok:
                bad_clips.add(r.clip_id)
                continue
            by_clip.setdefault(r.clip_id, []).append(r)
        for cid, st in stats.items():
            i = int(cid.split("-")[1])
            if i % 97 == 13:
                assert not st.ok and cid in bad_clips
                assert cid not in by_clip
                continue
            assert st.ok
            rows = by_clip.get(cid, [])
            assert st.n_segments == len(rows)
            if i % 89 == 7:
                assert st.speech_ms == 0 and rows == []
                continue
            assert st.n_segments >= 1
            assert 0.0 < st.speech_ratio <= 1.0
            # each materialized segment decodes back to the exact slice
            _, sr0, full = decode_bytes(speech_clip_bytes(i))
            for r in rows:
                codec, sr, seg = decode_bytes(r.bytes)
                assert codec == "pcm_s16le" and sr == sr0 == r.sr_hz
                lo = r.start_ms * sr // 1000
                np.testing.assert_array_equal(
                    seg, full[lo:lo + len(seg)])
                assert r.dur_ms == len(seg) * 1000 // sr
                assert r.energy_dbfs is not None and r.energy_dbfs < 0

    def test_without_bytes_plan_stays_thin(self, spark):
        from datatest_spark.audio import vad_segments
        from datatest_spark.fixtures import speech_clips_df

        out = vad_segments(speech_clips_df(spark, 40, parts=2))
        rows = out.collect()
        assert rows and all(r.bytes is None for r in rows if r.ok)

    def test_oracle_state_machine_parity(self):
        """Engine's vectorized pass == oracle's per-frame state machine
        on every fixture clip (the independence certificate)."""
        import oracles
        from datatest_spark.audio import decode_bytes, vad_runs
        from datatest_spark.fixtures import speech_clip_bytes

        for i in range(150):
            try:
                _, sr, pcm = decode_bytes(speech_clip_bytes(i))
            except ValueError:
                continue
            assert vad_runs(sr, pcm) == oracles._sim_vad_runs(sr, pcm)


class TestRemoveSilence:
    def test_compaction_equals_concatenated_segments(self, spark):
        from datatest_spark.audio import (decode_bytes, remove_silence,
                                          vad_runs)
        from datatest_spark.fixtures import speech_clip_bytes, \
            speech_clips_df

        out = {r.clip_id: r for r in remove_silence(
            speech_clips_df(spark, 100, parts=4)).collect()}
        assert len(out) == 100
        for i in range(100):
            r = out[f"sp-{i:08d}"]
            if i % 97 == 13:
                assert not r.ok
                continue
            assert r.ok
            _, sr, pcm = decode_bytes(speech_clip_bytes(i))
            runs = vad_runs(sr, pcm)
            if i % 89 == 7:
                assert runs == [] and r.dur_ms == 0 and r.bytes is None
                assert r.removed_ms == r.orig_ms
                continue
            _, sr2, kept = decode_bytes(r.bytes)
            assert sr2 == sr == r.sr_hz
            exp = np.concatenate([pcm[lo:hi] for lo, hi in runs])
            np.testing.assert_array_equal(kept, exp)
            assert r.n_segments == len(runs)
            assert r.orig_ms == len(pcm) * 1000 // sr
            assert r.dur_ms == len(exp) * 1000 // sr
            assert r.removed_ms == r.orig_ms - r.dur_ms
            assert r.dur_ms <= r.orig_ms


class TestDatasetCard:
    def test_card_counts_against_direct_replay(self, spark):
        from datatest_spark.audio import dataset_card, decode_bytes
        from datatest_spark.fixtures import audio_clips_df, clip_params, \
            synth_clip_bytes

        rows = {r.codec: r for r in dataset_card(
            audio_clips_df(spark, 1200, parts=4)).collect()}
        total = rows["__all__"]
        assert total.n_clips == 1200
        # total row is the sum of the per-codec rows
        per = [r for c, r in rows.items() if c != "__all__"]
        for col in ("n_clips", "n_undecodable", "declared_ms",
                    "decoded_ms", "n_clipped", "n_near_silent",
                    "n_null_transcript"):
            assert sum(getattr(r, col) for r in per) == getattr(total, col)
        # distinct content: exact dups (i%1000==7) collapse
        n_dups = sum(1 for i in range(1200) if i % 1000 == 7 and i > 0)
        assert total.n_distinct_content == 1200 - n_dups - (
            # distinct-content counting is over distinct BYTES: clips
            # sharing bytes only via dup injection
            0)
        # undecodable count matches the corruption injection
        n_bad = 0
        for i in range(1200):
            p = clip_params(i)
            src = p.dup_of if p.dup_of is not None else i
            try:
                decode_bytes(synth_clip_bytes(src))
            except ValueError:
                n_bad += 1
        assert total.n_undecodable == n_bad
        # declared hours match metadata sum
        exp_decl = 0
        for i in range(1200):
            p = clip_params(i)
            decl = clip_params(p.dup_of) if p.dup_of is not None else p
            exp_decl += decl.decl_dur_ms
        assert total.declared_ms == exp_decl


class TestPrepareVad:
    def test_fused_vad_equals_staged_composition(self, spark):
        """prepare_training_audio(vad=True) chunk bytes are
        bit-identical to remove_silence → normalize_loudness →
        segment_bytes staged over three materialized tables."""
        from pyspark.sql import functions as F

        from datatest_spark.audio import (normalize_loudness,
                                          prepare_training_audio,
                                          remove_silence, segment_bytes)
        from datatest_spark.fixtures import speech_clips_df

        src = speech_clips_df(spark, 80, parts=4)
        fused = prepare_training_audio(src, vad=True, window_ms=500)
        fused_rows = {
            (r.clip_id, r.chunk_idx):
            (r.start_ms, r.chunk_ms, r.sr_hz, r.bytes)
            for r in fused.collect()
            if r.ok and r.chunk_idx is not None
        }
        staged_rm = remove_silence(src).where("ok and dur_ms > 0")
        staged_norm = normalize_loudness(
            staged_rm.select("clip_id", "bytes")).where("ok")
        staged = segment_bytes(
            staged_norm.select("clip_id", "bytes"), window_ms=500)
        staged_rows = {
            (r.clip_id, r.chunk_idx):
            (r.start_ms, r.chunk_ms, r.sr_hz, r.bytes)
            for r in staged.collect() if r.ok
        }
        assert fused_rows.keys() == staged_rows.keys()
        assert len(fused_rows) > 0
        for k, v in fused_rows.items():
            assert v == staged_rows[k], k

    def test_vad_mode_audit_rows(self, spark):
        from datatest_spark.audio import prepare_training_audio
        from datatest_spark.fixtures import speech_clips_df

        out = prepare_training_audio(
            speech_clips_df(spark, 100, parts=4), vad=True).collect()
        by_clip = {}
        for r in out:
            by_clip.setdefault(r.clip_id, []).append(r)
        for i in range(100):
            rows = by_clip[f"sp-{i:08d}"]
            if i % 97 == 13:
                assert len(rows) == 1 and not rows[0].ok
            elif i % 89 == 7:
                assert len(rows) == 1 and rows[0].ok
                assert rows[0].chunk_idx is None and rows[0].bytes is None


class TestSpeechRatioRule:
    def test_violations_and_acceptance_compose(self, spark):
        from datatest_spark.acceptances import accepted
        from datatest_spark.audio import SpeechRatioRule, decode_bytes, \
            vad_runs
        from datatest_spark.fixtures import speech_clip_bytes, \
            speech_clips_df
        from datatest_spark.validation import Engine

        df = speech_clips_df(spark, 120, parts=4)
        viol = Engine(spark).compile(df, [SpeechRatioRule(min_ratio=0.5)])
        rows = viol.collect()
        got = {r.key for r in rows}
        # independent replay of the expected violating set
        exp = set()
        for i in range(120):
            try:
                _, sr, pcm = decode_bytes(speech_clip_bytes(i))
            except ValueError:
                continue
            sp = sum(hi - lo for lo, hi in vad_runs(sr, pcm))
            if len(pcm) and round(sp / len(pcm), 6) < 0.5:
                exp.add(f"sp-{i:08d}")
        assert got == exp and exp  # nonempty on this fixture
        for r in rows:
            assert r.diff_type == "DEVIATION"
            assert r.deviation < 0
            assert r.partition_id in {"0", "1", "2", "3"}
        # tolerance acceptance swallows near-misses like any other rule
        acc = accepted.tolerance(0.1)
        remaining = acc.filter_df(viol)
        kept = {r.key for r in remaining.collect()}
        assert kept == {r.key for r in rows if r.deviation < -0.1}
