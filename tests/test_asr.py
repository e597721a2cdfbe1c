"""Transcript CER/WER metric + fidelity-rule tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datatest_spark import fixtures as FX
from datatest_spark.operators.asr import (
    TranscriptFidelityRule,
    transcript_cer,
    transcript_fidelity,
    transcript_wer,
    word_edit_distance,
)
from datatest_spark.suite import validate_audio_table
from datatest_spark.validation import Engine

N = 2100  # covers the 1%/0.5% transcript injections and a dup row


def _ref_edit(a, b):
    """Independent O(mn) word edit distance (plain dict DP)."""
    m, n = len(a), len(b)
    d = {(i, 0): i for i in range(m + 1)}
    d.update({(0, j): j for j in range(n + 1)})
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            d[i, j] = min(
                d[i - 1, j] + 1,
                d[i, j - 1] + 1,
                d[i - 1, j - 1] + (a[i - 1] != b[j - 1]),
            )
    return d[m, n]


class TestWordEditDistance:
    def test_known_cases(self):
        assert word_edit_distance([], []) == 0
        assert word_edit_distance(["a"], []) == 1
        assert word_edit_distance([], ["a", "b"]) == 2
        assert word_edit_distance(["a", "b", "c"], ["a", "b", "c"]) == 0
        assert word_edit_distance(["a", "b", "c"], ["a", "x", "c"]) == 1
        assert word_edit_distance(["a", "b"], ["b", "a"]) == 2
        assert word_edit_distance(["hello", "world", "zz"],
                                  ["hello", "world"]) == 1

    def test_matches_reference_dp(self):
        rng = np.random.RandomState(7)
        vocab = ["a", "b", "c", "d", "e"]
        for _ in range(200):
            a = [vocab[k] for k in rng.randint(0, 5, rng.randint(0, 9))]
            b = [vocab[k] for k in rng.randint(0, 5, rng.randint(0, 9))]
            assert word_edit_distance(a, b) == _ref_edit(a, b)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _words = st.lists(st.sampled_from(["a", "b", "c", "ab", "xyz"]),
                      max_size=12)

    class TestEditDistanceProperties:
        @given(_words, _words)
        @settings(max_examples=150, deadline=None)
        def test_agrees_with_textbook_dp(self, a, b):
            assert word_edit_distance(a, b) == _ref_edit(a, b)

        @given(_words, _words)
        @settings(max_examples=100, deadline=None)
        def test_metric_axioms(self, a, b):
            d = word_edit_distance(a, b)
            assert d == word_edit_distance(b, a)          # symmetry
            assert (d == 0) == (a == b)                   # identity
            assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))

        @given(_words, _words, _words)
        @settings(max_examples=75, deadline=None)
        def test_triangle_inequality(self, a, b, c):
            assert (word_edit_distance(a, c)
                    <= word_edit_distance(a, b) + word_edit_distance(b, c))
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass


@pytest.fixture(scope="module")
def clips(spark):
    df = FX.audio_clips_df(spark, N, parts=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def manifest(spark):
    df = FX.reference_transcripts_df(spark, N).cache()
    df.count()
    yield df
    df.unpersist()


def _expected_rates():
    """Independent per-clip expectation from the fixture definition."""
    import difflib  # noqa: F401  (keep stdlib-only)

    exp = {}
    for i in range(N):
        p = FX.clip_params(i)
        # dup rows reuse the SOURCE row's id AND transcript
        # (fixtures.audio_clips_df), so they collapse to one entry
        idx = p.dup_of if p.dup_of is not None else i
        hyp = FX.clip_params(idx).transcript
        ref = FX._transcript_words(idx)
        h = hyp or ""
        # char-level
        cd = _ref_edit(list(h), list(ref))
        # word-level
        wd = _ref_edit(h.split(), ref.split())
        exp[f"clip-{idx:012d}"] = (
            len(ref), cd, round(cd / max(len(ref), 1), 6),
            len(ref.split()), wd, round(wd / max(len(ref.split()), 1), 6),
        )
    return exp


class TestTranscriptRates:
    def test_cer_matches_independent_dp(self, clips, manifest):
        exp = _expected_rates()
        got = {r["clip_id"]: r for r in transcript_cer(
            clips, manifest).collect()}
        assert set(got) == set(exp)
        for cid, (rc, cd, cer, _, _, _) in exp.items():
            assert got[cid]["ref_chars"] == rc, cid
            assert got[cid]["char_edits"] == cd, cid
            assert got[cid]["cer"] == pytest.approx(cer, abs=1e-9), cid

    def test_wer_matches_independent_dp(self, clips, manifest):
        exp = _expected_rates()
        got = {r["clip_id"]: r for r in transcript_wer(
            clips, manifest).collect()}
        assert set(got) == set(exp)
        for cid, (_, _, _, rw, wd, wer) in exp.items():
            assert got[cid]["ref_words"] == rw, cid
            assert got[cid]["word_edits"] == wd, cid
            assert got[cid]["wer"] == pytest.approx(wer, abs=1e-9), cid

    def test_violations_exist(self, clips, manifest):
        # the fixture injects ~1% " zz" suffixes, ~0.5% nulls and dups
        cer = transcript_cer(clips, manifest)
        n_bad = cer.filter(F.col("cer") > 0).count()
        assert n_bad > 0
        n_perfect = cer.filter(F.col("cer") == 0).count()
        assert n_perfect > n_bad  # most clips match exactly

    def test_null_hyp_is_total_failure(self, clips, manifest):
        null_ids = [
            FX.clip_id_for(i) for i in range(N)
            if FX.clip_params(i).transcript is None
            and FX.clip_params(i).dup_of is None
        ]
        assert null_ids
        rows = (transcript_cer(clips, manifest)
                .filter(F.col("clip_id").isin(null_ids)).collect())
        assert rows and all(r["cer"] == pytest.approx(1.0) for r in rows)


class TestFidelityRule:
    def test_exact_grading_flags_injections(self, spark, clips, manifest):
        viol = Engine(spark).compile(
            clips, [transcript_fidelity(manifest, max_cer=0.0)])
        rows = viol.collect()
        assert rows
        assert all(r["rule_id"] == "transcript_cer:cer" for r in rows)
        assert all(r["diff_type"] == "DEVIATION" for r in rows)
        exp = _expected_rates()
        flagged = {r["key"] for r in rows}
        assert flagged == {cid for cid, e in exp.items() if e[2] > 0}
        # deviation = cer - 0.0 = cer
        by_key = {r["key"]: r for r in rows}
        for cid in flagged:
            assert by_key[cid]["deviation"] == pytest.approx(
                exp[cid][2], abs=1e-9)
            assert by_key[cid]["expected_num"] == 0.0

    def test_threshold_filters(self, spark, clips, manifest):
        exp = _expected_rates()
        thr = 0.5
        viol = Engine(spark).compile(
            clips, [transcript_fidelity(manifest, max_cer=thr)])
        flagged = {r["key"] for r in viol.collect()}
        assert flagged == {cid for cid, e in exp.items() if e[2] > thr}

    def test_noref_rows_surface(self, spark, manifest):
        extra = FX.audio_clips_df(spark, 50, parts=2).withColumn(
            "clip_id", F.concat(F.lit("orphan-"), F.col("clip_id")))
        viol = Engine(spark).compile(
            extra, [transcript_fidelity(manifest, max_cer=1.0)])
        rows = viol.collect()
        assert len(rows) == 50
        assert all(r["rule_id"] == "transcript_cer:noref" for r in rows)
        assert all(r["diff_type"] == "INVALID" for r in rows)

    def test_partition_col_is_honoured(self, spark, clips, manifest):
        # the suite with the fidelity rule, partitioned by a column not
        # named part_id: the same violations land in the same partitions
        def counts(df, part):
            res = validate_audio_table(
                df, manifest=manifest, partition_col=part,
                extra_rules=[transcript_fidelity(manifest, max_cer=0.0)])
            return {(r["rule_id"], r["partition_id"]): r["count"]
                    for r in res.violations.groupBy(
                        "rule_id", "partition_id").count().collect()}

        by_part_id = counts(clips, "part_id")
        assert any(rule == "transcript_cer:cer" and part is not None
                   for rule, part in by_part_id)
        assert counts(clips.withColumnRenamed("part_id", "shard"),
                      "shard") == by_part_id
        # with both columns present the rule reads the one asked for
        shifted = counts(clips.withColumn("shard", F.col("part_id") + 10),
                         "shard")
        assert shifted == {
            (rule, None if p is None else str(int(p) + 10)): n
            for (rule, p), n in by_part_id.items()}

    def test_plan_is_jvm_only(self, spark, clips, manifest):
        from datatest_spark.plans.inspect import explain_str

        viol = Engine(spark).compile(
            clips, [transcript_fidelity(manifest)])
        plan = explain_str(viol, "formatted")
        assert "BatchEvalPython" not in plan
        # the CER rule adds no Arrow stage (fixture gen is MapInPandas,
        # which is the table source, not the rule)
        assert "ArrowEvalPython" not in plan


class TestNormalizedScoring:
    """normalize=True: case and punctuation are scoring-neutral
    (the benchmark-standard WER/CER surface form)."""

    def _pair(self, spark, hyp_text, ref_text):
        hyp = spark.createDataFrame([("a", hyp_text)],
                                    "clip_id: string, transcript: string")
        ref = spark.createDataFrame(
            [("a", ref_text)],
            "clip_id: string, transcript_ref: string")
        return hyp, ref

    def test_normalize_transcript_expr(self, spark):
        from datatest_spark.operators import normalize_transcript

        got = spark.createDataFrame(
            [("  Hello,   WORLD!! (ok) café #1 ",)], "s: string"
        ).select(normalize_transcript(F.col("s")).alias("n")
                 ).collect()[0]["n"]
        assert got == "hello world ok café 1"

    def test_case_punct_cost_zero_when_normalized(self, spark):
        hyp, ref = self._pair(spark, "The QUICK, brown fox!",
                              "the quick brown fox")
        raw = transcript_wer(hyp, ref).collect()[0]
        norm = transcript_wer(hyp, ref, normalize=True).collect()[0]
        assert raw["word_edits"] > 0
        assert norm["word_edits"] == 0 and norm["wer"] == 0.0
        assert norm["ref_words"] == 4

    def test_cer_normalized(self, spark):
        hyp, ref = self._pair(spark, "HELLO world.", "hello world")
        raw = transcript_cer(hyp, ref).collect()[0]
        norm = transcript_cer(hyp, ref, normalize=True).collect()[0]
        assert raw["char_edits"] > 0
        assert norm["char_edits"] == 0
        assert norm["ref_chars"] == len("hello world")

    def test_real_edits_still_cost(self, spark):
        hyp, ref = self._pair(spark, "the quick RED fox!!",
                              "the quick brown fox")
        norm = transcript_wer(hyp, ref, normalize=True).collect()[0]
        assert norm["word_edits"] == 1

    def test_normalized_plan_stays_jvm_for_cer(self, spark):
        from datatest_spark.plans.inspect import explain_str

        hyp, ref = self._pair(spark, "A b", "a b")
        plan = explain_str(transcript_cer(hyp, ref, normalize=True),
                           "formatted")
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_oracle_python_twin_matches_engine(self, spark):
        """The oracle's Python normalization reproduces the JVM one on
        the fixture vocabulary + the corruption used by the registry
        entry."""
        import oracles

        from datatest_spark import fixtures as FX

        n = 120
        hyp = FX.audio_clips_df(spark, n, parts=2).select(
            "clip_id",
            F.concat(F.upper("transcript"), F.lit(" !!")).alias(
                "transcript"),
        )
        ref = FX.reference_transcripts_df(spark, n, with_pcm_sha=False)
        got = sorted(
            tuple(r) for r in transcript_wer(hyp, ref, normalize=True)
            .collect()
        )
        want = sorted(oracles.transcript_wer_norm_rows(n))
        assert got == [tuple(w) for w in want]
