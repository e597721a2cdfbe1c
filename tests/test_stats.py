"""Column profile, sketches, and drift statistics."""

import math

import pytest

from datatest_spark.stats import (
    DriftChi2Rule,
    DriftJSRule,
    DriftKSRule,
    DriftPSIRule,
    binned_ks,
    chi_square,
    js_divergence,
    ks_statistic,
    profile,
    psi,
    quantile_sketch,
)
from datatest_spark.validation import Engine
from tests.conftest import df_from


class TestProfile:
    def test_single_pass_profile(self, spark):
        df = df_from(spark, [1, 2, 2, None, 5])
        rows = {r["column_name"]: r for r in profile(df, ["value"]).collect()}
        p = rows["value"]
        assert p["row_count"] == 5
        assert p["non_null"] == 4
        assert p["null_count"] == 1
        assert abs(p["null_rate"] - 0.2) < 1e-9
        assert p["min_value"] == "1" and p["max_value"] == "5"
        assert p["approx_distinct"] == 3
        assert p["quantiles"][0] == 1.0 and p["quantiles"][-1] == 5.0

    def test_multi_column_one_job(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "n long, s string"
        )
        rows = {r["column_name"]: r for r in profile(df).collect()}
        assert rows["n"]["mean"] == 2.0
        assert rows["s"]["null_count"] == 1
        assert rows["s"]["mean"] is None  # non-numeric: no numeric stats

    def test_quantile_sketch(self, spark):
        df = df_from(spark, list(range(101)))
        q = quantile_sketch(df, "value")
        assert q[0] == 0.0 and q[-1] == 100.0
        assert abs(q[10] - 50.0) <= 2  # median of 0..100


class TestDriftStats:
    def test_psi_identical_is_zero(self):
        assert psi([0.25, 0.25, 0.5], [0.25, 0.25, 0.5]) == pytest.approx(0.0)

    def test_psi_shifted_positive(self):
        assert psi([0.9, 0.1], [0.5, 0.5]) > 0.3

    def test_ks_identical(self):
        grid = [float(i) for i in range(21)]
        assert ks_statistic(grid, grid) == pytest.approx(0.0)

    def test_ks_shifted(self):
        a = [float(i) for i in range(21)]
        b = [float(i) + 10.0 for i in range(21)]
        assert ks_statistic(a, b) > 0.4

    def test_binned_ks_identical(self):
        assert binned_ks([0.25, 0.25, 0.5], [0.25, 0.25, 0.5]) == pytest.approx(0.0)

    def test_binned_ks_shift(self):
        # all mass one bucket to the right → CDF gap of the moved mass
        assert binned_ks([0.0, 0.5, 0.5], [0.5, 0.5, 0.0]) == pytest.approx(0.5)

    def test_js_identical_is_zero(self):
        assert js_divergence([0.25, 0.25, 0.5], [0.25, 0.25, 0.5]) == (
            pytest.approx(0.0)
        )

    def test_js_bounded_by_ln2(self):
        # disjoint supports → the JS maximum, ln 2 (up to the eps guard)
        v = js_divergence([1.0, 0.0], [0.0, 1.0])
        assert 0.9 * math.log(2) < v <= math.log(2) + 1e-9

    def test_js_symmetric(self):
        a, b = [0.7, 0.2, 0.1], [0.2, 0.3, 0.5]
        assert js_divergence(a, b) == pytest.approx(js_divergence(b, a))

    def test_chi_square_identical_is_zero(self):
        assert chi_square([0.25, 0.25, 0.5], [0.25, 0.25, 0.5]) == (
            pytest.approx(0.0)
        )

    def test_chi_square_rare_bucket_dominates(self):
        # mass appearing where the baseline is rare scores much higher
        # than the same mass moving between common buckets
        rare = chi_square([0.89, 0.01, 0.1], [0.89, 0.11, 0.0])
        common = chi_square([0.79, 0.21, 0.0], [0.89, 0.11, 0.0])
        assert rare > common


class TestDriftRule:
    def test_no_drift_passes(self, spark):
        df = df_from(spark, list(range(1000)))
        baseline = quantile_sketch(df, "value")
        engine = Engine(spark)
        res = engine.validate(df, [DriftPSIRule("value", baseline, threshold=0.1)])
        assert res.ok

    def test_shifted_distribution_fails(self, spark):
        df = df_from(spark, list(range(1000)))
        baseline = quantile_sketch(df, "value")
        shifted = df_from(spark, [v + 800 for v in range(1000)])
        engine = Engine(spark)
        res = engine.validate(
            shifted, [DriftPSIRule("value", baseline, threshold=0.1)]
        )
        rows = res.violations.collect()
        assert len(rows) == 1
        assert rows[0]["diff_type"] == "DEVIATION"
        assert rows[0]["deviation"] > 0

    def test_ks_rule_shares_semantics(self, spark):
        df = df_from(spark, list(range(1000)))
        baseline = quantile_sketch(df, "value")
        engine = Engine(spark)
        assert engine.validate(
            df, [DriftKSRule("value", baseline, threshold=0.1)]
        ).ok
        shifted = df_from(spark, [v + 800 for v in range(1000)])
        rows = engine.validate(
            shifted, [DriftKSRule("value", baseline, threshold=0.1)]
        ).violations.collect()
        assert len(rows) == 1
        assert rows[0]["rule_id"].startswith("drift_ks")
        assert rows[0]["expected"] == "ks<=0.1"
        assert rows[0]["deviation"] > 0.5  # 80% of mass moved out of range

    @pytest.mark.parametrize("cls,stat", [(DriftJSRule, "js"),
                                          (DriftChi2Rule, "chi2")])
    def test_js_chi2_rules_share_semantics(self, spark, cls, stat):
        df = df_from(spark, list(range(1000)))
        baseline = quantile_sketch(df, "value")
        engine = Engine(spark)
        assert engine.validate(df, [cls("value", baseline,
                                        threshold=0.05)]).ok
        shifted = df_from(spark, [v + 800 for v in range(1000)])
        rows = engine.validate(
            shifted, [cls("value", baseline, threshold=0.05)]
        ).violations.collect()
        assert len(rows) == 1
        assert rows[0]["rule_id"] == f"drift_{stat}:value"
        assert rows[0]["expected"] == f"{stat}<=0.05"
        assert rows[0]["deviation"] > 0

    def test_two_sample_same_table_passes(self, spark):
        from datatest_spark.stats import TwoSampleDriftRule

        df = df_from(spark, list(range(1000)))
        edges = [200.0, 400.0, 600.0, 800.0]
        engine = Engine(spark)
        assert engine.validate(df, [TwoSampleDriftRule(
            "value", df, edges, stat="psi", threshold=0.01)]).ok

    @pytest.mark.parametrize("stat", ["psi", "ks", "js", "chi2"])
    def test_two_sample_shifted_fires(self, spark, stat):
        from datatest_spark.stats import TwoSampleDriftRule

        cur = df_from(spark, list(range(1000)))
        base = df_from(spark, [v + 800 for v in range(1000)])
        edges = [400.0, 800.0, 1200.0, 1600.0]
        rows = Engine(spark).validate(cur, [TwoSampleDriftRule(
            "value", base, edges, stat=stat, threshold=0.05)]
        ).violations.collect()
        assert len(rows) == 1
        assert rows[0]["rule_id"] == f"drift_2s_{stat}:value"
        assert rows[0]["expected"].startswith(f"2s_{stat}<=")
        assert rows[0]["deviation"] > 0

    def test_two_sample_baseline_column_rename(self, spark):
        from datatest_spark.stats import TwoSampleDriftRule
        from pyspark.sql import functions as SF

        cur = df_from(spark, list(range(100)))
        base = df_from(spark, list(range(100))).select(
            SF.col("value").alias("other"))
        assert Engine(spark).validate(cur, [TwoSampleDriftRule(
            "value", base, [25.0, 50.0, 75.0], stat="js", threshold=0.01,
            baseline_column="other")]).ok

    def test_two_sample_bad_stat_raises(self, spark):
        from datatest_spark.stats import TwoSampleDriftRule

        df = df_from(spark, [1, 2, 3])
        with pytest.raises(ValueError):
            TwoSampleDriftRule("value", df, [1.0], stat="wasserstein")

    def test_prepare_jobs_overlap_matches_sequential(self, spark):
        # Engine overlaps multi-rule compile-time statistic jobs in a
        # thread pool (guide §2.6); the verdicts must be identical to
        # the per-rule sequential path, and the prepare pass must leave
        # each rule's cached counts in place so plan() re-runs no job.
        from datatest_spark.stats import TwoSampleDriftRule
        from datatest_spark.validation import ValidationContext

        cur = df_from(spark, list(range(1000)))
        base = df_from(spark, list(range(1000)))
        shifted = df_from(spark, [v + 800 for v in range(1000)])
        edges = [200.0, 400.0, 600.0, 800.0]
        rules = [
            TwoSampleDriftRule("value", base, edges, stat="psi",
                               threshold=0.01),
            TwoSampleDriftRule("value", shifted, edges, stat="js",
                               threshold=0.01),
        ]
        assert len(rules[0].prepare_jobs(
            ValidationContext(cur))) == 2  # baseline + current counts
        ctx = ValidationContext(cur)
        rows = Engine(spark)._compile_ctx(ctx, rules).collect()
        # psi vs identical baseline passes; js vs shifted fires once
        assert len(rows) == 1
        assert rows[0]["rule_id"] == "drift_2s_js:value"
        # the overlapped prepare memoized both sides in the compile's
        # memo — the baseline proportions and the current-table counts
        for r in rules:
            assert ctx.memo.get((r, "baseline")) is not None
            assert ctx.memo.get(r) is not None

    def test_two_sample_fingerprint_unchanged_by_compile(self, spark):
        # the live-baseline proportions are memoized per compile, so a
        # reused rule hashes the same before and after its first run
        from datatest_spark.plans.checkpoint import ruleset_hash
        from datatest_spark.stats import TwoSampleDriftRule

        base = df_from(spark, list(range(100)))
        rule = TwoSampleDriftRule("value", base, [25.0, 50.0, 75.0])
        before = ruleset_hash([rule])
        Engine(spark).compile(df_from(spark, list(range(100))),
                              [rule]).collect()
        assert ruleset_hash([rule]) == before

    def test_outlier_rule_joins_the_overlap_wave(self, spark):
        # OutlierRule's quartile aggregate is also an overlappable
        # prepare job; mixed with a drift rule the verdicts must match
        # the sequential per-rule semantics exactly.
        from datatest_spark.stats import OutlierRule, TwoSampleDriftRule

        values = list(range(100)) + [10_000]  # one Tukey outlier
        cur = df_from(spark, values)
        shifted = df_from(spark, [v + 800 for v in range(100)])
        rows = Engine(spark).validate(cur, [
            OutlierRule("value", rule_id="v:out"),
            TwoSampleDriftRule("value", shifted, [25.0, 50.0, 75.0],
                               stat="js", threshold=0.01, rule_id="v:js"),
        ]).violations.collect()
        by_rule = sorted(r["rule_id"] for r in rows)
        assert by_rule == ["v:js", "v:out"]
        out_row = next(r for r in rows if r["rule_id"] == "v:out")
        assert out_row["invalid"].startswith("10000")
        assert out_row["deviation"] > 0


class TestApproxUnique:
    """ApproxUniqueRule: the one-aggregate uniqueness pre-gate."""

    def test_unique_data_passes(self, spark):
        from datatest_spark.stats import ApproxUniqueRule

        df = df_from(spark, list(range(5000)))
        assert Engine(spark).validate(
            df, [ApproxUniqueRule("value", max_dup_rate=0.01)]).ok

    def test_duplicate_heavy_fires(self, spark):
        from datatest_spark.stats import ApproxUniqueRule

        # 5000 rows over 500 distinct values → true dup rate 0.9
        df = df_from(spark, [i % 500 for i in range(5000)])
        rows = Engine(spark).validate(
            df, [ApproxUniqueRule("value", max_dup_rate=0.05)]
        ).violations.collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["diff_type"] == "DEVIATION"
        assert r["rule_id"] == "approx_unique:value"
        assert 0.7 < float(r["invalid"]) < 1.0  # est ≈ 0.9 ± sketch error
        assert r["deviation"] > 0.5

    def test_composite_key(self, spark):
        from datatest_spark.stats import ApproxUniqueRule

        df = spark.createDataFrame(
            [(i % 10, i % 7) for i in range(3000)], "a long, b long")
        # 70 distinct pairs of 3000 rows → fires on the composite key
        rows = Engine(spark).validate(
            df, [ApproxUniqueRule(["a", "b"], max_dup_rate=0.1)]
        ).violations.collect()
        assert len(rows) == 1
        assert rows[0]["column"] == "a,b"
        # ...but each single column alone also fires (sanity)
        assert not Engine(spark).validate(
            df, [ApproxUniqueRule("a", max_dup_rate=0.1)]).ok

    def test_guard_band_suppresses_noise(self, spark):
        from datatest_spark.stats import ApproxUniqueRule

        # truly unique data must not fire even with a 0 threshold:
        # the guard band absorbs sketch error
        df = df_from(spark, list(range(20_000)))
        assert Engine(spark).validate(
            df, [ApproxUniqueRule("value", max_dup_rate=0.0)]).ok


class TestMergeableProfiles:
    """partitioned_profile + merge_profiles: incremental profiling via
    union-mergeable HLL sketches (hll_sketch_agg/hll_union_agg)."""

    @pytest.fixture()
    def parts_df(self, spark):
        from pyspark.sql import functions as F

        return spark.range(1000).select(
            (F.col("id") % 4).alias("part_id"),
            (F.col("id") % 137).alias("v"),
        )

    def test_merged_equals_whole_table(self, spark, parts_df):
        from pyspark.sql import functions as F

        from datatest_spark.stats import merge_profiles, partitioned_profile

        merged = merge_profiles(
            partitioned_profile(parts_df, ["v"], "part_id")
        ).collect()[0]
        direct = parts_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.sum("v").alias("s"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("v").cast("string"))
            ).alias("d"),  # same string-keyed sketch the profile builds
        ).collect()[0]
        assert merged["row_count"] == direct["n"] == 1000
        assert merged["min_v"] == direct["mn"] == 0.0
        assert merged["max_v"] == direct["mx"] == 136.0
        assert merged["sum_v"] == float(direct["s"])
        # HLL union is lossless: merging partition sketches estimates
        # EXACTLY what one whole-table sketch estimates
        assert merged["distinct_est"] == direct["d"]

    def test_incremental_merge_without_rescan(self, spark, parts_df):
        """Profiles computed at different times (disjoint partition
        subsets) merge to the same answer as profiling everything at
        once — the append-only incremental contract."""
        from pyspark.sql import functions as F

        from datatest_spark.stats import merge_profiles, partitioned_profile

        old = partitioned_profile(
            parts_df.filter(F.col("part_id") < 2), ["v"], "part_id")
        new = partitioned_profile(
            parts_df.filter(F.col("part_id") >= 2), ["v"], "part_id")
        a = merge_profiles(old.unionByName(new)).collect()[0]
        b = merge_profiles(
            partitioned_profile(parts_df, ["v"], "part_id")).collect()[0]
        assert a == b

    def test_single_scan_many_columns(self, spark, parts_df):
        """partitioned_profile must be ONE scan + ONE groupBy no matter
        how many columns are profiled (one agg carrying every column's
        expressions, then a zero-shuffle explode to long form)."""
        from pyspark.sql import functions as F

        from datatest_spark.stats import partitioned_profile

        df = parts_df.withColumn("w", F.col("v") * 2).withColumn(
            "u", F.col("v") + 1
        )
        prof = partitioned_profile(
            df, ["v", "w", "u"], "part_id",
            bin_edges={"v": [30.0, 90.0], "w": [10.0, 50.0, 200.0]},
        )
        plan = prof._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Range") == 1  # ONE scan of the source
        assert plan.count("Exchange") <= 2  # the groupBy shuffle (+AQE read)
        # one fused aggregate (partial + final) carries every column's
        # expressions — NOT one aggregation per column
        import re

        n_aggs = len(re.findall(r"\b(?:Object|Sort)?(?:Hash)?Aggregate\(keys=", plan))
        assert 1 <= n_aggs <= 2
        rows = prof.collect()
        assert len(rows) == 3 * 4  # columns x partitions
        assert {r["column_name"] for r in rows} == {"v", "w", "u"}

    def test_histogram_merge_exact_and_quantiles(self, spark, parts_df):
        """Fixed-edge histogram counts merge by element-wise sum to
        EXACTLY the whole-table histogram — the mergeable quantile
        sketch: interpolated quantiles from the merged counts equal the
        whole-table-histogram quantiles, and land within one bucket
        width of the exact percentiles."""
        from pyspark.sql import functions as F

        from datatest_spark.stats import (
            merge_profiles,
            partitioned_profile,
            quantiles_from_histogram,
        )

        edges = [float(e) for e in range(10, 137, 10)]
        kw = dict(bin_edges={"v": edges})
        old = partitioned_profile(
            parts_df.filter(F.col("part_id") < 2), ["v"], "part_id", **kw)
        new = partitioned_profile(
            parts_df.filter(F.col("part_id") >= 2), ["v"], "part_id", **kw)
        m = merge_profiles(old.unionByName(new)).collect()[0]
        whole = merge_profiles(
            partitioned_profile(parts_df, ["v"], "part_id", **kw)
        ).collect()[0]
        assert list(m["hist"]) == list(whole["hist"])
        assert sum(m["hist"]) == 1000
        assert list(m["hist_edges"]) == edges

        probs = [0.25, 0.5, 0.75]
        q_merged = quantiles_from_histogram(
            m["hist_edges"], m["hist"], probs, lo=m["min_v"], hi=m["max_v"])
        q_whole = quantiles_from_histogram(
            whole["hist_edges"], whole["hist"], probs,
            lo=whole["min_v"], hi=whole["max_v"])
        assert q_merged == q_whole
        exact = parts_df.agg(
            F.expr("percentile(v, array(0.25, 0.5, 0.75))").alias("q")
        ).collect()[0]["q"]
        for est, ex in zip(q_merged, exact):
            assert abs(est - ex) <= 10.0  # within one bucket width

    def test_drift_rule_from_merged_histogram(self, spark, parts_df):
        """merge_profiles hist → DriftPSIRule.from_histogram: the
        incremental drift baseline with no quantile round-trip.  Same
        distribution passes; a shifted table fires."""
        from pyspark.sql import functions as F

        from datatest_spark.stats import (
            DriftPSIRule, merge_profiles, partitioned_profile)
        from datatest_spark.validation import Engine

        edges = [float(e) for e in range(10, 137, 10)]
        m = merge_profiles(partitioned_profile(
            parts_df, ["v"], "part_id", bin_edges={"v": edges})
        ).collect()[0]
        rule = DriftPSIRule.from_histogram(
            "v", m["hist_edges"], m["hist"], threshold=0.1)
        engine = Engine(spark)
        same = parts_df.select(F.col("v").alias("v"))
        assert engine.validate(same, [rule]).ok
        shifted = parts_df.select((F.col("v") + 500).alias("v"))
        rule2 = DriftPSIRule.from_histogram(
            "v", m["hist_edges"], m["hist"], threshold=0.1)
        rows = engine.validate(shifted, [rule2]).violations.collect()
        assert len(rows) == 1 and rows[0]["deviation"] > 0.5

class TestTDigest:
    """Adaptive mergeable quantile sketch (stats.py t-digest): built
    from the single-scan GK grid per partition, merged by one Arrow
    compression pass, queried without rescans."""

    @pytest.fixture()
    def skew_df(self, spark):
        from pyspark.sql import functions as F

        # heavy-tailed deterministic values: exp(U) over ~3 decades
        return spark.range(20_000).select(
            (F.col("id") % 8).alias("part_id"),
            F.exp((F.xxhash64("id") % 1000).cast("double") / 250.0).alias("v"),
        )

    def test_compress_pure(self):
        from datatest_spark.stats import tdigest_compress

        cents = [(float(i), 1.0) for i in range(10_000)]
        out = tdigest_compress(cents, compression=100)
        assert len(out) < 200  # ~compression clusters
        assert abs(sum(w for _, w in out) - 10_000) < 1e-6  # mass preserved
        means = [m for m, _ in out]
        assert means == sorted(means)
        # deterministic and order-independent
        import random

        rnd = random.Random(7)
        shuffled = cents[:]
        rnd.shuffle(shuffled)
        assert tdigest_compress(shuffled, compression=100) == out

    def test_tail_resolution(self):
        """k1 scale function: clusters are smallest at the tails."""
        from datatest_spark.stats import tdigest_compress

        out = tdigest_compress([(float(i), 1.0) for i in range(100_000)], 100)
        weights = [w for _, w in out]
        assert weights[0] < weights[len(weights) // 2] / 10
        assert weights[-1] < weights[len(weights) // 2] / 10

    def test_quantiles_vs_exact(self, spark, skew_df):
        import numpy as np

        from datatest_spark.stats import (
            merge_profiles, partitioned_profile, tdigest_quantiles)

        prof = partitioned_profile(skew_df, ["v"], "part_id", tdigest=["v"])
        m = merge_profiles(prof).collect()[0]
        assert m["tdigest"] is not None and len(m["tdigest"]) > 10
        probs = [0.01, 0.25, 0.5, 0.75, 0.9, 0.99]
        est = tdigest_quantiles(
            m["tdigest"], probs, lo=m["min_v"], hi=m["max_v"])
        vals = np.array([r["v"] for r in skew_df.select("v").collect()])
        for p, e in zip(probs, est):
            rank = float((vals <= e).mean())
            assert abs(rank - p) <= 0.01, (p, e, rank)

    def test_merge_matches_whole_table_digest(self, spark, skew_df):
        """Digest merged from 8 partition sketches answers quantiles
        within rank epsilon of the digest built in one piece — the
        mergeability contract."""
        import numpy as np
        from pyspark.sql import functions as F

        from datatest_spark.stats import (
            merge_profiles, partitioned_profile, tdigest_quantiles)

        probs = [0.1, 0.5, 0.9]
        m8 = merge_profiles(
            partitioned_profile(skew_df, ["v"], "part_id", tdigest=["v"])
        ).collect()[0]
        m1 = merge_profiles(
            partitioned_profile(
                skew_df.withColumn("part_id", F.lit(0)), ["v"], "part_id",
                tdigest=["v"])
        ).collect()[0]
        q8 = tdigest_quantiles(m8["tdigest"], probs, m8["min_v"], m8["max_v"])
        q1 = tdigest_quantiles(m1["tdigest"], probs, m1["min_v"], m1["max_v"])
        vals = np.array([r["v"] for r in skew_df.select("v").collect()])
        for a, b in zip(q8, q1):
            gap = abs(float((vals <= a).mean()) - float((vals <= b).mean()))
            assert gap <= 0.01

    def test_sharded_merge(self, spark, skew_df):
        """tdigest_shards pre-compression (the >10^5-partition path)
        changes only the merge tree, not the answers."""
        import numpy as np

        from datatest_spark.stats import (
            merge_profiles, partitioned_profile, tdigest_quantiles)

        prof = partitioned_profile(skew_df, ["v"], "part_id", tdigest=["v"])
        prof.cache().count()
        try:
            probs = [0.1, 0.5, 0.9]
            flat = merge_profiles(prof).collect()[0]
            shard = merge_profiles(prof, tdigest_shards=4).collect()[0]
            qf = tdigest_quantiles(
                flat["tdigest"], probs, flat["min_v"], flat["max_v"])
            qs = tdigest_quantiles(
                shard["tdigest"], probs, shard["min_v"], shard["max_v"])
            vals = np.array([r["v"] for r in skew_df.select("v").collect()])
            for a, b in zip(qf, qs):
                gap = abs(float((vals <= a).mean()) - float((vals <= b).mean()))
                assert gap <= 0.01
        finally:
            prof.unpersist()

    def test_single_scan_with_tdigest(self, spark, skew_df):
        """Adding t-digest columns must NOT add a scan: the GK grid
        rides the same groupBy as every other aggregate."""
        from datatest_spark.stats import partitioned_profile

        prof = partitioned_profile(
            skew_df, ["v", "part_id"], "part_id", tdigest=["v"])
        plan = prof._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Range") == 1
        assert plan.count("Exchange") <= 2

    def test_drift_rule_from_tdigest(self, spark, skew_df):
        """merge_profiles tdigest → DriftPSIRule.from_tdigest: the
        edge-free incremental drift baseline.  Same distribution
        passes; a shifted table fires."""
        from pyspark.sql import functions as F

        from datatest_spark.stats import (
            DriftPSIRule, merge_profiles, partitioned_profile)
        from datatest_spark.validation import Engine

        m = merge_profiles(
            partitioned_profile(skew_df, ["v"], "part_id", tdigest=["v"])
        ).collect()[0]
        engine = Engine(spark)
        mk = lambda: DriftPSIRule.from_tdigest(
            "v", m["tdigest"], threshold=0.1,
            lo=m["min_v"], hi=m["max_v"])
        assert engine.validate(skew_df.select("v"), [mk()]).ok
        shifted = skew_df.select((F.col("v") + 100.0).alias("v"))
        rows = engine.validate(shifted, [mk()]).violations.collect()
        assert len(rows) == 1 and rows[0]["deviation"] > 0.5

    def test_legacy_profiles_without_tdigest_column(self, spark, skew_df):
        """Profiles persisted before the tdigest column existed still
        merge (null digest, stable schema)."""
        from datatest_spark.stats import merge_profiles, partitioned_profile

        legacy = partitioned_profile(skew_df, ["v"], "part_id").drop("tdigest")
        m = merge_profiles(legacy).collect()[0]
        assert m["tdigest"] is None
        assert m["row_count"] == 20_000


class TestTDigestProperties:
    """Hypothesis properties of the pure t-digest math — no Spark.

    These pin the invariants the distributed layers rely on: mass
    conservation (merged profiles count every row exactly once),
    monotone quantiles (drift-bucket edges stay sorted), bounded rank
    error (the tdigest_profile oracle's 0.01 bound has real margin),
    and permutation invariance (shuffle/merge order never changes the
    digest, which is what makes re-run artifacts hash-stable)."""

    @staticmethod
    def _values(draw):
        from hypothesis import strategies as st

        return draw(st.lists(
            st.floats(min_value=-1e9, max_value=1e9,
                      allow_nan=False, allow_infinity=False),
            min_size=1, max_size=400,
        ))

    def test_mass_and_order(self):
        from hypothesis import given, settings, strategies as st

        from datatest_spark.stats import tdigest_compress

        @settings(max_examples=60, deadline=None)
        @given(st.lists(
            st.tuples(
                st.floats(min_value=-1e9, max_value=1e9,
                          allow_nan=False, allow_infinity=False),
                st.floats(min_value=1e-3, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
            ),
            min_size=1, max_size=300,
        ))
        def prop(cents):
            out = tdigest_compress(cents, compression=50)
            total_in = sum(w for _, w in cents)
            total_out = sum(w for _, w in out)
            assert abs(total_out - total_in) <= 1e-6 * max(total_in, 1.0)
            means = [m for m, _ in out]
            assert means == sorted(means)
            assert all(w > 0 for _, w in out)

        prop()

    def test_permutation_invariance(self):
        import random

        from hypothesis import given, settings, strategies as st

        from datatest_spark.stats import tdigest_compress

        @settings(max_examples=40, deadline=None)
        @given(
            st.lists(st.floats(min_value=-1e6, max_value=1e6,
                               allow_nan=False, allow_infinity=False),
                     min_size=1, max_size=200),
            st.integers(min_value=0, max_value=2**31),
        )
        def prop(vals, seed):
            cents = [(v, 1.0) for v in vals]
            shuffled = cents[:]
            random.Random(seed).shuffle(shuffled)
            assert tdigest_compress(shuffled, 50) == tdigest_compress(cents, 50)

        prop()

    def test_quantiles_monotone_and_bounded(self):
        from hypothesis import given, settings, strategies as st

        from datatest_spark.stats import tdigest_compress, tdigest_quantiles

        @settings(max_examples=60, deadline=None)
        @given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                                  allow_nan=False, allow_infinity=False),
                        min_size=1, max_size=300))
        def prop(vals):
            dig = tdigest_compress([(v, 1.0) for v in vals], 50)
            probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
            q = tdigest_quantiles(dig, probs, lo=min(vals), hi=max(vals))
            assert q == sorted(q)
            assert q[0] >= min(vals) - 1e-9 and q[-1] <= max(vals) + 1e-9

        prop()

    def test_rank_error_bound(self):
        from hypothesis import given, settings, strategies as st

        from datatest_spark.stats import tdigest_compress, tdigest_quantiles

        @settings(max_examples=40, deadline=None)
        @given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                                  allow_nan=False, allow_infinity=False),
                        min_size=50, max_size=400))
        def prop(vals):
            dig = tdigest_compress([(v, 1.0) for v in vals], 100)
            n = len(vals)
            svals = sorted(vals)
            for p in (0.1, 0.25, 0.5, 0.75, 0.9):
                est = tdigest_quantiles(
                    dig, [p], lo=svals[0], hi=svals[-1])[0]
                # true rank of the estimate, with mass for ties
                below = sum(1 for v in svals if v < est)
                at = sum(1 for v in svals if v == est)
                lo_r, hi_r = below / n, (below + at) / n
                # the requested prob must fall within the estimate's
                # tie-range padded by the digest resolution
                pad = 0.05  # generous: compression 100 => ~0.01-0.02
                assert lo_r - pad <= p <= hi_r + pad, (p, est, lo_r, hi_r)

        prop()

    def test_split_merge_consistency(self):
        """compress(A) + compress(B) merged again answers quantiles
        within digest resolution of compress(A+B) — the partition-merge
        contract at arbitrary split points."""
        from hypothesis import given, settings, strategies as st

        from datatest_spark.stats import tdigest_compress, tdigest_quantiles

        @settings(max_examples=40, deadline=None)
        @given(
            st.lists(st.floats(min_value=-1e6, max_value=1e6,
                               allow_nan=False, allow_infinity=False),
                     min_size=20, max_size=300),
            st.integers(min_value=1, max_value=299),
        )
        def prop(vals, cut):
            cut = min(cut, len(vals) - 1)
            if cut < 1:
                return
            cents = [(v, 1.0) for v in vals]
            whole = tdigest_compress(cents, 100)
            merged = tdigest_compress(
                tdigest_compress(cents[:cut], 100)
                + tdigest_compress(cents[cut:], 100), 100)
            n = len(vals)
            svals = sorted(vals)
            for p in (0.25, 0.5, 0.75):
                qa = tdigest_quantiles(whole, [p], svals[0], svals[-1])[0]
                qb = tdigest_quantiles(merged, [p], svals[0], svals[-1])[0]
                ra = sum(1 for v in svals if v <= qa) / n
                rb = sum(1 for v in svals if v <= qb) / n
                assert abs(ra - rb) <= 0.08, (p, qa, qb, ra, rb)

        prop()


# ---------------------------------------------------------------------------
# Partition anomaly detection (round 5 continuation)
# ---------------------------------------------------------------------------


def _part_df(spark, sizes):
    rows = [(p, i) for p, n in sizes.items() for i in range(n)]
    return spark.createDataFrame(rows, "part string, v long")


def test_partition_anomalies_flags_outlier(spark):
    from datatest_spark.stats import partition_anomalies

    sizes = {"a": 100, "b": 103, "c": 98, "d": 101, "e": 99, "f": 9}
    out = {r.partition: r for r in partition_anomalies(
        _part_df(spark, sizes), "part", k=3.5).collect()}
    assert out["f"].anomaly is True
    assert all(out[p].anomaly is False for p in "abcde")
    assert out["f"].robust_z < -3.5
    assert out["a"].median == pytest.approx(99.5)


def test_partition_anomalies_zero_mad_fallback(spark):
    from datatest_spark.stats import partition_anomalies

    sizes = {"a": 10, "b": 10, "c": 10, "d": 10, "e": 50}
    out = {r.partition: r for r in partition_anomalies(
        _part_df(spark, sizes), "part").collect()}
    assert out["e"].anomaly is True and out["e"].mad == 0.0
    assert out["e"].robust_z is None
    assert out["a"].anomaly is False


def test_partition_anomaly_rule_emits_deviation(spark):
    from datatest_spark import validate, ValidationError
    from datatest_spark.stats import partition_anomaly

    sizes = {"a": 100, "b": 103, "c": 98, "d": 101, "e": 99, "f": 9}
    with pytest.raises(ValidationError) as exc:
        validate(_part_df(spark, sizes), rules=[partition_anomaly("part")])
    rows = exc.value.violations_df.collect()
    assert len(rows) == 1
    v = rows[0]
    assert v.diff_type == "DEVIATION" and v.key == "f"
    assert v.partition_id == "f" and v.deviation == pytest.approx(9 - 99.5)


def test_partition_anomaly_null_count_metric(spark):
    from datatest_spark.stats import partition_anomalies

    rows = []
    for p in "abcde":
        for i in range(50):
            # partition "e": half the values null; others: none
            v = None if (p == "e" and i % 2 == 0) else i
            rows.append((p, v))
    df = spark.createDataFrame(rows, "part string, v long")
    out = {r.partition: r for r in partition_anomalies(
        df, "part", metric="null_count", metric_col="v").collect()}
    assert out["e"].anomaly is True
    assert out["a"].anomaly is False


def test_partition_anomaly_single_scan_plan(spark):
    from datatest_spark.stats import partition_anomalies

    df = _part_df(spark, {"a": 5, "b": 6})
    plan = partition_anomalies(df, "part")._jdf.queryExecution().optimizedPlan().toString()
    # the source scan appears exactly once in the optimized plan
    assert plan.count("LogicalRDD") == 1
