"""Checkpointed per-partition runs: verdicts, lineage, idempotent resume."""

import shutil

import pytest

from datatest_spark import requirements as R
from datatest_spark.plans import run_checkpointed
from tests.conftest import df_from


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def part_df(spark):
    rows = [(i, i % 4, 10 if i != 13 else 99) for i in range(40)]
    return spark.createDataFrame(rows, "id long, part_id int, v long")


class TestCheckpointedRun:
    def test_verdicts_written(self, spark, ckpt_dir):
        df = part_df(spark)
        run = run_checkpointed(
            df, [R.interval("v", 0, 50)], "part_id", ckpt_dir
        )
        verdicts = {r["partition_id"]: r for r in run.verdicts.collect()}
        assert set(verdicts) == {"0", "1", "2", "3"}
        # i=13 → part 1 fails
        assert verdicts["1"]["passed"] is False
        assert verdicts["1"]["n_violations"] == 1
        assert verdicts["0"]["passed"] is True
        assert verdicts["0"]["n_rows"] == 10
        assert not run.ok

    def test_resume_skips_committed(self, spark, ckpt_dir):
        df = part_df(spark)
        rules = [R.interval("v", 0, 50)]
        first = run_checkpointed(df, rules, "part_id", ckpt_dir)
        assert sorted(first.processed_partitions) == ["0", "1", "2", "3"]
        second = run_checkpointed(df, rules, "part_id", ckpt_dir)
        assert second.processed_partitions == []
        assert sorted(second.skipped_partitions) == ["0", "1", "2", "3"]

    def test_resume_skips_committed_with_compile_time_stat_rules(
            self, spark, ckpt_dir):
        # drift and outlier rules memoize their compile-time statistic
        # jobs per compile, never on the rule, so a first run leaves
        # the rule-set fingerprint unchanged and a resume skips every
        # committed partition
        from datatest_spark import stats

        df = part_df(spark)
        baseline = spark.createDataFrame([(v,) for v in range(40)], "v long")
        rules = [stats.drift_psi("v", [0.0, 5.0, 10.0, 20.0, 99.0]),
                 stats.outliers("v"),
                 stats.TwoSampleDriftRule("v", baseline, [5.0, 20.0])]
        first = run_checkpointed(df, rules, "part_id", ckpt_dir)
        assert sorted(first.processed_partitions) == ["0", "1", "2", "3"]
        second = run_checkpointed(df, rules, "part_id", ckpt_dir)
        assert second.processed_partitions == []
        assert sorted(second.skipped_partitions) == ["0", "1", "2", "3"]

    def test_ruleset_change_invalidates(self, spark, ckpt_dir):
        df = part_df(spark)
        run_checkpointed(df, [R.interval("v", 0, 50)], "part_id", ckpt_dir)
        run2 = run_checkpointed(
            df, [R.interval("v", 0, 200)], "part_id", ckpt_dir
        )
        # different rule set hash → all partitions re-run
        assert sorted(run2.processed_partitions) == ["0", "1", "2", "3"]
        assert run2.ok  # looser bound passes

    def test_global_plan_rule_violations_fail_run(self, spark, ckpt_dir):
        # uniqueness violations span partitions → no single partition_id;
        # they must land in the __global__ verdict bucket, not vanish
        rows = [(i if i != 7 else 3, i % 4) for i in range(8)]
        df = spark.createDataFrame(rows, "id long, part_id int")
        run = run_checkpointed(df, [R.unique("id")], "part_id", ckpt_dir)
        verdicts = {r["partition_id"]: r for r in run.verdicts.collect()}
        assert "__global__" in verdicts
        assert verdicts["__global__"]["passed"] is False
        assert verdicts["__global__"]["n_extra"] == 1
        assert not run.ok

    def test_global_mandatory_gates_everything(self, spark, ckpt_dir):
        rows = [(i if i != 7 else 3, i % 4, 10) for i in range(8)]
        df = spark.createDataFrame(rows, "id long, part_id int, v long")
        run = run_checkpointed(
            df,
            [R.interval("v", 0, 5, rule_id="soft")],  # would fail everywhere
            "part_id",
            ckpt_dir,
            mandatory=[R.unique("id", rule_id="hard")],
        )
        verdicts = {r["partition_id"]: r for r in run.verdicts.collect()}
        assert verdicts["__global__"]["failed_mandatory"] is True
        # fail-fast: the soft rule never ran, so no interval deviations
        assert all(v["n_deviation"] == 0 for v in verdicts.values())
        # data partitions were NEVER validated by the soft rule — they
        # must not be committed (a passed=True verdict here would be
        # skipped forever on resume)
        assert set(verdicts) == {"__global__"}
        assert not run.ok

    def test_global_mandatory_failure_leaves_partitions_resumable(
        self, spark, ckpt_dir
    ):
        # run 1: duplicate id → global mandatory failure gates the run
        rows = [(i if i != 7 else 3, i % 4, 10) for i in range(8)]
        df = spark.createDataFrame(rows, "id long, part_id int, v long")
        rules = [R.interval("v", 0, 50, rule_id="soft")]
        mand = [R.unique("id", rule_id="hard")]
        first = run_checkpointed(df, rules, "part_id", ckpt_dir, mandatory=mand)
        assert first.processed_partitions == []
        # run 2 on FIXED data (same ruleset/checkpoint): every data
        # partition must actually re-run, not be resume-skipped
        fixed = spark.createDataFrame(
            [(i, i % 4, 10) for i in range(8)], "id long, part_id int, v long"
        )
        second = run_checkpointed(
            fixed, rules, "part_id", ckpt_dir, mandatory=mand
        )
        assert sorted(second.processed_partitions) == ["0", "1", "2", "3"]
        assert second.skipped_partitions == []

    def test_mandatory_gating(self, spark, ckpt_dir):
        df = part_df(spark)
        run = run_checkpointed(
            df,
            [R.interval("v", 0, 50, rule_id="soft")],
            "part_id",
            ckpt_dir,
            mandatory=[R.predicate("v", 10, rule_id="hard")],
        )
        verdicts = {r["partition_id"]: r for r in run.verdicts.collect()}
        assert verdicts["1"]["failed_mandatory"] is True
        assert verdicts["0"]["failed_mandatory"] is False


class TestSkewHandling:
    def test_enable_adaptive_sets_confs(self, spark):
        from datatest_spark.plans import enable_adaptive

        enable_adaptive(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    def test_salted_repartition_spreads_hot_key(self, spark):
        from datatest_spark.plans import salted_repartition
        from pyspark.sql import functions as F

        # one hot key (90%) + a tail: unsalted repartition puts the hot
        # key on ONE task; salted spreads it over up to 8
        df = spark.range(1000).select(
            F.col("id"),
            F.when(F.col("id") < 900, "wav").otherwise(
                F.concat(F.lit("c"), F.col("id") % 7)
            ).alias("codec"),
        )
        # num_partitions pinned: AQE would otherwise coalesce this
        # byte-tiny shuffle to one partition (right at scale, wrong for
        # asserting spread on 1000 rows)
        salted = salted_repartition(df, ["codec"], buckets=8, id_col="id",
                                    num_partitions=16)
        spread = (
            salted.withColumn("p", F.spark_partition_id())
            .filter(F.col("codec") == "wav")
            .select("p").distinct().count()
        )
        assert spread >= 4  # hot key now spans multiple tasks
        assert salted.columns == df.columns  # salt column dropped
        assert salted.count() == 1000

    def test_salted_repartition_deterministic(self, spark):
        from datatest_spark.plans import salted_repartition
        from pyspark.sql import functions as F

        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("k")
        )
        a = salted_repartition(df, ["k"], buckets=4, id_col="id")
        pa = {r["id"]: r["p"] for r in
              a.withColumn("p", F.spark_partition_id()).collect()}
        b = salted_repartition(df, ["k"], buckets=4, id_col="id")
        pb = {r["id"]: r["p"] for r in
              b.withColumn("p", F.spark_partition_id()).collect()}
        assert pa == pb  # hash-of-id salt, not rand(): retry-stable

    def test_key_skew_stats_shares(self, spark):
        from datatest_spark.plans import key_skew_stats
        from pyspark.sql import functions as F

        df = spark.range(200).select(
            F.when(F.col("id") < 150, "hot").otherwise("cold").alias("k")
        )
        rows = {r["k"]: r for r in key_skew_stats(df, ["k"], k=5).collect()}
        assert rows["hot"]["cnt"] == 150 and rows["hot"]["share"] == 0.75
        assert rows["cold"]["share"] == 0.25

    def test_checkpoint_salted_run_matches_unsalted(self, spark, tmp_path):
        import datatest_spark.requirements as R
        from datatest_spark.plans import run_checkpointed
        from pyspark.sql import functions as F

        df = spark.range(400).select(
            F.col("id"),
            F.when(F.col("id") < 360, "wav").otherwise("flac").alias("codec"),
            (F.col("id") % 50).alias("v"),
        )
        rules = [R.interval("v", 0, 44, rule_id="interval:v")]
        plain = run_checkpointed(
            df, rules, "codec", str(tmp_path / "a"))
        salted = run_checkpointed(
            df, rules, "codec", str(tmp_path / "b"), salt_buckets=8)
        get = lambda run: sorted(
            (r["partition_id"], r["n_violations"], r["n_rows"])
            for r in run.verdicts.collect()
        )
        assert get(plain) == get(salted)
