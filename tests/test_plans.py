"""Physical-plan shape assertions — the 100 TB design checks.

These tests pin the properties that matter at scale: broadcast for
small requirement sides, column pruning down to the rule's columns,
one scan for N fused row rules, whole-stage codegen on the hot path.
"""

import pytest
from pyspark.sql import functions as F

from datatest_spark import requirements as R
from datatest_spark.plans.inspect import (
    explain_str,
    read_schema_columns,
    scan_count,
)
from datatest_spark.validation import Engine

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet")


class TestColumnPruning:
    def test_row_rule_prunes_scan(self, spark, orders):
        """A regex rule on one column must read ONLY that column."""
        v = Engine(spark).compile(orders, [R.regex("o_orderpriority", r"^[1-3]-")])
        schemas = read_schema_columns(v)
        assert schemas, "expected at least one scan"
        assert all(set(s) <= {"o_orderpriority"} for s in schemas), schemas

    def test_fused_rules_one_scan(self, spark, lineitem):
        """N row rules = ONE scan reading only the union of rule columns."""
        rules = [
            R.interval("l_quantity", 5, 45),
            R.interval("l_discount", 0, 0.1),
            R.regex("l_returnflag", "^[ARN]$"),
        ]
        v = Engine(spark).compile(lineitem, rules)
        assert scan_count(v) == 1
        schemas = read_schema_columns(v)
        assert set(schemas[0]) == {"l_quantity", "l_discount", "l_returnflag"}


class TestBroadcast:
    def test_literal_subset_broadcasts(self, spark, orders):
        """Anti-join against a small literal set must be broadcast."""
        v = Engine(spark).compile(
            orders, [R.subset("o_orderstatus", {"O", "F", "P"})]
        )
        plan = explain_str(v, "formatted")
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "LeftAnti" in plan

    def test_mapping_requirement_broadcasts(self, spark):
        df = spark.createDataFrame(
            [("A", 1), ("B", 2)], "key string, value long"
        )
        v = Engine(spark).compile(df, [R.mapping("key", {"A": 1, "B": 2})])
        plan = explain_str(v, "formatted")
        assert "BroadcastHashJoin" in plan


class TestCodegen:
    def test_row_rules_stay_in_codegen(self, spark, lineitem):
        """The fused row-rule projection must sit inside
        WholeStageCodegen (no Python in the hot path)."""
        v = Engine(spark).compile(lineitem, [R.interval("l_quantity", 5, 45)])
        plan = explain_str(v, "formatted")
        assert "[codegen id" in plan  # whole-stage codegen spans present
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_callable_predicate_uses_arrow_not_batch(self, spark, lineitem):
        """Python predicates must be Arrow-vectorized, never row-at-a-time."""
        v = Engine(spark).compile(
            lineitem, [R.predicate("l_quantity", lambda x: x > 0)]
        )
        plan = explain_str(v, "formatted")
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan


class TestPythonFragmentPruning:
    """The difflib stages may only ever see exact-mismatch rows: Spark
    evaluates ArrowEvalPython for every input row (boolean ``|`` does
    not short-circuit across the Python boundary), so the UDF stage
    must sit ABOVE a JVM Filter that removed exact matches."""

    def _assert_udf_above_exact_filter(self, plan: str):
        lines = plan.splitlines()
        arrow = next(i for i, l in enumerate(lines) if "ArrowEvalPython" in l)
        # Catalyst may keep the exact check as a Filter or push it into
        # the join condition — either way it must sit below the UDF stage
        exact_filter = next(
            i for i, l in enumerate(lines)
            if "<=>" in l and "ArrowEvalPython" not in l
        )
        # tree prints parent above child: the exact-match Filter must be
        # a descendant (below) of the Python stage
        assert arrow < exact_filter, plan

    def test_fuzzy_rule_prunes_udf_input(self, spark):
        df = spark.createDataFrame(
            [("abcd", "abcd"), ("abcd", "abXd")], "a string, b string"
        )
        v = Engine(spark).compile(df, [R.fuzzy("a", expected_col="b", cutoff=0.9)])
        self._assert_udf_above_exact_filter(explain_str(v, "simple"))

    def test_ref_match_fuzzy_prunes_udf_input(self, spark):
        df = spark.createDataFrame([(1, "abcd")], "k long, a string")
        ref = spark.createDataFrame([(1, "abXd")], "k long, r string")
        v = Engine(spark).compile(
            df, [R.ref_match("a", ref, on="k", ref_column="r", fuzzy_cutoff=0.5)]
        )
        self._assert_udf_above_exact_filter(explain_str(v, "simple"))


class TestAggregation:
    def test_profile_single_scan(self, spark, lineitem):
        from datatest_spark.stats import profile

        p = profile(lineitem, ["l_quantity", "l_discount", "l_extendedprice"])
        assert scan_count(p) == 1

    def test_unique_partial_aggregation(self, spark, lineitem):
        """groupBy count must have a map-side partial aggregate."""
        v = Engine(spark).compile(lineitem, [R.unique("l_orderkey")])
        plan = explain_str(v, "formatted")
        assert plan.count("HashAggregate") >= 2  # partial + final


class TestSamplingPlans:
    def test_sampled_verdicts_single_scan_pruned(self, spark, lineitem):
        """Row-rule sampled verdicts: ONE scan reading only the key +
        rule columns, no Python eval stage, filter pushed to the scan."""
        from datatest_spark.sampling import sampled_verdicts

        out = sampled_verdicts(
            lineitem,
            [R.interval("l_quantity", 1, 49),
             R.interval("l_discount", 0.0, 0.08)],
            sample_key=["l_orderkey", "l_linenumber"],
            fraction=1 / 16,
        )
        assert scan_count(out) == 1
        schemas = read_schema_columns(out)
        assert set(schemas[0]) == {
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
        }
        plan = explain_str(out)
        assert "BatchEvalPython" not in plan

    def test_partition_anomaly_single_scan(self, spark, lineitem):
        """Anomaly scoring: the table scan appears exactly once even
        though median and MAD cascade two window passes."""
        from datatest_spark.stats import partition_anomalies

        out = partition_anomalies(lineitem, "l_returnflag")
        assert scan_count(out) == 1
        schemas = read_schema_columns(out)
        assert set(schemas[0]) == {"l_returnflag"}

    def test_reconcile_prunes_both_sides(self, spark, orders):
        """Reconcile: both join inputs read only key + compared cols."""
        ref = orders.select("o_orderkey", "o_totalprice")
        v = Engine(spark).compile(
            orders, [R.reconcile(ref, on="o_orderkey",
                                 columns=["o_totalprice"])]
        )
        schemas = read_schema_columns(v)
        assert schemas and all(
            set(s) <= {"o_orderkey", "o_totalprice"} for s in schemas
        ), schemas


class TestVadBpePlans:
    """Plan shapes for the round-5 session-2 operators."""

    def test_vad_stats_no_shuffle_pruned_input(self, spark):
        from datatest_spark.audio import vad_stats
        from datatest_spark.fixtures import speech_clips_df

        plan = vad_stats(speech_clips_df(spark, 40, parts=2))
        s = plan._jdf.queryExecution().executedPlan().toString()
        # zero Exchanges end to end: the fixture generator partitions
        # spark.range directly (round 6 — no repartition shuffle) and
        # the operator adds no shuffle of its own
        assert s.count("Exchange") == 0
        assert "BatchEvalPython" not in s

    def test_dataset_card_single_python_stage(self, spark):
        from datatest_spark.audio import dataset_card
        from datatest_spark.fixtures import audio_clips_df

        plan = dataset_card(audio_clips_df(spark, 40, parts=2))
        s = plan._jdf.queryExecution().executedPlan().toString()
        # the fixture generator itself is one mapInPandas; the card
        # adds exactly one more Python stage (the decode/flags pass,
        # a MapInArrow on the clip kernel) — no per-row Python anywhere
        assert s.count("MapInPandas") + s.count("MapInArrow") == 2
        assert "BatchEvalPython" not in s

    def test_bpe_encode_arrow_only(self, spark):
        from datatest_spark.operators.bpe import bpe_encode

        df = spark.createDataFrame(
            [(1, "low lower"), (2, "newest")], "doc_id long, text string")
        plan = bpe_encode(df, [("l", "o"), ("lo", "w")], "text")
        s = plan._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in s
        assert "BatchEvalPython" not in s
        assert "Exchange" not in s
