"""Integration semantics mirroring reference tests/test_validation.py:452-711.

Each test reproduces one of the reference's exact difference-set
assertions against the Spark engine (micro-fixtures F5 in FIXTURES.md).
"""

import pytest

from datatest_spark import (
    Deviation,
    Extra,
    Invalid,
    Missing,
    ValidationError,
    valid,
    validate,
)
from tests.conftest import df_from


def get_differences(excinfo):
    return excinfo.value.differences


class TestSetMembership:
    """reference test_validation.py:629-635"""

    def test_missing_and_extra(self, spark):
        df = df_from(spark, [1, 2, 3, 5])
        with pytest.raises(ValidationError) as exc:
            validate(df, {1, 2, 3, 4}, column="value")
        diffs = get_differences(exc)
        assert sorted(diffs, key=repr) == [Extra(5), Missing(4)]

    def test_passing_set(self, spark):
        df = df_from(spark, [1, 2, 3])
        assert valid(df, {1, 2, 3}, column="value")

    def test_duplicate_extras_deduped(self, spark):
        # reference RequiredSet dedupes extras (requirements.py:541-544)
        df = df_from(spark, [1, 2, 5, 5, 5])
        with pytest.raises(ValidationError) as exc:
            validate(df, {1, 2}, column="value")
        assert get_differences(exc) == [Extra(5)]

    def test_string_set(self, spark):
        df = df_from(spark, ["a", "b", "x"])
        with pytest.raises(ValidationError) as exc:
            validate(df, {"a", "b", "c"}, column="value")
        assert sorted(get_differences(exc), key=repr) == [Extra("x"), Missing("c")]


class TestSubsetSuperset:
    def test_subset_violation(self, spark):
        df = df_from(spark, [1, 2, 3, 5])
        with pytest.raises(ValidationError) as exc:
            validate.subset(df, {1, 2, 3, 4}, column="value")
        assert get_differences(exc) == [Extra(5)]

    def test_subset_pass(self, spark):
        df = df_from(spark, [1, 2])
        res = validate.subset(df, {1, 2, 3}, column="value")
        assert res.ok

    def test_superset_violation(self, spark):
        df = df_from(spark, [1, 2, 3])
        with pytest.raises(ValidationError) as exc:
            validate.superset(df, {1, 2, 3, 4}, column="value")
        assert get_differences(exc) == [Missing(4)]

    def test_superset_pass(self, spark):
        df = df_from(spark, [1, 2, 3, 4, 5])
        res = validate.superset(df, {1, 2, 3}, column="value")
        assert res.ok

    def test_grouped_superset(self, spark):
        # every key group must contain every required element
        df = df_from(spark, {"a": [1, 2, 3], "b": [1, 3], "c": [4]})
        with pytest.raises(ValidationError) as exc:
            validate.superset(df, {1, 2}, column="value", key="key")
        diffs = get_differences(exc)
        assert diffs == {"b": Missing(2), "c": [Missing(1), Missing(2)]}

    def test_grouped_superset_pass(self, spark):
        df = df_from(spark, {"a": [1, 2, 9], "b": [2, 1]})
        res = validate.superset(df, {1, 2}, column="value", key="key",
                                raise_on_failure=False)
        assert res.ok


class TestUnique:
    """reference test_validation.py:679-686"""

    def test_duplicates(self, spark):
        df = df_from(spark, [1, 2, 3, 3])
        with pytest.raises(ValidationError) as exc:
            validate.unique(df, columns=["value"])
        assert get_differences(exc) == [Extra(3)]

    def test_multiplicity(self, spark):
        # one Extra per duplicate occurrence (requirements.py:627-634)
        df = df_from(spark, [1, 3, 3, 3])
        with pytest.raises(ValidationError) as exc:
            validate.unique(df, columns=["value"])
        assert get_differences(exc) == [Extra(3), Extra(3)]

    def test_unique_pass(self, spark):
        df = df_from(spark, [1, 2, 3])
        assert validate.unique(df, columns=["value"], raise_on_failure=False).ok

    def test_composite_null_components_stay_distinct(self, spark):
        # ('x', NULL) and (NULL, 'x') are DIFFERENT composite keys — a
        # null-dropping rendered group key would collapse them into
        # false duplicates (ADVICE r1)
        rows = [("x", None), (None, "x"), ("a", "b"), ("a", "b")]
        df = spark.createDataFrame(rows, "c1 string, c2 string")
        res = validate.unique(df, columns=["c1", "c2"], raise_on_failure=False)
        diffs = res.differences()
        assert diffs == [Extra("(a, b)")]

    def test_composite_null_duplicates_render_none(self, spark):
        rows = [("x", None), ("x", None)]
        df = spark.createDataFrame(rows, "c1 string, c2 string")
        res = validate.unique(df, columns=["c1", "c2"], raise_on_failure=False)
        assert res.differences() == [Extra("(x, None)")]

    def test_separator_values_do_not_collide(self, spark):
        # values containing ', ' must not merge with genuine 2-tuples
        rows = [("a, b", "c"), ("a", "b, c")]
        df = spark.createDataFrame(rows, "c1 string, c2 string")
        assert validate.unique(df, columns=["c1", "c2"],
                               raise_on_failure=False).ok


class TestInterval:
    """reference test_validation.py:607-622"""

    def test_grouped_interval(self, spark):
        data = {"A": 3, "B": 6, "C": [6, 7], "D": [9, 10]}
        df = df_from(spark, data).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate.interval(df, min=5, max=9, column="value", key="key")
        diffs = get_differences(exc)
        assert diffs == {"A": Deviation(-2, 5), "D": Deviation(+1, 9)}

    def test_ungrouped_interval(self, spark):
        df = df_from(spark, [4, 5, 6, 10])
        with pytest.raises(ValidationError) as exc:
            validate.interval(df, min=5, max=9, column="value")
        assert set(get_differences(exc)) == {Deviation(-1, 5), Deviation(+1, 9)}

    def test_left_bounded_only(self, spark):
        df = df_from(spark, [4, 5, 6])
        with pytest.raises(ValidationError) as exc:
            validate.interval(df, min=5, column="value")
        assert get_differences(exc) == [Deviation(-1, 5)]

    def test_null_is_invalid(self, spark):
        df = df_from(spark, [5, None])
        with pytest.raises(ValidationError) as exc:
            validate.interval(df, min=5, max=9, column="value")
        assert get_differences(exc) == [Invalid(None)]


class TestApprox:
    """reference test_validation.py:573-592"""

    def test_grouped_approx(self, spark):
        df = df_from(spark, {"A": 3, "B": 10.00000001}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate.approx(df, {"A": 5, "B": 10}, column="value", key="key")
        assert get_differences(exc) == {"A": Deviation(-2, 5)}

    def test_scalar_approx_pass(self, spark):
        df = df_from(spark, [10.00000001, 10.0])
        assert validate.approx(df, 10, column="value", raise_on_failure=False).ok

    def test_delta(self, spark):
        df = df_from(spark, [10.5, 12.0])
        with pytest.raises(ValidationError) as exc:
            validate.approx(df, 10, delta=1, column="value")
        assert get_differences(exc) == [Deviation(2, 10)]


class TestRegex:
    """reference test_validation.py:557-571"""

    def test_regex_violations(self, spark):
        df = df_from(spark, ["Alpha", "Beta", "gamma"])
        with pytest.raises(ValidationError) as exc:
            validate.regex(df, "^[A-Z]", column="value")
        assert get_differences(exc) == [Invalid("gamma")]

    def test_regex_search_not_fullmatch(self, spark):
        # reference uses re.search semantics (predicate.py:80-86)
        df = df_from(spark, ["xAy"])
        assert validate.regex(df, "A", column="value", raise_on_failure=False).ok


class TestValueColumnDefault:
    """validate.<method> checks the first non-key column when no
    column is named, and raises when the key is the only column."""

    def test_first_non_key_column(self, spark):
        df = df_from(spark, {"a": "Alpha", "b": "gamma"})
        with pytest.raises(ValidationError) as exc:
            validate.regex(df, "^[A-Z]", key="key")
        assert get_differences(exc) == {"b": Invalid("gamma")}

    @pytest.mark.parametrize("method, args", [
        ("predicate", (str,)), ("regex", ("x",)), ("approx", (1.0,)),
        ("approx", ({"a": 1.0},)), ("fuzzy", ("x",)), ("interval", (0, 1)),
        ("set", ({1},)), ("subset", ({1},)), ("superset", ({1},)),
        ("unique", ()),
    ])
    def test_key_only_frame_raises(self, spark, method, args):
        df = df_from(spark, {"a": 1}).select("key")
        with pytest.raises(ValueError, match=r"no value column.*'key'"):
            getattr(validate, method)(df, *args, key="key")

    def test_order_by_is_not_a_value_column(self, spark):
        df = df_from(spark, {"a": 1}).select("key", "pos")
        with pytest.raises(ValueError, match=r"no value column.*'pos'"):
            validate.order(df, [1], order_by="pos", key="key")


class TestFuzzy:
    """reference test_validation.py:594-605"""

    def test_grouped_fuzzy(self, spark):
        df = df_from(spark, {"A": "axx", "B": "bbx"}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate.fuzzy(df, {"A": "aaa", "B": "bbb"}, cutoff=0.6,
                           column="value", key="key")
        assert get_differences(exc) == {"A": Invalid("axx", "aaa")}

    def test_fuzzy_scalar(self, spark):
        df = df_from(spark, ["bbx", "zzz"])
        with pytest.raises(ValidationError) as exc:
            validate.fuzzy(df, "bbb", cutoff=0.6, column="value")
        assert get_differences(exc) == [Invalid("zzz", "bbb")]


class TestOrder:
    """reference test_validation.py:688-711"""

    def test_order_diffs(self, spark):
        df = df_from(spark, ["A", "C", "D", "F"])
        with pytest.raises(ValidationError) as exc:
            validate.order(df, ["A", "B", "C", "D"], column="value", order_by="pos")
        diffs = get_differences(exc)
        assert sorted(diffs, key=repr) == [Extra("(3, F)"), Missing("(1, B)")]

    def test_order_pass(self, spark):
        df = df_from(spark, ["A", "B", "C"])
        res = validate.order(df, ["A", "B", "C"], column="value",
                             order_by="pos", raise_on_failure=False)
        assert res.ok


class TestSequence:
    """reference requirements.py:712-758 (zip_longest semantics)"""

    def test_sequence_positional(self, spark):
        df = df_from(spark, [1, 2, 9])
        with pytest.raises(ValidationError) as exc:
            validate(df, [1, 2, 3, 4], column="value", order_by="pos")
        diffs = get_differences(exc)
        assert Deviation(6, 3) in diffs  # index 2: 9 vs 3
        assert Missing(4) in diffs  # index 3: data exhausted

    def test_sequence_extra(self, spark):
        df = df_from(spark, [1, 2, 3])
        with pytest.raises(ValidationError) as exc:
            validate(df, [1, 2], column="value", order_by="pos")
        assert get_differences(exc) == [Extra(3)]


class TestPredicate:
    """reference test_validation.py:452-555"""

    def test_scalar_numeric_deviation(self, spark):
        df = df_from(spark, [5, 7])
        with pytest.raises(ValidationError) as exc:
            validate(df, 5, column="value")
        assert get_differences(exc) == [Deviation(2, 5)]

    def test_string_equality(self, spark):
        df = df_from(spark, ["foo", "bar"])
        with pytest.raises(ValidationError) as exc:
            validate(df, "foo", column="value")
        assert get_differences(exc) == [Invalid("bar")]

    def test_callable_predicate(self, spark):
        df = df_from(spark, [2, 4, 5])
        with pytest.raises(ValidationError) as exc:
            validate(df, lambda x: x % 2 == 0, column="value")
        assert get_differences(exc) == [Invalid(5)]

    def test_type_predicate(self, spark):
        df = df_from(spark, [1.0, 2.5])
        assert valid(df, float, column="value")

    def test_grouped_predicate_mapping(self, spark):
        df = df_from(spark, {"A": "x", "B": "y"}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate(df, {"A": "x", "B": "z"}, key="key")
        assert get_differences(exc) == {"B": Invalid("y", "z")}

    def test_mapping_numeric_deviation(self, spark):
        df = df_from(spark, {"A": 100, "B": 200}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate(df, {"A": 100, "B": 290}, key="key")
        assert get_differences(exc) == {"B": Deviation(-90, 290)}

    def test_mapping_missing_key(self, spark):
        df = df_from(spark, {"A": 1}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate(df, {"A": 1, "B": 2}, key="key")
        assert get_differences(exc) == {"B": Missing(2)}

    def test_mapping_extra_key(self, spark):
        # data key not in requirement → Extra(value) (requirements.py:821-830)
        df = df_from(spark, {"A": 1, "B": 2}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate(df, {"A": 1}, key="key")
        assert get_differences(exc) == {"B": Extra(2)}

    def test_mapping_set_value(self, spark):
        df = df_from(spark, {"A": [1, 2, 3], "B": [1, 2]}).drop("pos")
        with pytest.raises(ValidationError) as exc:
            validate(df, {"A": {1, 2}, "B": {1, 2}}, key="key")
        assert get_differences(exc) == {"A": Extra(3)}


class TestEmptyRuleList:
    def test_empty_rules_yield_empty_violations(self, spark):
        # regression: _compile_ctx referenced an undefined name when no
        # rules were given (ADVICE r1)
        from datatest_spark.validation import Engine

        df = df_from(spark, [1, 2, 3])
        res = Engine(spark).validate(df, [])
        assert res.ok
        assert res.violations.count() == 0


class TestValidFunction:
    def test_valid_true(self, spark):
        df = df_from(spark, [1, 2, 3])
        assert valid(df, {1, 2, 3}, column="value") is True

    def test_valid_false(self, spark):
        df = df_from(spark, [1, 2, 9])
        assert valid(df, {1, 2, 3}, column="value") is False


class TestErrorRendering:
    def test_sorted_and_truncated(self, spark):
        df = df_from(spark, list(range(30)))
        with pytest.raises(ValidationError) as exc:
            validate(df, {-1}, column="value")
        msg = str(exc.value)
        assert "difference" in msg
        assert "more" in msg  # truncation marker


class TestGroupedOrder:
    """Grouped LCS order checks (OrderRule with keys via applyInPandas)."""

    def test_per_key_order(self, spark):
        from datatest_spark import requirements as R
        from datatest_spark.validation import Engine

        rows = [
            ("A", 0, "x"), ("A", 1, "y"), ("A", 2, "z"),      # matches
            ("B", 0, "x"), ("B", 1, "q"), ("B", 2, "z"),      # y->q replace
        ]
        df = spark.createDataFrame(rows, "key string, pos int, value string")
        engine = Engine(spark)
        res = engine.validate(
            df, [R.order("value", ["x", "y", "z"], order_by="pos")],
            key=["key"],
        )
        got = res.violations.collect()
        by_key = {}
        for r in got:
            by_key.setdefault(r["key"], []).append((r["diff_type"], r["invalid"], r["expected"]))
        assert "A" not in by_key
        assert ("MISSING", None, "(1, y)") in by_key["B"]
        assert ("EXTRA", "(1, q)", None) in by_key["B"]

    def test_grouped_order_plan_uses_arrow_groups(self, spark):
        """The grouped LCS path must compile to applyInPandas (grouped
        Arrow batches), never a driver-side collect loop."""
        from datatest_spark import requirements as R
        from datatest_spark.plans.inspect import explain_str
        from datatest_spark.validation import Engine

        rows = [("A", 0, "x"), ("A", 1, "y"), ("B", 0, "x")]
        df = spark.createDataFrame(rows, "key string, pos int, value string")
        viol = Engine(spark).compile(
            df, [R.order("value", ["x", "y"], order_by="pos")], key=["key"]
        )
        plan = explain_str(viol, "formatted")
        assert "FlatMapGroupsInPandas" in plan, plan

    def test_order_max_rows_guard_raises_cleanly(self, spark):
        """A group above max_rows must fail with the explicit guard
        error (LCS on an unbounded group is a modeling error at scale),
        not attempt the quadratic diff."""
        from datatest_spark import requirements as R
        from datatest_spark.validation import Engine

        rows = [("A", i, "v") for i in range(21)]
        df = spark.createDataFrame(rows, "key string, pos int, value string")
        viol = Engine(spark).compile(
            df,
            [R.order("value", ["v"], order_by="pos", max_rows=20)],
            key=["key"],
        )
        with pytest.raises(Exception, match="max_rows"):
            viol.collect()

    def test_order_max_rows_boundary_passes(self, spark):
        """Exactly max_rows rows in a group is allowed (guard is
        strictly greater-than)."""
        from datatest_spark import requirements as R
        from datatest_spark.validation import Engine

        rows = [("A", i, f"v{i}") for i in range(20)]
        df = spark.createDataFrame(rows, "key string, pos int, value string")
        viol = Engine(spark).compile(
            df,
            [R.order("value", [f"v{i}" for i in range(20)],
                     order_by="pos", max_rows=20)],
            key=["key"],
        )
        assert viol.count() == 0


class TestMappingWithSequence:
    def test_mapping_order_values(self, spark):
        from datatest_spark import requirements as R
        from datatest_spark.validation import Engine

        rows = [("A", 0, "x"), ("A", 1, "y"), ("B", 0, "y"), ("B", 1, "x")]
        df = spark.createDataFrame(rows, "key string, pos int, value string")
        # requirement: A must be [x, y]; B must be [x, y] (it's reversed)
        rule = R.mapping("key", {"A": ["x", "y"], "B": ["x", "y"]},
                         order_by="pos")
        # mapping needs (key, value) frames; pos is the order column
        engine = Engine(spark)
        res = engine.validate(df.select("key", "value", "pos"), [rule])
        # B reversed -> LCS diffs exist; A clean
        keys = {r["key"] for r in res.violations.collect()}
        assert "B" in str(keys)


class TestQuarantine:
    """quarantine(): violation-keyed row split — clean rows flow on,
    implicated rows hold with their violations, table-level verdicts
    surface as unattributed."""

    def test_split_partitions_input(self, spark):
        from pyspark.sql import functions as F

        from datatest_spark import requirements as R
        from datatest_spark.validation import quarantine

        rows = [(f"id{i}", float(i)) for i in range(100)]
        df = spark.createDataFrame(rows, "rid string, v double")
        res = quarantine(
            df, [R.interval("v", 10.0, 94.0)], key="rid")
        try:
            clean_ids = {r["rid"] for r in res.clean.collect()}
            quar_ids = {r["rid"] for r in res.quarantined.collect()}
            # rows 0-9 and 95-99 violate the interval
            assert quar_ids == {f"id{i}" for i in
                                list(range(10)) + list(range(95, 100))}
            assert clean_ids | quar_ids == {f"id{i}" for i in range(100)}
            assert not (clean_ids & quar_ids)
            assert res.unattributed.count() == 0
        finally:
            res.unpersist()

    def test_uniqueness_quarantines_all_dup_rows(self, spark):
        from datatest_spark import requirements as R
        from datatest_spark.validation import quarantine

        rows = [("a", 1), ("b", 2), ("a", 3), ("c", 4)]
        df = spark.createDataFrame(rows, "k string, n int")
        res = quarantine(df, [R.unique("k")], key="k")
        try:
            assert res.quarantined.count() == 2  # BOTH 'a' rows
            assert {r["k"] for r in res.clean.collect()} == {"b", "c"}
        finally:
            res.unpersist()

    def test_table_level_violations_are_unattributed(self, spark):
        from pyspark.sql import functions as F

        from datatest_spark.stats import DriftPSIRule
        from datatest_spark.validation import quarantine

        df = spark.range(200).select(
            F.col("id").cast("string").alias("rid"),
            (F.col("id").cast("double") + 500.0).alias("v"),
        )
        baseline = [float(5 * i) for i in range(21)]  # 0..100: drifted
        res = quarantine(
            df, [DriftPSIRule("v", baseline, threshold=0.1)], key="rid")
        try:
            # the drift verdict implicates no row: nothing quarantined,
            # one unattributed violation
            assert res.quarantined.count() == 0
            assert res.clean.count() == 200
            assert res.unattributed.count() == 1
        finally:
            res.unpersist()


class TestLocalCollections:
    """Reference parity: validate(data.columns, {...}) and other
    local-collection idioms (reference validation.py docstring) —
    the collection is promoted to a tiny frame on the active session,
    with identical difference semantics."""

    def test_column_layout_pass_and_fail(self, spark):
        from datatest_spark import validate
        from datatest_spark.differences import Extra, Missing
        from datatest_spark.validation import ValidationError

        df = spark.createDataFrame([(1, "a")], "A int, B string")
        validate(df.columns, {"A", "B"})  # no raise
        with pytest.raises(ValidationError) as exc:
            validate(["A", "C"], {"A", "B"})
        assert sorted(exc.value.differences, key=repr) == [
            Extra("C"), Missing("B")]

    def test_valid_on_collections(self, spark):
        from datatest_spark import valid

        assert valid(["x", "y"], {"x", "y"})
        assert not valid(["x"], {"x", "y"})

    def test_dict_against_mapping(self, spark):
        from datatest_spark import validate
        from datatest_spark.differences import Deviation
        from datatest_spark.validation import ValidationError

        with pytest.raises(ValidationError) as exc:
            validate({"x": 1, "y": 2}, {"x": 1, "y": 3})
        assert exc.value.differences == {"y": Deviation(-1, 3)}

    def test_predicate_over_list(self, spark):
        from datatest_spark import validate

        validate([2, 4, 6], lambda v: v % 2 == 0)

    def test_accepted_composes(self, spark):
        from datatest_spark import accepted, validate
        from datatest_spark.differences import Missing

        with accepted(Missing("B")):
            validate(["A"], {"A", "B"})

    def test_bare_string_rejected(self, spark):
        from datatest_spark import validate

        with pytest.raises(TypeError):
            validate("ABC", {"A", "B"})

    def test_pandas_frame_validates_data_not_labels(self, spark):
        import pandas as pd

        from datatest_spark import valid, validate

        pdf = pd.DataFrame({"v": [2, 4, 6]})
        validate(pdf, lambda v: v % 2 == 0)  # data, not column labels
        assert not valid(pdf, lambda v: v < 5)
        s = pd.Series(["a", "b"])
        assert valid(s, {"a", "b"})


class TestSchemaRule:
    """Declared-schema contract (requirements.schema_matches): the
    typed extension of the reference's column-layout idiom
    (docs/how-to/column-names.rst)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [("a", 1, 2.0)], "clip_id string, sr_hz int, score double"
        )

    def test_missing_and_type_mismatch(self, spark):
        from datatest_spark import requirements as R
        from datatest_spark import validate, ValidationError

        with pytest.raises(ValidationError) as exc:
            validate(self._df(spark), rules=[R.schema_matches(
                {"clip_id": "string", "sr_hz": "bigint", "bytes": "binary"}
            )])
        by = {(r.diff_type, r.column): r for r in exc.value.violations_df.collect()}
        assert by[("MISSING", "bytes")].expected == "binary"
        inv = by[("INVALID", "sr_hz")]
        assert inv.invalid == "int" and inv.expected == "bigint"
        assert len(by) == 2  # clip_id matches; score ignored (exact=False)

    def test_exact_flags_extra_columns(self, spark):
        from datatest_spark import requirements as R
        from datatest_spark import validate, ValidationError

        with pytest.raises(ValidationError) as exc:
            validate(self._df(spark), rules=[R.schema_matches(
                {"clip_id": "string", "sr_hz": "int"}, exact=True
            )])
        rows = exc.value.violations_df.collect()
        assert [(r.diff_type, r.column) for r in rows] == [("EXTRA", "score")]

    def test_type_aliases_normalize(self, spark):
        from datatest_spark import requirements as R
        from datatest_spark import valid

        ok = valid(self._df(spark), rules=[R.schema_matches(
            {"clip_id": "str", "sr_hz": "integer", "score": "double"}
        )])
        assert ok is True

    def test_metadata_only_no_input_scan(self, spark, tmp_path):
        from datatest_spark import requirements as R
        from datatest_spark.plans.inspect import scan_count
        from datatest_spark.validation import Engine

        path = str(tmp_path / "t.parquet")
        self._df(spark).write.parquet(path)
        v = Engine(spark).compile(
            spark.read.parquet(path),
            [R.schema_matches({"clip_id": "string", "nope": "int"})],
        )
        # schema is driver-side metadata: zero scans of the input table
        assert scan_count(v) == 0
        assert v.count() == 1  # the MISSING 'nope' row
