"""Requirement operators — the validation core.

Each rule compiles the semantics of one reference requirement class
(datatest/requirements.py) into Spark plan fragments that emit
violation rows (schema: :mod:`datatest_spark.schema`).

Two rule kinds:

* **row rules** (predicate / regex / interval / approx / fuzzy /
  mapping fast-path) compile to a nullable violation-struct Column.
  The engine fuses *all* row rules into ONE projection over the scanned
  DataFrame — N rules cost one scan, and everything but Python-callable
  predicates stays inside whole-stage codegen.
* **plan rules** (set / subset / superset / unique / sequence / order /
  mapping) need aggregation or joins; each contributes a violation
  DataFrame fragment that the engine unions in.

Scale notes are inline per rule; the common themes: distinct/groupBy
aggregations give Spark partial (map-side) aggregation for free, small
requirement literals are broadcast, large referential tables use
sort-merge anti-joins with AQE skew handling.
"""

from __future__ import annotations

import math
from numbers import Number
from typing import Any, Iterable, Mapping, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .predicates import Predicate, compile_predicate, tuple_expr
from .schema import (
    DEVIATION,
    EXTRA,
    INVALID,
    MISSING,
    VIOLATION_SCHEMA,
    finalize_violations,
    local_frame,
    py_repr,
    repr_col,
    violation_struct,
)

__all__ = [
    "Rule",
    "predicate",
    "regex",
    "approx",
    "fuzzy",
    "interval",
    "set_equal",
    "subset",
    "superset",
    "unique",
    "sequence",
    "order",
    "mapping",
    "reconcile",
    "schema_matches",
    "ValidationContext",
]


class ValidationContext:
    """Execution context shared by all rules in one validate() call."""

    def __init__(
        self,
        df: DataFrame,
        key: Optional[Sequence[str]] = None,
        partition_col: Optional[str] = None,
    ) -> None:
        self.df = df
        self.spark = df.sparkSession
        self.key_cols = list(key) if key else []
        self.partition_col = partition_col
        self.cached = []  # DataFrames persisted by rules; unpersist after the run

    def key_expr(self) -> Optional[Column]:
        if not self.key_cols:
            return None
        if len(self.key_cols) == 1:
            return repr_col(F.col(self.key_cols[0]))
        # multi-column keys render as a tuple-ish string "(a, b)";
        # NULL components render as "None" (concat_ws would silently
        # drop them, collapsing distinct keys like (x, NULL)/(NULL, x))
        return _render_tuple([F.col(c) for c in self.key_cols])

    def partition_expr(self) -> Optional[Column]:
        if self.partition_col:
            return F.col(self.partition_col).cast("string")
        return None

    def dtype(self, column: str) -> Optional[T.DataType]:
        for field in self.df.schema.fields:
            if field.name == column:
                return field.dataType
        return None


class Rule:
    """Base class. Subclasses set ``kind`` to 'row' or 'plan'."""

    kind = "row"

    def __init__(self, rule_id: Optional[str] = None) -> None:
        self.rule_id = rule_id or self.__class__.__name__.lower()

    def row_expr(self, ctx: ValidationContext) -> Column:  # pragma: no cover
        raise NotImplementedError

    def plan(self, ctx: ValidationContext) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def fingerprint(self) -> str:
        """Stable identity incl. parameters (checkpoint invalidation)."""
        parts = [type(self).__name__, self.rule_id]
        for k in sorted(vars(self)):
            v = vars(self)[k]
            if isinstance(v, (str, int, float, bool, type(None))):
                parts.append(f"{k}={v!r}")
            elif isinstance(v, (set, frozenset, list, tuple)):
                try:
                    parts.append(f"{k}={sorted(map(repr, v))}")
                except TypeError:
                    parts.append(f"{k}=<coll:{len(v)}>")
        return "|".join(parts)


def _is_number(x: Any) -> bool:
    return isinstance(x, Number) and not isinstance(x, bool)


def _numeric_dtype(dtype: Optional[T.DataType]) -> bool:
    return isinstance(dtype, T.NumericType)


# ---------------------------------------------------------------------------
# Row rules
# ---------------------------------------------------------------------------


class PredicateRule(Rule):
    """Per-element predicate check (reference requirements.py:284-343).

    One Column expression per rule; scalar-vs-numeric failures become
    DEVIATION rows per the reference's ``_make_difference`` dispatch
    (differences.py:326-352), everything else INVALID.
    """

    kind = "row"

    def __init__(
        self,
        column: str,
        obj: Any,
        show_expected: bool = False,
        rule_id: Optional[str] = None,
        columns: Optional[Sequence[str]] = None,
    ) -> None:
        super().__init__(rule_id or f"predicate:{column}")
        self.column = column
        self.columns = list(columns) if columns else None
        self.obj = obj
        self.show_expected = show_expected
        self.pred = compile_predicate(obj)

    def _expected_col(self) -> Column:
        if _is_number(self.obj) or isinstance(self.obj, (str, bool)):
            return F.lit(py_repr(self.obj))
        return F.lit(self.pred.description)

    def row_expr(self, ctx: ValidationContext) -> Column:
        if self.columns:  # tuple predicate over several columns
            cols = [F.col(c) for c in self.columns]
            dtypes = [ctx.dtype(c) for c in self.columns]
            passed = tuple_expr(self.pred, cols, dtypes)
            invalid_repr = F.concat(
                F.lit("("),
                F.concat_ws(", ", *[repr_col(c) for c in cols]),
                F.lit(")"),
            )
            return F.when(
                ~F.coalesce(passed, F.lit(False)),
                violation_struct(
                    self.rule_id,
                    F.lit(INVALID),
                    key=ctx.key_expr(),
                    column=",".join(self.columns),
                    invalid=invalid_repr,
                    expected=self._expected_col() if self.show_expected else None,
                    partition_id=ctx.partition_expr(),
                ),
            )

        col = F.col(self.column)
        dtype = ctx.dtype(self.column)

        custom = getattr(self.pred, "custom_expr", None)
        if custom is not None:
            # Helper-function predicate: one Arrow stage returns
            # (passed, custom difference fields); a returned difference
            # object REPLACES the auto-generated violation (reference
            # docs/how-to/customize-differences.rst).  Catalyst dedups
            # the repeated struct references into a single UDF eval.
            cd = custom(col, dtype)
            default_expected = (
                self._expected_col() if self.show_expected
                else F.lit(None).cast("string")
            )
            has_custom = cd["diff_type"].isNotNull()
            return F.when(
                ~F.coalesce(cd["passed"], F.lit(False)),
                violation_struct(
                    self.rule_id,
                    F.coalesce(cd["diff_type"], F.lit(INVALID)),
                    key=ctx.key_expr(),
                    column=self.column,
                    invalid=F.when(has_custom, cd["invalid"])
                    .otherwise(repr_col(col)),
                    expected=F.when(has_custom, cd["expected"])
                    .otherwise(default_expected),
                    deviation=cd["deviation"],
                    expected_num=cd["expected_num"],
                    partition_id=ctx.partition_expr(),
                ),
            )

        passed = F.coalesce(self.pred.expr(col, dtype), F.lit(False))

        numeric_pair = _is_number(self.obj) and _numeric_dtype(dtype)
        if numeric_pair:
            expected_num = F.lit(float(self.obj))
            dev = col.cast("double") - expected_num
            diff_type = F.when(col.isNull(), F.lit(INVALID)).otherwise(F.lit(DEVIATION))
            return F.when(
                ~passed,
                violation_struct(
                    self.rule_id,
                    diff_type,
                    key=ctx.key_expr(),
                    column=self.column,
                    invalid=repr_col(col),
                    expected=F.lit(py_repr(self.obj)),
                    deviation=F.when(col.isNotNull(), dev),
                    expected_num=F.when(col.isNotNull(), expected_num),
                    partition_id=ctx.partition_expr(),
                ),
            )

        return F.when(
            ~passed,
            violation_struct(
                self.rule_id,
                F.lit(INVALID),
                key=ctx.key_expr(),
                column=self.column,
                invalid=repr_col(col),
                expected=self._expected_col() if self.show_expected else None,
                partition_id=ctx.partition_expr(),
            ),
        )


def predicate(column, obj, show_expected=False, rule_id=None, columns=None):
    return PredicateRule(column, obj, show_expected, rule_id, columns)


def regex(column: str, pattern: str, flags: int = 0, rule_id=None):
    """validate.regex (reference requirements.py:346-365) — rlike search."""
    import re as _re

    return PredicateRule(
        column, _re.compile(pattern, flags), rule_id=rule_id or f"regex:{column}"
    )


class ApproxRule(Rule):
    """validate.approx (reference requirements.py:368-423).

    Equal if ``round(abs(a-b), places) == 0`` or ``abs(a-b) <= delta``.
    Failures are DEVIATION rows; non-numeric/null actuals are INVALID.
    Pure Column arithmetic — codegen'd, no UDF.
    """

    kind = "row"

    def __init__(self, column, expected, places=7, delta=None, rule_id=None,
                 show_expected=True):
        super().__init__(rule_id or f"approx:{column}")
        if not _is_number(expected):
            raise TypeError(f"approx expected must be numeric, got {expected!r}")
        self.column = column
        self.expected = expected
        self.places = places
        self.delta = delta
        self.show_expected = show_expected

    def row_expr(self, ctx: ValidationContext) -> Column:
        col = F.col(self.column).try_cast("double")
        expected = F.lit(float(self.expected))
        diff = F.abs(col - expected)
        if self.delta is not None:
            passed = diff <= F.lit(float(self.delta))
        else:
            passed = F.round(diff, self.places) == F.lit(0.0)
        diff_type = F.when(col.isNull(), F.lit(INVALID)).otherwise(F.lit(DEVIATION))
        return F.when(
            ~F.coalesce(passed, F.lit(False)),
            violation_struct(
                self.rule_id,
                diff_type,
                key=ctx.key_expr(),
                column=self.column,
                invalid=repr_col(F.col(self.column)),
                expected=F.lit(py_repr(self.expected)),
                deviation=F.when(col.isNotNull(), col - expected),
                expected_num=F.when(col.isNotNull(), expected),
                partition_id=ctx.partition_expr(),
            ),
        )


def approx(column, expected, places=7, delta=None, rule_id=None):
    return ApproxRule(column, expected, places, delta, rule_id)


class FuzzyRule(Rule):
    """validate.fuzzy (reference requirements.py:426-463).

    Ratcliff–Obershelp similarity via ``difflib.SequenceMatcher.ratio``
    — NOT Levenshtein (`F.levenshtein` is not equivalent).  Runs as an
    Arrow-vectorized pandas UDF; this is an inherently-Python matcher.

    Plan shape (why this is a *plan* rule, not a fused row rule): Spark
    hoists pandas UDFs into an ArrowEvalPython stage that evaluates for
    EVERY input row regardless of boolean ``|`` short-circuits or
    ``F.when`` guards.  At 10^12 rows where ~99% pass exact equality,
    a fused expression would push the whole table through Python.  So
    the rule compiles to two fragments: a JVM-side Filter that removes
    exact matches first, then the difflib UDF over only the mismatch
    fragment (the plan shows ArrowEvalPython strictly above that
    Filter — pinned by tests/test_plans.py).
    """

    kind = "plan"

    def __init__(self, column, expected, cutoff=0.6, expected_col=None,
                 rule_id=None, show_expected=True):
        super().__init__(rule_id or f"fuzzy:{column}")
        self.column = column
        self.expected = expected
        self.expected_col = expected_col  # compare against another column
        self.cutoff = cutoff
        self.show_expected = show_expected

    def plan(self, ctx: ValidationContext) -> DataFrame:
        cutoff = self.cutoff

        @F.pandas_udf(T.BooleanType())
        def fuzzy_ok(a: pd.Series, b: pd.Series) -> pd.Series:
            import difflib

            out = []
            for x, y in zip(a, b):
                try:
                    m = difflib.SequenceMatcher(a=y, b=x)
                    out.append(m.ratio() >= cutoff)
                except TypeError:
                    out.append(False)
            return pd.Series(out, dtype="boolean")

        col = F.col(self.column)
        if self.expected_col is not None:
            exp = F.col(self.expected_col)
            exp_repr = repr_col(exp)
        else:
            exp = F.lit(self.expected)
            exp_repr = F.lit(py_repr(self.expected))

        # fragment 1 (JVM, codegen'd): drop exact matches
        mismatch = ctx.df.filter(~col.eqNullSafe(exp))
        # fragment 2 (Python): difflib only over the mismatches
        viol = mismatch.filter(~F.coalesce(fuzzy_ok(col, exp), F.lit(False)))
        return viol.select(
            finalize_cols(
                self.rule_id,
                INVALID,
                key=ctx.key_expr(),
                column=self.column,
                invalid=repr_col(col),
                expected=exp_repr if self.show_expected else None,
                partition_id=ctx.partition_expr(),
            )
        )


def fuzzy(column, expected=None, cutoff=0.6, expected_col=None, rule_id=None):
    return FuzzyRule(column, expected, cutoff, expected_col, rule_id)


class IntervalRule(Rule):
    """validate.interval (reference requirements.py:466-525).

    ``min <= x <= max``; below → Deviation(x-min, min), above →
    Deviation(x-max, max); null / NaN / un-comparable → Invalid.
    Pure ``between``/comparison Columns — codegen'd, pushdown-friendly.
    """

    kind = "row"

    def __init__(self, column, min=None, max=None, rule_id=None,
                 show_expected=True):
        super().__init__(rule_id or f"interval:{column}")
        if min is None and max is None:
            raise TypeError("must provide at least one: 'min' or 'max'")
        if min is not None and max is not None and not min <= max:
            raise ValueError("'min' must not be greater than 'max'")
        self.column = column
        self.min = min
        self.max = max
        self.show_expected = show_expected

    def row_expr(self, ctx: ValidationContext) -> Column:
        col = F.col(self.column)
        dtype = ctx.dtype(self.column)
        numeric = _numeric_dtype(dtype)

        lo = F.lit(self.min) if self.min is not None else None
        hi = F.lit(self.max) if self.max is not None else None

        below = (col < lo) if lo is not None else F.lit(False)
        above = (col > hi) if hi is not None else F.lit(False)
        is_nan = F.isnan(col.cast("double")) if numeric else F.lit(False)
        bad = col.isNull() | is_nan | F.coalesce(below, F.lit(False)) | F.coalesce(
            above, F.lit(False)
        )

        if numeric:
            bound_num = F.when(below, lo.cast("double") if lo is not None else None)
            if hi is not None:
                bound_num = F.when(below, lo.cast("double")).when(
                    above, hi.cast("double")
                ) if lo is not None else F.when(above, hi.cast("double"))
            dev = col.cast("double") - bound_num
            diff_type = F.when(col.isNull() | is_nan, F.lit(INVALID)).otherwise(
                F.lit(DEVIATION)
            )
            bound_repr = F.when(below, F.lit(py_repr(self.min))).when(
                above, F.lit(py_repr(self.max))
            )
            return F.when(
                bad,
                violation_struct(
                    self.rule_id,
                    diff_type,
                    key=ctx.key_expr(),
                    column=self.column,
                    invalid=repr_col(col),
                    expected=bound_repr,
                    deviation=dev,
                    expected_num=bound_num,
                    partition_id=ctx.partition_expr(),
                ),
            )

        # non-numeric columns: out-of-range / null → Invalid (strings
        # cannot produce Deviation per differences.py:326-352)
        bound_repr = F.when(below, F.lit(py_repr(self.min))).when(
            above, F.lit(py_repr(self.max))
        )
        return F.when(
            bad,
            violation_struct(
                self.rule_id,
                F.lit(INVALID),
                key=ctx.key_expr(),
                column=self.column,
                invalid=repr_col(col),
                expected=bound_repr if self.show_expected else None,
                partition_id=ctx.partition_expr(),
            ),
        )


def interval(column, min=None, max=None, rule_id=None):
    return IntervalRule(column, min, max, rule_id)


# ---------------------------------------------------------------------------
# Literal-requirement helpers (set / sequence / mapping values)
# ---------------------------------------------------------------------------


def _literal_rows(values: Iterable[Any]):
    """Normalize Python literals to (repr, num, is_num) rows so mixed-type
    requirement sets survive Spark's uniform column typing."""
    rows = []
    for v in values:
        if v is None:
            rows.append((None, None, False))
        elif _is_number(v):
            rows.append((py_repr(v), float(v), True))
        else:
            rows.append((str(v), None, False))
    return rows


def _literal_df(spark: SparkSession, values: Iterable[Any]) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("expected_repr", T.StringType(), True),
            T.StructField("expected_num", T.DoubleType(), True),
            T.StructField("is_num", T.BooleanType(), False),
        ]
    )
    return local_frame(spark, _literal_rows(values), schema)


def _match_key_col(col: Column) -> Column:
    """The canonical join key for literal comparison: repr-normalized
    string (so 5, 5.0 and '5' in a numeric column all align)."""
    return repr_col(col)


def _render_tuple(cols: Sequence[Column]) -> Column:
    """Render several columns as the reference's tuple repr "(a, b)".

    NULLs render as "None" — NEVER via bare concat_ws, which drops
    NULL pieces and makes ('x', NULL) and (NULL, 'x') collide."""
    pieces = [F.coalesce(repr_col(c), F.lit("None")) for c in cols]
    return F.concat(F.lit("("), F.concat_ws(", ", *pieces), F.lit(")"))


# ---------------------------------------------------------------------------
# Plan rules (aggregation / join based)
# ---------------------------------------------------------------------------


class SetRule(Rule):
    """validate.set — data's distinct elements equal the required set
    (reference requirements.py:528-552): Missing for required-but-absent,
    Extra for present-but-not-required (deduped).

    Spark plan: per-(key,) distinct (partial agg map-side) + one
    full-outer eqNullSafe join against the broadcast-size literal table.
    One shuffle on the value column; no row explosion.
    """

    kind = "plan"

    def __init__(self, column, required, rule_id=None):
        super().__init__(rule_id or f"set:{column}")
        self.column = column
        self.required = required

    def plan(self, ctx: ValidationContext) -> DataFrame:
        df = ctx.df
        nkeys = len(ctx.key_cols)
        key_exprs = [
            repr_col(F.col(c)).alias(f"_k{i}") for i, c in enumerate(ctx.key_cols)
        ]

        actual = (
            df.select(
                *key_exprs,
                _match_key_col(F.col(self.column)).alias("_val"),
            )
            .distinct()
            .withColumn("_in_data", F.lit(True))
        )

        if isinstance(self.required, DataFrame):
            req = self.required
            rcol = req.columns[0]
            req = req.select(
                _match_key_col(F.col(rcol)).alias("_rval")
            ).distinct()
        else:
            req = _literal_df(ctx.spark, self.required).select(
                F.col("expected_repr").alias("_rval")
            )
        req = req.withColumn("_in_req", F.lit(True))

        if ctx.key_cols:
            # same requirement applies within every key group
            rkey_exprs = [
                repr_col(F.col(c)).alias(f"_rk{i}")
                for i, c in enumerate(ctx.key_cols)
            ]
            keys = df.select(*rkey_exprs).distinct()
            req = keys.crossJoin(F.broadcast(req))
            cond = actual["_val"].eqNullSafe(req["_rval"])
            for i in range(nkeys):
                cond = cond & actual[f"_k{i}"].eqNullSafe(req[f"_rk{i}"])
            joined = actual.join(req, cond, "full_outer")
            merged = [
                F.coalesce(F.col(f"_k{i}"), F.col(f"_rk{i}")) for i in range(nkeys)
            ]
            if nkeys == 1:
                key_out = merged[0]
            else:
                key_out = _render_tuple(merged)
        else:
            joined = actual.join(
                req, actual["_val"].eqNullSafe(req["_rval"]), "full_outer"
            )
            key_out = None

        missing = joined.filter(F.col("_in_data").isNull()).select(
            finalize_cols(
                self.rule_id,
                MISSING,
                key=key_out,
                column=self.column,
                expected=F.col("_rval"),
            )
        )
        extra = joined.filter(F.col("_in_req").isNull()).select(
            finalize_cols(
                self.rule_id,
                EXTRA,
                key=key_out,
                column=self.column,
                invalid=F.col("_val"),
            )
        )
        return missing.unionByName(extra)


def finalize_cols(
    rule_id,
    diff_type,
    key=None,
    column=None,
    invalid=None,
    expected=None,
    deviation=None,
    expected_num=None,
    partition_id=None,
):
    """Column list matching VIOLATION_SCHEMA for plan-rule selects."""

    def _s(c):
        return c.cast("string") if c is not None else F.lit(None).cast("string")

    def _d(c):
        return c.cast("double") if c is not None else F.lit(None).cast("double")

    return [
        F.lit(rule_id).cast("string").alias("rule_id"),
        _s(key).alias("key"),
        F.lit(column).cast("string").alias("column"),
        F.lit(diff_type).cast("string").alias("diff_type"),
        _s(invalid).alias("invalid"),
        _s(expected).alias("expected"),
        _d(deviation).alias("deviation"),
        _d(expected_num).alias("expected_num"),
        _s(partition_id).alias("partition_id"),
    ]


class SubsetRule(Rule):
    """validate.subset — every data element must be in the requirement
    (reference requirements.py:602-621); violations are Extra (deduped).

    Spark plan: distinct + LEFT ANTI join.  Literal/small requirement →
    broadcast anti-join; DataFrame requirement (manifest-scale
    referential check) → sort-merge anti-join with AQE skew handling.
    """

    kind = "plan"

    def __init__(self, column, required, required_column=None, rule_id=None,
                 broadcast_hint=None):
        super().__init__(rule_id or f"subset:{column}")
        self.column = column
        self.required = required
        self.required_column = required_column
        self.broadcast_hint = broadcast_hint

    def _req_df(self, ctx):
        if isinstance(self.required, DataFrame):
            rcol = self.required_column or self.required.columns[0]
            req = self.required.select(
                _match_key_col(F.col(rcol)).alias("_rval")
            ).distinct()
            if self.broadcast_hint:
                req = F.broadcast(req)
            return req
        return F.broadcast(
            _literal_df(ctx.spark, self.required).select(
                F.col("expected_repr").alias("_rval")
            )
        )

    def plan(self, ctx: ValidationContext) -> DataFrame:
        key_exprs = [repr_col(F.col(c)).alias(f"_k{i}") for i, c in enumerate(ctx.key_cols)]
        actual = ctx.df.select(
            *key_exprs, _match_key_col(F.col(self.column)).alias("_val")
        ).distinct()
        req = self._req_df(ctx)
        extras = actual.join(
            req, actual["_val"].eqNullSafe(req["_rval"]), "left_anti"
        )
        key_out = _key_out_from_k(ctx)
        return extras.select(
            finalize_cols(
                self.rule_id, EXTRA, key=key_out, column=self.column,
                invalid=F.col("_val"),
            )
        )


def _key_out_from_k(ctx: ValidationContext):
    if not ctx.key_cols:
        return None
    ks = [F.col(f"_k{i}") for i in range(len(ctx.key_cols))]
    if len(ks) == 1:
        return ks[0]
    return _render_tuple(ks)


class SupersetRule(Rule):
    """validate.superset — data must contain every required element
    (reference requirements.py:580-599); violations are Missing.

    Spark plan: requirement LEFT ANTI data.distinct().  The distinct is
    the only shuffle; requirement side is usually broadcast-size.
    Grouped form: distinct keys × broadcast requirement (the same
    key-crossJoin shape SetRule uses) LEFT ANTI the per-key distinct
    values — every key group must contain every required element.
    """

    kind = "plan"

    def __init__(self, column, required, required_column=None, rule_id=None):
        super().__init__(rule_id or f"superset:{column}")
        self.column = column
        self.required = required
        self.required_column = required_column

    def _req_df(self, ctx) -> DataFrame:
        if isinstance(self.required, DataFrame):
            rcol = self.required_column or self.required.columns[0]
            return self.required.select(
                _match_key_col(F.col(rcol)).alias("_rval")
            ).distinct()
        return _literal_df(ctx.spark, self.required).select(
            F.col("expected_repr").alias("_rval")
        )

    def plan(self, ctx: ValidationContext) -> DataFrame:
        req = self._req_df(ctx)
        if not ctx.key_cols:
            actual = ctx.df.select(
                _match_key_col(F.col(self.column)).alias("_val")
            ).distinct()
            missing = req.join(
                actual, req["_rval"].eqNullSafe(actual["_val"]), "left_anti"
            )
            return missing.select(
                finalize_cols(
                    self.rule_id, MISSING, column=self.column,
                    expected=F.col("_rval"),
                )
            )

        nkeys = len(ctx.key_cols)
        key_exprs = [
            repr_col(F.col(c)).alias(f"_k{i}") for i, c in enumerate(ctx.key_cols)
        ]
        akey_exprs = [
            repr_col(F.col(c)).alias(f"_ak{i}") for i, c in enumerate(ctx.key_cols)
        ]
        actual = ctx.df.select(
            *akey_exprs, _match_key_col(F.col(self.column)).alias("_val")
        ).distinct()
        keys = ctx.df.select(*key_exprs).distinct()
        req_per_key = keys.crossJoin(F.broadcast(req))
        cond = F.col("_rval").eqNullSafe(F.col("_val"))
        for i in range(nkeys):
            cond = cond & F.col(f"_k{i}").eqNullSafe(F.col(f"_ak{i}"))
        missing = req_per_key.join(actual, cond, "left_anti")
        return missing.select(
            finalize_cols(
                self.rule_id, MISSING, key=_key_out_from_k(ctx),
                column=self.column, expected=F.col("_rval"),
            )
        )


class UniqueRule(Rule):
    """validate.unique — duplicate occurrences after the first are Extra
    (reference requirements.py:624-653), one Extra PER duplicate row.

    Spark plan: groupBy over the RAW columns (map-side partial agg;
    native-typed shuffle keys, no repr-string inflation; NULL components
    stay distinct — a rendered key would collapse ('x', NULL) and
    (NULL, 'x')) → filter count>1 → explode ``sequence(1, count-1)`` to
    reproduce the one-Extra-per-occurrence multiplicity without
    shuffling raw rows.  The "(a, b)" tuple repr is rendered only for
    the (rare) violation rows, after the aggregate.
    """

    kind = "plan"

    def __init__(self, columns, rule_id=None):
        if isinstance(columns, str):
            columns = [columns]
        super().__init__(rule_id or f"unique:{','.join(columns)}")
        self.columns = list(columns)

    def plan(self, ctx: ValidationContext) -> DataFrame:
        key_exprs = [repr_col(F.col(c)).alias(f"_k{i}") for i, c in enumerate(ctx.key_cols)]
        val_exprs = [F.col(c).alias(f"_c{j}") for j, c in enumerate(self.columns)]
        val_names = [f"_c{j}" for j in range(len(self.columns))]
        counts = (
            ctx.df.select(*key_exprs, *val_exprs)
            .groupBy(*[f"_k{i}" for i in range(len(ctx.key_cols))], *val_names)
            .count()
            .filter(F.col("count") > 1)
        )
        if len(self.columns) == 1:
            val = _match_key_col(F.col("_c0")).alias("_val")
        else:
            val = _render_tuple([F.col(n) for n in val_names]).alias("_val")
        dups = counts.select(
            *[F.col(f"_k{i}") for i in range(len(ctx.key_cols))],
            val,
            F.explode(F.sequence(F.lit(1), F.col("count") - 1)).alias("_n"),
        )
        return dups.select(
            finalize_cols(
                self.rule_id,
                EXTRA,
                key=_key_out_from_k(ctx),
                column=",".join(self.columns),
                invalid=F.col("_val"),
            )
        )


class SequenceRule(Rule):
    """Positional compare against a reference sequence
    (reference requirements.py:712-758): ``zip_longest`` with NOVALUE
    fill → per-index Missing/Extra/Deviation/Invalid.

    Spark plan: a global ``row_number`` assigns positions (requires an
    explicit deterministic ``order_by``), then a full-outer join on the
    position index against the broadcast literal sequence.  The global
    window is single-partition — acceptable because reference sequences
    are driver-side literals; for large ordered comparisons use
    ``order()`` with keys instead.
    """

    kind = "plan"

    def __init__(self, column, required, order_by, rule_id=None):
        super().__init__(rule_id or f"sequence:{column}")
        self.column = column
        self.required = list(required)
        self.order_by = order_by

    def plan(self, ctx: ValidationContext) -> DataFrame:
        df = ctx.df
        w = Window.orderBy(*[F.col(c) for c in _as_list(self.order_by)])
        actual = df.select(
            (F.row_number().over(w) - 1).alias("_idx"),
            F.col(self.column).alias("_actual"),
            _match_key_col(F.col(self.column)).alias("_actual_repr"),
            F.col(self.column).try_cast("double").alias("_actual_num"),
            F.lit(True).alias("_in_data"),
        )
        rows = [
            (i, r[0], r[1], r[2], True)
            for i, r in enumerate(_literal_rows(self.required))
        ]
        schema = T.StructType(
            [
                T.StructField("_idx", T.IntegerType(), False),
                T.StructField("_exp_repr", T.StringType(), True),
                T.StructField("_exp_num", T.DoubleType(), True),
                T.StructField("_exp_is_num", T.BooleanType(), False),
                T.StructField("_in_req", T.BooleanType(), False),
            ]
        )
        req = F.broadcast(local_frame(ctx.spark, rows, schema))
        j = actual.join(req, "_idx", "full_outer")

        both_num = F.col("_exp_is_num") & F.col("_actual_num").isNotNull()
        matches = F.when(
            both_num, F.col("_actual_num") == F.col("_exp_num")
        ).otherwise(F.col("_actual_repr").eqNullSafe(F.col("_exp_repr")))

        diff_type = (
            F.when(F.col("_in_data").isNull(), F.lit(MISSING))
            .when(F.col("_in_req").isNull(), F.lit(EXTRA))
            .when(both_num, F.lit(DEVIATION))
            .otherwise(F.lit(INVALID))
        )
        bad = (
            F.col("_in_data").isNull()
            | F.col("_in_req").isNull()
            | ~F.coalesce(matches, F.lit(False))
        )
        return j.filter(bad).select(
            finalize_cols(
                self.rule_id,
                diff_type,
                key=F.col("_idx"),
                column=self.column,
                invalid=F.when(F.col("_in_data").isNotNull(), F.col("_actual_repr")),
                expected=F.when(F.col("_in_req").isNotNull(), F.col("_exp_repr")),
                deviation=F.when(
                    both_num & F.col("_in_data").isNotNull() & F.col("_in_req").isNotNull(),
                    F.col("_actual_num") - F.col("_exp_num"),
                ),
                expected_num=F.when(both_num, F.col("_exp_num")),
            )
        )


def _as_list(x):
    return [x] if isinstance(x, str) else list(x)


class OrderRule(Rule):
    """validate.order — LCS diff against a required sequence
    (reference requirements.py:656-709), exact difflib opcode parity.

    LCS is inherently sequential, so this runs difflib per group inside
    ``applyInPandas`` (grouped Arrow batches).  Ungrouped data is treated
    as a single group — guarded by ``max_rows`` (LCS on a full table is a
    modeling error at 10^12 scale; grouped order checks shard naturally).
    """

    kind = "plan"

    def __init__(self, column, required, order_by, rule_id=None, max_rows=1_000_000):
        super().__init__(rule_id or f"order:{column}")
        self.column = column
        self.required = list(required)
        self.order_by = order_by
        self.max_rows = max_rows

    def plan(self, ctx: ValidationContext) -> DataFrame:
        required = self.required
        rule_id = self.rule_id
        column = self.column
        order_by = _as_list(self.order_by)
        key_cols = list(ctx.key_cols)
        max_rows = self.max_rows

        df = ctx.df.select(
            *(F.col(c) for c in dict.fromkeys(key_cols + order_by)),
            F.col(column).alias("_val"),
        )
        if not key_cols:
            df = df.withColumn("_g", F.lit(1))
            group_cols = ["_g"]
        else:
            group_cols = key_cols

        out_schema = T.StructType(
            [
                T.StructField("key", T.StringType(), True),
                T.StructField("diff_type", T.StringType(), True),
                T.StructField("idx", T.IntegerType(), True),
                T.StructField("value", T.StringType(), True),
            ]
        )

        def diff_group(pdf):
            import difflib

            import pandas as pd

            if len(pdf) > max_rows:
                raise ValueError(
                    f"order() group exceeds max_rows={max_rows}; "
                    "use grouped order checks at scale"
                )
            pdf = pdf.sort_values(order_by, kind="mergesort")
            group = ["" if v is None else str(v) for v in pdf["_val"].tolist()]
            req = ["" if v is None else str(v) for v in required]
            if key_cols:
                kv = pdf.iloc[0][key_cols[0]] if len(key_cols) == 1 else tuple(
                    pdf.iloc[0][c] for c in key_cols
                )
                key_repr = str(kv)
            else:
                key_repr = None
            out = []
            m = difflib.SequenceMatcher(a=group, b=req)
            for tag, i1, i2, j1, j2 in m.get_opcodes():
                if tag == "insert":
                    for v in req[j1:j2]:
                        out.append((key_repr, MISSING, i1, v))
                elif tag == "delete":
                    for idx, v in enumerate(group[i1:i2], start=i1):
                        out.append((key_repr, EXTRA, idx, v))
                elif tag == "replace":
                    ivals = group[i1:i2]
                    jvals = req[j1:j2]
                    for idx, (iv, jv) in enumerate(zip(ivals, jvals), start=i1):
                        out.append((key_repr, MISSING, idx, jv))
                        out.append((key_repr, EXTRA, idx, iv))
                    if len(ivals) < len(jvals):
                        for v in jvals[len(ivals):]:
                            out.append((key_repr, MISSING, i2, v))
                    elif len(ivals) > len(jvals):
                        for idx, v in enumerate(ivals[len(jvals):], start=i1 + len(jvals)):
                            out.append((key_repr, EXTRA, idx, v))
            return pd.DataFrame(out, columns=["key", "diff_type", "idx", "value"])

        diffs = df.groupBy(*group_cols).applyInPandas(diff_group, out_schema)
        # reference represents order diffs as Missing((idx, value)) /
        # Extra((idx, value)) — we render the tuple into invalid/expected
        tuple_repr = F.concat(
            F.lit("("), F.col("idx").cast("string"), F.lit(", "), F.col("value"), F.lit(")")
        )
        return diffs.select(
            finalize_cols(
                rule_id,
                F.col("diff_type"),
                key=F.col("key"),
                column=column,
                invalid=F.when(F.col("diff_type") == EXTRA, tuple_repr),
                expected=F.when(F.col("diff_type") == MISSING, tuple_repr),
            )
        )


def set_equal(column, required, rule_id=None):
    return SetRule(column, required, rule_id)


def subset(column, required, required_column=None, rule_id=None, broadcast_hint=None):
    return SubsetRule(column, required, required_column, rule_id, broadcast_hint)


def superset(column, required, required_column=None, rule_id=None):
    return SupersetRule(column, required, required_column, rule_id)


def unique(columns, rule_id=None):
    return UniqueRule(columns, rule_id)


def sequence(column, required, order_by, rule_id=None):
    return SequenceRule(column, required, order_by, rule_id)


def order(column, required, order_by, rule_id=None, max_rows=1_000_000):
    return OrderRule(column, required, order_by, rule_id, max_rows)


class MappingRule(Rule):
    """validate with a mapping requirement (reference
    requirements.py:761-878): per-key requirements, with the reference's
    dispatch — Set values → per-key set compare, Sequence values →
    per-key order compare, else predicate on the key's element(s).

    Spark plan:
      * scalar-valued keys: the requirement dict becomes a broadcast
        literal table joined on key — the "72% fast-path"
        (requirements.py:821-839) generalizes to a single broadcast
        hash join + one projection, no per-key dispatch at runtime.
      * keys in requirement but absent from data → right-anti join →
        Missing(expected).
      * keys in data but absent from requirement → Extra(value) per
        element (reference: Predicate(NOVALUE) never matches).
      * set-valued keys → grouped SetRule on the matching subset.
      * sequence-valued keys → grouped OrderRule (difflib parity).
    """

    kind = "plan"

    def __init__(self, key, requirement: Mapping, rule_id=None, order_by=None):
        super().__init__(rule_id or f"mapping:{key}")
        self.key = key
        self.requirement = dict(requirement)
        self.order_by = order_by

    def plan(self, ctx: ValidationContext) -> DataFrame:
        from functools import reduce

        df = ctx.df
        spark = ctx.spark
        key = self.key
        column = None
        # the value column: the single non-key (non-order) column
        order_cols = set(_as_list(self.order_by)) if self.order_by else set()
        value_cols = [c for c in df.columns if c != key and c not in order_cols]
        if len(value_cols) != 1:
            raise ValueError(
                "mapping() expects a (key, value[, order]) frame; "
                f"got {df.columns}"
            )
        column = value_cols[0]

        scalar_items = {}
        set_items = {}
        seq_items = {}
        for k, v in self.requirement.items():
            if isinstance(v, (set, frozenset)):
                set_items[k] = v
            elif isinstance(v, (list, tuple)) and not isinstance(v, str):
                seq_items[k] = list(v)
            else:
                scalar_items[k] = v

        fragments = []

        # --- scalar fast-path: broadcast literal table + one projection
        if scalar_items or True:
            rows = []
            for k, v in scalar_items.items():
                r = _literal_rows([v])[0]
                rows.append((py_repr(k), r[0], r[1], r[2]))
            schema = T.StructType(
                [
                    T.StructField("_key", T.StringType(), True),
                    T.StructField("_exp_repr", T.StringType(), True),
                    T.StructField("_exp_num", T.DoubleType(), True),
                    T.StructField("_exp_is_num", T.BooleanType(), False),
                ]
            )
            req = F.broadcast(local_frame(spark, rows, schema))
            data = df.select(
                repr_col(F.col(key)).alias("_key"),
                F.col(column).alias("_actual"),
                _match_key_col(F.col(column)).alias("_actual_repr"),
                F.col(column).try_cast("double").alias("_actual_num"),
            )
            other_req_keys = [py_repr(k) for k in list(set_items) + list(seq_items)]
            if other_req_keys:
                data = data.filter(~F.col("_key").isin(other_req_keys))
            j = data.join(req, "_key", "left_outer").withColumn(
                "_in_req", F.col("_exp_repr").isNotNull() | F.col("_exp_is_num").isNotNull()
            )

            both_num = (
                F.coalesce(F.col("_exp_is_num"), F.lit(False))
                & F.col("_actual_num").isNotNull()
            )
            matches = F.when(
                both_num, F.col("_actual_num") == F.col("_exp_num")
            ).otherwise(F.col("_actual_repr").eqNullSafe(F.col("_exp_repr")))
            in_req = F.col("_exp_is_num").isNotNull()

            diff_type = (
                F.when(~in_req, F.lit(EXTRA))
                .when(both_num, F.lit(DEVIATION))
                .otherwise(F.lit(INVALID))
            )
            bad = ~in_req | ~F.coalesce(matches, F.lit(False))
            fragments.append(
                j.filter(bad).select(
                    finalize_cols(
                        self.rule_id,
                        diff_type,
                        key=F.col("_key"),
                        column=column,
                        invalid=F.col("_actual_repr"),
                        expected=F.when(in_req, F.col("_exp_repr")),
                        deviation=F.when(
                            both_num, F.col("_actual_num") - F.col("_exp_num")
                        ),
                        expected_num=F.when(both_num, F.col("_exp_num")),
                    )
                )
            )

            # required keys missing from the data entirely → Missing(expected)
            all_req_rows = [
                (py_repr(k), py_repr(v) if not isinstance(v, (set, frozenset, list, tuple)) else str(v))
                for k, v in self.requirement.items()
            ]
            all_req = F.broadcast(
                local_frame(
                    spark,
                    all_req_rows,
                    T.StructType(
                        [
                            T.StructField("_key", T.StringType(), True),
                            T.StructField("_exp", T.StringType(), True),
                        ]
                    ),
                )
            )
            data_keys = df.select(repr_col(F.col(key)).alias("_key")).distinct()
            missing_keys = all_req.join(data_keys, "_key", "left_anti")
            fragments.append(
                missing_keys.select(
                    finalize_cols(
                        self.rule_id,
                        MISSING,
                        key=F.col("_key"),
                        column=column,
                        expected=F.col("_exp"),
                    )
                )
            )

        # --- set-valued keys: grouped set comparison
        for k, v in set_items.items():
            sub = df.filter(repr_col(F.col(key)) == py_repr(k))
            sub_ctx = ValidationContext(sub, key=[key], partition_col=ctx.partition_col)
            frag = SetRule(column, v, rule_id=self.rule_id).plan(sub_ctx)
            fragments.append(frag)

        # --- sequence-valued keys: grouped LCS order comparison
        for k, v in seq_items.items():
            if self.order_by is None:
                raise ValueError(
                    "mapping() with sequence values requires order_by="
                )
            sub = df.filter(repr_col(F.col(key)) == py_repr(k))
            sub_ctx = ValidationContext(sub, key=[key], partition_col=ctx.partition_col)
            frag = OrderRule(
                column, v, self.order_by, rule_id=self.rule_id
            ).plan(sub_ctx)
            fragments.append(frag)

        return reduce(lambda a, b: a.unionByName(b), fragments)


def mapping(key, requirement, rule_id=None, order_by=None):
    return MappingRule(key, requirement, rule_id, order_by)


class RefMatchRule(Rule):
    """Per-key equality (or fuzzy match) against a reference table —
    the distributed form of the reference's mapping-requirement checks
    (requirements.py:801-874) when the requirement itself is a table:
    e.g. transcript equality vs a manifest of reference transcripts.

    Spark plan: equi-join on the key (broadcast if ``broadcast_hint``,
    else sort-merge with AQE skew handling) + one comparison projection.
    ``fuzzy_cutoff`` adds the Ratcliff–Obershelp pandas-UDF stage ONLY
    for rows that fail exact equality (JVM-side short-circuit).
    """

    kind = "plan"

    def __init__(self, column: str, ref: DataFrame, on: str,
                 ref_column: str, fuzzy_cutoff: Optional[float] = None,
                 missing_ref_ok: bool = True, rule_id: Optional[str] = None,
                 broadcast_hint: bool = False):
        super().__init__(rule_id or f"ref_match:{column}")
        self.column = column
        self.ref = ref
        self.on = on
        self.ref_column = ref_column
        self.fuzzy_cutoff = fuzzy_cutoff
        self.missing_ref_ok = missing_ref_ok
        self.broadcast_hint = broadcast_hint

    def plan(self, ctx: ValidationContext) -> DataFrame:
        # violations are 1:1 with data rows, so the source partition is
        # attributable — carry it through for checkpoint verdicts
        part_sel = (
            [F.col(ctx.partition_col).cast("string").alias("_part")]
            if ctx.partition_col
            else []
        )
        df = ctx.df.select(
            F.col(self.on).alias("_on"),
            F.col(self.column).alias("_actual"),
            *part_sel,
        )
        ref = self.ref.select(
            F.col(self.on).alias("_on"),
            F.col(self.ref_column).alias("_expected"),
        )
        if self.broadcast_hint:
            ref = F.broadcast(ref)
        j = df.join(ref, "_on", "left_outer")

        # JVM fragment first: Spark hoists pandas UDFs into an
        # ArrowEvalPython stage that runs for EVERY input row, so the
        # difflib stage must sit above a Filter that already removed
        # exact matches (at 10^12 transcripts ~99% pass exactly).
        passed_jvm = F.col("_actual").eqNullSafe(F.col("_expected"))
        if self.missing_ref_ok:
            passed_jvm = passed_jvm | F.col("_expected").isNull()
        mismatch = j.filter(~F.coalesce(passed_jvm, F.lit(False)))

        if self.fuzzy_cutoff is not None:
            cutoff = self.fuzzy_cutoff

            @F.pandas_udf(T.BooleanType())
            def fuzzy_ok(a: pd.Series, b: pd.Series) -> pd.Series:
                import difflib

                out = []
                for x, y in zip(a, b):
                    try:
                        out.append(
                            difflib.SequenceMatcher(a=y, b=x).ratio() >= cutoff
                        )
                    except TypeError:
                        out.append(False)
                return pd.Series(out, dtype="boolean")

            mismatch = mismatch.filter(
                ~F.coalesce(
                    fuzzy_ok(F.col("_actual"), F.col("_expected")), F.lit(False)
                )
            )

        return mismatch.select(
            finalize_cols(
                self.rule_id,
                INVALID,
                key=repr_col(F.col("_on")),
                column=self.column,
                invalid=repr_col(F.col("_actual")),
                expected=repr_col(F.col("_expected")),
                partition_id=F.col("_part") if ctx.partition_col else None,
            )
        )


def ref_match(column, ref, on, ref_column, fuzzy_cutoff=None,
              missing_ref_ok=True, rule_id=None, broadcast_hint=False):
    return RefMatchRule(column, ref, on, ref_column, fuzzy_cutoff,
                        missing_ref_ok, rule_id, broadcast_hint)


class RefApproxRule(Rule):
    """Numeric consistency against a computed/reference table: the
    keyed form of ``validate.approx`` (requirements.py:368-423) where
    the expected value is itself a column — e.g. order totals vs the
    aggregated line items.

    Spark plan: equi-join on the key (sort-merge; AQE handles skew) +
    one arithmetic projection.  Failure → Deviation(actual-expected,
    expected); null/missing expected → Invalid.
    """

    kind = "plan"

    def __init__(self, column: str, ref: DataFrame, on: str, ref_column: str,
                 delta: Optional[float] = None, places: int = 7,
                 rule_id: Optional[str] = None, round_to: Optional[int] = None):
        super().__init__(rule_id or f"ref_approx:{column}")
        self.column = column
        self.ref = ref
        self.on = on
        self.ref_column = ref_column
        self.delta = delta
        self.places = places
        self.round_to = round_to

    def plan(self, ctx: ValidationContext) -> DataFrame:
        part_sel = (
            [F.col(ctx.partition_col).cast("string").alias("_part")]
            if ctx.partition_col
            else []
        )
        df = ctx.df.select(
            F.col(self.on).alias("_on"),
            F.col(self.column).try_cast("double").alias("_actual"),
            *part_sel,
        )
        ref = self.ref.select(
            F.col(self.on).alias("_on"),
            F.col(self.ref_column).try_cast("double").alias("_expected"),
        )
        j = df.join(ref, "_on", "inner")
        diff = F.abs(F.col("_actual") - F.col("_expected"))
        if self.delta is not None:
            passed = diff <= F.lit(float(self.delta))
        else:
            passed = F.round(diff, self.places) == F.lit(0.0)
        dev = F.col("_actual") - F.col("_expected")
        exp = F.col("_expected")
        if self.round_to is not None:
            dev = F.round(dev, self.round_to)
            exp = F.round(exp, self.round_to)
        return j.filter(~F.coalesce(passed, F.lit(False))).select(
            finalize_cols(
                self.rule_id,
                F.when(F.col("_actual").isNull(), F.lit(INVALID)).otherwise(
                    F.lit(DEVIATION)
                ),
                key=repr_col(F.col("_on")),
                column=self.column,
                invalid=repr_col(F.col("_actual")),
                expected=repr_col(exp),
                deviation=F.when(F.col("_actual").isNotNull(), dev),
                expected_num=F.when(F.col("_actual").isNotNull(), exp),
                partition_id=F.col("_part") if ctx.partition_col else None,
            )
        )


def ref_approx(column, ref, on, ref_column, delta=None, places=7,
               rule_id=None, round_to=None):
    return RefApproxRule(column, ref, on, ref_column, delta, places,
                         rule_id, round_to)


class ReconcileRule(Rule):
    """Symmetric two-table reconciliation — the raw-vs-curated audit a
    pipeline runs after every transform stage: keys missing from the
    data are MISSING, unexpected keys are EXTRA, and rows present in
    both tables diff per column (numeric drift beyond ``abs_tol`` →
    DEVIATION, any other inequality → INVALID).  This is the
    reference's "compare data against a reference mapping" semantics
    (requirements.py:801-874) generalized to a whole table of
    requirement rows; ref_match/ref_approx are its single-column,
    one-directional specializations.

    Spark plan: ONE full-outer sort-merge join on the key (broadcast
    when ``broadcast_hint``), both sides pruned to key + compared
    columns before the shuffle, then a single projection builds every
    difference struct (Missing/Extra/N column diffs) as an array and
    explodes the non-nulls — the whole audit is one join plus one
    codegen'd pass regardless of how many columns reconcile.  AQE
    handles skewed keys; keys are assumed unique per side (pair with
    ``unique()`` — duplicate keys reconcile per join multiplicity).
    """

    kind = "plan"

    def __init__(self, ref: DataFrame, on, columns: Optional[Sequence[str]] = None,
                 abs_tol: float = 0.0, check_missing: bool = True,
                 check_extra: bool = True, rule_id: Optional[str] = None,
                 broadcast_hint: bool = False):
        if isinstance(on, str):
            on = [on]
        super().__init__(rule_id or f"reconcile:{','.join(on)}")
        self.ref = ref
        self.on = list(on)
        self.columns = list(columns) if columns is not None else None
        self.abs_tol = float(abs_tol)
        self.check_missing = check_missing
        self.check_extra = check_extra
        self.broadcast_hint = broadcast_hint

    def _columns(self, ctx: ValidationContext) -> Sequence[str]:
        if self.columns is not None:
            return self.columns
        shared = [c for c in ctx.df.columns
                  if c in set(self.ref.columns) and c not in self.on]
        return shared

    def plan(self, ctx: ValidationContext) -> DataFrame:
        cols = list(self._columns(ctx))
        part_sel = (
            [F.col(ctx.partition_col).cast("string").alias("_part")]
            if ctx.partition_col else []
        )
        left = ctx.df.select(
            *[F.col(k).alias(f"_k{i}") for i, k in enumerate(self.on)],
            F.lit(True).alias("_in_data"),
            *[F.col(c).alias(f"_a{j}") for j, c in enumerate(cols)],
            *part_sel,
        )
        ref = self.ref.select(
            *[F.col(k).alias(f"_k{i}") for i, k in enumerate(self.on)],
            F.lit(True).alias("_in_ref"),
            *[F.col(c).alias(f"_e{j}") for j, c in enumerate(cols)],
        )
        if self.broadcast_hint:
            ref = F.broadcast(ref)
        knames = [f"_k{i}" for i in range(len(self.on))]
        j = left.join(ref, knames, "full_outer")

        if len(self.on) == 1:
            key_out = repr_col(F.col("_k0"))
        else:
            key_out = _render_tuple([F.col(k) for k in knames])
        part_out = F.col("_part") if ctx.partition_col else F.lit(None).cast("string")

        structs = []
        if self.check_missing:
            structs.append(
                F.when(
                    F.col("_in_data").isNull(),
                    violation_struct(self.rule_id, F.lit(MISSING),
                                     key=key_out,
                                     column=",".join(self.on),
                                     expected=key_out),
                )
            )
        if self.check_extra:
            structs.append(
                F.when(
                    F.col("_in_ref").isNull(),
                    violation_struct(self.rule_id, F.lit(EXTRA),
                                     key=key_out,
                                     column=",".join(self.on),
                                     invalid=key_out,
                                     partition_id=part_out),
                )
            )
        both = F.col("_in_data").isNotNull() & F.col("_in_ref").isNotNull()
        ref_types = {f.name: f.dataType for f in self.ref.schema.fields}
        for jx, c in enumerate(cols):
            a, e = F.col(f"_a{jx}"), F.col(f"_e{jx}")
            numeric = _numeric_dtype(ctx.dtype(c)) and isinstance(
                ref_types.get(c), T.NumericType
            )
            if numeric:
                ad, ed = a.cast("double"), e.cast("double")
                bad = both & ~(
                    a.eqNullSafe(e)
                    | (ad.isNotNull() & ed.isNotNull()
                       & (F.abs(ad - ed) <= F.lit(self.abs_tol)))
                )
                # null-vs-value has no numeric deviation — INVALID,
                # like the reference's Invalid-for-incomparable rows
                dtype_col = F.when(a.isNull() | e.isNull(), F.lit(INVALID)
                                   ).otherwise(F.lit(DEVIATION))
                nn = ad.isNotNull() & ed.isNotNull()
                structs.append(
                    F.when(
                        bad,
                        violation_struct(self.rule_id, dtype_col,
                                         key=key_out, column=c,
                                         invalid=repr_col(a),
                                         expected=repr_col(e),
                                         deviation=F.when(nn, ad - ed),
                                         expected_num=F.when(nn, ed),
                                         partition_id=part_out),
                    )
                )
            else:
                structs.append(
                    F.when(
                        both & ~a.eqNullSafe(e),
                        violation_struct(self.rule_id, F.lit(INVALID),
                                         key=key_out, column=c,
                                         invalid=repr_col(a),
                                         expected=repr_col(e),
                                         partition_id=part_out),
                    )
                )

        # explode + WHERE instead of the interpreted F.filter HOF
        # (lambda HOFs block whole-stage codegen — see Engine fused path)
        arr = F.array(*structs)
        return (j.select(F.explode(arr).alias("_v"))
                .where(F.col("_v").isNotNull()).select("_v.*"))


def reconcile(ref, on, columns=None, abs_tol=0.0, check_missing=True,
              check_extra=True, rule_id=None, broadcast_hint=False):
    return ReconcileRule(ref, on, columns, abs_tol, check_missing,
                         check_extra, rule_id, broadcast_hint)


class SchemaRule(Rule):
    """Declared-schema validation: the table's columns and Spark SQL
    types against a required ``{column: type_name}`` mapping —
    Missing for absent columns, Invalid for type mismatches, Extra
    for unexpected columns (only when ``exact=True``).

    The reference idiom is ``validate(data.columns, {...})``
    (column-LAYOUT checks, docs/how-to/column-names.rst); this rule
    adds the TYPE dimension an Iceberg-table contract needs
    (input_hint: clip_id string, bytes binary, sr_hz int, ...).
    Schema is driver-side metadata — the plan touches zero data rows,
    so the check is free at any table size and safe to mark
    @mandatory so a drifted contract gates every downstream rule.
    """

    kind = "plan"

    def __init__(self, required: Mapping, exact: bool = False,
                 rule_id: Optional[str] = None):
        super().__init__(rule_id or "schema")
        self.required = dict(required)
        self.exact = exact

    @staticmethod
    def _norm(t: str) -> str:
        t = t.strip().lower()
        aliases = {"integer": "int", "long": "bigint", "short": "smallint",
                   "byte": "tinyint", "str": "string", "bool": "boolean"}
        return aliases.get(t, t)

    def plan(self, ctx: ValidationContext) -> DataFrame:
        actual = {f.name: f.dataType.simpleString() for f in ctx.df.schema.fields}
        rows = []
        for col, want in self.required.items():
            if col not in actual:
                rows.append((self.rule_id, None, col, MISSING, None,
                             self._norm(str(want)), None, None, None))
            elif self._norm(str(want)) != self._norm(actual[col]):
                rows.append((self.rule_id, None, col, INVALID,
                             actual[col], self._norm(str(want)),
                             None, None, None))
        if self.exact:
            for col in actual:
                if col not in self.required:
                    rows.append((self.rule_id, None, col, EXTRA,
                                 actual[col], None, None, None, None))
        return local_frame(ctx.spark, rows, VIOLATION_SCHEMA)


def schema_matches(required, exact=False, rule_id=None):
    return SchemaRule(required, exact, rule_id)
