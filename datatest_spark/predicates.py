"""Predicate compiler — requirement literals → Spark Column expressions.

Re-expresses the reference's predicate matchers
(datatest/_vendor/predicate.py:297-360) as a *compiler*: each supported
literal becomes a JVM-side Column expression whenever possible, so the
hot path stays inside whole-stage codegen.  Python callables — the only
matcher Spark cannot express natively — fall back to an Arrow-vectorized
pandas UDF (batched, never per-row Python UDFs).

Matcher table (reference predicate.py lines in parens):

    function        f(value) truthy          (50-54)   pandas_udf batch
    type            isinstance(value, T)     (43-47)   cast-success check
    re.Pattern      regex.search(value)      (80-86)   rlike (search ≙ rlike)
    set             value in set             (88-95)   isin / broadcast join
    True / False    truthy / falsy           (62-69)   dtype-aware truthiness
    float('nan')    isnan(value)             (72-77)   F.isnan
    Ellipsis        wildcard                 (57-59)   lit(True)
    scalar          equality                 (141-142) eqNullSafe
    tuple           component-wise           (36-40)   per-column conjunction
    ~p, p & q, p|q  combinators              (334-360) ~, &, | on Columns
"""

from __future__ import annotations

import math
import re
from typing import Any, Callable, Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["Predicate", "compile_predicate"]

_REGEX_TYPE = type(re.compile(""))

# Python type -> Spark types it corresponds to (numpy widening per
# reference predicate.py:104-119 is implicit: Spark columns are already
# concrete numeric types).
_TYPE_MAP = {
    str: (T.StringType,),
    int: (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    float: (T.FloatType, T.DoubleType),
    bool: (T.BooleanType,),
    bytes: (T.BinaryType,),
    complex: (),
}


def _truthy(col: Column, dtype: Optional[T.DataType]) -> Column:
    """Dtype-aware truthiness (reference predicate.py:62-65)."""
    if isinstance(dtype, T.BooleanType):
        return col & col.isNotNull()
    if isinstance(dtype, T.StringType):
        return col.isNotNull() & (F.length(col) > 0)
    if isinstance(dtype, (T.NumericType,)):
        return col.isNotNull() & (col != F.lit(0))
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return col.isNotNull() & (F.size(col) > 0)
    # unknown dtype: non-null and != 0 when castable, else non-null
    return col.isNotNull() & (col.cast("string") != F.lit(""))


def _is_nan_literal(obj: Any) -> bool:
    return isinstance(obj, float) and math.isnan(obj)


class Predicate:
    """A compiled predicate: ``expr(col, dtype)`` → boolean Column.

    Supports ``~``, ``&``, ``|`` like the reference's Predicate class
    (predicate.py:334-360).  ``uses_python`` reports whether evaluation
    needs a pandas-UDF stage (so planners can group UDF rules together).
    """

    def __init__(
        self,
        fn: Callable[[Column, Optional[T.DataType]], Column],
        description: str,
        uses_python: bool = False,
        obj: Any = None,
    ) -> None:
        self._fn = fn
        self.description = description
        self.uses_python = uses_python
        self.obj = obj

    def expr(self, col: Column, dtype: Optional[T.DataType] = None) -> Column:
        return self._fn(col, dtype)

    def __invert__(self) -> "Predicate":
        return Predicate(
            lambda c, d: ~F.coalesce(self._fn(c, d), F.lit(False)),
            f"~{self.description}",
            self.uses_python,
        )

    def __and__(self, other: "Predicate") -> "Predicate":
        return Predicate(
            lambda c, d: self._fn(c, d) & other._fn(c, d),
            f"({self.description} & {other.description})",
            self.uses_python or other.uses_python,
        )

    def __or__(self, other: "Predicate") -> "Predicate":
        return Predicate(
            lambda c, d: self._fn(c, d) | other._fn(c, d),
            f"({self.description} | {other.description})",
            self.uses_python or other.uses_python,
        )

    def __repr__(self) -> str:
        return f"Predicate({self.description})"


CUSTOM_DIFF_SCHEMA = T.StructType(
    [
        T.StructField("passed", T.BooleanType(), True),
        T.StructField("diff_type", T.StringType(), True),
        T.StructField("invalid", T.StringType(), True),
        T.StructField("expected", T.StringType(), True),
        T.StructField("deviation", T.DoubleType(), True),
        T.StructField("expected_num", T.DoubleType(), True),
    ]
)

_CUSTOM_DIFF_COLS = [f.name for f in CUSTOM_DIFF_SCHEMA.fields]


def _difference_fields(d) -> tuple:
    """(diff_type, invalid, expected, deviation, expected_num) for a
    difference object a helper function returned (reference
    docs/how-to/customize-differences.rst: the returned difference is
    used in place of the auto-generated one)."""
    from numbers import Number

    from .differences import Deviation, Extra, Missing
    from .schema import py_repr

    def _num(x):
        return float(x) if isinstance(x, Number) and not isinstance(x, bool) else None

    if isinstance(d, Deviation):
        return ("DEVIATION", None, py_repr(d.expected),
                _num(d.deviation), _num(d.expected))
    if isinstance(d, Missing):
        return ("MISSING", None, py_repr(d.args[0] if d.args else None),
                None, None)
    if isinstance(d, Extra):
        return ("EXTRA", py_repr(d.args[0] if d.args else None), None,
                None, None)
    inv = getattr(d, "invalid", d.args[0] if d.args else None)
    exp = getattr(d, "expected", None)
    return ("INVALID", py_repr(inv), py_repr(exp), None, None)


def _callable_predicate(f: Callable[[Any], Any]) -> Predicate:
    """Arrow-vectorized fallback for arbitrary Python callables.

    The batch loop runs once per Arrow batch (thousands of values), not
    per row — this is the engine's only Python execution path, mirroring
    reference predicate.py:120-122 but batched.

    Reference parity for custom differences: a helper that returns a
    difference object means FAIL-with-that-difference, never pass
    (customize-differences.rst).  The boolean path maps it to False;
    ``custom_expr`` (used by PredicateRule) returns the full struct so
    the returned difference replaces the auto-generated violation.
    """

    def make_expr(col: Column, dtype: Optional[T.DataType]) -> Column:
        @F.pandas_udf(T.BooleanType())
        def _apply(s: pd.Series) -> pd.Series:
            from .differences import BaseDifference

            def check(v: Any) -> bool:
                try:
                    r = f(v)
                except Exception:
                    return False
                if isinstance(r, BaseDifference):
                    return False  # a returned difference is a failure
                return bool(r) or v is f

            return s.map(check).astype("boolean")

        return _apply(col)

    def make_custom(col: Column, dtype: Optional[T.DataType]) -> Column:
        @F.pandas_udf(CUSTOM_DIFF_SCHEMA)
        def _apply(s: pd.Series) -> pd.DataFrame:
            from .differences import BaseDifference

            rows = []
            for v in s:
                try:
                    r = f(v)
                except Exception:
                    rows.append((False, None, None, None, None, None))
                    continue
                if isinstance(r, BaseDifference):
                    rows.append((False,) + _difference_fields(r))
                    continue
                rows.append((bool(r) or v is f, None, None, None, None, None))
            return pd.DataFrame(rows, columns=_CUSTOM_DIFF_COLS)

        return _apply(col)

    name = getattr(f, "__name__", repr(f))
    p = Predicate(make_expr, name, uses_python=True, obj=f)
    p.custom_expr = make_custom
    return p


def compile_predicate(obj: Any) -> Predicate:
    """Compile a requirement literal into a :class:`Predicate`."""
    if isinstance(obj, Predicate):
        return obj

    if obj is Ellipsis:  # wildcard (predicate.py:57-59)
        return Predicate(lambda c, d: F.lit(True), "...", obj=obj)

    if obj is True:
        return Predicate(lambda c, d: _truthy(c, d), "True", obj=obj)
    if obj is False:
        return Predicate(
            lambda c, d: ~_truthy(c, d) | c.isNull(), "False", obj=obj
        )

    if _is_nan_literal(obj):  # (predicate.py:72-77)
        return Predicate(
            lambda c, d: c.isNotNull() & F.coalesce(F.isnan(c.try_cast("double")), F.lit(False)),
            "NaN",
            obj=obj,
        )

    if isinstance(obj, type):  # type predicate (predicate.py:43-47)
        spark_types = _TYPE_MAP.get(obj)

        def type_expr(c: Column, d: Optional[T.DataType]) -> Column:
            if spark_types is not None and d is not None:
                # statically decidable from the schema: every non-null
                # value of a matching column is an instance
                matches = isinstance(d, spark_types) if spark_types else False
                if obj is int and isinstance(d, T.BooleanType):
                    matches = True  # bool is an int subclass in Python
                return c.isNotNull() & F.lit(matches)
            # dynamic (string-typed) cells: value parses as the type
            if obj is int:
                return c.try_cast("long").isNotNull() & ~c.cast("string").rlike(r"\.")
            if obj is float:
                return c.try_cast("double").isNotNull()
            if obj is str:
                return c.isNotNull()
            return c.isNotNull() & F.lit(False)

        return Predicate(type_expr, obj.__name__, obj=obj)

    if isinstance(obj, _REGEX_TYPE):  # regex search ≙ rlike (predicate.py:80-86)
        pattern = obj.pattern
        if obj.flags & re.IGNORECASE:
            pattern = f"(?i){pattern}"
        if obj.flags & re.DOTALL:
            pattern = f"(?s){pattern}"
        if obj.flags & re.MULTILINE:
            pattern = f"(?m){pattern}"
        return Predicate(
            lambda c, d, p=pattern: c.cast("string").rlike(p),
            f"re.compile({obj.pattern!r})",
            obj=obj,
        )

    if isinstance(obj, (set, frozenset)):  # membership (predicate.py:88-95)
        values = sorted(obj, key=repr)
        return Predicate(
            lambda c, d, v=values: c.isin(v),
            f"{set(obj)!r}",
            obj=obj,
        )

    if isinstance(obj, tuple):  # component-wise row predicate (predicate.py:36-40)
        parts = [compile_predicate(p) for p in obj]

        def tuple_expr(c: Column, d: Optional[T.DataType]) -> Column:
            raise TypeError(
                "tuple predicates apply to multiple columns; use expr_tuple"
            )

        pred = Predicate(
            tuple_expr,
            "(" + ", ".join(p.description for p in parts) + ")",
            any(p.uses_python for p in parts),
            obj=obj,
        )
        pred.parts = parts  # type: ignore[attr-defined]
        return pred

    if callable(obj):  # function predicate → pandas UDF
        return _callable_predicate(obj)

    # plain scalar equality, null-aware (predicate.py:141-142)
    def eq_expr(c: Column, d: Optional[T.DataType]) -> Column:
        return c.eqNullSafe(F.lit(obj))

    return Predicate(eq_expr, repr(obj), obj=obj)


def tuple_expr(pred: Predicate, cols: Sequence[Column], dtypes=None) -> Column:
    """Evaluate a tuple predicate component-wise over a list of columns."""
    parts = getattr(pred, "parts", None)
    if parts is None:
        raise TypeError(f"{pred!r} is not a tuple predicate")
    if len(parts) != len(cols):
        raise ValueError(f"tuple predicate arity {len(parts)} != {len(cols)} columns")
    dtypes = dtypes or [None] * len(cols)
    expr = F.lit(True)
    for p, c, d in zip(parts, cols, dtypes):
        expr = expr & F.coalesce(p.expr(c, d), F.lit(False))
    return expr


def sequence_ratio_at_least(a: Column, b: Column, cutoff: float) -> Column:
    """True where the Ratcliff–Obershelp similarity
    ``difflib.SequenceMatcher(a=a, b=b).ratio()`` reaches ``cutoff``;
    False where either side is NULL or not a sequence (``TypeError``).

    The ratio is order-sensitive, so callers pass their sides in the
    reference's order.  One Arrow-vectorized pandas UDF: Spark hoists
    it into an ``ArrowEvalPython`` stage that sees every row of its
    input, so callers filter to the rows that need the ratio first.
    """

    @F.pandas_udf(T.BooleanType())
    def ratio_ok(x: pd.Series, y: pd.Series) -> pd.Series:
        import difflib

        out = []
        for p, q in zip(x, y):
            try:
                out.append(difflib.SequenceMatcher(a=p, b=q).ratio() >= cutoff)
            except TypeError:
                out.append(False)
        return pd.Series(out, dtype="boolean")

    return F.coalesce(ratio_ok(a, b), F.lit(False))
