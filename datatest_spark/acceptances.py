"""Acceptances — declarative filters over the violation stream.

Re-expresses the reference's acceptance managers
(datatest/acceptances.py) in two coordinated forms:

1. **Driver-side protocol** — exact reference parity for the
   context-manager API (``with accepted(...): validate(...)``): the
   stateful ``start_collection → start_group → call_predicate →
   end_group → end_collection`` stream filter over materialized
   difference objects (reference acceptances.py:140-230), including
   element/group/whole scopes, consumption via ``list.remove``, and
   scope-precedence short-circuit in ``&``/``|`` composition
   (acceptances.py:233-303).

2. **DataFrame masks** (``.filter_df(violations)``) — the scale path:
   the same semantics compiled to Column expressions and windows so the
   violation stream never leaves the cluster.  Consumption scopes use
   gated running counts over a deterministic violation ordering
   partitioned by (key, fingerprint); composed acceptances order their
   operands by scope precedence and gate the stateful operand's
   consumption on the other's mask — the exact DF twin of the driver
   protocol's short-circuit (reference acceptances.py:269-303).
"""

from __future__ import annotations

import difflib
import itertools
import math
import re
from numbers import Number
from typing import Any, Mapping, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import CacheHandle, evict_all
from .differences import BaseDifference, Deviation, Extra, Invalid, Missing
from .schema import DEVIATION, EXTRA, INVALID, MISSING, local_frame

__all__ = ["accepted", "BaseAcceptance"]


# ---------------------------------------------------------------------------
# Driver-side: python predicate matching (reference _vendor/predicate.py,
# restricted to the shapes acceptances use for keys/args)
# ---------------------------------------------------------------------------

_REGEX_TYPE = type(re.compile(""))


def py_predicate(obj):
    """Compile a literal into a python-value matcher (driver side)."""
    if obj is Ellipsis:
        return lambda v: True
    if isinstance(obj, _REGEX_TYPE):
        return lambda v: isinstance(v, str) and obj.search(v) is not None
    if isinstance(obj, (set, frozenset)):
        return lambda v: v in obj
    if isinstance(obj, type):
        return lambda v: isinstance(v, obj)
    if isinstance(obj, tuple):
        parts = [py_predicate(p) for p in obj]

        def tuple_match(v):
            if not isinstance(v, tuple) or len(v) != len(parts):
                return False
            return all(p(x) for p, x in zip(parts, v))

        return tuple_match
    if callable(obj):
        def call_match(v):
            try:
                return bool(obj(v)) or v is obj
            except Exception:
                return False

        return call_match
    if isinstance(obj, float) and math.isnan(obj):
        return lambda v: isinstance(v, float) and math.isnan(v)
    return lambda v: v == obj


# ---------------------------------------------------------------------------
# Serialization between error shapes and (key, diff) item streams
# (reference acceptances.py:157-184)
# ---------------------------------------------------------------------------


def _serialize(differences):
    if isinstance(differences, dict):
        for key, value in differences.items():
            if isinstance(value, (list, tuple)):
                for d in value:
                    yield key, d
            else:
                yield key, value
    else:
        for d in differences:
            yield None, d


def _deserialize(items, was_dict):
    if not was_dict:
        return [d for _, d in items]
    out = {}
    for key, d in items:
        if key in out:
            existing = out[key]
            if isinstance(existing, list):
                existing.append(d)
            else:
                out[key] = [existing, d]
        else:
            out[key] = d
    return out


class BaseAcceptance:
    """Stateful acceptance protocol + context manager + DF compiler."""

    def __init__(self, msg: Optional[str] = None):
        self.msg = msg

    # protocol hooks ----------------------------------------------------
    @property
    def scope(self):
        return frozenset(["element"])

    def start_collection(self):
        pass

    def start_group(self, key):
        pass

    def call_predicate(self, item) -> bool:
        raise NotImplementedError

    def end_group(self, key):
        pass

    def end_collection(self):
        pass

    # composition (reference acceptances.py:113-135) --------------------
    _precedence = {
        frozenset(["element"]): 1,
        frozenset(["group", "element"]): 2,
        frozenset(["group"]): 3,
        frozenset(["whole", "element"]): 4,
        frozenset(["whole", "group", "element"]): 5,
        frozenset(["whole", "group"]): 6,
        frozenset(["whole"]): 7,
    }

    @classmethod
    def _get_precedence(cls, acceptance) -> int:
        return cls._precedence.get(frozenset(acceptance.scope), 0)

    def __and__(self, other):
        return IntersectedAcceptance(self, other)

    def __or__(self, other):
        return UnionedAcceptance(self, other)

    # stream filtering (reference acceptances.py:140-155) ---------------
    def filter_differences(self, differences):
        """Run the acceptance over a list/dict of difference objects,
        returning the rejected remainder in the same shape."""
        from itertools import groupby

        was_dict = isinstance(differences, dict)
        items = list(_serialize(differences))
        remaining = []
        self.start_collection()
        for key, group in groupby(items, key=lambda kv: kv[0]):
            self.start_group(key)
            for item in group:
                if not self.call_predicate(item):
                    remaining.append(item)
            self.end_group(key)
        self.end_collection()
        return _deserialize(remaining, was_dict)

    # context manager (reference acceptances.py:186-230) ----------------
    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc_value, tb):
        from .validation import ValidationError

        if exc_type is None:
            return False
        if not issubclass(exc_type, ValidationError):
            return False
        remaining = self.filter_differences(exc_value.differences)
        if not remaining:
            return True  # all accepted → suppress
        raise ValidationError(
            remaining,
            exc_value.description,
            violations_df=exc_value.violations_df,
        ) from None

    # DataFrame path -----------------------------------------------------
    def filter_df(self, violations: DataFrame) -> DataFrame:
        """Return the violations NOT accepted (the re-raised remainder).

        Stateful operands (whole-scope counting) persist a
        range-partitioned intermediate whose per-partition offsets are
        baked into the returned plan as literals; the intermediates are
        tracked on a per-call CacheHandle attached to the returned
        frame, so a LATER filter_df call can never evict them (earlier
        rounds' evict-on-entry made interleaved calls recompute against
        each other's caches).  Free them with
        ``datatest_spark.caching.unpersist_result(result)`` once the
        result is materialized, or ``unpersist_cached()`` for all."""
        before = len(_HANDLES)
        marked = self.mark_df(violations, "_accepted")
        out = marked.filter(~F.coalesce(F.col("_accepted"), F.lit(False))).drop(
            "_accepted"
        )
        new = _HANDLES[before:]
        if new:
            parent = new[0]
            for h in new[1:]:
                parent.absorb(h)
            out = parent.attach(out)
        return out

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        """Add a boolean *out_col* marking accepted rows.

        ``gate`` (a boolean Column over *violations*) restricts which
        rows this acceptance is "called" on — the DF twin of the
        driver protocol's short-circuit: in ``a & b`` the stateful
        second operand must not consume allowances for rows the first
        already rejected, and in ``a | b`` not for rows the first
        already accepted.  Stateless acceptances may ignore it (their
        mask is combined with the gate by the caller anyway).
        """
        raise NotImplementedError(
            f"{type(self).__name__} has no DataFrame compilation yet; "
            "use filter_differences for driver-side semantics"
        )


def _fingerprint() -> Column:
    return F.concat_ws(
        "\x00",
        F.coalesce(F.col("diff_type"), F.lit("")),
        F.coalesce(F.col("invalid"), F.lit("\x01")),
        F.coalesce(F.col("expected"), F.lit("\x01")),
        F.coalesce(F.col("deviation").cast("string"), F.lit("\x01")),
    )


_CANONICAL_ORDER = [
    "rule_id",
    "key",
    "diff_type",
    "invalid",
    "expected",
    "deviation",
]

# Persisted intermediates (the range-partitioned violation frames of
# whole-scope counting): per-call CacheHandles, attached by filter_df
# to the returned remainder frame — nothing is evicted implicitly, so
# interleaved filterings coexist; callers free a result's set with
# caching.unpersist_result(result) or everything with unpersist_cached.
_HANDLES: list = []


def unpersist_cached(blocking: bool = False) -> int:
    """Evict ALL persisted acceptance intermediates (safe at any time:
    un-materialized results recompute deterministically — the ranged
    repartition is pinned to an explicit partition count)."""
    return evict_all(_HANDLES, blocking)


def _diff_fingerprint(d: BaseDifference) -> str:
    """Driver-side fingerprint matching :func:`_fingerprint`'s layout."""
    from .schema import py_repr

    def _norm(x):
        if x is None:
            return "\x01"
        return py_repr(x)

    if isinstance(d, Missing):
        return "\x00".join([MISSING, "\x01", _norm(d.args[0]), "\x01"])
    if isinstance(d, Extra):
        return "\x00".join([EXTRA, _norm(d.args[0]), "\x01", "\x01"])
    if isinstance(d, Deviation):
        return "\x00".join(
            [
                DEVIATION,
                _norm(d.args[0]),
                _norm(d.args[1]),
                str(float(d.args[0])) if d.args[0] is not None else "\x01",
            ]
        )
    # Invalid
    exp = _norm(d.args[1]) if len(d.args) > 1 else "\x01"
    return "\x00".join([INVALID, _norm(d.args[0]), exp, "\x01"])


_CLASS_TO_TYPE = {
    Missing: MISSING,
    Extra: EXTRA,
    Invalid: INVALID,
    Deviation: DEVIATION,
}


class AcceptedDifferences(BaseAcceptance):
    """accepted(obj) — class / instance / collection / mapping of
    differences, with element/group/whole consumption scopes
    (reference acceptances.py:306-459)."""

    def __init__(self, obj, msg=None, scope=None):
        if scope not in (None, "element", "group", "whole"):
            raise ValueError(
                f"scope may be 'element', 'group', or 'whole', got {scope}"
            )
        super().__init__(msg)
        self._scope = scope
        if isinstance(obj, Mapping):
            self._obj = dict(obj)
        else:
            self._obj = obj
        self._current_allowance = None
        self._current_check = None
        self._current_scope = None

    @property
    def scope(self):
        if self._scope:
            return frozenset([self._scope])
        if isinstance(self._obj, (list, tuple, dict)):
            return frozenset(["group"])
        return frozenset(["element"])

    def start_group(self, key):
        obj = self._obj
        if isinstance(obj, Mapping):
            allowance = obj.get(key, [])
        elif isinstance(obj, (list, tuple)):
            if self._scope == "whole":
                if self._current_allowance is None:
                    self._current_allowance = list(obj)
                allowance = self._current_allowance
            else:
                allowance = list(obj)
        else:
            allowance = obj

        if isinstance(allowance, type):
            allowance_list = [allowance]
            check = lambda x: bool(allowance_list) and isinstance(x, allowance_list[0])
            default_scope = "element"
        elif isinstance(allowance, (list, tuple)):
            allowance_list = list(allowance) if not isinstance(allowance, list) else allowance
            check = lambda x: x in allowance_list
            default_scope = "group"
        else:
            allowance_list = [allowance]
            check = lambda x: x in allowance_list
            default_scope = "element"

        self._current_scope = self._scope or default_scope
        if self._scope == "whole" and isinstance(obj, (list, tuple)):
            self._current_allowance = allowance_list if self._current_allowance is None else self._current_allowance
            allowance_list = self._current_allowance
            check = lambda x: x in allowance_list
        self._current_check = check
        self._current_allowance_list = allowance_list

    def call_predicate(self, item) -> bool:
        _, diff = item
        if self._current_check(diff):
            if self._current_scope != "element":
                self._current_allowance_list.remove(diff)
            return True
        return False

    # DataFrame compilation ---------------------------------------------
    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        obj = self._obj
        if isinstance(obj, type) and issubclass(obj, BaseDifference):
            mask = F.col("diff_type") == _CLASS_TO_TYPE[obj]
            return violations.withColumn(out_col, mask)  # stateless

        if isinstance(obj, BaseDifference) and self._scope in (None, "element"):
            mask = _fingerprint() == F.lit(_diff_fingerprint(obj))
            return violations.withColumn(out_col, mask)  # stateless

        # collection / mapping / consumption scopes: broadcast allowance
        # multiplicities + gated running-count window per (key?, fp).
        # Element-scope entries (single-instance mapping values, or
        # difference CLASSES as mapping values) accept every match —
        # encoded as an unlimited allowance.
        spark = violations.sparkSession
        rows = []  # (key, fingerprint, unlimited)
        class_rows = []  # (key, diff_type) — class-valued mapping entries
        if isinstance(obj, Mapping):
            for k, v in obj.items():
                if isinstance(v, type) and issubclass(v, BaseDifference):
                    class_rows.append((str(k), _CLASS_TO_TYPE[v]))
                elif isinstance(v, (list, tuple)):
                    for d in v:
                        rows.append((str(k), _diff_fingerprint(d), False))
                else:
                    # single instance → element scope: every match accepted
                    rows.append((str(k), _diff_fingerprint(v), True))
            group_by_key = True
        else:
            diffs = obj if isinstance(obj, (list, tuple)) else [obj]
            for d in diffs:
                rows.append((None, _diff_fingerprint(d), False))
            group_by_key = self._scope != "whole"

        import collections

        counts = collections.Counter((k, fp) for k, fp, _ in rows)
        unlimited = {(k, fp) for k, fp, u in rows if u}
        allow = local_frame(
            spark,
            [
                (k, fp, n, (k, fp) in unlimited)
                for (k, fp), n in counts.items()
            ],
            "allow_key string, fp string, allowance long, unlimited boolean",
        )

        v = violations.withColumn("_fp", _fingerprint())
        if isinstance(obj, Mapping):
            cond = (v["key"].eqNullSafe(F.col("allow_key"))) & (
                v["_fp"] == F.col("fp")
            )
        else:
            cond = v["_fp"] == F.col("fp")
        v = v.join(F.broadcast(allow), cond, "left_outer")

        if isinstance(obj, Mapping) or group_by_key:
            w = Window.partitionBy("key", "_fp").orderBy(*_CANONICAL_ORDER)
        else:
            w = Window.partitionBy("_fp").orderBy(*_CANONICAL_ORDER)
        # consumption = running count of GATED rows (gate=None → all):
        # with a gate this reproduces the driver protocol's short-circuit
        # where rows the other operand settled never consume allowances
        gate_col = gate if gate is not None else F.lit(True)
        gate_col = F.coalesce(gate_col, F.lit(False))
        cnt = F.sum(F.when(gate_col, F.lit(1)).otherwise(F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        v = v.withColumn("_rn", cnt)
        mask = (
            gate_col
            & F.col("allowance").isNotNull()
            & (
                F.coalesce(F.col("unlimited"), F.lit(False))
                | (F.col("_rn") <= F.col("allowance"))
            )
        )
        if class_rows:
            cls = F.broadcast(
                local_frame(
                    spark, class_rows, "cls_key string, cls_type string"
                )
            )
            v = v.join(
                cls,
                v["key"].eqNullSafe(F.col("cls_key"))
                & (v["diff_type"] == F.col("cls_type")),
                "left_outer",
            )
            mask = mask | (gate_col & F.col("cls_type").isNotNull())
            v = v.withColumn(out_col, mask).drop("cls_key", "cls_type")
        else:
            v = v.withColumn(out_col, mask)
        return v.drop("_fp", "fp", "allow_key", "allowance", "unlimited", "_rn")


class AcceptedKeys(BaseAcceptance):
    """accepted.keys(predicate) (reference acceptances.py:462-489)."""

    def __init__(self, predicate, msg=None):
        super().__init__(msg)
        self.predicate = predicate
        self._match = py_predicate(predicate)

    def call_predicate(self, item) -> bool:
        key, _ = item
        return self._match(key)

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        from .predicates import compile_predicate
        from .validation import _parse_literal

        obj = self.predicate
        if callable(obj) and not isinstance(obj, type):
            from pyspark.sql import types as T

            match = self._match

            @F.pandas_udf(T.BooleanType())
            def _m(s: pd.Series) -> pd.Series:
                return s.map(lambda v: match(_parse_literal(v))).astype("boolean")

            return violations.withColumn(out_col, _m(F.col("key")))
        pred = compile_predicate(obj)
        return violations.withColumn(out_col, pred.expr(F.col("key"), None))


class AcceptedArgs(BaseAcceptance):
    """accepted.args(predicate) (reference acceptances.py:492-521)."""

    def __init__(self, predicate, msg=None):
        super().__init__(msg)
        self.predicate = predicate
        self._match = py_predicate(predicate)

    def call_predicate(self, item) -> bool:
        _, diff = item
        args = diff.args
        if len(args) == 1:
            args = args[0]
        return self._match(args)

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        """DF path: reconstruct each violation's args tuple from the
        (diff_type, invalid, expected, deviation, expected_num) columns
        — the exact inverse of the violation builder — and run the SAME
        driver predicate per Arrow batch.  The violation stream is a
        tiny fraction of input rows, so one vectorized Python stage
        here is cheap and guarantees reference parity for every
        predicate shape (tuples, callables, regexes, sets)."""
        from pyspark.sql import types as T

        from .validation import _int_if_integral, _parse_literal

        match = self._match

        @F.pandas_udf(T.BooleanType())
        def _m(dt: pd.Series, inv: pd.Series, exp: pd.Series,
               dev: pd.Series, expn: pd.Series) -> pd.Series:
            out = []
            for d, i, e, v, en in zip(dt, inv, exp, dev, expn):
                if d == MISSING:
                    args = (_parse_literal(e),)
                elif d == EXTRA:
                    args = (_parse_literal(i),)
                elif d == DEVIATION:
                    args = (
                        _int_if_integral(v) if v == v else v,
                        _int_if_integral(en) if en == en else en,
                    )
                else:  # INVALID
                    if e is not None:
                        args = (_parse_literal(i), _parse_literal(e))
                    else:
                        args = (_parse_literal(i),)
                if len(args) == 1:
                    args = args[0]
                out.append(bool(match(args)))
            return pd.Series(out, dtype="boolean")

        mask = F.coalesce(
            _m(F.col("diff_type"), F.col("invalid"), F.col("expected"),
               F.col("deviation"), F.col("expected_num")),
            F.lit(False),
        )
        return violations.withColumn(out_col, mask)  # stateless


def _derived_deviation_expected():
    """Column twins of AcceptedTolerance._get_deviation_expected
    (reference acceptances.py:589-637): derive (deviation, expected)
    from non-Deviation rows when their payloads are numeric."""
    inv_num = F.col("invalid").try_cast("double")
    exp_num = F.col("expected").try_cast("double")
    deviation = (
        F.when(F.col("diff_type") == DEVIATION, F.col("deviation"))
        .when((F.col("diff_type") == MISSING) & exp_num.isNotNull(), -exp_num)
        .when(
            (F.col("diff_type") == EXTRA) & inv_num.isNotNull(), inv_num
        )
        .when(
            (F.col("diff_type") == INVALID)
            & F.col("expected").isNull()
            & inv_num.isNotNull(),
            inv_num,
        )
        .when(
            (F.col("diff_type") == INVALID) & F.col("expected").isNotNull(),
            F.coalesce(inv_num, F.lit(0.0)) - F.coalesce(exp_num, F.lit(0.0)),
        )
    )
    expected = (
        F.when(F.col("diff_type") == DEVIATION, F.col("expected_num"))
        .when((F.col("diff_type") == MISSING) & exp_num.isNotNull(), exp_num)
        .when((F.col("diff_type") == EXTRA) & inv_num.isNotNull(), F.lit(0.0))
        .when(
            (F.col("diff_type") == INVALID)
            & F.col("expected").isNull()
            & inv_num.isNotNull(),
            F.lit(0.0),
        )
        .when(
            (F.col("diff_type") == INVALID) & F.col("expected").isNotNull(),
            F.coalesce(exp_num, F.lit(0.0)),
        )
    )
    # reference: `deviation or 0, expected or 0`
    return F.coalesce(deviation, F.lit(0.0)), F.coalesce(expected, F.lit(0.0))


def _get_deviation_expected(diff):
    """Driver-side derivation (reference acceptances.py:589-624)."""
    try:
        deviation = diff.deviation
        expected = diff.expected
    except AttributeError:
        args = diff.args
        if isinstance(diff, Missing) and len(args) == 1 and isinstance(args[0], Number):
            deviation, expected = -args[0], args[0]
        elif (
            isinstance(diff, (Extra, Invalid))
            and len(args) == 1
            and isinstance(args[0], Number)
        ):
            deviation, expected = args[0], 0
        elif isinstance(diff, Invalid) and len(args) == 2:
            try:
                expected = args[1]
                deviation = args[0] - expected
            except TypeError:
                expected = args[1] or 0
                deviation = (args[0] or 0) - expected
        else:
            raise TypeError
    return deviation or 0, expected or 0


def _normalize_bounds(lower, upper):
    if upper is None:
        tolerance = lower
        if tolerance != abs(tolerance):
            raise ValueError("tolerance should not be negative")
        lower, upper = -tolerance, tolerance
    if lower > upper:
        raise ValueError("lower must not be greater than upper")
    return lower, upper


class AcceptedTolerance(BaseAcceptance):
    """accepted.tolerance (reference acceptances.py:524-637)."""

    def __init__(self, lower, upper=None, msg=None):
        self.lower, self.upper = _normalize_bounds(lower, upper)
        super().__init__(msg)

    def call_predicate(self, item) -> bool:
        _, diff = item
        try:
            deviation, _ = _get_deviation_expected(diff)
        except TypeError:
            return False
        try:
            return self.lower <= deviation <= self.upper
        except TypeError:
            return False

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        deviation, _ = _derived_deviation_expected()
        derivable = (
            (F.col("diff_type") == DEVIATION)
            | F.col("invalid").try_cast("double").isNotNull()
            | F.col("expected").try_cast("double").isNotNull()
        )
        mask = derivable & deviation.between(
            F.lit(float(self.lower)), F.lit(float(self.upper))
        )
        return violations.withColumn(out_col, mask)


class AcceptedPercent(AcceptedTolerance):
    """accepted.percent (reference acceptances.py:640-666)."""

    def call_predicate(self, item) -> bool:
        _, diff = item
        try:
            deviation, expected = _get_deviation_expected(diff)
        except TypeError:
            return False
        if not expected:
            return not deviation
        try:
            return self.lower <= deviation / expected <= self.upper
        except TypeError:
            return False

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        deviation, expected = _derived_deviation_expected()
        derivable = (
            (F.col("diff_type") == DEVIATION)
            | F.col("invalid").try_cast("double").isNotNull()
            | F.col("expected").try_cast("double").isNotNull()
        )
        mask = derivable & F.when(expected == 0, deviation == 0).otherwise(
            (deviation / expected).between(
                F.lit(float(self.lower)), F.lit(float(self.upper))
            )
        )
        return violations.withColumn(out_col, mask)


class AcceptedFuzzy(BaseAcceptance):
    """accepted.fuzzy (reference acceptances.py:669-708)."""

    def __init__(self, cutoff=0.6, msg=None):
        self.cutoff = cutoff
        super().__init__(msg)

    def call_predicate(self, item) -> bool:
        _, diff = item
        try:
            a, b = diff.invalid, diff.expected
        except AttributeError:
            return False
        try:
            return difflib.SequenceMatcher(a=a, b=b).ratio() >= self.cutoff
        except TypeError:
            return False

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        from pyspark.sql import types as T

        cutoff = self.cutoff

        @F.pandas_udf(T.BooleanType())
        def ratio_ok(a: pd.Series, b: pd.Series) -> pd.Series:
            out = []
            for x, y in zip(a, b):
                if x is None or y is None:
                    out.append(False)
                    continue
                try:
                    out.append(
                        difflib.SequenceMatcher(a=x, b=y).ratio() >= cutoff
                    )
                except TypeError:
                    out.append(False)
            return pd.Series(out, dtype="boolean")

        mask = (F.col("diff_type") == INVALID) & F.coalesce(
            ratio_ok(F.col("invalid"), F.col("expected")), F.lit(False)
        )
        return violations.withColumn(out_col, mask)


class AcceptedCount(BaseAcceptance):
    """accepted.count (reference acceptances.py:711-754)."""

    def __init__(self, number, msg=None, scope=None):
        if scope not in (None, "group", "whole"):
            raise ValueError("scope may be 'group' or 'whole'")
        self.number = number
        self._scope = scope
        self._count = 0
        super().__init__(msg)

    @property
    def scope(self):
        return frozenset([self._scope or "whole"])

    def start_collection(self):
        self._count = 0

    def start_group(self, key):
        if self._scope == "group":
            self._count = 0

    def call_predicate(self, item) -> bool:
        self._count += 1
        return self._count <= self.number

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        gate_col = F.coalesce(gate if gate is not None else F.lit(True), F.lit(False))
        if self._scope == "group":
            w = Window.partitionBy("key").orderBy(*_CANONICAL_ORDER)
            cnt = F.sum(F.when(gate_col, F.lit(1)).otherwise(F.lit(0))).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            return violations.withColumn(
                out_col, gate_col & (cnt <= F.lit(self.number))
            )
        return self._mark_whole(violations, out_col, gate_col)

    def _mark_whole(self, violations: DataFrame, out_col: str,
                    gate_col: Column) -> DataFrame:
        """Whole-error scope WITHOUT a global window.

        ``Window.orderBy(canonical)`` with no partition key sorts the
        entire violation stream on one task — fine at thousands of
        rows, a guaranteed straggler/OOM at the 10^10-violation tail of
        a 10^12-row run.  Scalable equivalent:

        1. ``repartitionByRange(nparts, canonical)`` — global canonical
           order is preserved ACROSS partitions (partition i's rows all
           sort before partition i+1's), so a per-partition running
           count plus a per-partition starting offset is the exact
           global running count.  ``nparts`` is pinned explicitly:
           user-specified repartition counts are exempt from AQE
           coalescing, so even if the persisted frame is evicted and
           the plan recomputes, it reproduces the SAME partitioning the
           baked offset literals describe;
        2. the ranged frame is persisted (tracked on this call's
           CacheHandle, attached to the result by filter_df) so the
           offset job and the output plan normally share one
           materialization;
        3. per-partition gated totals → driver prefix-sum (ONE row per
           partition crosses to the driver) → literal offset map.

        Ties spanning a partition boundary are interchangeable rows
        (identical on every canonical column), so any split yields the
        same accepted multiset.
        """
        pid_col, g_col = _mark_tmp_cols()
        handle = CacheHandle(_HANDLES)
        nparts = _shuffle_partitions(violations.sparkSession)
        ranged = handle.register(
            violations.repartitionByRange(
                nparts, *[F.col(c) for c in _CANONICAL_ORDER]
            )
            .withColumn(pid_col, F.spark_partition_id())
            .withColumn(g_col, F.when(gate_col, F.lit(1)).otherwise(F.lit(0)))
            .persist()
        )
        totals = {
            r[pid_col]: r["t"]
            for r in ranged.groupBy(pid_col).agg(F.sum(g_col).alias("t")).collect()
        }
        acc = 0
        offsets = {}
        for p in sorted(totals):
            offsets[p] = acc
            acc += totals[p] or 0
        if offsets:
            off_expr = F.coalesce(
                F.create_map(
                    *[F.lit(x) for kv in offsets.items() for x in kv]
                )[F.col(pid_col)],
                F.lit(0),
            )
        else:
            off_expr = F.lit(0)
        w = (
            Window.partitionBy(pid_col)
            .orderBy(*_CANONICAL_ORDER)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cnt = F.sum(F.col(g_col)).over(w) + off_expr
        return ranged.withColumn(
            out_col, (F.col(g_col) == 1) & (cnt <= F.lit(self.number))
        ).drop(pid_col, g_col)


class CombinedAcceptance(BaseAcceptance):
    def __init__(self, left, right, msg=None):
        super().__init__(msg)
        self.left = left
        self.right = right

    @property
    def scope(self):
        return self.left.scope | self.right.scope

    def start_collection(self):
        self.left.start_collection()
        self.right.start_collection()

    def start_group(self, key):
        self.left.start_group(key)
        self.right.start_group(key)

    def end_group(self, key):
        self.left.end_group(key)
        self.right.end_group(key)

    def end_collection(self):
        self.left.end_collection()
        self.right.end_collection()

    def _ordered(self):
        first, second = self.left, self.right
        if self._get_precedence(first) > self._get_precedence(second):
            first, second = second, first
        return first, second


# Unique-per-invocation temp column names: a nested composition (e.g.
# ``(a & b) | c``) re-enters mark_df with out_col set to the OUTER's
# temp column — fixed "_l"/"_r" names would be clobbered by the inner
# call and then dropped, leaving the outer's column unresolved.
_mark_counter = itertools.count()


def _mark_tmp_cols() -> tuple:
    n = next(_mark_counter)
    return f"_acc_l_{n}", f"_acc_r_{n}"


def _shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int — platforms with
    AQE auto-optimized shuffle report the non-numeric literal "auto",
    so fall back to the cluster's default parallelism there."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return 200


class IntersectedAcceptance(CombinedAcceptance):
    def call_predicate(self, item) -> bool:
        first, second = self._ordered()
        # short-circuit: stateful second must not consume on first-reject
        return first.call_predicate(item) and second.call_predicate(item)

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        # mirror the driver's precedence ordering + short-circuit: the
        # second (more stateful) operand is only "called" on rows the
        # first accepted, so its consumption windows count exactly the
        # rows the sequential protocol would feed it
        first, second = self._ordered()
        lcol, rcol = _mark_tmp_cols()
        outer = gate if gate is not None else F.lit(True)
        v = first.mark_df(violations, lcol, gate=outer)
        lmask = F.coalesce(F.col(lcol), F.lit(False))
        v = second.mark_df(v, rcol, gate=outer & lmask)
        return v.withColumn(
            out_col,
            lmask & F.coalesce(F.col(rcol), F.lit(False)),
        ).drop(lcol, rcol)


class UnionedAcceptance(CombinedAcceptance):
    def call_predicate(self, item) -> bool:
        first, second = self._ordered()
        return first.call_predicate(item) or second.call_predicate(item)

    def mark_df(self, violations: DataFrame, out_col: str,
                gate: Optional[Column] = None) -> DataFrame:
        # `or` short-circuit: second is only "called" (consumes) on rows
        # the first rejected
        first, second = self._ordered()
        lcol, rcol = _mark_tmp_cols()
        outer = gate if gate is not None else F.lit(True)
        v = first.mark_df(violations, lcol, gate=outer)
        lmask = F.coalesce(F.col(lcol), F.lit(False))
        v = second.mark_df(v, rcol, gate=outer & ~lmask)
        return v.withColumn(
            out_col,
            lmask | F.coalesce(F.col(rcol), F.lit(False)),
        ).drop(lcol, rcol)


class AcceptedFactory:
    """The ``accepted`` callable + method namespace
    (reference acceptances.py:761-1044)."""

    def __call__(self, obj, msg=None, scope=None):
        return AcceptedDifferences(obj, msg=msg, scope=scope)

    def keys(self, predicate, msg=None):
        return AcceptedKeys(predicate, msg)

    def args(self, predicate, msg=None):
        return AcceptedArgs(predicate, msg)

    def tolerance(self, lower, upper=None, msg=None):
        return AcceptedTolerance(lower, upper, msg)

    def percent(self, lower, upper=None, msg=None):
        return AcceptedPercent(lower, upper, msg)

    def fuzzy(self, cutoff=0.6, msg=None):
        return AcceptedFuzzy(cutoff, msg)

    def count(self, number, msg=None, scope=None):
        return AcceptedCount(number, msg, scope)


accepted = AcceptedFactory()
