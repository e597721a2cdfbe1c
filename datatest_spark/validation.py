"""validate()/valid()/ValidationError — the engine façade.

Re-expresses the reference's validation frontend
(datatest/validation.py:244-368,737-750) over Spark:

* :func:`validate` dispatches a requirement literal the same way the
  reference's ``get_requirement`` does (requirements.py:881-897):
  Mapping → mapping rule, Set → set rule, non-element iterable →
  sequence rule, else predicate — but compiles it to Spark plan
  fragments instead of Python generators.
* :class:`Engine` evaluates many rules in one pass: all row rules fuse
  into a single projection (one scan), plan rules union in, and the
  combined violation DataFrame is the distributed analogue of the
  reference's difference list.
* :class:`ValidationError` reproduces the reference's error carrying a
  list (ungrouped) or dict (grouped) of difference objects, with
  deterministic sorted rendering and truncation
  (validation.py:92-155,117-131).
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Mapping, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import requirements as R
from .caching import unpersist_result
from .differences import (
    BaseDifference,
    Deviation,
    Extra,
    Invalid,
    Missing,
)
from .requirements import Rule, ValidationContext
from .schema import (
    DEVIATION,
    EXTRA,
    INVALID,
    MISSING,
    VIOLATION_SCHEMA,
    empty_violations,
    explode_violations,
    finalize_violations,
    local_frame,
)

__all__ = [
    "validate",
    "valid",
    "quarantine",
    "QuarantineResult",
    "Engine",
    "ValidationResult",
    "ValidationError",
    "install_excepthook",
]


class ValidationError(AssertionError):
    """Raised when validation fails; carries the differences.

    ``differences`` is a list (ungrouped data) or dict key→difference(s)
    (grouped data) — same contract as the reference
    (datatest/validation.py:29-90).
    """

    def __init__(self, differences, description=None, violations_df=None,
                 truncate=10):
        self.differences = differences
        self.description = description or "does not satisfy requirement"
        self.violations_df = violations_df
        self._truncate = truncate
        super().__init__(self._render())

    def _render(self) -> str:
        if isinstance(self.differences, dict):
            items = sorted(self.differences.items(), key=lambda kv: repr(kv[0]))
            lines = [f"    {k!r}: {v!r}," for k, v in items]
        else:
            lines = [
                f"    {d!r}," for d in sorted(self.differences, key=_sort_key)
            ]
        total = len(lines)
        if self._truncate and total > self._truncate:
            shown = lines[: self._truncate]
            shown.append(f"    ... ({total - self._truncate} more)")
            lines = shown
        open_, close = ("{", "}") if isinstance(self.differences, dict) else ("[", "]")
        body = "\n".join(lines)
        return f"{self.description} ({total} difference{'s' if total != 1 else ''}): {open_}\n{body}\n{close}"


def install_excepthook() -> None:
    """Scrub engine-internal frames from uncaught ValidationError
    tracebacks (reference _excepthook.py:12-54: the reference trims its
    own module frames so the user sees their assertion, not library
    plumbing).  Idempotent; chains to the previous hook for other
    exception types."""
    import os
    import sys
    import traceback

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    previous = sys.excepthook

    def hook(exc_type, exc_value, tb):
        if not issubclass(exc_type, ValidationError):
            return previous(exc_type, exc_value, tb)
        frames = [
            f
            for f in traceback.extract_tb(tb)
            if not f.filename.startswith(pkg_dir)
        ]
        print("Traceback (most recent call last):", file=sys.stderr)
        for line in traceback.format_list(frames):
            sys.stderr.write(line)
        for line in traceback.format_exception_only(exc_type, exc_value):
            sys.stderr.write(line)

    if getattr(sys.excepthook, "_datatest_spark_hook", False):
        return
    hook._datatest_spark_hook = True
    sys.excepthook = hook


def _sort_key(d: BaseDifference):
    """Type-bucketed deterministic sort (reference validation.py:92-155)."""
    order = {"Missing": 0, "Extra": 1, "Invalid": 2, "Deviation": 3}
    bucket = order.get(type(d).__name__, 4)
    return (bucket, tuple(repr(a) for a in d.args))


def _parse_literal(s: Optional[str]) -> Any:
    """Best-effort parse of a repr-normalized violation string back to a
    Python value (driver-side only, for parity assertions)."""
    if s is None:
        return None
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        pass
    if s == "true":
        return True
    if s == "false":
        return False
    return s


def row_to_difference(row) -> BaseDifference:
    """Convert one violation row back into a difference object."""
    dt = row["diff_type"]
    if dt == MISSING:
        return Missing(_parse_literal(row["expected"]))
    if dt == EXTRA:
        return Extra(_parse_literal(row["invalid"]))
    if dt == DEVIATION:
        dev_val = _int_if_integral(row["deviation"])
        exp_val = _int_if_integral(row["expected_num"])
        return Deviation(dev_val, exp_val)
    # INVALID
    if row["expected"] is not None:
        return Invalid(_parse_literal(row["invalid"]), _parse_literal(row["expected"]))
    return Invalid(_parse_literal(row["invalid"]))


def _int_if_integral(x):
    if x is None:
        return None
    f = float(x)
    if f != f:  # NaN
        return f
    if f == int(f) and abs(f) < 1e15:
        return int(f)
    return f


class ValidationResult:
    """Lazy verdict: holds the violation DataFrame; nothing executes
    until ``ok`` / ``differences()`` / ``raise_if_failed()``.

    Intermediates persisted during rule compilation (the audio suite's
    decode frame) live on the ``CacheHandle`` of ``violations``: they
    are freed by :meth:`unpersist`, or at GC once ``violations`` is
    unreachable (see :mod:`datatest_spark.caching`)."""

    def __init__(self, violations: DataFrame, description: str = None,
                 grouped: bool = False):
        self.violations = violations
        self.description = description
        self.grouped = grouped

    def unpersist(self) -> None:
        """Release the intermediates persisted during rule compilation
        — call when done with the run."""
        unpersist_result(self.violations)

    @property
    def ok(self) -> bool:
        return self.violations.isEmpty()

    def differences(self, limit: int = 100_000):
        """Collect (bounded) violation rows as difference objects —
        list-form, or dict-form when the validation was keyed."""
        rows = self.violations.limit(limit).collect()
        if not self.grouped:
            return [row_to_difference(r) for r in rows]
        out: dict = {}
        for r in rows:
            k = _parse_literal(r["key"])
            d = row_to_difference(r)
            if k in out:
                existing = out[k]
                if isinstance(existing, list):
                    existing.append(d)
                else:
                    out[k] = [existing, d]
            else:
                out[k] = d
        return out

    def raise_if_failed(self, msg: Optional[str] = None) -> None:
        if not self.ok:
            raise ValidationError(
                self.differences(),
                msg or self.description,
                violations_df=self.violations,
            )


class Engine:
    """Evaluates a rule set over a DataFrame in a minimal number of
    Spark jobs: one fused projection for every row rule + one plan
    fragment per join/agg rule, all unioned into a single violation
    DataFrame (Catalyst sees the whole plan and shares the scan).

    ``compile`` is lazy with three documented exceptions — rule classes
    whose plan shape depends on a data statistic run ONE bounded job at
    compile time to buy a strictly better plan: drift rules compute
    their bucket counts (stats.DriftPSIRule/DriftKSRule), OutlierRule
    computes exact quartiles, and the audio suite's hash fast path
    probes for digest mismatches.  Each is an aggregate returning a
    handful of driver-side scalars, never row data.

    Frames a rule persists while compiling belong to the returned
    violation frame; free them with ``caching.unpersist_result``."""

    def __init__(self, spark=None):
        self.spark = spark

    def compile(
        self,
        df: DataFrame,
        rules: Sequence[Rule],
        key: Optional[Union[str, Sequence[str]]] = None,
        partition_col: Optional[str] = None,
    ) -> DataFrame:
        if isinstance(key, str):
            key = [key]
        ctx = ValidationContext(df, key=key, partition_col=partition_col)
        return ctx.handle.attach(self._compile_ctx(ctx, rules))

    def _compile_ctx(self, ctx: ValidationContext, rules: Sequence[Rule]) -> DataFrame:
        # Overlap the bounded compile-time statistic jobs (drift bucket
        # counts, live-baseline proportions) before the sequential
        # fragment build: each is an independent small aggregate whose
        # result the rule caches, and Spark schedules concurrent driver
        # threads FIFO, so N sequential driver round-trips become ~1
        # wave.  Rules without prepare_jobs are untouched; a single job
        # runs inline as before (a pool would only add overhead).
        jobs = []
        for r in rules:
            pj = getattr(r, "prepare_jobs", None)
            if pj is not None:
                jobs.extend(pj(ctx))
        if len(jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(len(jobs), 8)) as pool:
                for f in [pool.submit(j) for j in jobs]:
                    f.result()

        fragments = []
        row_exprs = [r.row_expr(ctx) for r in rules if r.kind == "row"]
        if row_exprs:
            # ONE scan for all row rules
            fragments.append(finalize_violations(
                explode_violations(ctx.df, row_exprs)))

        for r in rules:
            if r.kind == "plan":
                fragments.append(finalize_violations(r.plan(ctx)))

        if not fragments:
            return empty_violations(ctx.df.sparkSession)
        return reduce(lambda a, b: a.unionByName(b), fragments)

    def validate(
        self,
        df: DataFrame,
        rules: Sequence[Rule],
        key=None,
        partition_col=None,
        description=None,
    ) -> ValidationResult:
        violations = self.compile(df, rules, key=key,
                                  partition_col=partition_col)
        return ValidationResult(violations, description,
                                grouped=key is not None)


_ELEMENT_TYPES = (str, bytes, int, float, bool, complex, type(None))


def _dispatch_requirement(
    df: DataFrame,
    requirement: Any,
    column: Optional[str],
    key: Optional[str],
    order_by: Optional[str],
) -> Rule:
    """get_requirement-equivalent dispatch (requirements.py:881-897)."""
    if isinstance(requirement, Rule):
        return requirement
    if isinstance(requirement, Mapping):
        return R.mapping(key or df.columns[0], requirement, order_by=order_by)
    if isinstance(requirement, (set, frozenset)):
        return R.set_equal(column, requirement)
    if isinstance(requirement, Sequence) and not isinstance(requirement, _ELEMENT_TYPES):
        if order_by is None:
            raise ValueError(
                "sequence requirements need order_by= (Spark DataFrames "
                "have no inherent row order)"
            )
        return R.sequence(column, requirement, order_by)
    return R.predicate(column, requirement, show_expected=key is not None)


def _local_to_df(data):
    """Promote a local Python collection to a tiny DataFrame so the
    reference's ``validate(data.columns, {...})`` idiom works verbatim:
    scalars become a one-column frame, mappings a (key, value) frame.
    Local inputs are inherently small (column lists, config values) —
    the cost is one createDataFrame, never a distributed concern."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise TypeError(
            "validate() on a local collection requires an active "
            "SparkSession (create one before validating)"
        )
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover
        pd = None
    if pd is not None and isinstance(data, pd.DataFrame):
        # iterating a pandas frame yields column LABELS — promote the
        # data itself instead (the reference validates pandas rows)
        return spark.createDataFrame(data), None, None
    if pd is not None and isinstance(data, pd.Series):
        if len(data) == 0:
            return local_frame(spark, [], "value string"), "value", None
        return (
            spark.createDataFrame([(v,) for v in data], ["value"]),
            "value", None,
        )
    if isinstance(data, Mapping):
        rows = [(k, v) for k, v in data.items()]
        if not rows:
            return (local_frame(spark, [], "key string, value string"),
                    "value", "key")
        return spark.createDataFrame(rows, ["key", "value"]), "value", "key"
    rows = [(v,) for v in data]
    if not rows:
        return local_frame(spark, [], "value string"), "value", None
    return spark.createDataFrame(rows, ["value"]), "value", None


def validate(
    df: DataFrame,
    requirement: Any = None,
    *,
    column: Optional[str] = None,
    key: Optional[str] = None,
    order_by: Optional[str] = None,
    partition_col: Optional[str] = None,
    rules: Optional[Sequence[Rule]] = None,
    msg: Optional[str] = None,
    raise_on_failure: bool = True,
) -> ValidationResult:
    """Validate *df* against a requirement (or explicit rule list).

    Mirrors the reference's ``validate(data, requirement)`` contract:
    raises :class:`ValidationError` on failure (set
    ``raise_on_failure=False`` to get the lazy result instead).

    ``df`` may also be a local Python collection — a list/tuple/set of
    scalars or a mapping — covering the reference's column-layout and
    config-check idioms (``validate(data.columns, {'A', 'B'})``,
    reference validation.py docstring examples): the collection is
    promoted to a one-column (or key/value) frame on the active
    session and validated with identical difference semantics.
    """
    if not isinstance(df, DataFrame) and not hasattr(df, "sparkSession"):
        if isinstance(df, (str, bytes)):
            raise TypeError(
                "validate() expects a DataFrame or a collection, not a "
                f"bare {type(df).__name__}"
            )
        df, inferred_col, inferred_key = _local_to_df(df)
        column = column or inferred_col
        key = key or inferred_key
    if rules is None:
        if column is None:
            non_key = [c for c in df.columns if c != key]
            column = non_key[0] if non_key else df.columns[0]
        rules = [_dispatch_requirement(df, requirement, column, key, order_by)]

    engine = Engine(df.sparkSession)
    keyed = key is not None and not any(
        isinstance(r, R.MappingRule) or isinstance(r, R.SequenceRule)
        for r in rules
    )
    # mapping/sequence rules carry their own key semantics
    grouped_key = [key] if keyed else None
    result = engine.validate(
        df, rules, key=grouped_key, partition_col=partition_col, description=msg
    )
    result.grouped = key is not None or any(
        isinstance(r, (R.MappingRule,)) for r in rules
    )
    if raise_on_failure:
        result.raise_if_failed(msg)
    return result


def valid(df: DataFrame, requirement: Any = None, **kwargs) -> bool:
    """Like validate() but returns True/False (reference validation.py:737-750)."""
    try:
        validate(df, requirement, **kwargs)
    except ValidationError:
        return False
    return True


class QuarantineResult:
    """Outcome of :func:`quarantine` — four lazy DataFrames:

    * ``clean``        — rows implicated by NO violation (feed onward)
    * ``quarantined``  — rows whose key appears in some violation
    * ``violations``   — the full violation frame (persisted; the why)
    * ``unattributed`` — violations with no key (table-level verdicts:
      drift, whole-table counts, expected-but-absent values) — these
      implicate no specific row and quarantine nothing

    The violation frame is persisted so the clean/quarantined splits
    don't recompute the rule plans — decode passes included — once per
    consumer.  It and the compile's own intermediates live on a
    ``CacheHandle`` owned by this result object: call :meth:`unpersist`
    when done, or they are freed at GC once the result is unreachable.
    """

    def __init__(self, clean: DataFrame, quarantined: DataFrame,
                 violations: DataFrame, unattributed: DataFrame):
        self.clean = clean
        self.quarantined = quarantined
        self.violations = violations
        self.unattributed = unattributed

    def unpersist(self) -> None:
        unpersist_result(self)


def quarantine(df: DataFrame, rules, key,
               partition_col: Optional[str] = None,
               engine: Optional["Engine"] = None) -> QuarantineResult:
    """Split ``df`` into clean vs quarantined rows by the keys the
    violations implicate — the curation step of a training-data
    pipeline: clean rows flow to the next stage, quarantined rows are
    held with their violations for repair or discard.

    Attribution follows each rule's key semantics under ``key=``: row
    rules key the violating row, uniqueness keys the duplicated key
    (all its rows quarantine), grouped requirements key the group.
    Violations that carry no key — table-level verdicts like drift, or
    Missing differences for values absent from the data — cannot
    implicate rows; they are surfaced as ``unattributed`` and do not
    quarantine anything (inspect them before trusting ``clean``).

    Scale shape: ONE rule evaluation (the violation frame is persisted
    and reused), a distinct over the violating keys (typically a tiny
    fraction of input), then one left-anti and one left-semi join of
    ``df`` against those keys on the rendered key expression — AQE
    converts them to broadcast joins at runtime when the key set is
    small, and they shuffle-join when it is not.  No driver-side
    collect at any size.
    """
    if isinstance(key, str):
        key = [key]
    eng = engine or Engine(df.sparkSession)
    ctx = ValidationContext(df, key=key, partition_col=partition_col)
    violations = ctx.handle.register(eng._compile_ctx(ctx, rules).persist())
    bad_keys = (
        violations.where(F.col("key").isNotNull())
        .select(F.col("key").alias("__qkey"))
        .distinct()
    )
    on = ctx.key_expr() == F.col("__qkey")
    return ctx.handle.attach(QuarantineResult(
        clean=df.join(bad_keys, on, "left_anti"),
        quarantined=df.join(bad_keys, on, "left_semi"),
        violations=violations,
        unattributed=violations.where(F.col("key").isNull()),
    ))


# --- validate.<method> style entry points (reference validation.py:370-663)

def _attach(name, fn):
    setattr(validate, name, fn)


def _value_columns(df, *exclude):
    """The columns of ``df`` not in ``exclude`` (the key, order_by):
    the value columns a ``validate.<method>`` checks when none is
    named.  ``ValueError`` when none is left."""
    cols = [c for c in df.columns if c not in exclude]
    if not cols:
        raise ValueError(f"no value column left in {df.columns} "
                         f"besides {[c for c in exclude if c]}")
    return cols


def _v_predicate(df, requirement, column=None, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    return validate(df, rules=[R.predicate(column, requirement, show_expected=key is not None)],
                    key=key, **kw)


def _v_regex(df, pattern, column=None, flags=0, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    return validate(df, rules=[R.regex(column, pattern, flags)], key=key, **kw)


def _v_approx(df, requirement, column=None, places=7, delta=None, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    if isinstance(requirement, Mapping):
        # per-key approx: filter per key (small dicts) — exact reference parity
        rules = [_KeyedApprox(column, key, k, v, places, delta)
                 for k, v in requirement.items()]
        return validate(df, rules=rules, key=key, **kw)
    return validate(df, rules=[R.approx(column, requirement, places, delta)], key=key, **kw)


class _KeyedApprox(R.ApproxRule):
    """approx against a per-key expected value (mapping form)."""

    def __init__(self, column, key, key_value, expected, places, delta):
        super().__init__(column, expected, places, delta,
                         rule_id=f"approx:{column}")
        self.key_col = key
        self.key_value = key_value

    def row_expr(self, ctx):
        from .schema import py_repr, repr_col

        base = super().row_expr(ctx)
        return F.when(
            repr_col(F.col(self.key_col)) == py_repr(self.key_value), base
        )


def _v_fuzzy(df, requirement, column=None, cutoff=0.6, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    if isinstance(requirement, Mapping):
        rules = [
            _KeyedFuzzy(column, key, k, v, cutoff) for k, v in requirement.items()
        ]
        return validate(df, rules=rules, key=key, **kw)
    return validate(df, rules=[R.fuzzy(column, requirement, cutoff)], key=key, **kw)


class _KeyedFuzzy(R.FuzzyRule):
    """fuzzy against a per-key expected value (mapping form).

    FuzzyRule is a plan rule (the difflib UDF must only see the
    exact-mismatch fragment), so the key restriction is a JVM-side
    pre-filter — it prunes before the Python stage."""

    def __init__(self, column, key, key_value, expected, cutoff):
        super().__init__(column, expected, cutoff, rule_id=f"fuzzy:{column}")
        self.key_col = key
        self.key_value = key_value

    def plan(self, ctx):
        from .schema import py_repr, repr_col

        sub = ctx.df.filter(
            repr_col(F.col(self.key_col)) == py_repr(self.key_value)
        )
        sub_ctx = R.ValidationContext(
            sub, key=[self.key_col], partition_col=ctx.partition_col
        )
        return super().plan(sub_ctx)


def _v_interval(df, min=None, max=None, column=None, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    return validate(df, rules=[R.interval(column, min, max)], key=key, **kw)


def _v_set(df, requirement, column=None, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    return validate(df, rules=[R.set_equal(column, requirement)], key=key, **kw)


def _v_subset(df, requirement, column=None, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    return validate(df, rules=[R.subset(column, requirement)], key=key, **kw)


def _v_superset(df, requirement, column=None, key=None, **kw):
    column = column or _value_columns(df, key)[0]
    return validate(df, rules=[R.superset(column, requirement)], key=key, **kw)


def _v_unique(df, columns=None, key=None, **kw):
    columns = columns or _value_columns(df, key)
    return validate(df, rules=[R.unique(columns)], key=key, **kw)


def _v_order(df, requirement, column=None, order_by=None, key=None, **kw):
    column = column or _value_columns(df, key, order_by)[0]
    if order_by is None:
        raise ValueError("validate.order requires order_by=")
    rule = R.order(column, requirement, order_by)
    if key is not None:
        # grouped order: OrderRule handles keys via ctx
        return validate(df, rules=[rule], key=key, **kw)
    return validate(df, rules=[rule], **kw)


_attach("predicate", _v_predicate)
_attach("regex", _v_regex)
_attach("approx", _v_approx)
_attach("fuzzy", _v_fuzzy)
_attach("interval", _v_interval)
_attach("set", _v_set)
_attach("subset", _v_subset)
_attach("superset", _v_superset)
_attach("unique", _v_unique)
_attach("order", _v_order)
