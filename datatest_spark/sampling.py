"""Sampled validation — statistical pre-checks at a fraction of the scan.

At 10^12-clip scale a full constraint pass is a committed expense; a
curation pipeline wants a cheap, *reproducible* estimate of each
rule's violation rate first (gate the expensive pass, trend rates over
time, smoke-check a new drop).  The reference's analogue is accepting
a bounded violation count/percent after the fact
(``accepted.percent``, reference acceptances.py:700-736); this module
moves the bound *before* the full scan: estimate the rate on a
deterministic sample and report a one-sided confidence bound.

Design constraints that shaped the API:

* **Deterministic, engine-portable sampling.**  ``df.sample()`` is
  seed-stable only per partition layout; a re-run after compaction
  draws a different sample, and no external system can reproduce it.
  Instead rows are kept when the first ``hex_chars`` hex digits of
  ``md5(key)`` fall below a threshold — a pure function of the row
  key, identical in Spark, DuckDB, or any engine with ``md5`` (the
  oracle for the ``sampled_validation`` query replays it verbatim in
  SQL).  Sampling by KEY also keeps all rows of one key together, so
  keyed rules see whole groups.
* **One scan for row rules.**  The fused projection trick from
  :class:`~datatest_spark.validation.Engine` extends to counting: one
  projection evaluates every row rule's violation struct, then a
  single scalar aggregate counts sample rows AND per-rule violations
  — no shuffle beyond the final reduce, no second pass for the
  denominator.  Plan rules (unique/set/...) can't be counted this way;
  they run through the normal engine against a persisted sample and
  the docstring of :func:`sampled_verdicts` states the bias caveat.
* **JVM-side interval math.**  The Wilson score upper bound is
  computed in Spark column arithmetic (z enters as a driver literal),
  so the verdict frame stays a pure DataFrame plan.
"""

from __future__ import annotations

from statistics import NormalDist
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import requirements as R
from .requirements import Rule, ValidationContext
from .schema import local_frame

__all__ = [
    "sample_predicate",
    "sample_sql_predicate",
    "deterministic_sample",
    "sampled_verdicts",
]

_UNIT_SEP = "\x1f"  # concat_ws separator; cannot appear in rendered numerics


def _threshold(fraction: float, hex_chars: int) -> int:
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    if not 1 <= hex_chars <= 8:
        raise ValueError(f"hex_chars must be 1..8, got {hex_chars}")
    t = round(fraction * (16 ** hex_chars))
    if t == 0:
        raise ValueError(
            f"fraction {fraction} is below the resolution of {hex_chars} "
            f"hex chars (1/{16 ** hex_chars}); raise hex_chars"
        )
    return t


def actual_fraction(fraction: float, hex_chars: int = 4) -> float:
    """The exact fraction the threshold realizes (nearest 16**-hex_chars)."""
    return _threshold(fraction, hex_chars) / (16 ** hex_chars)


def sample_predicate(
    key: Union[str, Sequence[str]],
    fraction: float,
    salt: str = "",
    hex_chars: int = 4,
) -> Column:
    """Boolean Column: keep rows whose md5(key)-prefix < threshold.

    Pure function of the key columns (+ ``salt``): the same row is
    sampled in every run, on any partition layout, and the predicate
    is reproducible in any md5-capable engine (see
    :func:`sample_sql_predicate` for the SQL twin).  Distinct salts
    draw independent samples — use a fresh salt per audit so repeated
    gates don't re-test the same rows.

    The realized fraction is ``round(fraction * 16**hex_chars) /
    16**hex_chars`` (exact threshold arithmetic, no float compare);
    4 hex chars give 1/65536 resolution.
    """
    if isinstance(key, str):
        key = [key]
    t = _threshold(fraction, hex_chars)
    if t >= 16 ** hex_chars:  # fraction rounds to 1.0 -> keep everything
        return F.lit(True)
    parts = [F.col(c).cast("string") for c in key]
    if salt:
        parts.append(F.lit(salt))
    digest = F.md5(F.concat_ws(_UNIT_SEP, *parts).cast("binary"))
    return F.substring(digest, 1, hex_chars) < format(t, f"0{hex_chars}x")


def sample_sql_predicate(
    key: Union[str, Sequence[str]],
    fraction: float,
    salt: str = "",
    hex_chars: int = 4,
) -> str:
    """ANSI-SQL twin of :func:`sample_predicate` (DuckDB-compatible).

    ``concat_ws(chr(31), cols...)`` + ``md5`` render identically to the
    Spark expression for string/integer keys, so an external oracle can
    re-draw the exact sample.
    """
    if isinstance(key, str):
        key = [key]
    t = _threshold(fraction, hex_chars)
    if t >= 16 ** hex_chars:
        return "TRUE"
    parts = list(key)
    if salt:
        parts.append(f"'{salt}'")
    inner = f"concat_ws(chr(31), {', '.join(parts)})"
    return f"substr(md5({inner}), 1, {hex_chars}) < '{format(t, f'0{hex_chars}x')}'"


def deterministic_sample(
    df: DataFrame,
    key: Union[str, Sequence[str]],
    fraction: float,
    salt: str = "",
    hex_chars: int = 4,
) -> DataFrame:
    """``df`` filtered to the deterministic md5-prefix sample."""
    return df.where(sample_predicate(key, fraction, salt, hex_chars))


def _wilson_upper(viol: Column, n: Column, z: float) -> Column:
    """One-sided Wilson score upper bound on the violation rate.

    All arithmetic is JVM-side column math; ``z`` is the one-sided
    normal quantile for the requested confidence.  Behaves sanely at
    the edges: 0 violations still yields a positive bound (~z^2/(n+z^2))
    — "we observed none" is not "there are none".
    """
    nn = n.cast("double")
    p = viol.cast("double") / nn
    z2 = z * z
    denom = 1.0 + z2 / nn
    center = p + z2 / (2.0 * nn)
    spread = F.sqrt((p * (1.0 - p) + z2 / (4.0 * nn)) / nn)
    return F.when(n <= 0, F.lit(None).cast("double")).otherwise(
        F.least((center + z * spread) / denom, F.lit(1.0))
    )


def sampled_verdicts(
    df: DataFrame,
    rules: Sequence[Rule],
    sample_key: Union[str, Sequence[str]],
    fraction: float = 0.01,
    max_rate: Optional[float] = None,
    confidence: float = 0.95,
    salt: str = "",
    hex_chars: int = 4,
    key: Optional[Union[str, Sequence[str]]] = None,
) -> DataFrame:
    """Estimate each rule's violation rate on a deterministic sample.

    ``sample_key`` draws the sample (md5-prefix of those columns);
    ``key`` is the separate, optional validation grouping key passed
    to the rules — a global uniqueness check stays global.

    Returns one row per rule::

        rule_id       string
        sample_rows   long    -- rows drawn (same for every rule)
        violations    long    -- violation rows the rule emitted
        est_rate      double  -- violations / sample_rows
        rate_upper    double  -- one-sided Wilson upper bound at
                                 ``confidence``
        passed        boolean -- rate_upper <= max_rate; when
                                 ``max_rate`` is None: violations == 0

    Scale shape: when every rule is a **row rule** (predicate / regex /
    interval / approx — the common pre-check set), the whole verdict is
    ONE scan of the sampled rows and ONE scalar aggregate: the fused
    violation-struct projection (same trick as
    ``Engine._compile_ctx``) plus per-rule ``sum(struct is not null)``
    counters, no shuffle of row data at any table size.  Rules with
    ``kind == 'plan'`` (unique / set / superset ...) are evaluated by
    the normal engine over a persisted sample and their counts joined
    in — correct counts over the sample, but note the estimate for
    cross-row properties is biased (a duplicate pair straddling the
    sample boundary is invisible), so treat plan-rule rows as smoke
    signals, not rate estimates.

    The interval math is the textbook Wilson score bound (Wilson 1927,
    JASA 22:209-212), one-sided: ``rate_upper`` answers "what's the
    largest true rate consistent with what the sample showed?", which
    is the quantity a gate compares against its budget.  Reference
    analogue: ``accepted.percent`` (reference acceptances.py:700-736)
    bounds the same ratio after a full pass; this bounds it before.
    """
    if isinstance(sample_key, str):
        sample_key = [sample_key]
    if isinstance(key, str):
        key = [key]
    if not rules:
        raise ValueError("sampled_verdicts needs at least one rule")
    z = NormalDist().inv_cdf(confidence)
    sample = deterministic_sample(df, sample_key, fraction, salt, hex_chars)
    # NOTE: sample_key draws the sample; `key` (optional) is the
    # validation grouping key the rules see — two different concerns
    # (a global uniqueness check must NOT become per-sample-key).
    ctx = ValidationContext(sample, key=list(key) if key else None)

    row_rules = [r for r in rules if r.kind == "row"]
    plan_rules = [r for r in rules if r.kind == "plan"]

    spark = df.sparkSession
    parts: list[DataFrame] = []

    if row_rules:
        # one projection evaluates every struct; one scalar aggregate
        # counts rows and per-rule violations — single scan, no shuffle
        structs = [r.row_expr(ctx).alias(f"_v{i}") for i, r in enumerate(row_rules)]
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(F.col(f"_v{i}").isNotNull().cast("long")).alias(f"_c{i}")
            for i in range(len(row_rules))
        ]
        one = sample.select(*structs).agg(*aggs)
        # one row -> one row per rule via stack (still JVM-side)
        stacked = one.select(
            F.col("_n").alias("sample_rows"),
            F.expr(
                "stack({n}, {args}) as (rule_id, violations)".format(
                    n=len(row_rules),
                    args=", ".join(
                        f"'{r.rule_id}', _c{i}" for i, r in enumerate(row_rules)
                    ),
                )
            ),
        ).select("rule_id", "sample_rows", F.col("violations").cast("long").alias("violations"))
        parts.append(stacked)

    plan_ctx = None
    if plan_rules:
        from .validation import Engine

        plan_ctx = ValidationContext(sample.persist(),
                                     key=list(key) if key else None)
        plan_ctx.handle.register(plan_ctx.df)
        n_df = plan_ctx.df.agg(F.count(F.lit(1)).alias("sample_rows"))
        violations = Engine(spark)._compile_ctx(plan_ctx, plan_rules)
        vcounts = violations.groupBy("rule_id").agg(
            F.count(F.lit(1)).alias("violations")
        )
        ids = local_frame(
            spark, [(r.rule_id,) for r in plan_rules], "rule_id string"
        )
        parts.append(
            ids.crossJoin(F.broadcast(n_df))
            .join(F.broadcast(vcounts), "rule_id", "left")
            .select(
                "rule_id",
                "sample_rows",
                F.coalesce(F.col("violations"), F.lit(0)).cast("long").alias("violations"),
            )
        )

    from functools import reduce

    counts = reduce(lambda a, b: a.unionByName(b), parts)
    out = counts.select(
        "rule_id",
        "sample_rows",
        "violations",
        F.when(F.col("sample_rows") > 0,
               F.col("violations") / F.col("sample_rows"))
        .alias("est_rate"),
        _wilson_upper(F.col("violations"), F.col("sample_rows"), z).alias("rate_upper"),
    )
    if max_rate is None:
        out = out.withColumn("passed", F.col("violations") == 0)
    else:
        out = out.withColumn("passed", F.col("rate_upper") <= F.lit(float(max_rate)))
    # the persisted plan-rule sample (and any frame the plan rules
    # persisted) belongs to the returned verdict frame
    if plan_ctx is not None:
        plan_ctx.handle.attach(out)
    return out
