"""Training-mixture planning + weighted deterministic sampling.

Two curation primitives that sit on top of the md5 split machinery
(:mod:`datatest_spark.operators.split`) and share its engine-portable
determinism contract — every predicate here is reproducible verbatim
in any MD5-capable SQL engine, and the DuckDB oracle replays each one.

**mixture_plan** — strict-mixture water-filling: given target weights
per stratum (e.g. ``{"en": .5, "fr": .3, "zh": .2}``) and the strata's
available row counts, the largest total corpus ``N`` honoring the
mixture *exactly* is bound by the scarcest stratum::

    N = min_i( available_i / weight_i )        (real division)
    take_i = floor(weight_i * N)

One tiny ``groupBy(stratum)`` (k rows) joined to a broadcast literal
weight table — the plan never touches row data, so it costs one
partial-aggregated scan at any scale.  Strata outside ``weights`` are
reported with weight 0 / take 0 (dropped by the mixture), never
silently omitted — an audit row per observed stratum.

**mixture_sample** — applies the plan: a row survives iff its integer
md5 bucket satisfies ``bucket * available < take * 65536`` — pure
int64 arithmetic (no float threshold, no rounding divergence between
engines), per-stratum proportions hold in expectation exactly like
:func:`~datatest_spark.operators.split.stratified_sample`.  The plan
frame is broadcast-joined on the stratum key; the keep predicate is a
projection — one scan, one tiny broadcast, no extra shuffle.

**weighted_sample** — per-row keep probability from a *data-derived*
weight column (quality-proportional sampling: keep good documents
with probability ~ their quality score): a row survives iff
``bucket / 65536.0 < weight``.  The division is by a power of two
(exact in IEEE 754), so any engine evaluating the same weight
expression keeps the identical row set.  Weights are clamped to
[0, 1]; a weight of 1 keeps the row unconditionally.

Reference lineage: the reference's acceptance/sampling surface stops
at whole-table tolerances (datatest/acceptances.py); mixture control
is a training-pipeline extension expressed with the same determinism
discipline as hash_split.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schema import local_frame
from .split import split_bucket

__all__ = ["bucket_int", "mixture_plan", "mixture_sample",
           "weighted_sample", "weighted_sample_sql_pred",
           "bucket_int_sql"]

_BUCKETS = 1 << 16


def bucket_int(id_col: Column, salt: str = "") -> Column:
    """The md5 split bucket as an integer in [0, 65536) — the numeric
    twin of :func:`~datatest_spark.operators.split.split_bucket`, for
    predicates whose threshold is data-derived (a computed fraction
    can't be pre-formatted into a hex literal)."""
    return F.conv(split_bucket(id_col, salt), 16, 10).cast("int")


def bucket_int_sql(id_expr: str, salt: str = "") -> str:
    """DuckDB twin of :func:`bucket_int` (kept beside the
    implementation so the two layouts cannot drift)."""
    return (f"CAST(concat('0x', substr(md5(CAST({id_expr} AS VARCHAR) "
            f"|| '{salt}'), 1, 4)) AS INTEGER)")


def _plan(df: DataFrame, strata_col: str,
          weights: Mapping[str, float],
          size_col: Optional[str] = None) -> DataFrame:
    spark = df.sparkSession
    total_w = sum(weights.values())
    if abs(total_w - 1.0) > 1e-9:
        raise ValueError(
            f"weights must sum to 1 (got {total_w})")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive; omit a stratum to "
                         "drop it")
    wdf = local_frame(
        spark, [(k, float(v)) for k, v in weights.items()],
        f"{strata_col} string, weight double")
    # size_col switches the budget unit from rows to a per-row size
    # (tokens, n_chars, dur_ms): the mixture real pipelines specify —
    # token-hours, not document counts
    size = (F.count("*") if size_col is None
            else F.sum(F.col(size_col).cast("long")))
    avail = df.groupBy(strata_col).agg(size.alias("available"))
    # full outer: observed-but-unweighted strata get weight 0 (audit
    # row, dropped by the mixture); weighted-but-absent strata get
    # available 0, which forces N = min(0 / w) = 0 — the honest
    # strict-mixture answer when a target stratum has no data
    j = avail.join(wdf, strata_col, "full_outer").select(
        F.col(strata_col).alias("stratum"),
        F.coalesce("available", F.lit(0).cast("long")).alias("available"),
        F.coalesce("weight", F.lit(0.0)).alias("weight"),
    )
    # N from a global window over the k-row plan frame (one Exchange
    # of k tiny rows) — NOT a separate aggregate + cross join, which
    # would recompute the per-stratum counts and scan the corpus twice
    n_total = F.min(
        F.when(F.col("weight") > 0,
               F.col("available") / F.col("weight"))
    ).over(Window.partitionBy())
    return j.select(
        "stratum", "available", "weight",
        F.floor(F.col("weight") * n_total).alias("take"),
    )


def mixture_plan(df: DataFrame, strata_col: str,
                 weights: Mapping[str, float],
                 size_col: Optional[str] = None) -> DataFrame:
    """One audit row per observed-or-weighted stratum: ``(stratum,
    available, weight, take)`` — the strict-mixture water-filling plan
    (module docstring).  Strata not in ``weights`` get weight 0 /
    take 0; a weighted stratum with no data forces ``take = 0``
    everywhere (the strict mixture is empty).

    ``size_col`` switches the budget unit from ROW COUNTS to a per-row
    size column (token count, ``n_chars``, ``dur_ms``): ``available``
    becomes the stratum's total size and ``take`` the size budget the
    mixture allots it — the form real training mixtures are specified
    in (tokens / audio hours, not document counts)."""
    return _plan(df, strata_col, weights, size_col=size_col)


def mixture_sample(df: DataFrame, strata_col: str, id_col: str,
                   weights: Mapping[str, float],
                   salt: str = "",
                   size_col: Optional[str] = None) -> DataFrame:
    """Rows of ``df`` surviving the strict-mixture plan: a row is kept
    iff ``bucket * available < take * 65536`` for its stratum (int64
    arithmetic end-to-end; see module docstring).  Expectation-exact
    per-stratum proportions; append-stable; salt re-rolls the draw.

    With ``size_col`` the plan budgets SIZE (see :func:`mixture_plan`);
    the same hash predicate then keeps each stratum's rows with
    probability ``take/available``, so the kept rows' expected total
    size equals the stratum's size budget (the md5 bucket is
    independent of row size by construction).  Exact-to-the-unit size
    quotas would need a per-stratum ordered scan — the wrong trade at
    10^12 rows, exactly as for row quotas."""
    plan = _plan(df, strata_col, weights,
                 size_col=size_col).withColumnRenamed(
        "stratum", strata_col)
    b = bucket_int(F.col(id_col), salt)
    return (df.join(F.broadcast(plan.select(strata_col, "available",
                                            "take")),
                    strata_col, "inner")
            .where(b.cast("long") * F.col("available")
                   < F.col("take") * F.lit(_BUCKETS).cast("long"))
            .drop("available", "take"))


def weighted_sample(df: DataFrame, weight: Column, id_col: str,
                    salt: str = "") -> DataFrame:
    """Keep each row with probability ``weight`` (a per-row Column in
    [0, 1], clamped), deterministically: survive iff
    ``bucket / 65536.0 < weight``.  Pure projection predicate — no
    shuffle, no RNG state, engine-portable
    (:func:`weighted_sample_sql_pred` is the SQL twin)."""
    w = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    b = bucket_int(F.col(id_col), salt).cast("double") / F.lit(
        float(_BUCKETS))
    return df.where(b < w)


def weighted_sample_sql_pred(weight_expr: str, id_expr: str,
                             salt: str = "") -> str:
    """ANSI/DuckDB twin of :func:`weighted_sample`'s keep predicate."""
    b = bucket_int_sql(id_expr, salt)
    w = f"least(greatest(CAST(({weight_expr}) AS DOUBLE), 0.0), 1.0)"
    return f"(CAST({b} AS DOUBLE) / 65536.0) < {w}"
