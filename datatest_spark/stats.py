"""Per-column statistics, sketches, and distribution-drift checks.

The reference computes only exact single-machine aggregates (squint
query.py:417-533).  At 10^12-row scale the per-column profile must be
one columnar pass with sketch aggregates (north_star):

* count / null-rate            — ``F.count`` + null-sum
* min / max / mean / stddev    — exact aggregates
* distinct                     — HyperLogLog++ (``approx_count_distinct``)
* quantiles                    — Greenwald-Khanna (``percentile_approx``)

ALL columns profile in a SINGLE ``df.agg(*exprs)`` — mirroring how the
reference evaluates many requirements over one dataset, but columnar.

Drift: the current profile's quantile grid / histogram is compared to a
baseline sketch table (FIXTURES.md F3) with KS and PSI statistics.  PSI
uses fixed bucket edges taken from the *baseline* quantiles (the
standard population-stability construction), computed distributedly via
``width_bucket`` + one groupBy; KS compares quantile grids driver-side
(grids are tiny).
"""

from __future__ import annotations

import bisect
import math
from typing import Dict, List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .requirements import Rule, ValidationContext, finalize_cols
from .schema import DEVIATION, VIOLATION_SCHEMA, local_frame, partition_column

__all__ = [
    "profile",
    "profile_long",
    "quantile_sketch",
    "psi",
    "ks_statistic",
    "binned_ks",
    "js_divergence",
    "chi_square",
    "DriftPSIRule",
    "DriftKSRule",
    "DriftJSRule",
    "DriftChi2Rule",
    "TwoSampleDriftRule",
    "OutlierRule",
    "PartitionAnomalyRule",
    "ApproxUniqueRule",
    "approx_unique",
    "drift_psi",
    "drift_ks",
    "drift_js",
    "drift_chi2",
    "outliers",
    "partition_anomaly",
    "partition_anomalies",
    "partitioned_profile",
    "merge_profiles",
    "quantiles_from_histogram",
    "tdigest_compress",
    "tdigest_quantiles",
    "merge_tdigest_column",
    "TDIGEST_SCHEMA",
]

_Q_GRID = [i / 20.0 for i in range(21)]  # q0, q5, ..., q100


def _profile_exprs(df: DataFrame, column: str, accuracy: int) -> List[Column]:
    c = F.col(column)
    dtype = dict(df.dtypes)[column]
    numeric = dtype in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
    exprs = [
        F.count(F.lit(1)).alias(f"{column}__rows"),
        F.count(c).alias(f"{column}__count"),
        F.sum(c.isNull().cast("long")).alias(f"{column}__nulls"),
        F.approx_count_distinct(c).alias(f"{column}__distinct"),
        F.min(c).cast("string").alias(f"{column}__min"),
        F.max(c).cast("string").alias(f"{column}__max"),
    ]
    if numeric:
        exprs += [
            F.avg(c.cast("double")).alias(f"{column}__mean"),
            F.stddev(c.cast("double")).alias(f"{column}__stddev"),
            F.percentile_approx(
                c.cast("double"), _Q_GRID, accuracy
            ).alias(f"{column}__quantiles"),
        ]
    else:
        exprs += [
            F.lit(None).cast("double").alias(f"{column}__mean"),
            F.lit(None).cast("double").alias(f"{column}__stddev"),
            F.lit(None).cast("array<double>").alias(f"{column}__quantiles"),
        ]
    return exprs


PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), False),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("non_null", T.LongType(), True),
        T.StructField("null_count", T.LongType(), True),
        T.StructField("null_rate", T.DoubleType(), True),
        T.StructField("approx_distinct", T.LongType(), True),
        T.StructField("min_value", T.StringType(), True),
        T.StructField("max_value", T.StringType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("stddev", T.DoubleType(), True),
        T.StructField("quantiles", T.ArrayType(T.DoubleType()), True),
    ]
)


def profile(df: DataFrame, columns: Optional[Sequence[str]] = None,
            accuracy: int = 10_000) -> DataFrame:
    """One-pass profile of every (requested) column → long-format rows.

    The wide agg row is reshaped with a single ``stack``-style select,
    so the whole profile is exactly one Spark job over one scan.
    """
    columns = list(columns or [c for c, t in df.dtypes if t != "binary"])
    exprs = []
    for c in columns:
        exprs.extend(_profile_exprs(df, c, accuracy))
    wide = df.agg(*exprs)

    structs = []
    for c in columns:
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("row_count"),
                F.col(f"{c}__count").alias("non_null"),
                F.col(f"{c}__nulls").alias("null_count"),
                (F.col(f"{c}__nulls") / F.col(f"{c}__rows")).alias("null_rate"),
                F.col(f"{c}__distinct").alias("approx_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
                F.col(f"{c}__mean").alias("mean"),
                F.col(f"{c}__stddev").alias("stddev"),
                F.col(f"{c}__quantiles").alias("quantiles"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def profile_long(df: DataFrame, **kw) -> DataFrame:
    return profile(df, **kw)


def _bucket_index(col: Column, edges: Sequence[float]) -> Column:
    """Bucket index for fixed interior ``edges``: #edges strictly below
    the value — a codegen'd comparison chain, no UDF."""
    idx: Column = F.lit(0)
    for e in edges:
        idx = idx + (col > F.lit(float(e))).cast("int")
    return idx


def partitioned_profile(df: DataFrame, columns: Sequence[str],
                        partition_col: str = "part_id",
                        bin_edges: Optional[Dict[str, Sequence[float]]] = None,
                        tdigest: Optional[Sequence[str]] = None,
                        tdigest_grid: int = 64,
                        tdigest_accuracy: int = 10_000,
                        ) -> DataFrame:
    """Per-partition MERGEABLE profile: one row per (partition, column)
    with exact count/null/min/max/sum stats, a binary HLL sketch
    (``hll_sketch_agg`` — Apache DataSketches, union-mergeable) and —
    for columns listed in ``bin_edges`` — a fixed-edge histogram
    (``hist``: bucket counts over the column's interior edges, bucket i
    = #values with exactly i edges below them).  Fixed-edge counts are
    *exactly* union-mergeable (they are sums), which is what
    ``percentile_approx`` results are not — so the merged profile
    carries a quantile sketch too: :func:`quantiles_from_histogram`
    interpolates any quantile grid from the merged counts, and
    :meth:`DriftPSIRule.from_histogram` consumes the counts directly.

    This is the incremental-profiling shape for append-only tables:
    profile only the NEW partitions, store the rows, and
    :func:`merge_profiles` folds any subset into table-level stats —
    including exact-union distinct estimates via ``hll_union_agg`` —
    without ever rescanning old data.  (``approx_count_distinct``
    returns only the estimate, so per-partition results could not be
    combined; the sketch and histogram columns are what make the
    profile mergeable.)

    Plan shape: ONE ``groupBy(partition_col)`` carrying every column's
    aggregate expressions — a single scan + single shuffle of
    ~n_partitions rows regardless of how many columns are profiled —
    then a zero-shuffle array-of-structs explode to long form.

    Columns listed in ``tdigest`` additionally carry a per-partition
    t-digest (``tdigest`` column, :data:`TDIGEST_SCHEMA`): an
    equal-mass centroid grid from the built-in Greenwald-Khanna
    aggregate (``percentile_approx`` at the ``tdigest_grid``
    bucket-midpoint probabilities — still the same single scan, no
    custom UDAF), each centroid weighted ``non_null/grid``.  Unlike
    ``bin_edges`` this needs NO edges chosen up front; merged digests
    (:func:`merge_profiles`) answer any quantile via
    :func:`tdigest_quantiles`.
    """
    bin_edges = {
        c: sorted({float(e) for e in es})
        for c, es in (bin_edges or {}).items()
    }
    td_cols = set(tdigest or ())
    td_midgrid = [(i + 0.5) / tdigest_grid for i in range(tdigest_grid)]
    exprs: List[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        col = F.col(c)
        if c in td_cols:
            exprs.append(
                F.percentile_approx(
                    col.cast("double"), td_midgrid, tdigest_accuracy
                ).alias(f"{c}__tdm")
            )
        exprs += [
            F.count(col).alias(f"{c}__nn"),
            F.min(col).cast("double").alias(f"{c}__mn"),
            F.max(col).cast("double").alias(f"{c}__mx"),
            F.sum(col.cast("double")).alias(f"{c}__sm"),
            # sketch over the string form: hll_sketch_agg accepts
            # only int/bigint/string/binary, and the cast is
            # injective per column type so distinct counts carry
            F.hll_sketch_agg(col.cast("string")).alias(f"{c}__hll"),
        ]
        if c in bin_edges:
            cd = col.cast("double")
            idx = _bucket_index(cd, bin_edges[c])
            exprs += [
                F.sum((cd.isNotNull() & (idx == F.lit(i))).cast("long"))
                .alias(f"{c}__h{i}")
                for i in range(len(bin_edges[c]) + 1)
            ]
    wide = df.groupBy(
        partition_column(df, partition_col).alias("partition_id")
    ).agg(*exprs)

    structs = []
    for c in columns:
        if c in bin_edges:
            edges = bin_edges[c]
            hist = F.array(
                *[F.col(f"{c}__h{i}") for i in range(len(edges) + 1)]
            )
            hedges = F.array(*[F.lit(e) for e in edges]).cast("array<double>")
        else:
            hist = F.lit(None).cast("array<bigint>")
            hedges = F.lit(None).cast("array<double>")
        if c in td_cols:
            w = F.col(f"{c}__nn").cast("double") / F.lit(float(tdigest_grid))

            # factory keeps the callable arity-1: F.transform inspects
            # the signature and treats 2 params (even defaulted) as
            # (element, index), which would bind the index as weight
            def _mk_centroid(weight_col):
                def _centroid(x):
                    return F.struct(
                        x.alias("mean"), weight_col.alias("weight")
                    )

                return _centroid

            td = F.when(
                F.col(f"{c}__tdm").isNotNull() & (F.col(f"{c}__nn") > 0),
                F.transform(F.col(f"{c}__tdm"), _mk_centroid(w)),
            ).cast(TDIGEST_SCHEMA)
        else:
            td = F.lit(None).cast(TDIGEST_SCHEMA)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("partition_id"),
                F.col("__rows").alias("row_count"),
                F.col(f"{c}__nn").alias("non_null"),
                F.col(f"{c}__mn").alias("min_v"),
                F.col(f"{c}__mx").alias("max_v"),
                F.col(f"{c}__sm").alias("sum_v"),
                F.col(f"{c}__hll").alias("distinct_sketch"),
                hedges.alias("hist_edges"),
                hist.alias("hist"),
                td.alias("tdigest"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def merge_profiles(profiles: DataFrame,
                   tdigest_compression: int = 100,
                   tdigest_shards: Optional[int] = None) -> DataFrame:
    """Fold :func:`partitioned_profile` rows (any union of partitions,
    possibly read back from storage) into per-column table-level stats.
    HLL union is lossless over disjoint-or-not inputs, so the merged
    ``distinct_est`` equals what a single whole-table sketch would
    estimate; fixed-edge histogram counts merge by element-wise sum, so
    the merged ``hist`` EQUALS the whole-table histogram exactly (and
    with it any quantile interpolated via
    :func:`quantiles_from_histogram`).

    Per-partition t-digests merge by flatten + one Arrow-vectorized
    compression pass (:func:`tdigest_compress`) into a single digest
    per column, read via :func:`tdigest_quantiles`.  The merge buffers
    ``n_partitions × tdigest_grid`` centroids per column (16 bytes
    each) in one aggregation group — fine to ~10^5 partitions; beyond
    that pass ``tdigest_shards`` to pre-compress in that many hashed
    partition groups first (two tiny shuffles, buffers bounded by
    ``n_partitions/shards × grid``)."""
    empty = F.array().cast("array<bigint>")
    hist_merged = F.aggregate(
        F.collect_list("hist"),  # collect_list drops nulls
        empty,
        lambda acc, h: F.when(F.size(acc) == 0, h).otherwise(
            F.zip_with(acc, h, lambda a, b: a + b)
        ),
    )
    merged = (
        profiles.groupBy("column_name")
        .agg(
            F.sum("row_count").alias("row_count"),
            F.sum("non_null").alias("non_null"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.round(F.sum("sum_v"), 4).alias("sum_v"),
            F.hll_sketch_estimate(
                F.hll_union_agg("distinct_sketch")
            ).alias("distinct_est"),
            F.first("hist_edges", ignorenulls=True).alias("hist_edges"),
            F.when(F.size(hist_merged) > 0, hist_merged).alias("hist"),
        )
    )
    if "tdigest" not in profiles.columns:
        # profiles persisted before the tdigest column existed
        return merged.withColumn("tdigest", F.lit(None).cast(TDIGEST_SCHEMA))
    compress = _td_merge_udf(tdigest_compression)
    td = profiles.where(F.col("tdigest").isNotNull())
    if tdigest_shards and int(tdigest_shards) > 1:
        td = (
            td.groupBy(
                "column_name",
                F.pmod(
                    F.xxhash64("partition_id"), F.lit(int(tdigest_shards))
                ).alias("__shard"),
            )
            .agg(F.flatten(F.collect_list("tdigest")).alias("tdigest"))
            .select("column_name", compress("tdigest").alias("tdigest"))
        )
    tdm = merge_tdigest_column(
        td, ["column_name"], compression=tdigest_compression
    )
    # one row per profiled column — always broadcastable
    return merged.join(F.broadcast(tdm), "column_name", "left")


def quantiles_from_histogram(edges: Sequence[float], counts: Sequence[int],
                             probs: Sequence[float],
                             lo: Optional[float] = None,
                             hi: Optional[float] = None) -> List[float]:
    """Interpolate a quantile grid from a fixed-edge histogram — the
    mergeable-quantile read path: merged partition histograms →
    baseline quantiles for :class:`DriftPSIRule` / :class:`DriftKSRule`
    without rescanning any data.

    ``edges`` are the interior bucket edges (bucket i holds values with
    exactly i edges below them); ``lo``/``hi`` bound the two open outer
    buckets (pass the profile's merged ``min_v``/``max_v``).  Values
    are assumed uniform within a bucket (the standard histogram
    interpolation), so accuracy is the bucket width — by construction
    the same resolution the PSI/KS drift rules bucket at.
    """
    counts = [int(x) for x in counts]
    total = sum(counts)
    if total <= 0 or not edges:
        return []
    lo = float(lo) if lo is not None else float(edges[0])
    hi = float(hi) if hi is not None else float(edges[-1])
    bounds = [min(lo, float(edges[0]))] + [float(e) for e in edges] + [
        max(hi, float(edges[-1]))
    ]
    out = []
    cum = [0]
    for n in counts:
        cum.append(cum[-1] + n)
    for p in probs:
        t = min(max(p, 0.0), 1.0) * total
        # first bucket whose cumulative count reaches t
        b = 0
        while b < len(counts) - 1 and cum[b + 1] < t:
            b += 1
        n_b = counts[b]
        frac = 0.0 if n_b == 0 else (t - cum[b]) / n_b
        frac = min(max(frac, 0.0), 1.0)
        v0, v1 = bounds[b], bounds[b + 1]
        out.append(v0 + frac * (v1 - v0))
    return out


# --------------------------------------------------------------------------
# t-digest: ADAPTIVE mergeable quantile sketch (north_star: "quantile
# sketches via t-digest/GK").  The fixed-edge histogram above is exactly
# mergeable but needs edges chosen up front; the t-digest needs none —
# per-partition centroids adapt to the data, merge losslessly-enough
# (rank error ~1/compression, tightest at the tails by the k1 scale
# function), and answer any quantile afterwards without a rescan.
#
# Build path stays in partitioned_profile's SINGLE groupBy scan: the
# per-partition sketch is an equal-mass centroid grid derived from the
# built-in Greenwald-Khanna aggregate (percentile_approx at bucket-
# midpoint probabilities) — no custom UDAF, no second pass, JVM-side.
# Only the MERGE (tiny: n_partitions x grid centroids per column) runs
# the Arrow-vectorized compression below.
# --------------------------------------------------------------------------

TDIGEST_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("mean", T.DoubleType(), True),
            T.StructField("weight", T.DoubleType(), True),
        ]
    )
)


def tdigest_compress(centroids, compression: int = 100) -> List[tuple]:
    """Merge any bag of ``(mean, weight)`` centroids into at most
    ~``compression`` clusters — the standard merging t-digest with the
    k1 scale function ``k(q) = (δ/2π)·asin(2q−1)`` (Dunning & Ertl):
    a cluster may absorb its sorted successor while the k-span stays
    ≤ 1, which bounds cluster mass to O(total·q(1−q)/δ) — small at the
    tails, where quantile accuracy matters most.  Deterministic:
    input order never matters (sorted first), so merged digests are
    stable across retries and partitionings of the same data."""
    pts = sorted(
        (float(m), float(w)) for m, w in centroids if w is not None and w > 0
    )
    if not pts:
        return []
    total = sum(w for _, w in pts)
    half = compression / (2.0 * math.pi)

    def k(q: float) -> float:
        return half * math.asin(min(1.0, max(-1.0, 2.0 * q - 1.0)))

    out: List[tuple] = []
    cum = 0.0  # mass emitted before the open cluster
    cm, cw = pts[0]
    k0 = k(0.0)
    for m, w in pts[1:]:
        if k((cum + cw + w) / total) - k0 <= 1.0:
            cw += w
            cm += (m - cm) * (w / cw)  # running weighted mean
        else:
            out.append((cm, cw))
            cum += cw
            k0 = k(cum / total)
            cm, cw = m, w
    out.append((cm, cw))
    return out


def _centroid_mw(c) -> tuple:
    """(mean, weight) from a tuple, dict, or Spark Row centroid."""
    if isinstance(c, dict):
        return c["mean"], c["weight"]
    try:
        return c.mean, c.weight
    except AttributeError:
        return c[0], c[1]


def _td_merge_udf(compression: int):
    """Scalar pandas UDF: flattened centroid array → compressed digest."""

    @F.pandas_udf(TDIGEST_SCHEMA)
    def merge_fn(flat: pd.Series) -> pd.Series:
        def one(cents):
            if cents is None:
                return None
            return [
                {"mean": m, "weight": w}
                for m, w in tdigest_compress(
                    (_centroid_mw(c) for c in cents), compression
                )
            ]

        return flat.map(one)

    return merge_fn


def merge_tdigest_column(df: DataFrame, group_cols: Sequence[str] = (),
                         tdigest_col: str = "tdigest",
                         compression: int = 100,
                         alias: str = "tdigest") -> DataFrame:
    """Fold a ``tdigest`` column across rows per group — one merged
    digest per group (or one global row with no ``group_cols``).  The
    cross-window merge path: e.g. a week of
    :func:`~datatest_spark.streaming.windowed_profile` windows folds
    into a single adaptive drift baseline
    (:meth:`DriftPSIRule.from_tdigest`) without touching raw data."""
    compress = _td_merge_udf(compression)
    return (
        df.where(F.col(tdigest_col).isNotNull())
        .groupBy(*[F.col(g) for g in group_cols])
        .agg(F.flatten(F.collect_list(tdigest_col)).alias("__flat"))
        .select(*group_cols, compress("__flat").alias(alias))
    )


def tdigest_quantiles(centroids, probs: Sequence[float],
                      lo: Optional[float] = None,
                      hi: Optional[float] = None) -> List[float]:
    """Quantile grid from a (merged) t-digest: centroid i's mass is
    centered at its cumulative-weight midpoint; ranks interpolate
    linearly between adjacent midpoints.  ``lo``/``hi`` bound the open
    tails (pass the profile's merged ``min_v``/``max_v``); without them
    the extreme quantiles clamp to the outermost centroid means."""
    pts = sorted(_centroid_mw(c) for c in centroids or [])
    pts = [(float(m), float(w)) for m, w in pts if w is not None and w > 0]
    if not pts:
        return []
    total = sum(w for _, w in pts)
    mids: List[float] = []
    means: List[float] = []
    cum = 0.0
    for m, w in pts:
        mids.append(cum + w / 2.0)
        means.append(m)
        cum += w
    flo = float(lo) if lo is not None else means[0]
    fhi = float(hi) if hi is not None else means[-1]
    out = []
    for p in probs:
        t = min(max(float(p), 0.0), 1.0) * total
        if t <= mids[0]:
            frac = t / mids[0] if mids[0] > 0 else 1.0
            out.append(flo + frac * (means[0] - flo))
        elif t >= mids[-1]:
            rem = total - mids[-1]
            frac = (t - mids[-1]) / rem if rem > 0 else 0.0
            out.append(means[-1] + frac * (fhi - means[-1]))
        else:
            j = bisect.bisect_right(mids, t) - 1
            span = mids[j + 1] - mids[j]
            frac = (t - mids[j]) / span if span > 0 else 0.0
            out.append(means[j] + frac * (means[j + 1] - means[j]))
    return out


def quantile_sketch(df: DataFrame, column: str, accuracy: int = 10_000) -> List[float]:
    row = df.agg(
        F.percentile_approx(F.col(column).cast("double"), _Q_GRID, accuracy).alias("q")
    ).first()
    return list(row["q"]) if row["q"] else []


# ---------------------------------------------------------------------------
# Drift statistics
# ---------------------------------------------------------------------------


def psi(current_props: Sequence[float], baseline_props: Sequence[float],
        eps: float = 1e-6) -> float:
    """Population Stability Index over aligned bucket proportions."""
    total = 0.0
    for p, q in zip(current_props, baseline_props):
        p = max(p, eps)
        q = max(q, eps)
        total += (p - q) * math.log(p / q)
    return total


def ks_statistic(q_a: Sequence[float], q_b: Sequence[float]) -> float:
    """Two-sample KS statistic approximated from equal-probability
    quantile grids: for each value in either grid, compare implied CDFs.

    Both grids map grid-position → value at cumulative probability
    i/(len-1); the KS statistic is the max CDF gap over the merged
    value domain (linear interpolation between grid points).
    """
    if not q_a or not q_b:
        return float("nan")

    def cdf(grid: Sequence[float], x: float) -> float:
        n = len(grid) - 1
        if x < grid[0]:
            return 0.0
        if x >= grid[-1]:
            return 1.0
        # binary search for the bracketing segment
        lo, hi = 0, n
        while lo + 1 < hi:
            mid = (lo + hi) // 2
            if grid[mid] <= x:
                lo = mid
            else:
                hi = mid
        v0, v1 = grid[lo], grid[lo + 1]
        frac = 0.0 if v1 == v0 else (x - v0) / (v1 - v0)
        return (lo + frac) / n

    points = sorted(set(list(q_a) + list(q_b)))
    return max(abs(cdf(q_a, x) - cdf(q_b, x)) for x in points)


def binned_ks(current_props: Sequence[float], baseline_props: Sequence[float]) -> float:
    """Two-sample KS statistic over aligned bucket proportions: the max
    absolute gap between the two binned CDFs (the standard discrete KS
    on histogram data — exact given the shared bucket edges)."""
    cum_p = 0.0
    cum_q = 0.0
    gap = 0.0
    for p, q in zip(current_props, baseline_props):
        cum_p += p
        cum_q += q
        gap = max(gap, abs(cum_p - cum_q))
    return gap


def js_divergence(current_props: Sequence[float],
                  baseline_props: Sequence[float],
                  eps: float = 1e-6) -> float:
    """Jensen–Shannon divergence (natural log) over aligned bucket
    proportions — PSI's bounded cousin: symmetric, always finite,
    in [0, ln 2], so thresholds transfer between columns with very
    different tail behavior.  Accumulated strictly left-to-right so
    the SQL oracle's expression chain reproduces it bit-for-bit."""
    total = 0.0
    for p, q in zip(current_props, baseline_props):
        p = max(p, eps)
        q = max(q, eps)
        m = (p + q) / 2.0
        total += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
    return total


def chi_square(current_props: Sequence[float],
               baseline_props: Sequence[float],
               eps: float = 1e-6) -> float:
    """Pearson chi-square distance sum((p-q)^2 / q) over aligned bucket
    proportions — the classic goodness-of-fit drift statistic; heavily
    weights buckets the baseline says should be rare.  Left-to-right
    accumulation (oracle-reproducible)."""
    total = 0.0
    for p, q in zip(current_props, baseline_props):
        q = max(q, eps)
        d = p - q
        total += d * d / q
    return total


class _BucketDriftRule(Rule):
    """Shared machinery for bucket-proportion drift statistics.

    Buckets the column by the baseline's quantile edges (a codegen'd
    comparison chain — no UDF, no second scan), aggregates bucket
    counts with one groupBy (partial aggregation map-side), then
    computes the drift statistic driver-side over the tiny bucket
    vector and emits one DEVIATION violation if it exceeds
    ``threshold``.

    At 10^12 rows this is one shuffle of ~n_buckets rows per partition.
    """

    kind = "plan"
    stat_name = "stat"

    def __init__(self, column: str, baseline_quantiles: Sequence[float],
                 threshold: float = 0.2, rule_id: Optional[str] = None):
        super().__init__(rule_id or f"drift_{self.stat_name}:{column}")
        self.column = column
        self.baseline_q = list(baseline_quantiles)
        self.threshold = threshold
        self._hist_edges: Optional[List[float]] = None
        self._hist_props: Optional[List[float]] = None

    @classmethod
    def from_histogram(cls, column: str, edges: Sequence[float],
                       counts: Sequence[int], threshold: float = 0.2,
                       rule_id: Optional[str] = None):
        """Build the drift rule directly from a fixed-edge histogram —
        the :func:`merge_profiles` feed: merged ``hist_edges``/``hist``
        become the baseline with NO quantile round-trip and no rescan
        of baseline data.  Bucket proportions are the counts
        normalized; the current table is bucketed at the same edges, so
        the comparison is exact bucket-for-bucket."""
        total = float(sum(int(x) for x in counts)) or 1.0
        rule = cls(column, [], threshold, rule_id)
        rule._hist_edges = sorted({float(e) for e in edges})
        rule._hist_props = [int(x) / total for x in counts]
        return rule

    @classmethod
    def from_tdigest(cls, column: str, centroids,
                     threshold: float = 0.2, buckets: int = 10,
                     lo: Optional[float] = None, hi: Optional[float] = None,
                     rule_id: Optional[str] = None):
        """Build the drift rule from a merged t-digest
        (:func:`merge_profiles` ``tdigest`` column) — the ADAPTIVE
        mergeable-baseline feed: no bucket edges chosen up front, no
        rescan of baseline data.  The digest answers the equal-mass
        quantile grid (``buckets`` + 1 points) that becomes the
        baseline; pass the merged ``min_v``/``max_v`` as ``lo``/``hi``
        to pin the tail quantiles."""
        grid = [i / buckets for i in range(buckets + 1)]
        return cls(
            column,
            tdigest_quantiles(centroids, grid, lo=lo, hi=hi),
            threshold,
            rule_id,
        )

    def statistic(self, current: Sequence[float], props: Sequence[float]) -> float:
        raise NotImplementedError  # pragma: no cover

    def _edges_only(self):
        """Interior bucket edges WITHOUT touching baseline proportions —
        never runs a Spark job (edges are caller-supplied or derived
        from the quantile grid), so the current-table bucket count and
        a live baseline's proportion count (:class:`TwoSampleDriftRule`)
        can run as overlapped jobs (guide §2.6)."""
        if self._hist_edges is not None:
            return list(self._hist_edges)
        return sorted(set(self.baseline_q[1:-1]))

    def _current_counts(self, ctx):
        """Bucket counts of the CURRENT table — the rule's one bounded
        compile-time job.  Memoized on the ctx so ``prepare_jobs``
        (Engine-overlapped) and ``plan`` share a single job."""
        if self in ctx.memo:
            return ctx.memo[self]
        edges = self._edges_only()
        if len(edges) < 1:
            got = None
        else:
            c = F.col(self.column).cast("double")
            bucket = _bucket_index(c, edges)
            got = {
                r["_b"]: r["count"]
                for r in ctx.df.select(bucket.alias("_b"))
                .where(c.isNotNull()).groupBy("_b").count().collect()
            }
        ctx.memo[self] = got
        return got

    def prepare_jobs(self, ctx):
        """Independent compile-time Spark jobs (zero-arg callables) the
        Engine may run concurrently before sequential plan compilation
        — each is a small aggregate returning driver-side scalars."""
        return [lambda: self._current_counts(ctx)]

    def _edges_props(self, ctx):
        """(interior edges, baseline bucket proportions) — from the
        explicit histogram when given, else derived from the baseline
        quantile grid."""
        if self._hist_edges is not None:
            return list(self._hist_edges), list(self._hist_props)
        # dedupe edges (flat regions in the baseline collapse buckets)
        edges = sorted(set(self.baseline_q[1:-1]))
        if not self.baseline_q or len(edges) < 1:
            return edges, []
        # baseline proportion per collapsed bucket: each original grid
        # segment carries 1/(len-1) mass; merge segments sharing an edge
        seg_mass = 1.0 / (len(self.baseline_q) - 1)
        props = []
        seg_idx = 0
        n_buckets = len(edges) + 1
        for b in range(n_buckets):
            upper = edges[b] if b < len(edges) else None
            mass = 0.0
            while seg_idx < len(self.baseline_q) - 1 and (
                upper is None or self.baseline_q[seg_idx + 1] <= upper
            ):
                mass += seg_mass
                seg_idx += 1
            props.append(mass)
        return edges, props

    def plan(self, ctx: ValidationContext) -> DataFrame:
        edges, props = self._edges_props(ctx)
        n_buckets = len(edges) + 1
        if n_buckets < 2:
            return local_frame(ctx.spark, [], "x string").select(
                finalize_cols(self.rule_id, DEVIATION)
            ).limit(0)

        # the statistic runs driver-side over the tiny bucket vector
        # (n_buckets values) — the heavy lifting was the one codegen'd
        # bucket-index groupBy in _current_counts (possibly already run
        # as an Engine-overlapped prepare job)
        got = self._current_counts(ctx)
        n = sum(got.values()) or 1
        current = [got.get(b, 0) / n for b in range(n_buckets)]
        value = self.statistic(current, props)

        if value <= self.threshold:
            from .schema import empty_violations

            return empty_violations(ctx.spark)
        return local_frame(
            ctx.spark,
            [
                (
                    self.rule_id,
                    None,
                    self.column,
                    DEVIATION,
                    f"{value:.6f}",
                    f"{self.stat_name}<={self.threshold}",
                    float(value - self.threshold),
                    float(self.threshold),
                    None,
                )
            ],
            VIOLATION_SCHEMA,
        )


class DriftPSIRule(_BucketDriftRule):
    """Population-Stability-Index drift vs a baseline quantile sketch."""

    stat_name = "psi"

    def statistic(self, current, props):
        return psi(current, props)


class DriftKSRule(_BucketDriftRule):
    """Binned two-sample KS drift vs a baseline quantile sketch —
    shares the single bucket-count pass with DriftPSIRule (SURVEY §2B
    outliers/drift row: both KS and PSI as first-class rules)."""

    stat_name = "ks"

    def statistic(self, current, props):
        return binned_ks(current, props)


_DRIFT_STATS = {
    "psi": psi,
    "ks": binned_ks,
    "js": js_divergence,
    "chi2": chi_square,
}


class TwoSampleDriftRule(_BucketDriftRule):
    """Two-sample drift: the CURRENT table vs a LIVE baseline table
    (last month's partition, the raw side of a transform, a holdout
    shard) — no pre-computed sketch required.  Both sides are bucketed
    by the same caller-supplied fixed edges (domain knowledge or a
    prior profile's ``hist_edges``), one count-aggregate each, then any
    of the four statistics (``psi``/``ks``/``js``/``chi2``) over the
    two tiny bucket vectors.

    This completes the drift family: sketch-baseline
    (:class:`DriftPSIRule` et al.), histogram/t-digest feeds
    (``from_histogram``/``from_tdigest``), and now table-vs-table.
    At 10^12 rows each side costs one scan + one ~n_buckets-row
    shuffle; the baseline side's counts are computed once per compile
    and memoized on the compile's context, never on the rule, so the
    rule's fingerprint is the same before and after a run.

    ``baseline_column`` defaults to ``column`` (compare the same field
    across tables); set it to compare differently-named fields.
    """

    def __init__(self, column: str, baseline_df: DataFrame,
                 edges: Sequence[float], stat: str = "psi",
                 threshold: float = 0.2,
                 baseline_column: Optional[str] = None,
                 rule_id: Optional[str] = None):
        if stat not in _DRIFT_STATS:
            raise ValueError(
                f"stat must be one of {sorted(_DRIFT_STATS)} (got {stat!r})")
        self.stat_name = f"2s_{stat}"  # shadows the class attr
        super().__init__(column, [], threshold, rule_id)
        self._hist_edges = sorted({float(e) for e in edges})
        self._baseline_df = baseline_df
        self._baseline_column = baseline_column or column
        self._stat_fn = _DRIFT_STATS[stat]

    def statistic(self, current, props):
        return self._stat_fn(current, props)

    def prepare_jobs(self, ctx):
        # The live-baseline proportion count and the current-table
        # bucket count touch different tables and different memo
        # keys — independent jobs, overlappable by the Engine.
        return [lambda: self._edges_props(ctx)] + super().prepare_jobs(ctx)

    def _edges_props(self, ctx):
        key = (self, "baseline")
        if key not in ctx.memo:
            c = F.col(self._baseline_column).cast("double")
            bucket = _bucket_index(c, self._hist_edges)
            got = {
                r["_b"]: r["count"]
                for r in self._baseline_df.select(bucket.alias("_b"))
                .where(c.isNotNull()).groupBy("_b").count().collect()
            }
            n = sum(got.values()) or 1
            n_buckets = len(self._hist_edges) + 1
            ctx.memo[key] = [got.get(b, 0) / n for b in range(n_buckets)]
        return list(self._hist_edges), list(ctx.memo[key])


class DriftJSRule(_BucketDriftRule):
    """Jensen–Shannon-divergence drift vs a baseline sketch — bounded
    in [0, ln 2] and symmetric, so one threshold works across columns;
    shares the single bucket-count pass with DriftPSIRule."""

    stat_name = "js"

    def statistic(self, current, props):
        return js_divergence(current, props)


class DriftChi2Rule(_BucketDriftRule):
    """Pearson chi-square drift vs a baseline sketch — the
    goodness-of-fit classic, most sensitive to mass appearing in
    buckets the baseline says are rare; same single bucket pass."""

    stat_name = "chi2"

    def statistic(self, current, props):
        return chi_square(current, props)


class OutlierRule(Rule):
    """Tukey-fence outlier detection — the reference's canonical
    custom-requirement example (docs/how-to/outliers.rst:23-60:
    subclass GroupRequirement, compute Q1/Q3 ± multiplier·IQR, then
    interval-check).

    Spark plan: two passes — one aggregate computes the quartiles
    (``percentile`` exact by default for oracle-stable fences;
    ``approx=True`` switches to the GK sketch for 10^12-row tables
    where a one-pass approximate fence is the right trade), then one
    codegen'd interval projection emits Deviation rows against the
    violated fence.  The quartile row is a 2-value driver-side collect.

    Size note: exact ``percentile`` buffers O(distinct values) per
    aggregation task — fine for bounded domains (prices, durations,
    codes) up to ~10^7 distincts, a memory hazard beyond.  For
    unbounded continuous columns at scale pass ``approx=True``
    (GK: fixed ~``1/accuracy`` rank error, constant memory).
    """

    kind = "plan"

    def __init__(self, column: str, multiplier: float = 1.5,
                 approx: bool = False, rule_id: Optional[str] = None):
        super().__init__(rule_id or f"outliers:{column}")
        self.column = column
        self.multiplier = multiplier
        self.approx = approx

    def _quartiles(self, ctx):
        """The rule's one bounded compile-time job (Q1/Q3 aggregate) —
        memoized on the ctx so an Engine-overlapped ``prepare_jobs``
        run and ``plan`` share a single job."""
        if self in ctx.memo:
            return ctx.memo[self]
        fn = "percentile_approx" if self.approx else "percentile"
        row = ctx.df.agg(
            F.expr(
                f"{fn}(cast({self.column} as double), array(0.25, 0.75))"
            ).alias("q")
        ).first()
        ctx.memo[self] = row["q"]
        return row["q"]

    def prepare_jobs(self, ctx):
        """Quartile aggregate as an overlappable compile-time job — in
        a rule set alongside drift rules the Engine runs them all in
        one concurrent wave (guide §2.6) instead of sequentially."""
        return [lambda: self._quartiles(ctx)]

    def plan(self, ctx: ValidationContext) -> DataFrame:
        from .schema import empty_violations, repr_col

        q = self._quartiles(ctx)
        if not q or q[0] is None or q[1] is None:
            return empty_violations(ctx.spark)
        q1, q3 = float(q[0]), float(q[1])
        iqr = q3 - q1
        lo = q1 - self.multiplier * iqr
        hi = q3 + self.multiplier * iqr

        c = F.col(self.column).cast("double")
        below = c < F.lit(lo)
        above = c > F.lit(hi)
        bound = F.when(below, F.lit(lo)).otherwise(F.lit(hi))
        return ctx.df.filter(below | above).select(
            finalize_cols(
                self.rule_id,
                DEVIATION,
                key=ctx.key_expr(),
                column=self.column,
                invalid=repr_col(F.col(self.column)),
                expected=repr_col(bound),
                deviation=c - bound,
                expected_num=bound,
                partition_id=ctx.partition_expr(),
            )
        )


class ApproxUniqueRule(Rule):
    """Sketch-based uniqueness pre-gate: estimated duplicate rate
    ``1 - approx_count_distinct/count`` over the key column(s), one
    DEVIATION row when it exceeds ``max_dup_rate`` beyond the sketch's
    own error band.

    The at-scale companion to RequiredUnique: the exact check shuffles
    every row by key; this gate is ONE aggregate whose partial HLL
    states merge map-side — zero data-row shuffle, O(1) driver state —
    so it can run ``@mandatory`` on every ingest at 10^12 rows, with
    the exact check (and its violation rows) reserved for partitions
    this gate flags.

    HLL relative standard deviation is ``rsd`` (Spark default 0.05;
    we default 0.01 ≈ 16 KB of sketch).  To avoid sketch-noise false
    alarms the gate fires only when
    ``dup_rate_est > max_dup_rate + guard_sigmas * rsd`` — at the
    default 3 sigmas a pass/fail flip needs a true dup-rate within
    ~3·rsd of the threshold.  NULL keys: count_distinct semantics drop
    all-NULL tuples; pair with a completeness predicate if that
    matters.
    """

    kind = "plan"

    def __init__(self, columns, max_dup_rate: float = 0.0,
                 rsd: float = 0.01, guard_sigmas: float = 3.0,
                 rule_id: Optional[str] = None):
        cols = [columns] if isinstance(columns, str) else list(columns)
        super().__init__(rule_id or f"approx_unique:{','.join(cols)}")
        self.columns = cols
        self.max_dup_rate = float(max_dup_rate)
        self.rsd = float(rsd)
        self.guard_sigmas = float(guard_sigmas)

    def plan(self, ctx: ValidationContext) -> DataFrame:
        key = [F.col(c) for c in self.columns]
        row = ctx.df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(
                F.struct(*key) if len(key) > 1 else key[0], self.rsd
            ).alias("d"),
        ).first()
        n, d = int(row["n"]), int(row["d"])
        est = 1.0 - (d / n) if n else 0.0
        fire_at = self.max_dup_rate + self.guard_sigmas * self.rsd
        if est <= fire_at:
            from .schema import empty_violations

            return empty_violations(ctx.spark)
        return local_frame(
            ctx.spark,
            [(
                self.rule_id,
                None,
                ",".join(self.columns),
                DEVIATION,
                f"{est:.6f}",
                f"dup_rate<={self.max_dup_rate} (+{self.guard_sigmas}rsd)",
                float(est - self.max_dup_rate),
                float(self.max_dup_rate),
                None,
            )],
            VIOLATION_SCHEMA,
        )


def approx_unique(columns, max_dup_rate=0.0, rsd=0.01, guard_sigmas=3.0,
                  rule_id=None):
    return ApproxUniqueRule(columns, max_dup_rate, rsd, guard_sigmas,
                            rule_id)


class PartitionAnomalyRule(Rule):
    """Per-PARTITION anomaly verdicts: flag data partitions whose bulk
    metric (row count by default) is a robust outlier against the
    other partitions — the "this day's drop is half the usual size /
    this codec shard tripled" check that gates ingestion before any
    row-level rule spends a decode pass.  Generalizes the reference's
    Tukey-fence custom requirement (docs/how-to/outliers.rst:23-60)
    from rows to partitions, with a median/MAD fence (robust to the
    very anomalies being hunted, unlike mean/stddev).

    Spark plan: ONE groupBy(partition) aggregate over the table (map-
    side partial agg; output is n_partitions rows), then two cascaded
    unbounded windows over that tiny frame compute the median and the
    MAD — a single-partition window is fine at n_partitions ~ 10^5
    rows and keeps the whole verdict one lazy plan: no persist, no
    driver collect, the full-table scan runs exactly once.

    A partition is anomalous when ``|metric - median| > k * 1.4826 *
    MAD`` (1.4826 scales MAD to sigma-equivalents under normality);
    when MAD is 0 (perfectly regular tables) any deviation from the
    median flags.  Violations are DEVIATION rows keyed by partition —
    exactly the per-partition pass/fail shape the checkpoint runner
    consumes.

    ``metric``: ``"count"`` (rows), ``"null_count"`` / ``"sum"`` of
    ``metric_col``.
    """

    kind = "plan"

    def __init__(self, partition_col: str, k: float = 3.5,
                 metric: str = "count", metric_col: Optional[str] = None,
                 rule_id: Optional[str] = None):
        super().__init__(rule_id or f"partition_anomaly:{partition_col}")
        if metric not in ("count", "null_count", "sum"):
            raise ValueError(f"unknown metric {metric!r}")
        if metric != "count" and not metric_col:
            raise ValueError(f"metric {metric!r} needs metric_col")
        self.partition_col = partition_col
        self.k = float(k)
        self.metric = metric
        self.metric_col = metric_col

    def _scored(self, df: DataFrame) -> DataFrame:
        if self.metric == "count":
            m = F.count(F.lit(1))
        elif self.metric == "null_count":
            m = F.sum(F.col(self.metric_col).isNull().cast("long"))
        else:
            m = F.sum(F.col(self.metric_col))
        per = df.groupBy(F.col(self.partition_col).alias("partition")).agg(
            m.cast("double").alias("metric")
        )
        w = Window.partitionBy()  # n_partitions rows — bounded by design
        med = F.expr("percentile(metric, 0.5)").over(w)
        scored = per.withColumn("median", med)
        mad = F.expr("percentile(abs(metric - median), 0.5)").over(w)
        scored = scored.withColumn("mad", mad)
        scale = F.lit(1.4826) * F.col("mad")
        return scored.select(
            "partition",
            "metric",
            "median",
            "mad",
            F.when(F.col("mad") > 0,
                   (F.col("metric") - F.col("median")) / scale)
            .alias("robust_z"),
            F.when(F.col("mad") > 0,
                   F.abs(F.col("metric") - F.col("median")) > self.k * scale)
            .otherwise(F.col("metric") != F.col("median"))
            .alias("anomaly"),
        )

    def plan(self, ctx: ValidationContext) -> DataFrame:
        from .schema import repr_col

        scored = self._scored(ctx.df).filter(F.col("anomaly"))
        return scored.select(
            finalize_cols(
                self.rule_id,
                DEVIATION,
                key=repr_col(F.col("partition")),
                column=self.metric_col or self.partition_col,
                invalid=repr_col(F.col("metric")),
                expected=repr_col(F.col("median")),
                deviation=F.col("metric") - F.col("median"),
                expected_num=F.col("median"),
                partition_id=F.col("partition"),
            )
        )


def partition_anomalies(df: DataFrame, partition_col: str, k: float = 3.5,
                        metric: str = "count",
                        metric_col: Optional[str] = None) -> DataFrame:
    """Scored per-partition frame (partition, metric, median, mad,
    robust_z, anomaly) — the inspection companion to
    :class:`PartitionAnomalyRule`, same single-scan plan, all
    partitions returned with their scores."""
    return PartitionAnomalyRule(partition_col, k, metric, metric_col)._scored(df)


def partition_anomaly(partition_col, k=3.5, metric="count", metric_col=None,
                      rule_id=None):
    return PartitionAnomalyRule(partition_col, k, metric, metric_col, rule_id)


def outliers(column, multiplier=1.5, approx=False, rule_id=None):
    return OutlierRule(column, multiplier, approx, rule_id)


def drift_psi(column, baseline_quantiles, threshold=0.2, rule_id=None):
    return DriftPSIRule(column, baseline_quantiles, threshold, rule_id)


def drift_ks(column, baseline_quantiles, threshold=0.2, rule_id=None):
    return DriftKSRule(column, baseline_quantiles, threshold, rule_id)


def drift_js(column, baseline_quantiles, threshold=0.05, rule_id=None):
    return DriftJSRule(column, baseline_quantiles, threshold, rule_id)


def drift_chi2(column, baseline_quantiles, threshold=0.2, rule_id=None):
    return DriftChi2Rule(column, baseline_quantiles, threshold, rule_id)
