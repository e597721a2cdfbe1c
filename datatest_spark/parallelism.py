"""Scan-starvation guard (optimization guide §2.5 input skew / §6 split
sizing).

A parquet input smaller than one file-split (or a generated frame with
fewer partitions than the session has cores) runs every downstream
per-row projection — shingling, hashing, decode — in a handful of
tasks while the rest of the machine idles.  At cluster scale inputs
have many splits and this never happens; the guard makes the plan
scale-ADAPTIVE instead of tuned for either extreme: it measures the
physical partition count of the frame and only when that count is
below the session's default parallelism adds one round-robin
repartition.  On any real multi-split table it is a no-op (no shuffle
added, plan unchanged).

The repartition is deterministic (Spark sorts before round-robin
repartitioning — SPARK-23207) and row-preserving, so operator results
are unchanged; only the physical parallelism of per-row work moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["fan_out"]


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism IFF its
    current physical partitioning is narrower — the adaptive guard for
    per-row-expensive operators over starved scans.  No-op (returns
    ``df`` unchanged, no shuffle) when the input is already at least as
    wide as the session's core count."""
    sc = df.sparkSession.sparkContext
    target = int(min_parts) if min_parts else sc.defaultParallelism
    try:
        # read the count on the JVM side: ``df.rdd`` would wrap the plan
        # in a Python-row RDD only to ask it how many partitions it has
        cur = df._jdf.rdd().getNumPartitions()
    except Exception:  # pragma: no cover - defensive (unresolvable plan)
        return df
    if cur >= target:
        return df
    return df.repartition(target)
