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
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the initial plan; nothing has run
    if _num_partitions(plan) >= target:
        return df
    return df.repartition(target)


def _num_partitions(plan) -> int:
    """Partition count of a physical plan that has not run: the first
    declared output partitioning down the plan, else the leaf's own RDD
    (a file scan's splits).  ``df.rdd`` would instead build the whole
    plan's RDD, compiling its generated code on the driver.  A union
    sums its inputs; a broadcast input is not on the partition path."""
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    kids = [k for k in kids
            if k.getClass().getSimpleName() != "BroadcastExchangeExec"]
    if not kids:
        return plan.execute().getNumPartitions()
    return sum(_num_partitions(k) for k in kids)
