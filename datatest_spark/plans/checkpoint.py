"""Per-partition checkpointed validation runs (north_rule resumability).

The reference's ``@mandatory`` fail-fast (runner.py:19-31,91-123) and
the north_rule's "resumable from checkpoint with per-partition lineage
+ metrics" map to:

* each data partition (an explicit partition column, standing in for
  Iceberg partitions) gets a **verdict row** with counts, a rule-set
  hash, the input fingerprint, wall time, and pass/fail;
* verdicts and violations are committed to the checkpoint directory
  (parquet, partitioned by partition_id for violations) as each batch
  of partitions completes;
* re-running the same (checkpoint_dir, ruleset) **skips partitions
  that already committed** — idempotent resume;
* rules marked ``mandatory`` evaluate in a first pass; partitions that
  fail any mandatory rule are gated out of the remaining rules
  (the distributed analogue of mandatory fail-fast).

Everything driver-side here is per-*partition* bookkeeping (thousands
of rows at most), never per-data-row.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..requirements import Rule
from ..schema import local_frame
from ..validation import Engine

__all__ = ["run_checkpointed", "CheckpointedRun", "GLOBAL_PARTITION"]

# Bucket for violations that no single data partition can own
# (aggregate/join rules: uniqueness across partitions, set membership,
# drift).  It gets its own verdict row so these can never silent-pass.
GLOBAL_PARTITION = "__global__"

VERDICT_SCHEMA = (
    "partition_id string, passed boolean, failed_mandatory boolean, "
    "n_rows long, n_violations long, n_missing long, n_extra long, "
    "n_invalid long, n_deviation long, ruleset_hash string, "
    "run_id string, elapsed_sec double, committed_at string"
)


def ruleset_hash(rules: Sequence[Rule]) -> str:
    """Stable fingerprint of a rule set (ids + classes)."""
    desc = json.dumps(sorted(r.fingerprint() for r in rules))
    return hashlib.sha256(desc.encode()).hexdigest()[:16]


class CheckpointedRun:
    def __init__(self, checkpoint_dir: str, verdicts: DataFrame,
                 skipped: List[str], processed: List[str]):
        self.checkpoint_dir = checkpoint_dir
        self.verdicts = verdicts
        self.skipped_partitions = skipped
        self.processed_partitions = processed

    @property
    def ok(self) -> bool:
        return self.verdicts.filter(~F.col("passed")).isEmpty()


def _committed_partitions(spark: SparkSession, verdict_path: str,
                          rhash: str) -> List[str]:
    if not os.path.exists(verdict_path):
        return []
    try:
        existing = spark.read.parquet(verdict_path)
    except Exception:
        return []
    rows = (
        existing.filter(F.col("ruleset_hash") == rhash)
        .select("partition_id")
        .distinct()
        .collect()
    )
    return [r["partition_id"] for r in rows]


def run_checkpointed(
    df: DataFrame,
    rules: Sequence[Rule],
    partition_col: str,
    checkpoint_dir: str,
    mandatory: Optional[Sequence[Rule]] = None,
    run_id: Optional[str] = None,
    salt_buckets: Optional[int] = None,
) -> CheckpointedRun:
    """Validate *df* partition-aware with commit/resume semantics.

    ``salt_buckets``: when the data partitions are skewed (one codec
    holding most of the corpus), spread each partition's rows over up
    to this many tasks via :func:`..skew.salted_repartition` before the
    rule scan — row rules and per-batch decode don't need key
    co-location, so the only cost is one balanced shuffle.  Aggregate
    and join rules are unaffected (they re-shuffle on their own keys,
    where AQE's skew handling applies — see :func:`..skew.enable_adaptive`).
    """
    spark = df.sparkSession
    engine = Engine(spark)
    rhash = ruleset_hash(list(rules) + list(mandatory or []))
    run_id = run_id or f"run-{int(time.time())}"

    verdict_path = os.path.join(checkpoint_dir, "verdicts")
    violations_path = os.path.join(checkpoint_dir, "violations")
    os.makedirs(checkpoint_dir, exist_ok=True)

    committed = set(_committed_partitions(spark, verdict_path, rhash))
    all_parts = [
        str(r[0])
        for r in df.select(F.col(partition_col).cast("string")).distinct().collect()
    ]
    todo = sorted(p for p in all_parts if p not in committed)
    skipped = sorted(committed & set(all_parts))

    if not todo:
        verdicts = spark.read.parquet(verdict_path)
        return CheckpointedRun(checkpoint_dir, verdicts, skipped, [])

    start = time.time()
    work = df.filter(F.col(partition_col).cast("string").isin(todo))
    if salt_buckets:
        from .skew import salted_repartition

        work = salted_repartition(work, [partition_col], salt_buckets)

    gated = work
    mandatory_failed_parts: List[str] = []
    mand_counts = {}
    if mandatory:
        mand_viol = engine.compile(
            work, list(mandatory), partition_col=partition_col
        )
        mand_rows = (
            mand_viol.withColumn(
                "partition_id",
                F.coalesce(F.col("partition_id"), F.lit(GLOBAL_PARTITION)),
            )
            .groupBy("partition_id")
            .count()
            .collect()
        )
        mand_counts = {r["partition_id"]: r["count"] for r in mand_rows}
        mandatory_failed_parts = sorted(mand_counts)
        if GLOBAL_PARTITION in mand_counts:
            # a global mandatory rule failed — fail-fast everything
            # (the distributed analogue of @mandatory stopping the run)
            gated = work.limit(0)
        elif mandatory_failed_parts:
            # fail-fast: gated partitions skip the non-mandatory rules
            gated = work.filter(
                ~F.col(partition_col).cast("string").isin(mandatory_failed_parts)
            )

    violations = engine.compile(gated, list(rules), partition_col=partition_col)
    if mandatory:
        violations = violations.unionByName(
            engine.compile(work, list(mandatory), partition_col=partition_col)
        )
    # Aggregate-level violations (set/unique/subset extras, drift rows)
    # have no single source partition and arrive with NULL partition_id.
    # They MUST still fail the run: bucket them under '__global__' so
    # they are counted in a verdict row instead of silently dropped.
    violations = violations.withColumn(
        "partition_id", F.coalesce(F.col("partition_id"), F.lit(GLOBAL_PARTITION))
    )

    # one job: write violations partitioned by partition_id
    (
        violations.withColumn("ruleset_hash", F.lit(rhash))
        .withColumn("run_id", F.lit(run_id))
        .write.mode("append")
        .partitionBy("partition_id")
        .parquet(violations_path)
    )

    # verdict rows: counts per partition from the committed violations
    # (cast back: parquet partition-value inference may type "1" as int).
    # Schema is passed explicitly: a fully-clean run writes ZERO rows —
    # no part files, no partition dirs — and inference would fail.
    written_schema = (
        violations.withColumn("ruleset_hash", F.lit(rhash))
        .withColumn("run_id", F.lit(run_id))
        .schema
    )
    written = (
        spark.read.schema(written_schema).parquet(violations_path)
        .withColumn("partition_id", F.col("partition_id").cast("string"))
        .filter((F.col("ruleset_hash") == rhash) & (F.col("run_id") == run_id))
    )
    counts = (
        written.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("n_violations"),
            F.sum((F.col("diff_type") == "MISSING").cast("long")).alias("n_missing"),
            F.sum((F.col("diff_type") == "EXTRA").cast("long")).alias("n_extra"),
            F.sum((F.col("diff_type") == "INVALID").cast("long")).alias("n_invalid"),
            F.sum((F.col("diff_type") == "DEVIATION").cast("long")).alias(
                "n_deviation"
            ),
        )
        .collect()
    )
    count_map = {r["partition_id"]: r for r in counts}
    row_counts = {
        str(r[0]): r[1]
        for r in work.groupBy(F.col(partition_col).cast("string")).count().collect()
    }

    elapsed = time.time() - start
    now = time.strftime("%Y-%m-%dT%H:%M:%S")
    verdict_rows = []
    if mandatory and GLOBAL_PARTITION in mand_counts:
        # Global mandatory failure gated ALL non-mandatory rules: data
        # partitions without their own mandatory violations were never
        # conclusively validated, so they must NOT get a committed
        # verdict row (a passed=True row here would be skipped forever
        # on resume).  Commit only the conclusively-failed partitions
        # (own mandatory violations) and the __global__ bucket; the
        # rest stay uncommitted and re-run on resume.
        verdict_parts = sorted(set(mandatory_failed_parts))
    else:
        verdict_parts = list(todo)
        if GLOBAL_PARTITION in count_map:
            verdict_parts.append(GLOBAL_PARTITION)
    for p in verdict_parts:
        c = count_map.get(p)
        n_viol = c["n_violations"] if c else 0
        verdict_rows.append(
            (
                p,
                n_viol == 0,
                p in set(mandatory_failed_parts),
                row_counts.get(p, 0),
                n_viol,
                c["n_missing"] if c else 0,
                c["n_extra"] if c else 0,
                c["n_invalid"] if c else 0,
                c["n_deviation"] if c else 0,
                rhash,
                run_id,
                elapsed / max(len(todo), 1),
                now,
            )
        )
    verdict_df = local_frame(spark, verdict_rows, VERDICT_SCHEMA)
    verdict_df.write.mode("append").parquet(verdict_path)

    all_verdicts = spark.read.parquet(verdict_path).filter(
        F.col("ruleset_hash") == rhash
    )
    processed = [p for p in verdict_parts if p != GLOBAL_PARTITION]
    return CheckpointedRun(checkpoint_dir, all_verdicts, skipped, processed)
