"""Streaming validation — the same rule compiler inside foreachBatch.

The reference has no streaming layer (SURVEY.md §2D: none); the
engine's incremental story is per-partition checkpointed batch runs
(plans/checkpoint.py).  This module adds the natural Structured
Streaming wrapper on top: each micro-batch flows through the SAME
``Engine.compile`` plan fragments, violations append to a sink, and
Spark's checkpointing gives exactly-once per-batch lineage — so a
streaming deployment reuses every rule unchanged.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import unpersist_result
from ..requirements import Rule
from ..validation import Engine

__all__ = ["validate_stream", "transform_stream"]


def validate_stream(
    stream_df: DataFrame,
    rules: Sequence[Rule],
    violations_path: str,
    checkpoint_path: str,
    partition_col: Optional[str] = None,
    trigger_available_now: bool = True,
):
    """Attach the rule set to a streaming DataFrame.

    Returns the started ``StreamingQuery``.  Violations land under
    ``violations_path`` (parquet) partitioned by ``batch_id``; Spark's
    streaming checkpoint at ``checkpoint_path`` makes restarts resume
    from the last committed micro-batch.  Writes are **idempotent per
    batch**: dynamic partition overwrite keyed by ``batch_id`` means a
    micro-batch retry (or a restart that replays the last uncommitted
    batch) overwrites its own partition instead of appending duplicate
    violation rows — foreachBatch alone is only at-least-once.

    Plan-rule caveats at streaming time: aggregation-based rules (set /
    unique) evaluate per micro-batch — they validate the batch, not
    all-of-history (all-of-history uniqueness needs stateful dedup,
    which the batch engine's checkpointed runs cover instead).
    """
    engine = Engine(stream_df.sparkSession)
    return transform_stream(
        stream_df,
        lambda batch_df: engine.compile(batch_df, list(rules),
                                        partition_col=partition_col),
        violations_path, checkpoint_path, trigger_available_now)


def transform_stream(
    stream_df: DataFrame,
    transform,
    output_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Run any batch DataFrame→DataFrame operator over a stream.

    The streaming twin of the whole §2F operator family: every
    row-local operator (VAD stats, audio features, text quality, BPE
    encode with a pre-fit merge table, …) is a pure transformation, so
    applying it inside ``foreachBatch`` yields micro-batch outputs
    whose union equals the batch run — same idempotency contract as
    :func:`validate_stream` (dynamic partition overwrite keyed by
    ``batch_id``; a replayed batch overwrites its own partition, so
    restarts never duplicate output rows).

    Operators that aggregate ACROSS rows (dedup, drift, profiles)
    compute per-batch results under this wrapper — batch-scoped, not
    all-of-history; use the stateful/windowed modules for history
    semantics.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = transform(batch_df)
        try:
            (
                out.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_path)
            )
        finally:
            # frees what the batch's operator persisted (a compiled
            # rule set's decode frame); a no-op for other frames
            unpersist_result(out)

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
