"""Snapshot-watermarked incremental validation runs.

The 10^12-clip operating mode the north rule implies: an ingest
pipeline commits one Iceberg snapshot per batch, and the validation
job runs after each commit (or on a schedule) — it must validate
every appended row **exactly once**, never rescan table history, and
resume cleanly if a run dies mid-way.  This module closes that loop
by composing two committed layers:

* :func:`..sources.read_iceberg_incremental` plans only the data
  files ADDED in ``(watermark, current]`` — metadata cost
  proportional to the delta;
* :func:`.checkpoint.run_checkpointed` gives each snapshot range its
  own per-partition commit/resume state under
  ``checkpoint_dir/ranges/<from>-<to>/``.

The watermark (last fully-validated snapshot id) advances ONLY after
the range's checkpointed run completes, with a write-temp-then-rename
commit, so every crash point re-runs at most the in-flight range —
and within that range, `run_checkpointed` skips the partitions that
already committed.  Rule-set changes don't move the watermark (the
delta contract is about *data* seen, not rules); they do re-run the
in-flight range because checkpoint commits are scoped by ruleset
hash.

Reference lineage: datatest's ``@mandatory`` fail-fast + repeated
``validate()`` calls over a growing source (docs/intro.rst workflow);
re-expressed as exactly-once delta validation over snapshot commits.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import List, Optional, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..requirements import Rule
from ..sources.iceberg_lite import (
    _load_metadata,
    read_iceberg_incremental,
)
from .checkpoint import CheckpointedRun, run_checkpointed

__all__ = ["run_incremental", "run_audit_publish", "IncrementalRun",
           "snapshot_watermark"]

_WATERMARK_FILE = "snapshot_watermark.json"


class IncrementalRun:
    """Outcome of one :func:`run_incremental` call."""

    def __init__(self, up_to_date: bool,
                 from_snapshot_id: Optional[int],
                 to_snapshot_id: Optional[int],
                 checkpointed: Optional[CheckpointedRun],
                 history: List[dict]):
        #: True when the watermark already equals the current snapshot
        #: — no delta existed and no Spark job ran.
        self.up_to_date = up_to_date
        self.from_snapshot_id = from_snapshot_id
        self.to_snapshot_id = to_snapshot_id
        #: The per-partition checkpointed run over the delta (None when
        #: up_to_date).
        self.checkpointed = checkpointed
        #: All watermark advances recorded so far, oldest first — the
        #: per-range lineage (snapshot range + ruleset hash + verdict).
        self.history = history

    @property
    def ok(self) -> bool:
        return self.up_to_date or self.checkpointed.ok


def snapshot_watermark(checkpoint_dir: str) -> Optional[dict]:
    """The last committed watermark record, or None before any run."""
    path = os.path.join(checkpoint_dir, _WATERMARK_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        state = json.load(f)
    return state["history"][-1] if state.get("history") else None


def _advance_watermark(checkpoint_dir: str, record: dict) -> List[dict]:
    """Append *record* and commit via temp-file rename (atomic on any
    POSIX filesystem; on object stores the driver-local checkpoint dir
    is the supported location, matching Structured Streaming's
    metadata-log guidance)."""
    path = os.path.join(checkpoint_dir, _WATERMARK_FILE)
    history = []
    if os.path.exists(path):
        with open(path) as f:
            history = json.load(f).get("history", [])
    history.append(record)
    fd, tmp = tempfile.mkstemp(dir=checkpoint_dir, suffix=".wm.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"history": history}, f, indent=1)
    os.replace(tmp, path)
    return history


def run_incremental(
    spark: SparkSession,
    table_path: str,
    rules: Sequence[Rule],
    partition_col: str,
    checkpoint_dir: str,
    mandatory: Optional[Sequence[Rule]] = None,
    allow_deletes: bool = False,
    salt_buckets: Optional[int] = None,
) -> IncrementalRun:
    """Validate the rows appended to *table_path* since the last call.

    First call validates the whole table (watermark = table creation);
    subsequent calls validate only snapshots committed since, and a
    call with no new snapshots returns ``up_to_date=True`` without
    launching a job.  Crash-safe: the watermark advances only after
    the delta's checkpointed run completes, and a re-run of an
    interrupted range skips its already-committed partitions.

    A watermark snapshot that has EXPIRED from table metadata raises
    with a clear message (the delta is no longer reconstructable —
    expire snapshots no faster than the validation cadence, or reset
    the checkpoint dir for a full revalidation).
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    meta = _load_metadata(table_path)
    current = meta.get("current-snapshot-id", -1)
    known = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    last = snapshot_watermark(checkpoint_dir)
    from_id = last["to_snapshot_id"] if last else None

    path = os.path.join(checkpoint_dir, _WATERMARK_FILE)
    history = []
    if os.path.exists(path):
        with open(path) as f:
            history = json.load(f).get("history", [])

    if from_id is not None and from_id == current:
        return IncrementalRun(True, from_id, current, None, history)
    if from_id is not None and from_id not in known:
        raise ValueError(
            f"{table_path}: watermark snapshot {from_id} has expired "
            "from table metadata — the unvalidated delta cannot be "
            "reconstructed.  Expire snapshots no faster than the "
            "validation cadence, or remove the checkpoint dir to "
            "revalidate the full table.")

    delta = read_iceberg_incremental(
        spark, table_path, from_snapshot_id=from_id,
        to_snapshot_id=current, allow_deletes=allow_deletes)
    range_dir = os.path.join(
        checkpoint_dir, "ranges",
        f"{from_id if from_id is not None else 'genesis'}-{current}")
    run = run_checkpointed(
        delta, rules, partition_col, range_dir,
        mandatory=mandatory, salt_buckets=salt_buckets)

    totals = run.verdicts.agg(
        F.sum("n_rows").alias("r"), F.sum("n_violations").alias("v")
    ).first()
    history = _advance_watermark(checkpoint_dir, {
        "from_snapshot_id": from_id,
        "to_snapshot_id": current,
        "range_dir": range_dir,
        "ok": run.ok,
        "n_rows": int(totals["r"] or 0),
        "n_violations": int(totals["v"] or 0),
        "processed_partitions": run.processed_partitions,
        "skipped_partitions": run.skipped_partitions,
    })
    return IncrementalRun(False, from_id, current, run, history)


def run_audit_publish(
    spark: SparkSession,
    table_path: str,
    rules: Sequence[Rule],
    partition_col: str,
    checkpoint_dir: str,
    max_violations: int = 0,
    mandatory: Optional[Sequence[Rule]] = None,
    allow_deletes: bool = False,
    salt_buckets: Optional[int] = None,
) -> IncrementalRun:
    """Write-audit-publish: validate the delta like
    :func:`run_incremental`, and when it fails the budget, ROLL THE
    TABLE BACK to the pre-batch snapshot so downstream readers never
    see the bad data.

    The ingest pipeline appends its batch (the "write"), this call
    audits it, and the table's current snapshot is the publish bit:
    on more than *max_violations* total violations the current
    snapshot is reset to the range's ``from`` snapshot
    (:func:`..sources.rollback_to_snapshot` — metadata-only, instant,
    nothing deleted).  The watermark still advances — the rejected
    snapshots were *seen* and must not be re-validated — and the
    history record gains ``rolled_back_to`` for lineage.  A rejected
    first-ever batch cannot be rolled back (no pre-batch snapshot
    exists); the record then carries ``rolled_back_to: None``.

    Rolled-back snapshots stay in history for forensics (time travel
    still reads them) until :func:`..sources.expire_snapshots`
    reclaims them.  A later fixed re-ingest appends AFTER the
    rollback point; the next audit's delta contains exactly those new
    files — the rejected batch's files are not in the new head's
    manifest list, so they never leak back in.
    """
    run = run_incremental(
        spark, table_path, rules, partition_col, checkpoint_dir,
        mandatory=mandatory, allow_deletes=allow_deletes,
        salt_buckets=salt_buckets)
    if run.up_to_date:
        return run
    n_viol = run.history[-1]["n_violations"]
    if n_viol > max_violations:
        from ..sources.iceberg_lite import rollback_to_snapshot

        target = run.from_snapshot_id
        if target is not None:
            rollback_to_snapshot(table_path, target)
        # annotate the already-committed record in place (the
        # watermark itself must NOT move: these snapshots were seen)
        path = os.path.join(checkpoint_dir, _WATERMARK_FILE)
        with open(path) as f:
            state = json.load(f)
        state["history"][-1]["rolled_back_to"] = target
        fd, tmp = tempfile.mkstemp(dir=checkpoint_dir, suffix=".wm.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, path)
        run.history = state["history"]
    return run
