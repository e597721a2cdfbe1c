"""Iceberg table reads WITHOUT the Iceberg runtime — a from-spec
metadata reader (plus a dev-scale fixture writer for tests).

The north rule names Iceberg tables as the engine's input, but this
environment ships no ``iceberg-spark-runtime`` jars, so
``spark.read.format("iceberg")`` cannot exist here.  The table FORMAT,
however, is a public specification (https://iceberg.apache.org/spec/):
a JSON ``metadata/vN.metadata.json`` pointing at a snapshot, whose
Avro ``manifest list`` enumerates Avro ``manifest`` files, whose
entries carry data-file paths, per-file partition tuples, and row
counts.  This module walks exactly that chain with
:mod:`.avro_ocf` (also from-spec) and hands Spark the resulting
parquet file list — giving the engine real Iceberg capabilities the
parquet fallback lacks:

* **snapshot isolation / time travel** — read the current snapshot or
  any ``snapshot_id`` from the table's history;
* **partition pruning from metadata** — identity-transform partition
  predicates drop data files BEFORE any scan is planned (the pruned
  plan is observable: :func:`plan_files` returns the kept/total file
  counts); the same predicate is re-applied as a row filter, matching
  Iceberg's own contract (file-level pruning is a superset bound);
* **schema from the table, not from files** — column names/types come
  from the metadata's ``current-schema-id`` schema.

Scope honesty (spec-derived, not a port of the Iceberg library):

* v2 **row-level deletes are honored** (merge-on-read tables read
  correctly): position-delete files anti-join on
  ``(_metadata.file_path, _metadata.row_index)`` — Spark's hidden
  file-source columns are exactly Iceberg's ``(file_path, pos)``
  tuple — and equality-delete files anti-join null-safely on their
  ``equality_ids`` columns, both under the spec's sequence-number
  rules (position: applies when ``data_seq <= delete_seq``; equality:
  ``data_seq < delete_seq``; null entry sequence numbers inherit the
  manifest's, per spec §"Sequence number inheritance").
  Partition-scoped equality deletes restrict to their partition tuple
  via the retained partition columns.  Delete-vector / puffin deletes
  (v3) raise instead of mis-reading;
* pruning applies to ``identity`` transforms; other transforms
  (bucket/truncate/days...) are read correctly but never pruned on
  (a safe superset);
* metadata is walked on the driver — correct by design (Iceberg
  metadata is driver-scale by construction; manifests for a 10^12-row
  table are millions of times smaller than the data), but this reader
  materializes the full live-file list, so tables with *millions* of
  data files per snapshot want the real runtime's distributed
  planning;
* round-trip tested against :func:`append_iceberg` (this module's own
  spec-writer) — no Iceberg-java-written fixture exists in this
  sandbox to cross-check against, so treat the writer as a dev/test
  fixture tool, not a production sink.

Reference lineage: datatest reads its tables through
get_reader/load_csv (`/root/reference/datatest/_load/`); this is the
same "bring the reference's data model to the engine" surface, at the
table-format level the north rule specifies.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import uuid as _uuid
from typing import Any, Dict, List, Optional, Sequence

from .avro_ocf import read_ocf, write_ocf

__all__ = ["read_iceberg", "read_iceberg_incremental", "plan_files",
           "incremental_files", "snapshots", "append_iceberg",
           "delete_where", "append_equality_deletes", "is_iceberg_table",
           "expire_snapshots", "rollback_to_snapshot",
           "schema_history", "validate_schema_evolution"]


# ---------------------------------------------------------------------------
# metadata discovery
# ---------------------------------------------------------------------------

def is_iceberg_table(table_path: str) -> bool:
    return bool(_glob.glob(os.path.join(table_path, "metadata",
                                        "*.metadata.json")))


def _metadata_path(table_path: str) -> str:
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.isfile(hint):
        with open(hint) as f:
            v = int(f.read().strip())
        p = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.isfile(p):
            return p
    cands = sorted(
        _glob.glob(os.path.join(mdir, "v*.metadata.json")),
        key=lambda p: int(os.path.basename(p)[1:].split(".")[0]),
    )
    if not cands:
        raise FileNotFoundError(
            f"{table_path}: no metadata/v*.metadata.json — not an "
            "Iceberg table (or a catalog-managed layout; pass the "
            "metadata file's table root)")
    return cands[-1]


def _load_metadata(table_path: str) -> dict:
    with open(_metadata_path(table_path)) as f:
        return json.load(f)


def _current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        return meta["schemas"][0]
    return meta["schema"]  # v1 single-schema form


def _schema_by_id(meta: dict, schema_id: Optional[int]) -> dict:
    """Schema dict for ``schema_id``, falling back to the current
    schema when the id is absent (legacy metadata) or unknown."""
    if schema_id is not None:
        for s in meta.get("schemas", []):
            if s.get("schema-id", 0) == schema_id:
                return s
    return _current_schema(meta)


def _spec_fields(meta: dict, spec_id: int) -> List[dict]:
    for spec in meta.get("partition-specs", []):
        if spec.get("spec-id", 0) == spec_id:
            return spec.get("fields", [])
    return meta.get("partition-spec", [])  # v1 form


_ICE_TO_SPARK = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "string": "string",
    "binary": "binary", "date": "date", "timestamp": "timestamp",
    "timestamptz": "timestamp", "uuid": "string", "time": "bigint",
}


def _spark_ddl(schema: dict) -> str:
    cols = []
    for f in schema["fields"]:
        t = f["type"]
        if not isinstance(t, str) or (
                t not in _ICE_TO_SPARK and not t.startswith("decimal")):
            raise NotImplementedError(
                f"iceberg_lite: nested/unknown column type {t!r} "
                f"for field {f['name']!r}")
        spark_t = t if t.startswith("decimal") else _ICE_TO_SPARK[t]
        cols.append(f"`{f['name']}` {spark_t}")
    return ", ".join(cols)


# ---------------------------------------------------------------------------
# snapshot walk
# ---------------------------------------------------------------------------

def snapshots(table_path: str) -> List[dict]:
    """Snapshot history, oldest first: ``(snapshot_id, timestamp_ms,
    manifest_list, summary)`` per entry — the time-travel menu."""
    meta = _load_metadata(table_path)
    return [
        {"snapshot_id": s["snapshot-id"],
         "timestamp_ms": s.get("timestamp-ms"),
         "manifest_list": s.get("manifest-list"),
         "summary": s.get("summary", {})}
        for s in meta.get("snapshots", [])
    ]


def _resolve_path(p: str, table_path: str) -> str:
    if p.startswith("file://"):
        return p[len("file://"):]
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


def plan_files(table_path: str, snapshot_id: Optional[int] = None,
               partition_filters: Optional[Dict[str, Any]] = None,
               ) -> dict:
    """Walk metadata → manifest list → manifests and return the scan
    plan: ``{"files": [...], "total_files": n, "pruned_files": m,
    "record_count": r, "schema_ddl": ..., "snapshot_id": ...,
    "identity_fields": [...], "data_seq": {path: seq},
    "position_deletes": [...], "equality_deletes": [...]}``.
    ``partition_filters`` maps partition field name → value or
    collection of values; only identity-transform fields prune (others
    are ignored here and enforced by the row filter
    :func:`read_iceberg` applies).  Each delete-file dict carries
    ``{"path", "seq", "record_count", "partition", "equality_ids"}``
    (``equality_ids`` None for position deletes)."""
    meta = _load_metadata(table_path)
    snaps = meta.get("snapshots", [])
    time_travel = snapshot_id is not None
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id", -1)
    snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        if snapshot_id in (-1, None) and not snaps:
            return {"files": [], "total_files": 0, "pruned_files": 0,
                    "record_count": 0,
                    "schema_ddl": _spark_ddl(_current_schema(meta)),
                    "snapshot_id": None, "identity_fields": []}
        raise ValueError(
            f"{table_path}: snapshot {snapshot_id} not found "
            f"(have {[s['snapshot-id'] for s in snaps]})")

    mlist_path = _resolve_path(snap["manifest-list"], table_path)
    _, manifest_files = read_ocf(mlist_path)

    filters = dict(partition_filters or {})
    norm = {
        k: (set(v) if isinstance(v, (set, frozenset, list, tuple)) else {v})
        for k, v in filters.items()
    }

    files: List[str] = []
    data_seq: Dict[str, int] = {}
    pos_deletes: List[dict] = []
    eq_deletes: List[dict] = []
    total = 0
    records = 0
    identity_fields: set = set()
    for mf in manifest_files:
        is_delete_manifest = mf.get("content", 0) == 1
        spec_fields = _spec_fields(meta, mf.get("partition_spec_id", 0))
        prunable = {
            f["name"] for f in spec_fields
            if f.get("transform", "identity") == "identity"
        }
        identity_fields |= prunable
        mpath = _resolve_path(mf["manifest_path"], table_path)
        _, entries = read_ocf(mpath)
        for e in entries:
            if e.get("status", 0) == 2:  # DELETED in this snapshot
                continue
            df_ = e["data_file"]
            content = df_.get("content", 0)
            fmt = str(df_.get("file_format", "PARQUET")).upper()
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg_lite: {fmt} data files are not supported")
            # sequence-number inheritance (spec): ADDED entries with a
            # null sequence number take the manifest's; carried-forward
            # manifests keep their original sequence number, so the
            # inherited value is the original write's.
            seq = e.get("sequence_number")
            if seq is None:
                seq = int(mf.get("sequence_number", 0))
            part = df_.get("partition") or {}
            if is_delete_manifest or content != 0:
                if content == 1:  # position deletes
                    pos_deletes.append({
                        "path": _resolve_path(df_["file_path"], table_path),
                        "seq": int(seq),
                        "record_count": int(df_.get("record_count", 0)),
                        "partition": part, "equality_ids": None,
                    })
                elif content == 2:  # equality deletes
                    # Avro can't distinguish an absent partition field
                    # from a null one; treat null-valued scope fields
                    # as unscoped (table-wide) — our writer emits an
                    # EMPTY partition record for global deletes, so
                    # self-written tables are exact
                    eq_deletes.append({
                        "path": _resolve_path(df_["file_path"], table_path),
                        "seq": int(seq),
                        "record_count": int(df_.get("record_count", 0)),
                        "partition": {k: v for k, v in part.items()
                                      if v is not None},
                        "equality_ids": list(df_.get("equality_ids") or []),
                    })
                elif is_delete_manifest and content == 0:
                    raise ValueError(
                        "iceberg_lite: data-file entry (content=0) "
                        "inside a DELETE manifest — corrupt metadata")
                else:
                    raise NotImplementedError(
                        f"iceberg_lite: delete content={content} "
                        "(deletion vectors / puffin) — use the Iceberg "
                        "runtime")
                continue
            total += 1
            keep = True
            for name, allowed in norm.items():
                if name in prunable and name in part:
                    if part[name] not in allowed:
                        keep = False
                        break
            if keep:
                path = _resolve_path(df_["file_path"], table_path)
                files.append(path)
                data_seq[path] = int(seq)
                records += int(df_.get("record_count", 0))
    # TIME TRAVEL reads under the schema the snapshot was WRITTEN with
    # (snapshots pin a schema-id) — a pre-widen snapshot must not grow
    # columns it never had.  CURRENT reads use current-schema-id: a
    # real Iceberg writer can ALTER the schema without a new snapshot
    # (metadata-only commit), and the current read must see the column
    # null-filled, not dropped.
    schema = (_schema_by_id(meta, snap.get("schema-id")) if time_travel
              else _current_schema(meta))
    return {
        "files": files, "total_files": total,
        "pruned_files": total - len(files), "record_count": records,
        "schema_ddl": _spark_ddl(schema),
        "snapshot_id": snapshot_id,
        "identity_fields": sorted(identity_fields),
        "data_seq": data_seq,
        "position_deletes": pos_deletes,
        "equality_deletes": eq_deletes,
        "field_names": {f["id"]: f["name"] for f in schema["fields"]},
    }


#: normalize `file:///x` / `file:/x` / `/x` to a plain absolute path so
#: Spark's ``_metadata.file_path`` URI matches manifest-recorded paths
_FP_NORM_RE = "^file:/*"

#: delete sides at or under this many rows (known exactly from the
#: manifest record counts) are broadcast; larger ones shuffle-anti-join
_DELETE_BROADCAST_ROWS = 5_000_000


def _norm_fp(col):
    from pyspark.sql import functions as F

    return F.regexp_replace(col, _FP_NORM_RE, "/")


def _apply_row_deletes(spark, plan: dict):
    """Merge-on-read: scan the live data files and anti-join away
    deleted rows.

    * Position deletes: Spark's hidden ``_metadata.file_path`` /
      ``_metadata.row_index`` columns ARE the Iceberg ``(file_path,
      pos)`` delete tuple, so application is one null-safe hash
      anti-join on ``(path, pos)`` with the spec's sequence rule
      (``delete_seq >= data_seq``) as a residual condition.
    * Equality deletes: grouped by (equality-column set, partition
      scope); each group is one eqNullSafe anti-join with the strict
      rule (``delete_seq > data_seq``) residual, partition-scoped
      groups additionally pin the retained partition columns.

    Delete sides are broadcast when the manifest-recorded row counts
    say they fit (:data:`_DELETE_BROADCAST_ROWS`); bigger delete sets
    degrade to shuffle anti-joins, never to collect.
    """
    from pyspark.sql import functions as F

    from ..schema import local_frame

    df = (
        spark.read.schema(plan["schema_ddl"]).parquet(*plan["files"])
        .withColumn("__dt_fp", _norm_fp(F.col("_metadata.file_path")))
        .withColumn("__dt_pos", F.col("_metadata.row_index"))
    )
    # per-row data-file sequence number: tiny (path → seq) broadcast
    # join — the file list is driver-scale by this module's stated scope
    seq_df = local_frame(
        spark, list(plan["data_seq"].items()),
        "__dt_fp string, __dt_dseq bigint")
    df = df.join(F.broadcast(seq_df), "__dt_fp", "left")

    if plan["position_deletes"]:
        small = sum(d["record_count"]
                    for d in plan["position_deletes"]) \
            <= _DELETE_BROADCAST_ROWS
        dels = None
        for d in plan["position_deletes"]:
            one = (
                spark.read.parquet(d["path"])
                .select(_norm_fp(F.col("file_path")).alias("__dt_fp"),
                        F.col("pos").alias("__dt_pos"))
                .withColumn("__dt_delseq", F.lit(d["seq"]).cast("bigint"))
            )
            dels = one if dels is None else dels.unionByName(one)
        dels = (dels.groupBy("__dt_fp", "__dt_pos")
                .agg(F.max("__dt_delseq").alias("__dt_delseq")))
        if small:
            dels = F.broadcast(dels)
        cond = ((df["__dt_fp"] == dels["__dt_fp"])
                & (df["__dt_pos"] == dels["__dt_pos"])
                & (dels["__dt_delseq"] >= df["__dt_dseq"]))
        df = df.join(dels, cond, "left_anti")

    if plan["equality_deletes"]:
        fnames = plan["field_names"]
        groups: Dict[tuple, List[dict]] = {}
        for d in plan["equality_deletes"]:
            if not d["equality_ids"]:
                raise ValueError(
                    "iceberg_lite: equality-delete file without "
                    f"equality_ids: {d['path']}")
            cols = tuple(fnames[i] for i in d["equality_ids"])
            pkey = tuple(sorted((d["partition"] or {}).items())) or None
            groups.setdefault((cols, pkey), []).append(d)
        for (cols, pkey), ds in groups.items():
            small = sum(x["record_count"]
                        for x in ds) <= _DELETE_BROADCAST_ROWS
            dels = None
            for d in ds:
                one = (
                    spark.read.parquet(d["path"])
                    .select(*[F.col(c).alias(f"__dt_eq_{c}") for c in cols])
                    .withColumn("__dt_delseq",
                                F.lit(d["seq"]).cast("bigint"))
                )
                dels = one if dels is None else dels.unionByName(one)
            if small:
                dels = F.broadcast(dels)
            cond = dels["__dt_delseq"] > df["__dt_dseq"]
            for c in cols:
                cond = cond & df[c].eqNullSafe(dels[f"__dt_eq_{c}"])
            for name, val in (pkey or ()):
                cond = cond & df[name].eqNullSafe(F.lit(val))
            df = df.join(dels, cond, "left_anti")

    return df.drop("__dt_fp", "__dt_pos", "__dt_dseq")


def read_iceberg(spark, table_path: str, snapshot_id: Optional[int] = None,
                 columns: Optional[Sequence[str]] = None,
                 partition_filters: Optional[Dict[str, Any]] = None):
    """Iceberg table → DataFrame via the metadata walk (module
    docstring).  Identity partition predicates prune data files before
    Spark plans the scan AND re-apply as row filters (exactness does
    not depend on file-layout honesty).  v2 row-level deletes are
    applied as anti-joins (:func:`_apply_row_deletes`)."""
    from pyspark.sql import functions as F

    from ..schema import local_frame

    plan = plan_files(table_path, snapshot_id=snapshot_id,
                      partition_filters=partition_filters)
    if not plan["files"]:
        df = local_frame(spark, [], plan["schema_ddl"])
    elif plan["position_deletes"] or plan["equality_deletes"]:
        df = _apply_row_deletes(spark, plan)
    else:
        df = spark.read.schema(plan["schema_ddl"]).parquet(*plan["files"])
    for name, allowed in (partition_filters or {}).items():
        if name not in df.columns:
            continue  # non-identity transform whose source isn't a column
        vals = (list(allowed) if isinstance(allowed, (set, frozenset,
                                                      list, tuple))
                else [allowed])
        df = df.where(F.col(name).isin(vals))
    return df.select(*columns) if columns else df


# ---------------------------------------------------------------------------
# incremental (snapshot-range) scan
# ---------------------------------------------------------------------------

def incremental_files(table_path: str,
                      from_snapshot_id: Optional[int] = None,
                      to_snapshot_id: Optional[int] = None,
                      allow_deletes: bool = False) -> dict:
    """Scan plan for the data files APPENDED in snapshots
    ``(from_snapshot_id, to_snapshot_id]`` — the Iceberg *incremental
    append scan* (the public ``start-snapshot-id`` /
    ``end-snapshot-id`` read options of iceberg-spark).

    This is the 10^12-clip operating mode the north rule implies: an
    ingest pipeline commits a snapshot per batch, and validation reads
    ONLY the delta — metadata-walk cost is proportional to the new
    manifests, scan cost to the new files, never to table history.
    Pairs with the checkpoint layer (plans/checkpoint.py): checkpoint
    keys on partition lineage WITHIN a run; snapshot ranges bound WHICH
    rows a run sees at all.

    Mechanics (spec §"Snapshots", §"Manifest Lists"): every manifest
    list entry records ``added_snapshot_id`` and every manifest entry
    records the ``snapshot_id`` that ADDED it (status=1), so the delta
    is exactly the ADDED data-file entries of manifests introduced by
    in-range snapshots — all still present in ``to``'s manifest list
    because commits carry manifests forward.

    * ``from_snapshot_id=None`` starts from table creation;
      ``to_snapshot_id=None`` ends at the current snapshot.
    * ``from == to`` returns an empty plan (a polling ingest loop's
      "no new snapshots" case), matching the half-open range.
    * A non-append snapshot (``delete``/``overwrite``) inside the
      range raises ``ValueError`` — identical to iceberg-spark's
      incremental read, because appended-file rows are then not the
      net row delta.  ``allow_deletes=True`` opts into
      added-rows-only semantics: delete snapshots are skipped and the
      plan reports appended rows gross of any in-range deletes.
    """
    meta = _load_metadata(table_path)
    snaps = meta.get("snapshots", [])
    ids = [s["snapshot-id"] for s in snaps]
    pinned_end = to_snapshot_id is not None
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id", -1)
    if to_snapshot_id not in ids:
        raise ValueError(
            f"{table_path}: to_snapshot {to_snapshot_id} not found "
            f"(have {ids})")
    to_idx = ids.index(to_snapshot_id)
    if from_snapshot_id is None:
        from_idx = -1
    else:
        if from_snapshot_id not in ids:
            raise ValueError(
                f"{table_path}: from_snapshot {from_snapshot_id} not "
                f"found (have {ids})")
        from_idx = ids.index(from_snapshot_id)
        if from_idx > to_idx:
            raise ValueError(
                f"{table_path}: from_snapshot {from_snapshot_id} is "
                f"newer than to_snapshot {to_snapshot_id}")

    range_ids = set()
    for s in snaps[from_idx + 1:to_idx + 1]:
        op = s.get("summary", {}).get("operation", "append")
        if op != "append":
            if not allow_deletes:
                raise ValueError(
                    f"{table_path}: snapshot {s['snapshot-id']} in the "
                    f"incremental range is {op!r}, not an append — "
                    "appended files alone would over-count rows; pass "
                    "allow_deletes=True for added-rows-only semantics")
            continue
        range_ids.add(s["snapshot-id"])

    # an EXPLICIT range end reads under that snapshot's pinned schema
    # (a range ending before a widen must not grow the later column);
    # a head read uses current-schema-id, which may have advanced via
    # a metadata-only ALTER with no snapshot
    schema = (_schema_by_id(meta, snaps[to_idx].get("schema-id"))
              if pinned_end else _current_schema(meta))
    plan = {"files": [], "total_files": 0, "record_count": 0,
            "schema_ddl": _spark_ddl(schema),
            "from_snapshot_id": from_snapshot_id,
            "to_snapshot_id": to_snapshot_id,
            "snapshot_ids": sorted(range_ids)}
    if not range_ids:
        return plan

    to_snap = snaps[to_idx]
    _, manifest_files = read_ocf(
        _resolve_path(to_snap["manifest-list"], table_path))
    for mf in manifest_files:
        if mf.get("content", 0) != 0:  # delete manifest
            continue
        if mf.get("added_snapshot_id") not in range_ids:
            continue
        _, entries = read_ocf(
            _resolve_path(mf["manifest_path"], table_path))
        for e in entries:
            if e.get("status", 0) != 1:  # only ADDED entries
                continue
            if e.get("snapshot_id") not in range_ids:
                continue
            df_ = e["data_file"]
            if df_.get("content", 0) != 0:
                continue
            plan["files"].append(
                _resolve_path(df_["file_path"], table_path))
            plan["record_count"] += int(df_.get("record_count", 0))
    plan["total_files"] = len(plan["files"])
    return plan


def read_iceberg_incremental(spark, table_path: str,
                             from_snapshot_id: Optional[int] = None,
                             to_snapshot_id: Optional[int] = None,
                             columns: Optional[Sequence[str]] = None,
                             allow_deletes: bool = False):
    """Rows appended in snapshots ``(from, to]`` as a DataFrame —
    :func:`incremental_files` semantics (incremental append scan; the
    validate-only-the-delta mode for snapshot-per-ingest-batch
    tables).  Schema comes from the table metadata, so an empty range
    still returns the correctly-typed empty frame."""
    from ..schema import local_frame

    plan = incremental_files(table_path, from_snapshot_id,
                             to_snapshot_id, allow_deletes=allow_deletes)
    if not plan["files"]:
        df = local_frame(spark, [], plan["schema_ddl"])
    else:
        df = spark.read.schema(plan["schema_ddl"]).parquet(*plan["files"])
    return df.select(*columns) if columns else df


# ---------------------------------------------------------------------------
# rollback (audit-then-publish)
# ---------------------------------------------------------------------------

def rollback_to_snapshot(table_path: str, snapshot_id: int) -> int:
    """Set the table's current snapshot back to *snapshot_id*
    (Iceberg's ``rollback_to_snapshot``), committing a new metadata
    version.  Nothing is deleted: the rolled-back snapshots stay in
    history (time-travelable, and expirable later) — this is the
    cheap, instant undo that makes validate-then-publish work: append
    an ingest batch, run the constraint suite on the delta, and if the
    batch fails, roll the table back so downstream readers never see
    it.  Returns the new metadata version number.
    """
    meta, version = _load_existing(table_path)
    if meta is None:
        raise ValueError(f"{table_path}: not an iceberg_lite table")
    ids = [s["snapshot-id"] for s in meta.get("snapshots", [])]
    if snapshot_id not in ids:
        raise ValueError(
            f"{table_path}: snapshot {snapshot_id} not found "
            f"(have {ids})")
    import time as _time

    now_ms = int(_time.time() * 1000)
    meta["current-snapshot-id"] = snapshot_id
    # schema changes ride appends in this module (_evolve_schema), so
    # a rolled-back widening batch must also surrender its schema:
    # otherwise the rejected column stays current and every future
    # original-shape append fails the missing-column check — the
    # write-audit-publish loop would deadlock on one bad batch.  The
    # evolved schema entry STAYS in `schemas` (the rejected snapshot
    # remains time-travelable under it); only current-schema-id
    # reverts to what the target snapshot pinned.
    target = next(s for s in meta["snapshots"]
                  if s["snapshot-id"] == snapshot_id)
    if "schema-id" in target:
        meta["current-schema-id"] = target["schema-id"]
    meta["last-updated-ms"] = now_ms
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id})
    new_version = version + 1
    vpath = os.path.join(table_path, "metadata",
                         f"v{new_version}.metadata.json")
    with open(vpath, "w") as f:
        json.dump(meta, f, indent=2)
    with open(os.path.join(table_path, "metadata",
                           "version-hint.text"), "w") as f:
        f.write(str(new_version))
    return new_version


# ---------------------------------------------------------------------------
# snapshot expiration (maintenance)
# ---------------------------------------------------------------------------

def _reachable_files(table_path: str, snaps: Sequence[dict]):
    """(manifest_lists, manifests, data_files) referenced by *snaps* —
    ALL manifest entries regardless of status, the spec's conservative
    reachability: a file stays on disk while ANY retained snapshot's
    manifests still mention it (even as DELETED), so time travel to
    every retained snapshot keeps working."""
    mlists, manifests, files = set(), set(), set()
    seen_manifests = set()
    for s in snaps:
        ml = _resolve_path(s["manifest-list"], table_path)
        mlists.add(ml)
        _, mfs = read_ocf(ml)
        for mf in mfs:
            mp = _resolve_path(mf["manifest_path"], table_path)
            manifests.add(mp)
            if mp in seen_manifests:
                continue  # carried-forward manifest, already walked
            seen_manifests.add(mp)
            _, entries = read_ocf(mp)
            for e in entries:
                files.add(_resolve_path(e["data_file"]["file_path"],
                                        table_path))
    return mlists, manifests, files


def expire_snapshots(table_path: str, keep_last: int = 1,
                     older_than_ms: Optional[int] = None,
                     dry_run: bool = False) -> dict:
    """Expire old snapshots and delete the files reachable only from
    them — Iceberg's ``expire_snapshots`` maintenance action, the
    bound on metadata/storage growth for snapshot-per-ingest-batch
    tables.

    Retained: the current snapshot, the newest ``keep_last``
    snapshots, and (when ``older_than_ms`` is given) every snapshot at
    least that recent.  Deletion is by set difference of full
    reachability walks (conservative: a data or delete file survives
    while ANY retained snapshot's manifest list still reaches it, so
    time travel and incremental scans over retained history are
    unaffected).  The new metadata version lists only retained
    snapshots; the snapshot log is pruned to match.

    Interaction with the incremental-validation watermark
    (plans/incremental.py): expiring the watermark snapshot makes the
    next ``run_incremental`` fail with its expired-watermark error —
    expire no faster than the validation cadence.

    Returns counts: ``{"expired_snapshots", "retained_snapshots",
    "deleted_manifest_lists", "deleted_manifests",
    "deleted_data_files", "dry_run"}``.
    """
    meta, version = _load_existing(table_path)
    if meta is None:
        raise ValueError(f"{table_path}: not an iceberg_lite table")
    snaps = meta.get("snapshots", [])
    current = meta.get("current-snapshot-id", -1)

    retained_ids = {current}
    if keep_last > 0:
        retained_ids.update(s["snapshot-id"] for s in snaps[-keep_last:])
    if older_than_ms is not None:
        retained_ids.update(s["snapshot-id"] for s in snaps
                            if s.get("timestamp-ms", 0) >= older_than_ms)
    kept = [s for s in snaps if s["snapshot-id"] in retained_ids]
    expired = [s for s in snaps if s["snapshot-id"] not in retained_ids]

    result = {"expired_snapshots": len(expired),
              "retained_snapshots": len(kept),
              "deleted_manifest_lists": 0, "deleted_manifests": 0,
              "deleted_data_files": 0, "dry_run": dry_run}
    if not expired:
        return result

    kept_ml, kept_mf, kept_files = _reachable_files(table_path, kept)
    exp_ml, exp_mf, exp_files = _reachable_files(table_path, expired)
    doomed_ml = exp_ml - kept_ml
    doomed_mf = exp_mf - kept_mf
    doomed_files = exp_files - kept_files
    result.update(deleted_manifest_lists=len(doomed_ml),
                  deleted_manifests=len(doomed_mf),
                  deleted_data_files=len(doomed_files))
    if dry_run:
        return result

    # commit the pruned metadata FIRST (readers of the new version
    # never see expired snapshots), then remove newly-unreachable files
    meta["snapshots"] = kept
    meta["snapshot-log"] = [e for e in meta.get("snapshot-log", [])
                            if e.get("snapshot-id") in retained_ids]
    import time as _time

    meta["last-updated-ms"] = int(_time.time() * 1000)
    new_version = version + 1
    vpath = os.path.join(table_path, "metadata",
                         f"v{new_version}.metadata.json")
    with open(vpath, "w") as f:
        json.dump(meta, f, indent=2)
    with open(os.path.join(table_path, "metadata",
                           "version-hint.text"), "w") as f:
        f.write(str(new_version))

    for p in sorted(doomed_ml | doomed_mf | doomed_files):
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    return result


# ---------------------------------------------------------------------------
# dev/test fixture writer (spec shapes; see module docstring for scope)
# ---------------------------------------------------------------------------

def _ice_type(spark_type: str) -> str:
    # keys are Spark DataType.simpleString() values
    t = spark_type.lower()
    mapped = {"int": "int", "integer": "int", "smallint": "int",
              "tinyint": "int", "long": "long", "bigint": "long",
              "boolean": "boolean", "float": "float", "double": "double",
              "string": "string", "binary": "binary", "date": "date",
              "timestamp": "timestamptz"}.get(t)
    if mapped is None:
        if t.startswith("decimal"):
            return t
        raise NotImplementedError(
            f"iceberg_lite writer: unsupported column type {spark_type!r}")
    return mapped


#: primitive types whose per-file footer stats we record as manifest
#: bounds (spec Appendix D single-value binary serialization)
_BOUNDABLE = {"boolean", "int", "long", "float", "double", "string"}


def _encode_bound(ice_t: str, v) -> bytes:
    """Spec Appendix D single-value serialization for manifest
    lower/upper bounds."""
    import struct

    if ice_t == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_t == "int":
        return struct.pack("<i", int(v))
    if ice_t == "long":
        return struct.pack("<q", int(v))
    if ice_t == "float":
        return struct.pack("<f", float(v))
    if ice_t == "double":
        return struct.pack("<d", float(v))
    if ice_t == "string":
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)
    raise ValueError(f"no bound encoding for {ice_t}")


def _decode_bound(ice_t: str, b: bytes):
    import struct

    if ice_t == "boolean":
        return b != b"\x00"
    if ice_t == "int":
        return struct.unpack("<i", b)[0]
    if ice_t == "long":
        return struct.unpack("<q", b)[0]
    if ice_t == "float":
        return struct.unpack("<f", b)[0]
    if ice_t == "double":
        return struct.unpack("<d", b)[0]
    if ice_t == "string":
        return b.decode("utf-8")
    raise ValueError(f"no bound decoding for {ice_t}")


def _footer_stats(pq_meta, by_name: Dict[str, int],
                  schema_fields: Dict[int, str]) -> dict:
    """Aggregate parquet footer statistics across row groups:
    ``field-id -> {"nulls", "min", "max", "ok_nulls", "ok_bounds"}``.
    A column's bound (or null count) is dropped when ANY row group
    lacks usable stats — partial stats would be an unsound bound.
    Parquet's bound truncation stays valid by construction (truncated
    minima are prefixes ≤ the true min; maxima are rounded up)."""
    agg: Dict[int, dict] = {}
    for rg in range(pq_meta.num_row_groups):
        rgm = pq_meta.row_group(rg)
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            name = col.path_in_schema
            fid = by_name.get(name)
            if fid is None or schema_fields.get(fid) not in _BOUNDABLE:
                continue
            a = agg.setdefault(fid, {"nulls": 0, "min": None, "max": None,
                                     "ok_nulls": True, "ok_bounds": True})
            s = col.statistics
            if s is None or not s.has_null_count:
                a["ok_nulls"] = False
            else:
                a["nulls"] += int(s.null_count)
            if s is None or not s.has_min_max:
                # all-null row groups legitimately carry no min/max;
                # bounds over the remaining groups stay valid bounds
                if s is not None and s.has_null_count and \
                        int(s.null_count) == int(col.num_values):
                    continue
                a["ok_bounds"] = False
            else:
                mn, mx = s.min, s.max
                a["min"] = mn if a["min"] is None else min(a["min"], mn)
                a["max"] = mx if a["max"] is None else max(a["max"], mx)
    return agg


def _stats_fields(agg: dict, schema_fields: Dict[int, str]) -> dict:
    """Manifest-entry stat maps (spec field-ids 110/125/128) from
    aggregated footer stats."""
    nvc = [{"key": fid, "value": a["nulls"]}
           for fid, a in sorted(agg.items()) if a["ok_nulls"]]
    lb = [{"key": fid, "value": _encode_bound(schema_fields[fid], a["min"])}
          for fid, a in sorted(agg.items())
          if a["ok_bounds"] and a["min"] is not None]
    ub = [{"key": fid, "value": _encode_bound(schema_fields[fid], a["max"])}
          for fid, a in sorted(agg.items())
          if a["ok_bounds"] and a["max"] is not None]
    return {"null_value_counts": nvc or None,
            "lower_bounds": lb or None, "upper_bounds": ub or None}


def _avro_prim(ice_t: str) -> Any:
    return {"boolean": "boolean", "int": "int", "long": "long",
            "float": "float", "double": "double", "string": "string",
            "binary": "bytes", "date": "int",
            "timestamptz": "long"}.get(ice_t, "string")


def _manifest_entry_schema(part_fields: List[dict],
                           schema_fields: Dict[int, str]) -> dict:
    pf = [
        {"name": f["name"],
         "type": ["null", _avro_prim(schema_fields[f["source-id"]])],
         "default": None, "field-id": f["field-id"]}
        for f in part_fields
    ]
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102", "fields": pf}},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}],
                     "default": None, "field-id": 135},
                ]}},
        ],
    }


_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _evolve_schema(meta: dict, df_schema) -> dict:
    """Reconcile an append's DataFrame schema with the table's current
    schema, evolving the table when the append WIDENS it.

    The contract is the safe core of Iceberg schema evolution
    (spec §Schema Evolution) restricted to what this module's
    explicit-schema parquet read path can serve without per-file
    casts:

    * the append must contain EVERY current column with the identical
      iceberg type (type promotions are rejected — old data files
      would need a read-side upcast the plain parquet scan does not
      do);
    * extra columns must be nullable and are ADDED: they get fresh
      field ids above ``last-column-id`` (existing columns keep their
      ids — Iceberg's id-stability rule), a new schema entry is
      appended to ``schemas`` and ``current-schema-id`` advances.
      Files written before the widen read back with the new columns
      null-filled (the read path passes the current schema explicitly,
      so by-name parquet resolution fills the gap).

    Returns the (possibly new) current schema dict; mutates ``meta``
    in place when evolution happens.  Incidentally this also fixes
    stats-id drift: appends now key their manifest bound stats by the
    TABLE's canonical field ids instead of re-deriving ids from the
    DataFrame's column positions.
    """
    current = _current_schema(meta)
    cur_by_name = {f["name"]: f for f in current["fields"]}
    df_types = {f.name: _ice_type(f.dataType.simpleString())
                for f in df_schema.fields}
    df_nullable = {f.name: f.nullable for f in df_schema.fields}

    missing = [n for n in cur_by_name if n not in df_types]
    if missing:
        raise ValueError(
            f"append_iceberg: append is missing table column(s) "
            f"{sorted(missing)}; appends must carry every current "
            "column")
    for n, f in cur_by_name.items():
        if df_types[n] != f["type"]:
            raise ValueError(
                f"append_iceberg: column {n!r} has type {df_types[n]} "
                f"but the table schema says {f['type']}; type changes "
                "are not supported by the iceberg_lite read path")

    new_names = [n for n in df_types if n not in cur_by_name]
    if not new_names:
        return current
    for n in new_names:
        if not df_nullable[n]:
            raise ValueError(
                f"append_iceberg: new column {n!r} must be nullable — "
                "required columns cannot be added to existing rows "
                "(Iceberg optional-add rule)")

    last_id = int(meta.get("last-column-id",
                           max(f["id"] for f in current["fields"])))
    added = []
    for n in new_names:
        last_id += 1
        added.append({"id": last_id, "name": n, "required": False,
                      "type": df_types[n]})
    new_sid = 1 + max(s.get("schema-id", 0)
                      for s in meta.get("schemas", [current]))
    evolved = {"type": "struct", "schema-id": new_sid,
               "fields": [dict(f) for f in current["fields"]] + added}
    meta.setdefault("schemas", [current])
    meta["schemas"].append(evolved)
    meta["current-schema-id"] = new_sid
    meta["last-column-id"] = last_id
    return evolved


#: safe metadata-level type promotions per the Iceberg spec (readers
#: of any engine must upcast transparently)
_SAFE_PROMOTIONS = {("int", "long"), ("float", "double")}


def _promotion_ok(t_old: str, t_new: str) -> bool:
    if (t_old, t_new) in _SAFE_PROMOTIONS:
        return True
    if (isinstance(t_old, str) and isinstance(t_new, str)
            and t_old.startswith("decimal(") and t_new.startswith("decimal(")):
        try:
            po, so = t_old[8:-1].split(",")
            pn, sn = t_new[8:-1].split(",")
            return int(sn) == int(so) and int(pn) >= int(po)
        except ValueError:
            return False
    return False


def schema_history(table_path: str) -> List[dict]:
    """All schema versions of a table, ordered by schema-id, plus the
    snapshot ids pinned to each (``snapshots[*].schema-id``)."""
    meta = _load_metadata(table_path)
    schemas = sorted(meta.get("schemas", [_current_schema(meta)]),
                     key=lambda s: s.get("schema-id", 0))
    by_sid: Dict[int, List[int]] = {}
    for s in meta.get("snapshots", []):
        by_sid.setdefault(s.get("schema-id", 0), []).append(
            s["snapshot-id"])
    return [
        {"schema_id": s.get("schema-id", 0),
         "fields": s["fields"],
         "snapshot_ids": by_sid.get(s.get("schema-id", 0), [])}
        for s in schemas
    ]


def validate_schema_evolution(spark, table_path: str):
    """Schema-evolution audit: one typed row per column change across
    each consecutive schema transition in the table's metadata, with a
    per-change Iceberg-spec compatibility verdict.

    Column identity follows FIELD IDS, not names — Iceberg's own
    resolution rule — so a rename is recognized as a rename (not a
    drop + add).  ``change`` ∈ {added, dropped, renamed, type_changed,
    required_changed}; ``compatible`` says whether the spec blesses it
    for existing readers: optional adds, drops, renames,
    required→optional relaxations and int→long / float→double /
    decimal-precision promotions are compatible; optional→required
    and any other type change are not.

    Tables written by THIS module only ever evolve compatibly
    (:func:`_evolve_schema` enforces the safe core at write time), but
    the validator walks raw metadata, so it audits tables written by
    any Iceberg writer.  Driver-side by design: schema metadata is
    KB-scale regardless of table size.

    Returns a DataFrame ``(from_schema_id, to_schema_id, column,
    change, detail, compatible)``; empty (same schema) when the table
    never evolved.
    """
    from ..schema import local_frame

    hist = schema_history(table_path)
    rows = []
    for prev, cur in zip(hist, hist[1:]):
        old = {f["id"]: f for f in prev["fields"]}
        new = {f["id"]: f for f in cur["fields"]}
        sid_a, sid_b = prev["schema_id"], cur["schema_id"]
        for fid in sorted(old.keys() | new.keys()):
            if fid not in new:
                f = old[fid]
                rows.append((sid_a, sid_b, f["name"], "dropped",
                             f["type"], True))
                continue
            if fid not in old:
                f = new[fid]
                rows.append((sid_a, sid_b, f["name"], "added",
                             f["type"], not f.get("required", False)))
                continue
            fo, fn = old[fid], new[fid]
            if fo["name"] != fn["name"]:
                rows.append((sid_a, sid_b, fn["name"], "renamed",
                             f"from {fo['name']}", True))
            if fo["type"] != fn["type"]:
                rows.append((sid_a, sid_b, fn["name"], "type_changed",
                             f"{fo['type']}->{fn['type']}",
                             _promotion_ok(fo["type"], fn["type"])))
            ro = fo.get("required", False)
            rn = fn.get("required", False)
            if ro != rn:
                rows.append((sid_a, sid_b, fn["name"], "required_changed",
                             f"{'required' if ro else 'optional'}->"
                             f"{'required' if rn else 'optional'}",
                             ro and not rn))
    return local_frame(
        spark,
        rows,
        "from_schema_id int, to_schema_id int, column string, "
        "change string, detail string, compatible boolean")


def _load_existing(table_path: str):
    """(meta dict or None, existing version int) for a table root."""
    if is_iceberg_table(table_path):
        mpath = _metadata_path(table_path)
        version = int(os.path.basename(mpath)[1:].split(".")[0])
        with open(mpath) as f:
            return json.load(f), version
    return None, 0


def _commit_snapshot(table_path: str, meta: dict, existing_version: int,
                     snap_id: int, seq: int, new_mf: dict,
                     operation: str, summary: Dict[str, str]) -> int:
    """Write the manifest list (previous snapshot's manifests carried
    forward + ``new_mf``), the new metadata json version, and the
    version hint — the shared commit tail of every snapshot-producing
    writer in this module."""
    import time as _time

    carried: List[dict] = []
    if meta.get("current-snapshot-id", -1) != -1 and meta.get("snapshots"):
        cur = next(s for s in meta["snapshots"]
                   if s["snapshot-id"] == meta["current-snapshot-id"])
        _, carried = read_ocf(_resolve_path(cur["manifest-list"],
                                            table_path))
    mlist_path = os.path.join(
        table_path, "metadata", f"snap-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_ocf(mlist_path, _MANIFEST_FILE_SCHEMA, carried + [new_mf],
              extra_meta={"format-version": "2"})

    now_ms = int(_time.time() * 1000)
    snapshot = {
        "snapshot-id": snap_id, "timestamp-ms": now_ms,
        "sequence-number": seq, "manifest-list": mlist_path,
        "schema-id": meta.get("current-schema-id", 0),
        "summary": {"operation": operation, **summary},
    }
    meta["last-updated-ms"] = now_ms
    meta["last-sequence-number"] = seq
    meta["current-snapshot-id"] = snap_id
    meta.setdefault("snapshots", []).append(snapshot)
    meta.setdefault("snapshot-log", []).append(
        {"timestamp-ms": now_ms, "snapshot-id": snap_id})

    version = existing_version + 1
    vpath = os.path.join(table_path, "metadata",
                         f"v{version}.metadata.json")
    with open(vpath, "w") as f:
        json.dump(meta, f, indent=2)
    with open(os.path.join(table_path, "metadata",
                           "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id


def _spark_files_to(table_path: str, sdf) -> List[tuple]:
    """Write a DataFrame's rows as parquet data files under
    ``table_path/data/`` via a Spark write (distributed — never a
    driver collect), returning ``[(path, rows, bytes), ...]`` from the
    parquet footers."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp(prefix="icelite-")
    try:
        sdf.write.mode("overwrite").parquet(tmp)
        out = []
        for p in sorted(_glob.glob(os.path.join(tmp, "part-*.parquet"))):
            dest = os.path.join(table_path, "data",
                                f"{_uuid.uuid4().hex}.parquet")
            shutil.move(p, dest)
            n = pq.ParquetFile(dest).metadata.num_rows
            out.append((dest, n, os.path.getsize(dest)))
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def append_iceberg(df, table_path: str,
                   partition_by: Optional[str] = None) -> int:
    """Append ``df`` to an iceberg_lite table as a NEW SNAPSHOT
    (creating the table on first call); returns the snapshot id.

    Dev/test fixture writer (module docstring): supports one
    identity-transform partition column; data for each partition value
    is written with the column RETAINED in the parquet file (Iceberg
    data files are self-contained — unlike Hive layout, the partition
    value is not encoded only in the directory name).  Per-file row
    counts come from the parquet footers via pyarrow.  The distinct
    partition values are collected on the driver — fixture-scale by
    design.
    """
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(table_path, "metadata"), exist_ok=True)
    os.makedirs(os.path.join(table_path, "data"), exist_ok=True)

    meta, existing_version = _load_existing(table_path)

    # --- schema + spec -----------------------------------------------------
    if meta is not None:
        # reconcile with the table's schema: widening appends evolve
        # it (new schema-id), and field ids come from the TABLE (id
        # stability), never from DataFrame column positions
        schema = _evolve_schema(meta, df.schema)
        fields = schema["fields"]
        by_name = {f["name"]: f["id"] for f in fields}
    else:
        fields = []
        by_name = {}
        for i, f in enumerate(df.schema.fields, start=1):
            ice_t = _ice_type(f.dataType.simpleString())
            fields.append({"id": i, "name": f.name,
                           "required": not f.nullable, "type": ice_t})
            by_name[f.name] = i
        schema = {"type": "struct", "schema-id": 0, "fields": fields}
    schema_fields = {f["id"]: f["type"] for f in fields}

    spec_fields: List[dict] = []
    if partition_by is not None:
        if partition_by not in by_name:
            raise ValueError(f"partition_by {partition_by!r} not a column")
        spec_fields = [{"name": partition_by, "transform": "identity",
                        "source-id": by_name[partition_by],
                        "field-id": 1000}]
    spec = {"spec-id": 0, "fields": spec_fields}
    if meta is not None:
        old_spec = _spec_fields(meta, meta.get("default-spec-id", 0))
        if [(f["name"], f.get("transform")) for f in old_spec] != \
                [(f["name"], f.get("transform")) for f in spec_fields]:
            raise ValueError(
                "append_iceberg: partition spec differs from the "
                "table's existing spec")

    # --- data files (partition column retained in the file) ----------------
    import shutil
    import tempfile

    def _write_group(gdf, part_value):
        tmp = tempfile.mkdtemp(prefix="icelite-")
        try:
            gdf.write.mode("overwrite").parquet(tmp)
            out = []
            for p in sorted(_glob.glob(os.path.join(tmp, "part-*.parquet"))):
                dest = os.path.join(
                    table_path, "data",
                    f"{_uuid.uuid4().hex}.parquet")
                shutil.move(p, dest)
                n = pq.ParquetFile(dest).metadata.num_rows
                out.append((dest, part_value, n, os.path.getsize(dest)))
            return out
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    new_files = []
    if partition_by is None:
        new_files += _write_group(df, None)
    else:
        from pyspark.sql import functions as F

        values = [r[0] for r in
                  df.select(partition_by).distinct().collect()]
        for v in values:
            gdf = (df.where(F.col(partition_by).isNull()) if v is None
                   else df.where(F.col(partition_by) == v))
            new_files += _write_group(gdf, v)

    # --- new manifest ------------------------------------------------------
    snap_id = int(_uuid.uuid4().int % (1 << 62)) + 1
    seq = (meta.get("last-sequence-number", 0) + 1) if meta else 1
    entry_schema = _manifest_entry_schema(spec_fields, schema_fields)
    entries = [
        {"status": 1, "snapshot_id": snap_id, "sequence_number": None,
         "file_sequence_number": None,
         "data_file": {
             "content": 0, "file_path": path, "file_format": "PARQUET",
             "partition": ({partition_by: part} if partition_by else {}),
             "record_count": int(n), "file_size_in_bytes": int(sz)}}
        for path, part, n, sz in new_files
    ]
    manifest_path = os.path.join(
        table_path, "metadata", f"{_uuid.uuid4().hex}-m0.avro")
    write_ocf(manifest_path, entry_schema, entries,
              extra_meta={"format-version": "2", "content": "data",
                          "partition-spec-id": "0"})

    new_mf = {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(new_files), "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(n for _, _, n, _ in new_files),
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }
    if meta is None:
        import time as _time

        meta = {
            "format-version": 2,
            "table-uuid": str(_uuid.uuid4()),
            "location": table_path,
            "last-updated-ms": int(_time.time() * 1000),
            "last-column-id": len(fields),
            "schemas": [schema], "current-schema-id": 0,
            "partition-specs": [spec], "default-spec-id": 0,
            "last-partition-id": 1000 if spec_fields else 999,
            "properties": {"write.format.default": "parquet"},
            "snapshots": [], "snapshot-log": [], "metadata-log": [],
            "sort-orders": [{"order-id": 0, "fields": []}],
            "default-sort-order-id": 0,
        }
    return _commit_snapshot(
        table_path, meta, existing_version, snap_id, seq, new_mf,
        "append",
        {"added-data-files": str(len(new_files)),
         "added-records": str(sum(n for _, _, n, _ in new_files))})


def _write_delete_manifest(table_path: str, meta: dict, snap_id: int,
                           seq: int, delete_files: List[tuple],
                           content: int,
                           equality_ids: Optional[List[int]] = None,
                           partition: Optional[Dict[str, Any]] = None,
                           ) -> dict:
    """Write one DELETE manifest covering ``delete_files``
    (``[(path, rows, bytes), ...]``) and return its manifest_file
    record for the manifest list (``content=1`` there marks it a
    delete manifest per spec)."""
    # partition-scoped deletes carry the table's spec fields; global
    # deletes carry an EMPTY partition record (the unpartitioned-spec
    # form) so readers never confuse "unscoped" with "scoped to null"
    spec_fields = (_spec_fields(meta, meta.get("default-spec-id", 0))
                   if partition else [])
    schema = _current_schema(meta)
    schema_fields = {f["id"]: f["type"] for f in schema["fields"]}
    entry_schema = _manifest_entry_schema(spec_fields, schema_fields)
    entries = [
        {"status": 1, "snapshot_id": snap_id, "sequence_number": None,
         "file_sequence_number": None,
         "data_file": {
             "content": content, "file_path": path,
             "file_format": "PARQUET",
             "partition": dict(partition or {}),
             "record_count": int(n), "file_size_in_bytes": int(sz),
             "equality_ids": (list(equality_ids)
                              if equality_ids else None)}}
        for path, n, sz in delete_files
    ]
    manifest_path = os.path.join(
        table_path, "metadata", f"{_uuid.uuid4().hex}-d0.avro")
    write_ocf(manifest_path, entry_schema, entries,
              extra_meta={"format-version": "2", "content": "deletes",
                          "partition-spec-id": "0"})
    rows = sum(n for _, n, _ in delete_files)
    return {
        "manifest_path": manifest_path,
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0, "content": 1,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(delete_files),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }


def delete_where(spark, table_path: str, condition) -> int:
    """POSITION-delete every current-snapshot row matching
    ``condition`` (SQL string or Column) as a new snapshot.

    Merge-on-read, exactly the v2 spec shape: data files are never
    rewritten — the matching rows' ``(file_path, pos)`` tuples are
    written as a position-delete parquet file (sorted by path then
    position, the spec's recommended order) plus a DELETE manifest,
    and readers subtract them.  The match runs DISTRIBUTED: one scan
    with ``_metadata`` projected, the predicate filtered JVM-side, and
    the delete file written by a Spark parquet write — no driver
    collect at any size.

    Returns the new snapshot id.  Rows already dead (previously
    deleted) may re-appear in the delete file — harmless by spec
    (position deletes are idempotent on a row)."""
    from pyspark.sql import functions as F

    plan = plan_files(table_path)
    if not plan["files"]:
        raise ValueError(f"{table_path}: empty table — nothing to delete")
    meta, existing_version = _load_existing(table_path)
    matches = (
        spark.read.schema(plan["schema_ddl"]).parquet(*plan["files"])
        .where(condition)
        .select(_norm_fp(F.col("_metadata.file_path")).alias("file_path"),
                F.col("_metadata.row_index").alias("pos"))
        .orderBy("file_path", "pos")
        .coalesce(1)
    )
    delete_files = _spark_files_to(table_path, matches)
    snap_id = int(_uuid.uuid4().int % (1 << 62)) + 1
    seq = meta.get("last-sequence-number", 0) + 1
    new_mf = _write_delete_manifest(
        table_path, meta, snap_id, seq, delete_files, content=1)
    rows = sum(n for _, n, _ in delete_files)
    return _commit_snapshot(
        table_path, meta, existing_version, snap_id, seq, new_mf,
        "delete",
        {"added-delete-files": str(len(delete_files)),
         "added-position-deletes": str(rows)})


def append_equality_deletes(spark, table_path: str, values_df,
                            partition: Optional[Dict[str, Any]] = None,
                            ) -> int:
    """EQUALITY-delete as a new snapshot: every CURRENT-OR-FUTURE-read
    row whose ``values_df.columns`` columns null-safely equal some row
    of ``values_df`` is dead — but only for data written BEFORE this
    snapshot (the spec's strict ``data_seq < delete_seq`` rule, which
    is what lets equality deletes express "delete key K, then re-insert
    K" without tombstoning the new row).

    ``values_df`` columns must be table columns; they become the
    file's ``equality_ids``.  ``partition`` (optional, ``{field:
    value}``) scopes the delete to one identity-partition tuple, per
    spec; omitted means table-wide (an unpartitioned-spec delete
    file).  Returns the new snapshot id."""
    meta, existing_version = _load_existing(table_path)
    if meta is None:
        raise ValueError(f"{table_path}: not an Iceberg table")
    schema = _current_schema(meta)
    by_name = {f["name"]: f["id"] for f in schema["fields"]}
    missing = [c for c in values_df.columns if c not in by_name]
    if missing:
        raise ValueError(
            f"append_equality_deletes: {missing} not table columns "
            f"(have {sorted(by_name)})")
    equality_ids = [by_name[c] for c in values_df.columns]
    if partition:
        spec_fields = _spec_fields(meta, meta.get("default-spec-id", 0))
        spec_names = {f["name"] for f in spec_fields
                      if f.get("transform", "identity") == "identity"}
        bad = set(partition) - spec_names
        if bad:
            raise ValueError(
                f"append_equality_deletes: partition scope {sorted(bad)} "
                f"not identity partition fields (have {sorted(spec_names)})")
    delete_files = _spark_files_to(table_path,
                                   values_df.dropDuplicates().coalesce(1))
    snap_id = int(_uuid.uuid4().int % (1 << 62)) + 1
    seq = meta.get("last-sequence-number", 0) + 1
    new_mf = _write_delete_manifest(
        table_path, meta, snap_id, seq, delete_files, content=2,
        equality_ids=equality_ids, partition=partition)
    rows = sum(n for _, n, _ in delete_files)
    return _commit_snapshot(
        table_path, meta, existing_version, snap_id, seq, new_mf,
        "delete",
        {"added-delete-files": str(len(delete_files)),
         "added-equality-deletes": str(rows)})
