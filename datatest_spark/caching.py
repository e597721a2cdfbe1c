"""The one lifecycle for persisted frames that outlive their call.

Operator calls (LSH dedup, ANN, contamination, shard planning,
whole-scope acceptance counting) and validation compiles (the audio
consistency rule's hash-path decode frame, quarantine's persisted
violations, sampled plan-rule verdicts) persist intermediates that must stay alive
until the CALLER materializes the returned lazy result.  Each call
gets its own :class:`CacheHandle`:

* the call registers each frame it persists on its handle —
  validation rules register on ``ValidationContext.handle``;
* the handle is attached to the object the caller receives, its
  OWNER: the returned frame of an operator, of ``Engine.compile`` and
  of a ``ValidationResult`` (its ``violations``), or the
  ``QuarantineResult`` object itself;
* :func:`unpersist_result` frees exactly one owner's frames
  (``ValidationResult.unpersist`` and ``QuarantineResult.unpersist``
  call it); :func:`evict_all`, wrapped by each operator module's
  ``unpersist_cached``, frees a whole registry for session cleanup.

Nothing is evicted while an owner is still REACHABLE, so interleaved
calls can all materialize without recompute.  When the caller drops
the owner without freeing it (the common ``op(df).collect()``
pattern), :meth:`CacheHandle.attach`'s ``weakref.finalize`` frees its
frames at the next GC, so long-lived sessions and streaming queries
stay bounded.  Callers who keep only a *derived* frame
(``op(df).filter(...)`` with the owner discarded) may see a
correct-but-recomputed plan — operators that bake literals from the
persisted partitioning pin explicit partition counts so the recompute
reproduces the same partitioning.

Spark's CacheManager keeps ONE cache entry for semantically equal
plans, so two live calls over the same input (two audio-suite results
over one table) share their persisted frames.  A handle therefore
frees a frame only when no other live handle holds a frame with an
equal plan: live registrations are counted per plan
``semanticHash()``.  A hash collision can only keep a cache longer.

(Persisted frames use MEMORY_AND_DISK, so the worst case between GCs
is spilled disk, not OOM.)
"""

from __future__ import annotations

import threading
import weakref
from collections import Counter
from typing import List

from pyspark.sql import DataFrame

__all__ = ["CacheHandle", "unpersist_result", "evict_all"]

_HANDLE_ATTR = "_datatest_cache_handle"

# live registrations per plan semanticHash(), over every handle; an
# RLock because a GC finalizer may free a handle while this thread
# holds the lock
_LIVE: Counter = Counter()
_LIVE_LOCK = threading.RLock()


class CacheHandle:
    """The persisted intermediates of ONE call.  The handle joins
    *registry* with its first frame, so calls that persist nothing
    leave no entry behind."""

    def __init__(self, registry: list):
        self._frames: List[DataFrame] = []
        self._registry = registry

    def _track(self, frames) -> None:
        if self not in self._registry:
            self._registry.append(self)
        self._frames.extend(frames)

    def register(self, frame: DataFrame) -> DataFrame:
        """Track an (already persisted) intermediate frame."""
        plan = frame.semanticHash()
        with _LIVE_LOCK:
            _LIVE[plan] += 1
        self._track([frame])
        return frame

    def attach(self, owner):
        """Hand lifecycle ownership to *owner* (the returned frame or
        result object) and return it.

        Also registers a GC backstop: when the owner becomes
        unreachable, this handle's intermediates unpersist
        automatically (``weakref.finalize`` holds the handle, never
        the owner, so it cannot keep the owner alive)."""
        setattr(owner, _HANDLE_ATTR, self)
        weakref.finalize(owner, CacheHandle.unpersist, self)
        return owner

    def absorb(self, other: "CacheHandle") -> None:
        """Take over *other*'s frames (one owner holding the
        intermediates of several sub-operations, e.g. a composed
        acceptance with two stateful operands)."""
        if other._frames:
            self._track(other._frames)
        other._frames.clear()
        try:
            other._registry.remove(other)
        except ValueError:
            pass

    def unpersist(self, blocking: bool = False) -> int:
        """Evict this call's frames; returns #frames evicted.  Safe at
        any time — an unmaterialized result simply recomputes."""
        n = 0
        while self._frames:
            frame = self._frames.pop()
            try:
                plan = frame.semanticHash()
                with _LIVE_LOCK:
                    _LIVE[plan] -= 1
                    last = _LIVE[plan] <= 0
                    if last:
                        del _LIVE[plan]
                if last:
                    frame.unpersist(blocking)
            except Exception:  # session already stopped — nothing to free
                pass
            n += 1
        try:
            self._registry.remove(self)
        except ValueError:
            pass
        return n


def unpersist_result(result, blocking: bool = False) -> int:
    """Evict the persisted intermediates owned by *result* (a frame
    returned by an operator or ``Engine.compile``, a validation
    result's ``violations``, or a ``QuarantineResult``).  No-op for
    objects without a handle.  Returns #frames evicted."""
    handle = getattr(result, _HANDLE_ATTR, None)
    return handle.unpersist(blocking) if handle is not None else 0


def evict_all(registry: list, blocking: bool = False) -> int:
    """Evict every live handle in *registry*; returns #frames evicted."""
    n = 0
    while registry:
        n += registry[-1].unpersist(blocking)
    return n
