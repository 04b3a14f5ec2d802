"""One lifecycle for frames that outlive the call that persists them.

Operators and inventory entries persist a hub frame when several plan
branches read it: without the cache Catalyst replicates the frame's
whole derivation once per reference. Such a frame must outlive the
call, because the caller's lazy result still reads it. ``persist_scoped``
gives it a bounded lifetime instead of none:

- **Slots.** Each call site owns one slot holding at most one frame, so
  a long-lived session sweeping many corpora carries at most one cached
  frame per site, not one per corpus.
- **Key.** ``(applicationId, semanticHash, column names)`` of the frame
  being persisted. The analyzed-plan hash covers every literal,
  parameter and Python closure the frame depends on; column names are
  added because canonicalization erases alias names. Keying on the
  persisted frame, not on an upstream input, keeps a parameter change
  (``shingle_size=3`` then ``5`` over the same input) from being served
  the other call's frame. A new Spark application always misses.
- **Hit.** A same-key call whose held frame still reads as persisted
  (``storageLevel`` consults the live cache manager, so a frame dropped
  by ``spark.catalog.clearCache()`` is a miss) returns the held frame
  and launches no Spark job.
- **Miss.** The slot's old frame is unpersisted *before* the new one is
  persisted: when both plans are equal, persisting first would let the
  unpersist drop the cache the new frame resolves to. A dead
  SparkContext is tolerated while evicting. ``eager=True`` warms the
  new frame with one ``count()``, on a miss only.

Every slot uses ``DataFrame.persist()``'s default storage level,
``MEMORY_AND_DISK_DESER``.

Contract for callers: a lazy result returned by an earlier call stays
correct after a later call at the same site evicts its frame, but it
recomputes that frame's derivation when it runs. Materialize such a
result before calling the same site with a different input if the
recompute matters.

Frames that are only needed while one call runs are not slot material:
they stay explicit ``persist``/``unpersist`` pairs inside that call.
"""

from __future__ import annotations

import sys
import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# (file, line) of the calling site -> (key, persisted frame). Lowercase
# by convention: runtime state, never hashed into an entry fingerprint.
_slots: dict = {}
_slots_lock = threading.Lock()


def _persisted(df: DataFrame) -> bool:
    try:
        level = df.storageLevel
    except Py4JError:  # dead context: treat as evicted
        return False
    return level.useMemory or level.useDisk


def persist_scoped(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` in its call site's slot, or return the slot's frame
    on a hit. See the module docstring for the lifetime contract."""
    caller = sys._getframe(1)
    site = (caller.f_code.co_filename, caller.f_lineno)
    key = (
        df.sparkSession.sparkContext.applicationId,
        df._jdf.queryExecution().analyzed().semanticHash(),
        tuple(df.columns),
    )
    with _slots_lock:
        held = _slots.get(site)
        if held is not None:
            if held[0] == key and _persisted(held[1]):
                return held[1]
            try:
                held[1].unpersist()
            except Py4JError:  # a dead SparkContext is fine
                pass
        _slots[site] = (key, df.persist())
    if eager:
        df.count()
    return df
