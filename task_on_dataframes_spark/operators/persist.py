"""Persisted intermediates that outlive the call that built them.

An operator whose lazy result reads a persisted frame has no point at
which it could unpersist that frame itself, so it hands the frame to
:func:`hold`, which keeps the newest ``keep`` frames per session and
slot and unpersists older ones. A session is its JVM session: PySpark
wraps a streaming query's session in a new Python object for every
micro-batch, and the query's batches must share one bound.

The cache is keyed by plan, not by data version: a fresh frame whose
plan equals a cached one reads that cache even if the files under it
were rewritten, and ``spark.catalog.clearCache()`` resets it.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()
#: (JVM session, slot) -> frames persisted here, oldest first
_held: dict[tuple, list[DataFrame]] = {}


def hold(df: DataFrame, slot: str, keep: int) -> DataFrame:
    """``df`` as is when Spark already caches its plan, else persisted
    and recorded under its session's ``slot``, unpersisting that slot's
    oldest frames so at most ``keep`` stay held."""
    with _lock:
        if df.storageLevel != StorageLevel.NONE:
            return df
        key = (df.sparkSession._jsparkSession, slot)
        held = _held.setdefault(key, [])
        # a frame cleared out of band holds nothing, and unpersisting it
        # later would drop a plan-equal successor's cache
        held[:] = [d for d in held if d.storageLevel != StorageLevel.NONE]
        while len(held) >= keep:
            held.pop(0).unpersist(blocking=False)
        held.append(df.persist())
    return df


def release(session: SparkSession) -> None:
    """Unpersist and forget every frame held for ``session``, in all
    slots — for a session that no later frame reads, such as the one a
    finished streaming query ran its micro-batches in."""
    jsession = session._jsparkSession
    with _lock:
        for key in [k for k in _held if k[0] == jsession]:
            for d in _held.pop(key):
                if d.storageLevel != StorageLevel.NONE:
                    d.unpersist(blocking=False)
