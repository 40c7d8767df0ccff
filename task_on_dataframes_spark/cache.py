"""Plan-keyed result cache — the reference's memoized execution
(M10: serve.py:38-107) rebuilt on parquet.

The reference keys a pickle file by ``mmh3.hash(url_query)`` and a
Celery worker re-executes the whole pipeline on a miss. Here the key is
the md5 of the canonical plan serialization and the payload is a
parquet directory (columnar, splittable, reloadable by ANY Spark
cluster). There is one synchronous path, :meth:`ResultCache.
get_or_compute`, which holds a per-key lock: a miss computes and
stores, so concurrent callers of one key wait for a single
computation, and every caller gets the stored result's schema back
from the catalog memo (:func:`.sources.catalog.schema_of`), building
no Spark relation. :meth:`ResultCache.load` reads it as a frame.

No stored result costs a Spark job to describe or to page, in the
process that stored it or in any other: the catalog reads its schema
(Spark's own, which Spark wrote into every footer) and its row-group
row counts from its parquet footers with pyarrow, memoized under the
directory's stamp, so :func:`.view.page` reads a page from the row
groups that hold it, with no inference job, no ``count()`` and no
collect.

The key names the plan, not the data it read: the catalog records the
stamp of every parquet source resolved while ``compute()`` and the
write run, and those go into a ``_sources.json`` sidecar beside
Spark's ``_SUCCESS``, written after the commit. The sidecar is the
"done" signal, and a result whose sources no longer have the recorded
stamps is a miss, so a rewritten source is recomputed instead of
served stale. A failed computation stores nothing, and the next call
computes again.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import threading
from collections import defaultdict
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .plans.solve import Action
from .sources import catalog

#: beside ``_SUCCESS``: ``{source path: stamp digest}`` the result read
_SOURCES = "_sources.json"


def plan_key(actions: List[Action], goal: List[str]) -> str:
    """Stable digest of a plan: task names, bindings, returns, goal."""
    payload = json.dumps(
        {
            "goal": sorted(goal),
            "actions": [
                {
                    "task": a.Task,
                    "bindings": [
                        [b.frame, b.column, b.arg, repr(b.var), b.req_index]
                        for b in a.Bindings
                    ],
                    "returns": [[p if p is not None else -1, n] for p, n in a.Returns],
                }
                for a in actions
            ],
        },
        sort_keys=True,
    )
    return hashlib.md5(payload.encode()).hexdigest()


class ResultCache:
    def __init__(self, root: Optional[str] = None):
        self.root = root or os.path.join(tempfile.gettempdir(), "tada_spark_cache")
        os.makedirs(self.root, exist_ok=True)
        self._locks: defaultdict = defaultdict(threading.Lock)
        self._guard = threading.Lock()

    def _dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def status(self, key: str) -> str:
        """'done' once the sources sidecar is written and every source
        it names still has its recorded stamp, else 'missing'."""
        try:
            with open(os.path.join(self._dir(key), _SOURCES)) as fh:
                sources = json.load(fh)
        except (OSError, ValueError):
            return "missing"
        return "done" if catalog.unchanged(sources) else "missing"

    def load(self, spark: SparkSession, key: str) -> Optional[DataFrame]:
        if self.status(key) != "done":
            return None
        return catalog.read(spark, self._dir(key))

    def store(self, df: DataFrame, key: str) -> None:
        df.write.mode("overwrite").parquet(self._dir(key))

    def get_or_compute(
        self, spark: SparkSession, key: str, compute
    ) -> StructType:
        """The schema of the result stored in ``_dir(key)``, computing
        and storing ``compute()`` first on a miss — at most once at a
        time per key. If ``compute`` or the write raises, nothing stays
        stored and the exception propagates."""
        with self._guard:
            lock = self._locks[key]
        with lock:
            if self.status(key) != "done":
                try:
                    with catalog.recording() as sources:
                        self.store(compute(), key)
                    side = os.path.join(self._dir(key), _SOURCES)
                    with open(side + ".tmp", "w") as fh:
                        json.dump(sources, fh)
                    os.replace(side + ".tmp", side)
                except BaseException:
                    shutil.rmtree(self._dir(key), ignore_errors=True)
                    raise
            return catalog.schema_of(spark, self._dir(key))
