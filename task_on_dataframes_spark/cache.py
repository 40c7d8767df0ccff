"""Plan-keyed result cache — the reference's memoized async execution
(M10: serve.py:38-107) rebuilt on parquet.

The reference keys a pickle file by ``mmh3.hash(url_query)`` and a
Celery worker re-executes the whole pipeline on a miss. Here the key is
the md5 of the canonical plan serialization, the payload is a parquet
directory (columnar, splittable, reloadable by ANY Spark cluster), and
"async" is simply: the write is a Spark job, and a hit is a zero-work
``spark.read.parquet``. A sentinel ``_IN_PROGRESS`` marker plays the
role of the reference's datetime-in-pickle in-flight state.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from .plans.solve import Action


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
    def __init__(self, root: Optional[str] = None, max_workers: int = 4):
        self.root = root or os.path.join(tempfile.gettempdir(), "tada_spark_cache")
        os.makedirs(self.root, exist_ok=True)
        # background materialization: the reference hands the plan to a
        # Celery worker and polls a pickle marker (serve.py:47-107);
        # here a driver-side thread pool submits the Spark write job —
        # Spark job submission is thread-safe on one SparkSession, and
        # executors parallelize the work regardless of which driver
        # thread launched it.
        self._pool = ThreadPoolExecutor(
            max_workers=max_workers, thread_name_prefix="tada-cache"
        )
        self._futures: dict = {}
        self._lock = threading.Lock()

    def _dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def status(self, key: str) -> str:
        """'done' | 'in_progress' | 'error' | 'missing'
        (reference: serve.py:81-107)."""
        with self._lock:
            fut = self._futures.get(key)
        if fut is not None and not fut.done():
            # a live future outranks the filesystem: parquet overwrite
            # clears the directory (markers included) mid-write
            return "in_progress"
        return self.status_fs_unlocked(key)

    def error(self, key: str) -> Optional[str]:
        """Traceback text of a failed background materialization."""
        p = os.path.join(self.root, f"{key}._ERROR")
        if os.path.exists(p):
            with open(p) as fh:
                return fh.read()
        return None

    def submit(self, key: str, compute) -> str:
        """Kick off background materialization of ``compute()`` under
        ``key`` unless it is already done/in flight; returns the status
        AFTER the submit ('in_progress' on a fresh submit). The caller
        polls :meth:`status` — the reference's wait-page loop
        (serve.py:81-93)."""
        with self._lock:
            fut = self._futures.get(key)
            if fut is not None and not fut.done():
                return "in_progress"
            st = self.status_fs_unlocked(key)
            if st in ("done", "error"):
                return st
            d = self._dir(key)
            os.makedirs(d, exist_ok=True)
            open(os.path.join(d, "_IN_PROGRESS"), "w").close()
            self._futures[key] = self._pool.submit(self._run, key, compute)
        return "in_progress"

    def status_fs_unlocked(self, key: str) -> str:
        """The filesystem markers alone, ignoring in-flight futures —
        safe to call with ``self._lock`` held."""
        d = self._dir(key)
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            return "done"
        if os.path.exists(os.path.join(self.root, f"{key}._ERROR")):
            return "error"
        if os.path.exists(os.path.join(d, "_IN_PROGRESS")):
            return "in_progress"
        return "missing"

    def _run(self, key: str, compute) -> None:
        try:
            self.store(compute(), key)
        except Exception:
            with open(os.path.join(self.root, f"{key}._ERROR"), "w") as fh:
                fh.write(traceback.format_exc())
            shutil.rmtree(self._dir(key), ignore_errors=True)

    def load(self, spark: SparkSession, key: str) -> Optional[DataFrame]:
        if self.status(key) != "done":
            return None
        return spark.read.parquet(self._dir(key))

    def store(self, df: DataFrame, key: str) -> DataFrame:
        d = self._dir(key)
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_IN_PROGRESS"), "w").close()
        df.write.mode("overwrite").parquet(d)
        # parquet overwrite clears the marker file with the directory;
        # ensure it is gone even if the write path changes
        p = os.path.join(d, "_IN_PROGRESS")
        if os.path.exists(p):
            os.remove(p)
        return df

    def get_or_compute(
        self, spark: SparkSession, key: str, compute
    ) -> DataFrame:
        hit = self.load(spark, key)
        if hit is not None:
            return hit
        return self.store(compute(), key)

    def invalidate(self, key: str) -> None:
        shutil.rmtree(self._dir(key), ignore_errors=True)
        err = os.path.join(self.root, f"{key}._ERROR")
        if os.path.exists(err):
            os.remove(err)
        with self._lock:
            self._futures.pop(key, None)
