"""Tracing from outside the package, for the traced run only.

* :class:`Tracer` keeps spans in memory (name, start, end, parent, run
  id, request id) and counters; they are written once when the run ends.
* :func:`instrument` wraps the public functions at each layer boundary
  (planner, runtime, cache, browse, view) by replacing every reference
  to them in the loaded package modules, so by-name imports are covered.
* :func:`read_event_log` sums the Spark event log per job group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from typing import Callable, Iterator, Optional

from stats import Span

PACKAGE = "task_on_dataframes_spark"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.request_id = ""
        #: spans and counts are recorded only while enabled (timed loop)
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                Span(sid, name, time.perf_counter(), 0.0,
                     stack[-1] if stack else None, self.run_id, self.request_id)
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def dump(self, path: str, layers: dict[str, float]) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "layers": layers,
                    "counts": self.counts,
                    "spans": [vars(s) for s in self.spans],
                },
                fh,
            )


def _replace_everywhere(original: Callable, wrapper: Callable) -> None:
    """Point every module-level reference to ``original`` inside the
    package at ``wrapper``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def _wrap_function(tracer: Tracer, original: Callable, span: str,
                   after: Optional[Callable] = None) -> None:
    @functools.wraps(original)
    def wrapper(*args, **kwargs):
        with tracer.span(span):
            out = original(*args, **kwargs)
        if after is not None:
            after(out)
        return out

    _replace_everywhere(original, wrapper)


def _wrap_method(tracer: Tracer, cls: type, method: str, span: str,
                 before: Optional[Callable] = None) -> None:
    original = getattr(cls, method)

    @functools.wraps(original)
    def wrapper(self, *args, **kwargs):
        if before is not None:
            before(self, *args, **kwargs)
        with tracer.span(span):
            return original(self, *args, **kwargs)

    setattr(cls, method, wrapper)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / 1e6


def instrument(tracer: Tracer) -> None:
    """Wrap the layer boundaries named in the benchmark's README."""
    import importlib

    for mod in ("plans.solve", "runtime", "cache", "browse", "view", "serve"):
        importlib.import_module(f"{PACKAGE}.{mod}")
    solve = sys.modules[f"{PACKAGE}.plans.solve"]
    runtime = sys.modules[f"{PACKAGE}.runtime"]
    cache = sys.modules[f"{PACKAGE}.cache"]
    browse = sys.modules[f"{PACKAGE}.browse"]
    view = sys.modules[f"{PACKAGE}.view"]

    _wrap_function(tracer, solve.find_path, "plans.find_path")
    _wrap_function(
        tracer, solve.actions_given_state, "plans.actions_given_state",
        after=lambda acts: tracer.count("plans.actions_enumerated", len(acts)),
    )
    _wrap_function(tracer, runtime.call_task, "runtime.call_task")
    for fn in (view.page, view.to_html, view.to_csv):
        _wrap_function(tracer, fn, "view.page")

    _wrap_method(tracer, browse.BrowseState, "further_actions", "plans.lookahead")
    original_decode = browse.BrowseState.from_url_q.__func__

    @classmethod
    def from_url_q(cls, *args, **kwargs):
        with tracer.span("browse.decode"):
            return original_decode(cls, *args, **kwargs)

    browse.BrowseState.from_url_q = from_url_q

    def lookup(self, spark, key, compute):
        tracer.count("cache.lookups")
        if self.status(key) == "done":
            tracer.count("cache.hits")

    _wrap_method(tracer, cache.ResultCache, "get_or_compute", "cache.get_or_compute",
                 before=lookup)
    _wrap_method(tracer, cache.ResultCache, "load", "cache.load")
    original_store = cache.ResultCache.store

    def store(self, df, key):
        with tracer.span("cache.store"):
            out = original_store(self, df, key)
        tracer.count("cache.stored_mb", _dir_mb(self._dir(key)))
        return out

    cache.ResultCache.store = store


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job-group phase (the text after the last ``|`` of the group
    id, or ``""`` for jobs outside any group): jobs, stages, task
    seconds, shuffle-write MB, spill MB and failed tasks."""
    stage_phase: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = {}

    def row(phase: str) -> dict[str, float]:
        return out.setdefault(phase, {
            "jobs": 0, "stages": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "failed_tasks": 0,
        })

    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in paths:
        # one application per top-level entry (a file, or a rolling-log dir)
        app = os.path.relpath(path, log_dir).split(os.sep)[0]
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    phase = group.rsplit("|", 1)[-1] if "|" in group else ""
                    row(phase)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[(app, sid)] = phase
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    row(stage_phase.get((app, sid), ""))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    r = row(stage_phase.get((app, ev["Stage ID"]), ""))
                    if ev.get("Task Info", {}).get("Failed"):
                        r["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    r["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    r["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
    return out
