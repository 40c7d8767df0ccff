"""Persisted bucketed index tables: the one write path.

Every table the engine persists for later shuffle-free probes — the
LSH keys/sets pair (:mod:`.dedup`), the IVF centroid/list pair
(:mod:`.similarity`), the ``s13_bucketed_join`` layout — is written by
:func:`..sources.writers.bucketed_table_sink` through one of three
verbs, each over a list of ``(table, frame, key)`` specs (``key`` is
the bucket+sort column; ``None`` writes a plain table):

* :func:`build_tables` — fresh external tables at ``base/<table>``;
* :func:`append_tables` — additional bucketed+sorted files into
  existing tables; the existing files are never read or rewritten;
* :func:`compact_tables` — rewrite existing tables under new names
  into one sorted file per bucket.

The specs of one call are independent tables, written as concurrent
driver-submitted jobs (:func:`_parallel_writes`). Callers compute the
frames — and materialize any frame the specs share — before calling.
"""

from __future__ import annotations

import os
import tempfile
from typing import Optional

from ..sources import catalog
from ..sources.writers import bucketed_table_sink


def _parallel_writes(fn, jobs) -> None:
    """Run independent table writes as concurrent driver-submitted
    jobs (guide §2.6: actions are only sequential because driver code
    calls them sequentially — two jobs writing disjoint tables can
    back-fill each other's straggler tails). Two in flight is plenty;
    exceptions propagate to the caller.

    Each job runs under ``inheritable_thread_target``: a plain pool
    thread starts with EMPTY JVM-thread-local properties under PySpark
    pinned-thread mode, so the caller's job group / description /
    scheduler pool would silently not apply to these writes
    (cancelJobGroup would miss them, the UI would mislabel them). The
    wrapper captures the submitting thread's properties at wrap time
    and installs them in the worker thread.

    Failure contract: if one write raises, the sibling still runs to
    completion before the exception propagates (pool.map drains), so
    the caller can observe AT MOST ONE table updated — the same
    partial state a sequential loop leaves when its first write lands
    and its second raises. :func:`append_tables` callers
    (append_lsh_index / append_ivf_index) treat any exception as
    index-poisoning and must rebuild or compact under a fresh tag
    before further probes; :func:`build_tables` writes fresh tables, so
    a failed half is never returned to the caller, and a retried build
    rewrites both."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    jobs = list(jobs)
    if len(jobs) <= 1:
        for j in jobs:
            fn(j)
        return
    # the session form inherits TAGS as well as local properties (the
    # bare-callable form copies properties only, and warns)
    sess = SparkSession.getActiveSession()
    wrapped = (
        inheritable_thread_target(sess)(fn)
        if sess is not None
        else inheritable_thread_target(fn)
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(wrapped, jobs))


def _write_tables(
    specs, n_buckets: int, mode: str, base: Optional[str] = None
) -> None:
    """Write the specs concurrently. In ``overwrite`` mode every
    spec's table is first DROPped, one after another on this thread:
    catalog DDL stays single-threaded (two pool threads dropping and
    creating tables at once have failed inside ``DROP TABLE IF
    EXISTS`` with ``NumberFormatException: Cannot parse null
    string``), and only the data writes overlap."""
    specs = list(specs)
    if mode == "overwrite":
        for table, df, _ in specs:
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")

    def write(spec):
        table, df, key = spec
        bucketed_table_sink(
            df,
            table,
            [key] if key else [],
            n_buckets,
            path=f"{base}/{table}" if base else None,
            mode=mode,
        )

    _parallel_writes(write, specs)


def build_tables(
    specs, n_buckets: int, base_path: Optional[str] = None
) -> None:
    """Write each ``(table, frame, key)`` spec as a fresh external
    table at ``base_path/<table>`` (a new temp dir by default: an
    in-memory catalog forgets tables across sessions while their
    directories linger). The repartition-before-write layout rule
    (see :func:`bucketed_table_sink`) costs one index-row-sized
    shuffle, paid once per build."""
    base = base_path or tempfile.mkdtemp(prefix="tada_index_")
    _write_tables(specs, n_buckets, "overwrite", base)


def append_tables(specs, n_buckets: int) -> None:
    """Append each ``(table, frame, key)`` spec into its existing
    table. Each append adds at most one sorted file per occupied
    bucket, so file listing and a merge join's per-bucket local sort
    grow per WAVE, not per wave x partition; bucket pruning and the
    no-Exchange probe join are file-count-independent."""
    _write_tables(specs, n_buckets, "append")


def _path_reread(spark, table: str):
    """``table``'s rows read by PATH, not through the catalog: the
    catalog table's bucket spec advertises ``HashPartitioning(key,
    n)``, so Catalyst would drop a ``repartition`` on it as redundant
    and then scan the files in arbitrary non-bucketed splits,
    scattering each bucket across tasks (observed: 11 files for 8
    buckets). A path read has unknown partitioning, so the shuffle
    survives and task id == bucket id. A zero-file table (built empty,
    or fully vacuumed) reads as an empty frame rather than
    IndexError."""
    cat = spark.table(table)
    files = cat.inputFiles()
    if not files:
        return spark.createDataFrame([], cat.schema)
    return catalog.read(
        spark, os.path.dirname(files[0]), schema=cat.schema
    )


def compact_tables(
    spark, specs, n_buckets: int, base_path: Optional[str] = None
) -> None:
    """Rewrite each ``(source_table, new_table, key)`` spec into a
    fresh table holding one sorted file per bucket — the amortized
    maintenance pass (the Iceberg/Delta ``rewrite_data_files`` analog
    for this layout). Cost: one shuffle of the INDEX rows, once per
    compaction window. The sources are left for the caller to drop
    once readers drain (snapshot-style swap, never in-place)."""
    build_tables(
        [(new, _path_reread(spark, src), key) for src, new, key in specs],
        n_buckets,
        base_path,
    )
