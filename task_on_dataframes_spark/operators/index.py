"""Persisted bucketed index tables: the one write path and its commit.

Every table the engine persists for later shuffle-free probes — the
LSH keys/sets pair (:mod:`.dedup`), the IVF list/centroid pair
(:mod:`.similarity`), the ``s13_bucketed_join`` layout — is written
here through one of three verbs over ``(table, frame, key)`` specs
(``key`` is the bucket+sort column; ``None`` writes a plain table).
The first spec's table is the index's HEAD.

Every table is partitioned by a string column ``gen``; each verb
writes one generation (one ``gen`` partition per table) and ends in
ONE commit, after all its data writes succeeded: the head's table
property ``tada.gens``, the committed generations in order. Readers
see only those (:func:`read_committed`), so a call that raises
before its commit leaves the committed index as it was, and a retry
overwrites the invisible partial generation.

* :func:`build_tables` — fresh external tables holding gen ``0``;
* :func:`append_tables` — one more generation; the committed ones are
  never read or rewritten;
* :func:`compact_tables` — the committed generations rewritten in
  place as one generation of one sorted file per bucket.

The specs of one call are independent tables, written as concurrent
driver-submitted jobs (:func:`_parallel_writes`). Callers compute the
frames — and materialize any frame the specs share — before calling.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import Optional

from pyspark.sql import functions as F

from ..sources import catalog
from ..sources.writers import bucketed_table_sink

#: the head-table property listing an index's committed generations
GENS = "tada.gens"


def _parallel_writes(spark, fn, jobs) -> None:
    """Run independent table writes as concurrent driver-submitted
    jobs (guide §2.6: two jobs writing disjoint tables can back-fill
    each other's straggler tails). Two in flight is plenty. If one
    write raises, the sibling still runs to completion before the
    exception propagates (pool.map drains), and the caller never
    reaches its commit.

    Each job runs under ``inheritable_thread_target(spark)``: a plain
    pool thread starts with EMPTY JVM-thread-local properties under
    PySpark pinned-thread mode, so the caller's job group, description,
    tags and scheduler pool would silently not apply to these writes."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(inheritable_thread_target(spark)(fn), jobs))


def _catalog_entry(spark, table: str):
    """``table``'s session-catalog entry, or ``None`` when it does not
    exist. Read from the catalog directly: a ``SHOW TBLPROPERTIES`` or
    ``DESCRIBE`` statement costs ~40 ms of driver time per call, this
    ~3 ms, and every probe reads the commit."""
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table)
    exists = state.catalog().tableExists(ident)
    return state.catalog().getTableMetadata(ident) if exists else None


def committed(spark, head: str) -> list:
    """The committed generations of the index headed by ``head``, in
    commit order; ``[]`` when the table is missing or never committed
    (a half-built index). A catalog lookup: it launches no job."""
    entry = _catalog_entry(spark, head)
    gens = None if entry is None else entry.properties().get(GENS)
    return gens.get().split(",") if gens is not None and gens.isDefined() else []


def read_committed(spark, head: str, *tables: str) -> list:
    """``head`` and the other ``tables`` of its index, each filtered to
    the committed generations: one snapshot, taken now. The filter
    prunes partitions at the scan and keeps the bucketed read."""
    gens = committed(spark, head)
    return [spark.table(t).where(F.col("gen").isin(gens)) for t in (head, *tables)]


def _commit(spark, head: str, gens: list) -> None:
    spark.sql(f"ALTER TABLE {head} SET TBLPROPERTIES ('{GENS}' = '{','.join(gens)}')")


def _next_gen(gens: list) -> str:
    """One past the largest integer label (a label the caller chose,
    like the streaming drain's, is not an integer)."""
    return str(1 + max((int(g) for g in gens if g.isdigit()), default=-1))


def _write_gen(spec, n_buckets: int, gen: str) -> None:
    """Overwrite partition ``gen`` of the spec's table, and no other,
    with the frame placed by ``repartition(n_buckets, key)``: one
    sorted file per bucket (:func:`bucketed_table_sink`'s layout rule)."""
    table, df, key = spec
    spark = df.sparkSession
    cols = ", ".join(f"`{c}`" for c in spark.table(table).columns if c != "gen")
    spark.sql(
        f"INSERT OVERWRITE TABLE {table} PARTITION (gen='{gen}') "
        f"SELECT {cols} FROM {{df}}",
        df=df.repartition(n_buckets, key) if key else df,
    )


def build_tables(specs, n_buckets: int) -> None:
    """Create each ``(table, frame, key)`` spec as a fresh external
    table holding gen ``0`` at a new temp directory (an in-memory
    catalog forgets tables across sessions while their directories
    linger), then commit ``["0"]``. Tables of the same names are
    DROPped first, one after another on this thread: catalog DDL stays
    single-threaded, only the data writes overlap."""
    spark = specs[0][1].sparkSession
    base = tempfile.mkdtemp(prefix="tada_index_")
    for table, _, _ in specs:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    def create(spec):
        table, df, key = spec
        bucketed_table_sink(
            df.withColumn("gen", F.lit("0")), table, [key] if key else [],
            n_buckets, path=f"{base}/{table}", partition_cols=["gen"],
        )

    _parallel_writes(spark, create, specs)
    _commit(spark, specs[0][0], ["0"])


def append_tables(specs, n_buckets: int, gen: Optional[str] = None) -> None:
    """Write each ``(table, frame, key)`` spec as generation ``gen``
    (default: the next integer label) of its table, then commit it
    after the committed ones; a no-op when ``gen`` is committed. Each
    append adds at most one sorted file per occupied bucket, so file
    listing and a merge join's per-bucket local sort grow per WAVE;
    bucket pruning and the no-Exchange probe join are
    file-count-independent."""
    spark = specs[0][1].sparkSession
    gens = committed(spark, specs[0][0])
    if gen in gens:
        return
    gen = gen or _next_gen(gens)
    _parallel_writes(spark, lambda s: _write_gen(s, n_buckets, gen), specs)
    _commit(spark, specs[0][0], gens + [gen])


def _path_reread(spark, table: str, gens: list):
    """``table``'s rows of generations ``gens`` read by PATH, not
    through the catalog: the catalog table's bucket spec advertises
    ``HashPartitioning(key, n)``, so Catalyst would drop a
    ``repartition`` on it as redundant and then scan the files in
    arbitrary non-bucketed splits, scattering each bucket across tasks
    (observed: 11 files for 8 buckets). A path read has unknown
    partitioning, so the shuffle survives and task id == bucket id;
    ``basePath`` keeps ``gen`` a partition column. A zero-file table
    (built empty) reads as an empty frame rather than IndexError."""
    cat = spark.table(table)
    files = cat.where(F.col("gen").isin(gens)).inputFiles()
    if not files:
        return spark.createDataFrame([], cat.schema)
    dirs = sorted({os.path.dirname(f) for f in files})
    base = os.path.dirname(dirs[0])
    return catalog.read(spark, *dirs, schema=cat.schema, basePath=base)


def _drop_gens_except(spark, table: str, keep: str) -> None:
    """Drop every partition of ``table`` but ``gen=keep`` and remove
    its directory (dropping a partition of an external table keeps its
    files)."""
    loc = _catalog_entry(spark, table).location().getPath()
    for d in glob.glob(os.path.join(loc, "gen=*")):
        gen = d.rsplit("=", 1)[1]
        if gen != keep:
            spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (gen='{gen}')")
            shutil.rmtree(d)


def compact_tables(spark, specs, n_buckets: int) -> None:
    """Rewrite the committed generations of each ``(table, key)`` spec
    (head first) in place as ONE new generation of one sorted file per
    bucket — the Iceberg/Delta ``rewrite_data_files`` analog for this
    layout, costing one shuffle of the INDEX rows — commit it alone,
    then drop every other partition. Until the commit, readers see the
    old generations."""
    gens = committed(spark, specs[0][0])
    new = _next_gen(gens)
    _parallel_writes(
        spark,
        lambda s: _write_gen(
            (s[0], _path_reread(spark, s[0], gens), s[1]), n_buckets, new
        ),
        specs,
    )
    _commit(spark, specs[0][0], [new])
    for table, _ in specs:
        _drop_gens_except(spark, table, new)
