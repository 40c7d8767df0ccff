"""The source catalog: the one resolver of every local parquet read.

Reading parquet without a schema makes Spark infer one, and that
inference (listing plus footer merge) runs as a Spark job on every
read. The catalog pays it once per version of a path:

* **Stamp.** A file is stamped by its ``(size, mtime_ns)``, a
  directory by the recursive listing of its data files with theirs
  (names starting with ``.``, or with ``_`` outside ``key=value``
  partition directories, are not data, as in Spark's own listing).
* **Memo.** Under that stamp it keeps the schema Spark inferred — per
  read options and per value of the session confs that change an
  inferred parquet schema (:data:`SCHEMA_CONFS`) — and, on first
  request, the row count of each row group of each data file, read
  from the footers with pyarrow. One entry per path (tuple): a
  re-stamped path replaces its entry, so a rewritten file or an added
  part file is seen on the next read.
* **Seed.** A path Spark has just written needs no inference at all:
  :func:`seed` files the writer's schema, every field made nullable,
  under the new stamp. On Spark-written parquet that is exactly what
  inference returns, because Spark's row metadata in the footer wins
  over converting the parquet schema and file sources force
  nullability (``tests/test_catalog.py`` pins the equivalence).
* **Read.** :func:`read` hands the memoized schema to the reader, so a
  warm read launches no job. Every call still builds a fresh relation:
  two reads of one table get distinct attribute ids, which a
  same-table self-join needs. Whole DataFrames are never memoized.
* Paths the local filesystem cannot stat (``s3://``, ``hdfs://``,
  globs, missing paths) skip the memo and read exactly as
  ``spark.read.parquet`` does, errors included.

Inside :func:`recording`, every stamped path is also recorded with a
digest of its stamp; :class:`..cache.ResultCache` stores those beside a
result and treats a result whose sources re-stamp differently as a miss
(:func:`unchanged`).
"""

from __future__ import annotations

import contextlib
import contextvars
import hashlib
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

#: session confs whose value changes the schema Spark infers from parquet
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: least-recently-read entries beyond this many are dropped, so a
#: long-lived process that reads many short-lived temp dirs stays bounded
_MAX_ENTRIES = 1024

Stamp = tuple  # ((data file, size, mtime_ns), ...) of one path


@dataclass
class _Entry:
    stamps: tuple[Stamp, ...]
    #: (read options, SCHEMA_CONFS values) -> inferred or seeded schema
    schemas: dict = field(default_factory=dict)
    #: rows of each row group of each data file, in stamp order; read
    #: on first use
    footers: Optional[tuple[tuple[int, ...], ...]] = None


_MEMO: "OrderedDict[tuple[str, ...], _Entry]" = OrderedDict()
_LOCK = threading.Lock()
_RECORDING: contextvars.ContextVar[Optional[dict]] = contextvars.ContextVar(
    "tada_catalog_recording", default=None
)


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _stamp(path: str) -> Stamp:
    """The stamp of ``path``; raises ``OSError`` if it cannot be statted."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                st = os.stat(os.path.join(root, f))
                out.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _digest(s: Stamp) -> str:
    return hashlib.md5(repr(s).encode()).hexdigest()


def _entry(paths: tuple[str, ...]) -> Optional[_Entry]:
    """The memo entry of ``paths`` at their current stamps (replacing a
    stale one), or ``None`` when a path cannot be stamped."""
    if any("://" in p for p in paths):
        return None
    try:
        stamps = tuple(_stamp(p) for p in paths)
    except OSError:
        return None
    seen = _RECORDING.get()
    if seen is not None:
        seen.update((p, _digest(s)) for p, s in zip(paths, stamps))
    with _LOCK:
        e = _MEMO.get(paths)
        if e is None or e.stamps != stamps:
            e = _MEMO[paths] = _Entry(stamps)
            while len(_MEMO) > _MAX_ENTRIES:
                _MEMO.popitem(last=False)
        else:
            _MEMO.move_to_end(paths)
    return e


def _schema_key(spark: SparkSession, options: dict) -> tuple:
    return (
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c) for c in SCHEMA_CONFS),
    )


def _schema(
    spark: SparkSession, paths: tuple[str, ...], options: dict
) -> Optional[StructType]:
    e = _entry(paths)
    if e is None:
        return None
    key = _schema_key(spark, options)
    schema = e.schemas.get(key)
    if schema is None:
        schema = spark.read.options(**options).parquet(*paths).schema
        e.schemas[key] = schema
    return schema


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable
    (Spark's ``DataType.asNullable``)."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def seed(spark: SparkSession, path: str, schema: StructType) -> None:
    """File ``schema`` (the schema of the frame Spark just wrote to
    ``path``), made nullable, as what :func:`read` without options
    gives ``path`` at its current stamp, so reading it runs no
    inference job. A path that cannot be stamped is left alone."""
    e = _entry((path,))
    if e is not None:
        e.schemas[_schema_key(spark, {})] = _nullable(schema)


def read(
    spark: SparkSession,
    *paths: str,
    schema: Optional[StructType] = None,
    **options,
) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)`` with the
    memoized schema: a fresh relation, and no inference job once the
    paths' current stamps are known. A given ``schema`` is used as is
    (the paths are still stamped, so a recording sees them)."""
    paths = tuple(paths)
    if schema is None:
        schema = _schema(spark, paths, options)
    else:
        _entry(paths)
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def schema_of(spark: SparkSession, path: str, **options) -> StructType:
    """The schema :func:`read` gives ``path``, from the memo when
    ``path`` can be stamped (no relation built once it is known)."""
    schema = _schema(spark, (path,), options)
    return read(spark, path, **options).schema if schema is None else schema


def _footed(path: str) -> Optional[_Entry]:
    """The memo entry of ``path`` with its footer facts read, or
    ``None`` when it cannot be stamped. Raises what pyarrow raises on
    a file it cannot read as parquet."""
    e = _entry((path,))
    if e is not None and e.footers is None:
        import pyarrow.parquet as pq

        metas = [pq.ParquetFile(f).metadata for f, _, _ in e.stamps[0]]
        e.footers = tuple(
            tuple(m.row_group(i).num_rows for i in range(m.num_row_groups))
            for m in metas
        )
    return e


def footer(path: str) -> Optional[list[tuple[int, int]]]:
    """``(row groups, bytes)`` of each data file of ``path``, or
    ``None`` when it cannot be stamped. Raises what pyarrow raises on
    a file it cannot read as parquet."""
    e = _footed(path)
    if e is None:
        return None
    return [(len(g), size) for g, (_, size, _) in zip(e.footers, e.stamps[0])]


def row_groups(path: str) -> Optional[list[tuple[str, tuple[int, ...]]]]:
    """Each data file of ``path`` with the row count of each of its
    row groups, in stamp order (data-file name order, which for a
    directory Spark wrote is its partition order), or ``None`` when it
    cannot be stamped. Raises what pyarrow raises on a file it cannot
    read as parquet."""
    e = _footed(path)
    if e is None:
        return None
    return [(f, g) for g, (f, _, _) in zip(e.footers, e.stamps[0])]


def rows(path: str) -> Optional[int]:
    """The row count of ``path`` summed from its data files' parquet
    footers — what ``read(spark, path).count()`` returns, with no
    Spark job — or ``None`` when it cannot be stamped."""
    e = _footed(path)
    return None if e is None else sum(map(sum, e.footers))


@contextlib.contextmanager
def recording() -> Iterator[dict[str, str]]:
    """Collect ``{path: stamp digest}`` of every path stamped in this
    context. The context is this thread's: paths stamped on a thread
    started inside it are not recorded."""
    seen: dict[str, str] = {}
    token = _RECORDING.set(seen)
    try:
        yield seen
    finally:
        _RECORDING.reset(token)


def unchanged(recorded: dict[str, str]) -> bool:
    """Whether every recorded path still has the stamp it had."""
    try:
        return all(_digest(_stamp(p)) == d for p, d in recorded.items())
    except OSError:
        return False
