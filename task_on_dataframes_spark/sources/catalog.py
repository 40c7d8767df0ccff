"""The source catalog: the one resolver of every local parquet read.

Reading parquet without a schema makes Spark infer one, and that
inference (listing plus footer merge) runs as a Spark job on every
read. The catalog pays it at most once per version of a path:

* **Stamp.** A file is stamped by its ``(size, mtime_ns)``, a
  directory by the recursive listing of its data files with theirs
  (names starting with ``.``, or with ``_`` outside ``key=value``
  partition directories, are not data, as in Spark's own listing).
* **Memo.** Under that stamp it keeps the path's schema — per read
  options and per value of the session confs that change an inferred
  parquet schema (:data:`SCHEMA_CONFS`) — and, on first request, each
  data file's footer facts, read with pyarrow: its row groups' row
  counts and Spark's schema JSON. One entry per path (tuple): a
  re-stamped path replaces its entry, so a rewritten file or an added
  part file is seen on the next read.
* **Footer or inference.** Spark writes the frame's schema into every
  footer, and its inference returns that schema made nullable, at any
  :data:`SCHEMA_CONFS`. So a single path read without options, whose
  data files sit directly in it and carry one parseable Spark schema,
  takes it from the footers, with no job. Every other read is
  inferred by Spark, errors included.
* **Read.** :func:`read` hands the memoized schema to the reader.
  Whole DataFrames are never memoized: a fresh relation per call gives
  two reads of one table distinct attribute ids, which a same-table
  self-join needs.
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
import json
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

#: footer key under which Spark writes the schema of the frame it wrote
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"

#: least-recently-read entries beyond this many are dropped, so a
#: long-lived process that reads many short-lived temp dirs stays bounded
_MAX_ENTRIES = 1024

Stamp = tuple  # ((data file, size, mtime_ns), ...) of one path


@dataclass
class _Entry:
    stamps: tuple[Stamp, ...]
    #: (read options, SCHEMA_CONFS values) -> schema
    schemas: dict = field(default_factory=dict)
    #: rows of each row group of each data file, in stamp order; read
    #: on first use
    footers: Optional[tuple[tuple[int, ...], ...]] = None
    #: the Spark schema JSON all footers carry, if one; read with footers
    spark_schema: Optional[bytes] = None


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
        if not options and len(paths) == 1:
            schema = _footer_schema(paths[0], e)
        if schema is None:
            schema = spark.read.options(**options).parquet(*paths).schema
        e.schemas[key] = schema
    return schema


def _footer_schema(path: str, e: _Entry) -> Optional[StructType]:
    """The Spark schema all footers of ``path`` carry, made nullable as
    inference makes it, if its data files sit directly in it; else
    ``None``."""
    if any(
        os.sep in os.path.relpath(f, path) or _hidden(os.path.basename(f))
        for f, _, _ in e.stamps[0]
    ):
        return None
    try:
        meta = _footed(e).spark_schema
        return _nullable(StructType.fromJson(json.loads(meta))) if meta else None
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return None  # an unreadable footer, or a schema PySpark cannot parse


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


def _footed(e: Optional[_Entry]) -> Optional[_Entry]:
    """``e`` with its footer facts read once (``None`` for a path that
    cannot be stamped). Raises what pyarrow raises on a file it cannot
    read as parquet."""
    if e is not None and e.footers is None:
        import pyarrow.parquet as pq

        metas = [pq.ParquetFile(f).metadata for f, _, _ in e.stamps[0]]
        schemas = {(m.metadata or {}).get(_SPARK_SCHEMA) for m in metas}
        e.spark_schema = schemas.pop() if len(schemas) == 1 else None
        e.footers = tuple(
            tuple(m.row_group(i).num_rows for i in range(m.num_row_groups))
            for m in metas
        )
    return e


def row_groups(path: str) -> Optional[list[tuple[str, int, tuple[int, ...]]]]:
    """Each data file of ``path`` with its size and the row count of
    each of its row groups, in stamp order (data-file name order, which
    for a directory Spark wrote is its partition order), or ``None``
    when it cannot be stamped. Raises what pyarrow raises on a file it
    cannot read as parquet."""
    e = _footed(_entry((path,)))
    if e is None:
        return None
    return [(f, size, g) for g, (f, size, _) in zip(e.footers, e.stamps[0])]


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
