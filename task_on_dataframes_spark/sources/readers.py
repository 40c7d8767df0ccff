"""Distributed readers.

Parity targets: S1 glob source (reference: basic_tasks.py:12-18),
S2 whole-file read (basic_tasks.py:21-29), S3 CSV (browse.py:19-26),
S4 pickle -> parquet, S5 literal frames (external.py:7-13). The
reference's schema-only peek (``read_csv(nrows=1)``, browse.py:23) is
free on Spark: lazy DataFrames expose their schema without a job.
"""

from __future__ import annotations

from typing import Any, List, Optional, Sequence, Union

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog


def glob_source(
    spark: SparkSession, pattern: str, out: str = "path"
) -> DataFrame:
    """One row per file matching ``pattern`` — the reference's
    ``get_paths`` task. Uses the binaryFile source for distributed
    listing but prunes to metadata only (no content read: Catalyst
    drops the ``content`` column at the scan)."""
    return (
        spark.read.format("binaryFile")
        .load(pattern)
        .select(F.col("path").alias(out))
    )


def whole_file_text(
    spark: SparkSession,
    pattern: str,
    path_out: str = "path",
    text_out: str = "text",
) -> DataFrame:
    """Whole-file reads: one row per file with full contents — the
    reference's ``get_text`` (open().read() per row). ``spark.read.text``
    with ``wholetext`` distributes the reads; ``input_file_name`` keeps
    the path beside the content, replacing the pandas index join."""
    return (
        spark.read.text(pattern, wholetext=True)
        .select(
            F.input_file_name().alias(path_out),
            F.col("value").alias(text_out),
        )
    )


def csv_source(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema: Optional[str] = None,
) -> DataFrame:
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def parquet_source(spark: SparkSession, path: str) -> DataFrame:
    return catalog.read(spark, path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP regardless of the
    physical parquet layout the testdata generation used:

    * INT64 TIMESTAMP_MICROS with ``isAdjustedToUTC=0`` (current): Spark
      reads TIMESTAMP_NTZ; cast to TIMESTAMP so windowing/watermark ops
      work and the wall clock round-trips identically to DuckDB's naive
      reading (NTZ -> TIMESTAMP -> collect is wall-clock identity in any
      single-timezone process).
    * INT64 TIMESTAMP(NANOS) (older): arrives as BIGINT via
      ``nanosAsLong``; rebuild microsecond timestamps with integer
      division (a floor through float64 loses 1us at ~1.7e18 nanos).
    * plain TIMESTAMP: already right.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Schema-faithful read of the events table. Only mutates the
    session conf (``nanosAsLong``) when Spark rejects the legacy
    TIMESTAMP(NANOS) layout (``PARQUET_TYPE_ILLEGAL``); any other error
    propagates with the conf untouched. The conf is part of the
    catalog's schema key, so the retry infers afresh and a warm read of
    either layout launches no job."""
    try:
        return catalog.read(spark, path)
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return catalog.read(spark, path)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Events reader: raw read + ``ts`` normalization to TIMESTAMP."""
    return normalize_events_ts(read_events_raw(spark, path))


def json_source(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def literal_source(
    spark: SparkSession,
    rows: Sequence[Union[tuple, dict, Any]],
    schema: Union[str, List[str], None] = None,
) -> DataFrame:
    """Literal in-memory frame (reference: pd.Series([...]).to_frame())."""
    return spark.createDataFrame(rows, schema)


def schema_peek(spark: SparkSession, path: str, fmt: str = "parquet") -> List[str]:
    """Column names without reading data — replaces the reference's
    1-row CSV read (browse.py:23, 42-48); on Spark only file footers /
    headers are touched, and a parquet schema the catalog has seen at
    the path's current stamp is not read again."""
    if fmt == "parquet":
        return catalog.schema_of(spark, path).names
    if fmt == "csv":
        return spark.read.option("header", True).csv(path).columns
    raise ValueError(f"unsupported format: {fmt}")
