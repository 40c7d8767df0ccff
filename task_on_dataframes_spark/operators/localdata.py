"""Driver-local result rows -> DataFrame via Arrow.

``spark.createDataFrame(list_of_tuples, schema)`` distributes the
PICKLED rows across ``defaultParallelism`` Python-worker tasks — for
the dimension-bounded driver frames these operators produce (the
pagerank local iteration, union-find component maps, BPE merge
tables, PCA loadings: all <5k rows by construction) that is ~32
worker spawns and pickle round-trips for a few KB of data, and
tens of blocked task-seconds in a fresh session. The
Arrow path (`spark.sql.execution.arrow.pyspark.enabled`, on in
session.py) converts the rows to Arrow record batches ON THE DRIVER
and ships them straight to the JVM: the resulting scan runs zero
Python-worker tasks at action time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_frame(spark, rows: list, schema: str) -> DataFrame:
    """DataFrame from a SMALL driver-local list of tuples.

    Value-identical to ``spark.createDataFrame(rows, schema)`` for the
    types these operators emit (ints, floats, strings — all roundtrip
    Arrow exactly; the declared schema coerces widths the same way the
    pickle path does), but the plan scans driver-built Arrow batches
    instead of fanning the pickled list across Python workers. Any
    conversion surprise falls back to the classic path, so behaviour
    can only ever match."""
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        st = StructType.fromDDL(schema)
        pdf = pd.DataFrame(rows, columns=st.names)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema)
