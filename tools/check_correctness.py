"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and the matching
``oracle_sql()`` through DuckDB on the same parquet, then compares
row count, sorted column names, and order-insensitive values
(floats rounded to 6 significant decimals before comparison).
The last line counts the codegen classes the sweep compiled (the
registry's working set when ``spark.sql.codegen.cache.maxEntries``
evicts none) and the driver JVM's Metaspace used after a full GC.

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Spark's Python workers import the package too: they inherit the
# PYTHONPATH of the JVM, which get_spark starts from this environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (HERE, os.environ.get("PYTHONPATH")))
)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def duck_conn():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
        elif df[c].dtype == object:
            # DuckDB HUGEINT/DECIMAL can arrive as object-of-ints
            try:
                df[c] = pd.to_numeric(df[c]).astype("float64").round(6)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(only: list[str]) -> int:
    import __spark_entry__ as entrymod
    from task_on_dataframes_spark.session import get_spark

    spark = get_spark("check-correctness", master="local[8]", shuffle_partitions=8)
    con = duck_conn()
    qs = entrymod.queries()
    # foreachBatch queries start the py4j CALLBACK server, after
    # which the next toPandas result-socket handshake can flakily
    # deadlock (JVM parked in SocketAuthServer.getResult, observed
    # 3x in long sweeps). Run them LAST so a flake cannot poison
    # the rest of the sweep; full_sweep's timeout+retry covers the
    # tail.
    _cb_tainted = ("stream_mv_upsert", "stream_cms")
    qs = {
        **{n: f for n, f in qs.items() if n not in _cb_tainted},
        **{n: qs[n] for n in _cb_tainted if n in qs},
    }
    oracles = entrymod.oracle_sql()
    jvm = spark._jvm

    def compiles() -> int:
        return jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME().getCount()

    def metaspace_mb() -> float:
        jvm.System.gc()  # unload evicted classes: count what stays loaded
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return sum(p.getUsage().getUsed() for p in pools
                   if p.getName() == "Metaspace") / 2**20

    compiled_before = compiles()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        # harmonize numeric dtypes pairwise (DuckDB HUGEINT sums arrive
        # as float64/object while Spark yields int64)
        for c in set(s.columns) & set(o.columns):
            kinds = {s[c].dtype.kind, o[c].dtype.kind}
            if kinds <= {"i", "f", "u"} and len(kinds) > 1:
                s[c] = s[c].astype("float64").round(6)
                o[c] = o[c].astype("float64").round(6)
        s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
        o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: columns {list(s.columns)} != {list(o.columns)}")
            failures += 1
            continue
        if len(s) != len(o):
            print(f"FAIL {name}: rows {len(s)} != {len(o)}")
            failures += 1
            continue
        if not s.equals(o):
            neq = (s != o) & ~(s.isna() & o.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(s)} rows differ; first:")
            print(pd.concat([s[bad].head(3), o[bad].head(3)], keys=["spark", "duck"]))
            failures += 1
            continue
        print(f"PASS {name}: rows={len(s)} cols={list(s.columns)}")
    print(
        f"codegen: {compiles() - compiled_before} classes compiled; "
        f"Metaspace used {metaspace_mb():.1f} MB"
    )
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(min(main(sys.argv[1:]), 1))
