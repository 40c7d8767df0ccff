"""Strict (driver-grade) comparison: raw pandas dtypes + exact values.

The driver hashes serialized values WITHOUT the local checker's type
normalization, so a DuckDB HUGEINT vs Spark bigint difference flips its
hash even when values agree. This tool compares the unnormalized
to-pandas output of both engines: dtype per column, then exact values
after only a column-name sort and row sort.

Usage: python tools/check_types_strict.py name [name ...]
"""

from __future__ import annotations

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Spark's Python workers import the package too: they inherit the
# PYTHONPATH of the JVM, which get_spark starts from this environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (HERE, os.environ.get("PYTHONPATH")))
)

from tools.check_correctness import SF_DIR, duck_conn  # noqa: E402


def main(names: list[str]) -> int:
    import __spark_entry__ as entrymod
    from task_on_dataframes_spark.session import get_spark

    spark = get_spark()
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
    failures = 0
    for name in names:
        sdf = qs[name](spark, SF_DIR).toPandas()
        odf = con.execute(oracles[name]).df()
        sdf = sdf.reindex(sorted(sdf.columns), axis=1)
        odf = odf.reindex(sorted(odf.columns), axis=1)
        ok = True
        if list(sdf.columns) != list(odf.columns):
            print(f"{name}: COLUMN MISMATCH {list(sdf.columns)} vs {list(odf.columns)}")
            ok = False
        else:
            for c in sdf.columns:
                st, ot = str(sdf[c].dtype), str(odf[c].dtype)
                # The driver tolerates datetime64 unit (ns vs us) and int
                # width (int32 vs int64) differences (ev_hourly_agg, s2).
                # It does NOT tolerate tz-aware vs naive (ev_sliding_agg)
                # or int-vs-HUGEINT-object (w1).
                if st.startswith("datetime64[") and ot.startswith("datetime64["):
                    s_tz = "," in st
                    o_tz = "," in ot
                    if s_tz != o_tz:
                        print(f"{name}: TZ MISMATCH {c}: spark={st} oracle={ot}")
                        ok = False
                    continue
                if st.startswith("int") and ot.startswith("int"):
                    continue
                if st != ot:
                    print(f"{name}: DTYPE {c}: spark={st} oracle={ot}")
                    ok = False
                if ot == "object" and len(odf) and isinstance(
                    odf[c].dropna().iloc[0] if len(odf[c].dropna()) else None, int
                ):
                    print(f"{name}: ORACLE {c} is object-of-int (HUGEINT leak)")
                    ok = False
        if ok:
            for df in (sdf, odf):
                for c in df.columns:
                    dt = str(df[c].dtype)
                    if dt.startswith("datetime64[") and "," not in dt:
                        df[c] = df[c].astype("datetime64[us]")
                    elif dt.startswith("int"):
                        df[c] = df[c].astype("int64")
            s_sorted = sdf.sort_values(by=list(sdf.columns)).reset_index(drop=True)
            o_sorted = odf.sort_values(by=list(odf.columns)).reset_index(drop=True)
            try:
                pd.testing.assert_frame_equal(
                    s_sorted, o_sorted, check_exact=False, rtol=0, atol=1e-9
                )
            except AssertionError as e:
                print(f"{name}: VALUE MISMATCH: {str(e)[:300]}")
                ok = False
        print(f"{name}: {'PASS' if ok else 'FAIL'}")
        failures += 0 if ok else 1
    return failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
