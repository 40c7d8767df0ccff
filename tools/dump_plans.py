"""Dump `.explain("formatted")` for headline queries to plans/r13/.

Usage: python tools/dump_plans.py [--suffix before|after] [names...]

Writes one file per query: plans/r13/<name>_<suffix>.txt — the
formatted physical plan at the bench SF dir (default sf0.1, override
with $SPARK_GRAFT_SF_DIR). Names default to bench.py's headline list.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Spark's Python workers import the package too: they inherit the
# PYTHONPATH of the JVM, which get_spark starts from this environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (HERE, os.environ.get("PYTHONPATH")))
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--out-dir", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from task_on_dataframes_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = args.out_dir or os.path.join(here, "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)

    if args.names:
        names = args.names
    else:
        # the headline list is bench.py's module-level HEADLINE
        import bench

        names = bench.HEADLINE

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in registry")
            continue
        try:
            df = qs[name](spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            continue
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
