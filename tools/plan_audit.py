"""Plan-invariant audit over the ENTIRE query registry.

The plan-shape pytest suite asserts deep properties on ~20 chosen
queries; this tool sweeps every ``queries()`` entry and enforces the
three invariants that must hold repo-wide for the 100 TB story:

1. **No CartesianProduct** — an unconstrained cross join is corpus x
   corpus at scale. (``BroadcastNestedLoopJoin`` with a broadcast
   1-row/dimension side is the sanctioned scalar-attachment pattern
   and is reported, not flagged.)
2. **No BatchEvalPython** — row-at-a-time Python UDFs are forbidden;
   Python may only touch data through Arrow-batched
   MapInPandas / FlatMapGroupsInPandas / ArrowEvalPython.
3. **Exchange counts are recorded** per query so a future edit that
   doubles a query's shuffles shows up as a diff in PLANAUDIT.md —
   BOTH the static plan-text count and the PHYSICAL post-AQE
   counts: each query is executed at the
   audit SF and the final adaptive plan's unique ShuffleQueryStage /
   BroadcastQueryStage ids are counted, so exchange reuse is credited
   (dedup_recall_eval: 31 plan-text vs 12 shuffles + 8 broadcasts
   physical). Drift review keys on the physical number.

Usage: python tools/plan_audit.py [--sf-dir DIR] [--out PLANAUDIT.md]
Exit code 1 if any invariant is violated.
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

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from task_on_dataframes_spark.session import get_spark

    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)
    rows, violations = [], []
    for name, fn in entrymod.queries().items():
        if args.names and name not in args.names:
            continue
        try:
            df = fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit must not abort
            rows.append((name, "-", "-", "-", "-", f"ERROR building plan: {e}"))
            violations.append(name)
            continue
        # physical post-AQE counts: execute the SAME QueryExecution
        # and count unique query-stage ids — reused exchanges share an
        # id, so AQE reuse is credited instead of double-counted.
        # toRdd().count() runs the identical AdaptiveSparkPlanExec
        # JVM-side WITHOUT materializing results on the driver
        # (collect() could OOM the audit on wide per-doc queries at a
        # larger --sf-dir) and without the plan rewrite
        # df.count() would apply (a new Aggregate QueryExecution
        # prunes payload columns and changes the very shuffles being
        # audited).
        import re as _re

        try:
            df._jdf.queryExecution().toRdd().count()
            final = df._jdf.queryExecution().executedPlan().toString()
            n_shuf = len(set(_re.findall(r"ShuffleQueryStage (\d+)", final)))
            n_bcast = len(
                set(_re.findall(r"BroadcastQueryStage (\d+)", final))
            )
            phys_s, phys_b = str(n_shuf), str(n_bcast)
        except Exception as e:  # noqa: BLE001
            phys_s, phys_b = "-", "-"
            rows_note_err = f"ERROR executing: {e}"
            rows.append((name, str(plan.count("Exchange")), "-", "-",
                         str(plan.count("FileScan")), rows_note_err))
            violations.append(name)
            continue
        bad = [f for f in FORBIDDEN if f in plan]
        notes = []
        if "BroadcastNestedLoopJoin" in plan:
            notes.append("BNLJ(broadcast scalar)")
        if "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan:
            notes.append("arrow-python")
        if "StreamingRelation" in plan or name.startswith("stream_"):
            notes.append("drained stream")
        if (
            ("LocalTableScan" in plan or "Scan ExistingRDD" in plan)
            and "FileScan" not in plan
            and "Exchange" not in plan
        ):
            # the returned frame is driver-collected state: the query
            # executed EAGERLY while building (iterative driver loop
            # with localCheckpoint lineage cuts), so the static plan
            # under-reports its work. The shuffle budget is documented
            # and tested at the operator (e.g. bpe_train_batched: ~3
            # shuffles and one job per merge batch).
            notes.append("eager driver-loop; plan post-lineage-cut")
        if bad:
            violations.append(name)
            notes.append("VIOLATION: " + ",".join(bad))
        rows.append(
            (
                name,
                str(plan.count("Exchange")),
                phys_s,
                phys_b,
                str(plan.count("FileScan")),
                "; ".join(notes),
            )
        )

    lines = [
        "# PLANAUDIT — repo-wide physical-plan invariants",
        "",
        f"Queries audited: {len(rows)}; violations: {len(violations)}.",
        "Invariants: no CartesianProduct, no row-at-a-time Python",
        "(BatchEvalPython). Exchange counts recorded for drift review:",
        "`exchanges` is the static plan-text count; `shuffles`/`bcasts`",
        "are the PHYSICAL post-AQE unique query-stage counts from an",
        "executed run (reuse credited) — drift review keys on these.",
        f"sf_dir={args.sf_dir}.",
        "",
        "| query | exchanges | shuffles | bcasts | scans | notes |",
        "|---|---|---|---|---|---|",
    ]
    lines += [
        f"| {n} | {e} | {ps} | {pb} | {s} | {x} |"
        for n, e, ps, pb, s, x in rows
    ]
    text = "\n".join(lines) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        print(text)
    if violations:
        print(f"VIOLATIONS: {violations}", file=sys.stderr)
        return 1
    print(f"plan audit clean: {len(rows)} queries", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
