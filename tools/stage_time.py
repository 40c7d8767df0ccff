#!/usr/bin/env python
"""Per-stage and per-plan-node timing for one registered query — a
reusable diagnosis harness: it makes a scale-fit excess flag
self-diagnosing by reporting, from ONE execution in a fresh session,
where the time actually went.

    python tools/stage_time.py dedup_minhash_char --sf-dir /tmp/spark_graft_sf3
    python tools/stage_time.py pipeline_multilingual_curation \
        --sf-dir /tmp/spark_graft_sf10 --out /tmp/curation_sf10.json

Method: run the query exactly as the fit child does (fresh local
session, same shuffle-partition config), execute the final plan
JVM-side (``queryExecution().toRdd().count()`` — no driver
materialization), then read the Spark UI status REST API:

- ``/api/v1/.../stages`` — every completed stage's wall time
  (completion - submission), executor run/CPU time, task count, and
  input/output/shuffle bytes+records. This covers ALL jobs the query
  ran, including eager checkpoints, broadcast builds, and artifact
  writes that happen before the final action.
- ``/api/v1/.../sql/{id}?details=true`` — per-plan-node SQL metrics
  (rows output, shuffle bytes written/read, sort/aggregate/join
  times), which attribute stage time to the logical operator that
  spent it.

Output: a human table on stdout (top stages by executor run time,
then the heaviest SQL nodes), and optionally the full raw JSON via
``--out`` so a SCALE.md diagnosis can cite exact numbers.

Caveats: keep the host quiet (same discipline as bench/fit runs);
stage wall times overlap under concurrent scheduling, so the additive
quantity is ``run_s`` (executor task-seconds), not ``wall_s``.
"""
import argparse
import json
import os
import re
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Spark's Python workers import the package too: they inherit the
# PYTHONPATH of the JVM, which get_spark starts from this environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (HERE, os.environ.get("PYTHONPATH")))
)


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _fmt_bytes(n):
    for unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        if abs(n) < 1024 or unit == "TiB":
            return f"{n:.1f}{unit}" if unit != "B" else f"{int(n)}B"
        n /= 1024.0


def run(name, sf_dir, cpus, top, out_path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"stage_time:{name}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.retainedStages", "4000")
        .config("spark.ui.retainedJobs", "4000")
        .config("spark.sql.ui.retainedExecutions", "200")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    t0 = time.time()
    df = fn(spark, sf_dir)
    # noop write, NOT toRdd().count(): the write registers a proper
    # SQL execution id (bench.py's exact protocol), so the /sql REST
    # endpoint exposes per-plan-node metrics; a bare RDD count
    # bypasses SQLExecution and leaves the SQL tab empty
    df.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = _get(f"{base}/api/v1/applications/{app}/stages?status=complete")
    sql_list = _get(
        f"{base}/api/v1/applications/{app}/sql"
        "?details=false&planDescription=false&length=200"
    )
    sql_execs = []
    for s in sql_list:
        try:
            sql_execs.append(
                _get(
                    f"{base}/api/v1/applications/{app}/sql/{s['id']}"
                    "?details=true&planDescription=false"
                )
            )
        except Exception as e:  # noqa: BLE001 — partial report beats none
            print(f"[warn] sql exec {s['id']}: {e}", file=sys.stderr)

    rows = []
    for st in stages:
        sub = st.get("submissionTime")
        comp = st.get("completionTime")
        wall_s = None
        if sub and comp:
            # ISO8601 with 'GMT' suffix, e.g. 2026-08-16T12:00:00.123GMT
            def _p(s):
                return time.mktime(
                    time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")
                ) + float("0" + s[19:23] or 0)

            try:
                wall_s = round(_p(comp) - _p(sub), 2)
            except Exception:  # noqa: BLE001
                wall_s = None
        rows.append(
            {
                "stage": st["stageId"],
                "wall_s": wall_s,
                "run_s": round(st.get("executorRunTime", 0) / 1000.0, 2),
                "cpu_s": round(
                    st.get("executorCpuTime", 0) / 1e9, 2
                ),
                "tasks": st.get("numTasks"),
                "in_bytes": st.get("inputBytes", 0),
                "in_rec": st.get("inputRecords", 0),
                "sh_r_bytes": st.get("shuffleReadBytes", 0),
                "sh_r_rec": st.get("shuffleReadRecords", 0),
                "sh_w_bytes": st.get("shuffleWriteBytes", 0),
                "sh_w_rec": st.get("shuffleWriteRecords", 0),
                "name": st.get("name", "").splitlines()[0][:90],
            }
        )
    rows.sort(key=lambda r: -r["run_s"])
    total_run = sum(r["run_s"] for r in rows)

    print(f"\n== {name} @ {sf_dir}  wall={wall:.1f}s  "
          f"stages={len(rows)}  executor-task-seconds={total_run:.0f} ==")
    hdr = (f"{'stage':>5} {'wall_s':>7} {'run_s':>8} {'cpu_s':>8} "
           f"{'tasks':>5} {'input':>9} {'sh_read':>9} {'sh_write':>9} "
           f"{'sh_w_rec':>10}  name")
    print(hdr)
    for r in rows[:top]:
        print(
            f"{r['stage']:>5} {str(r['wall_s']):>7} {r['run_s']:>8.1f} "
            f"{r['cpu_s']:>8.1f} {r['tasks']:>5} "
            f"{_fmt_bytes(r['in_bytes']):>9} "
            f"{_fmt_bytes(r['sh_r_bytes']):>9} "
            f"{_fmt_bytes(r['sh_w_bytes']):>9} "
            f"{r['sh_w_rec']:>10}  {r['name']}"
        )

    # heaviest SQL plan nodes: any metric that parses as a duration,
    # plus rows output, keyed by node name — attributes stage time to
    # the operator that spent it
    def _dur_s(v):
        # formats: "4.3 s", "1.2 m", "345 ms", or
        # "total (min, med, max (stageId: taskId))\n4.3 s (...)"
        m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", v.splitlines()[-1]
                     if "\n" in v else v)
        if not m:
            return None
        x = float(m.group(1).replace(",", ""))
        return x * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[
            m.group(2)
        ]

    nodes = []
    for ex in sql_execs:
        for nd in ex.get("nodes", []):
            best = 0.0
            rows_out = None
            dur_metric = None
            for m in nd.get("metrics", []):
                mv = str(m.get("value", ""))
                if "rows" in m.get("name", "").lower() and rows_out is None:
                    digits = re.sub(r"[^\d]", "", mv.splitlines()[-1])
                    rows_out = int(digits) if digits else None
                d = _dur_s(mv)
                if d is not None and d > best:
                    best, dur_metric = d, m["name"]
            if best > 0:
                nodes.append(
                    {
                        "exec": ex["id"],
                        "node": nd.get("nodeName"),
                        "wscg": nd.get("wholeStageCodegenId"),
                        "max_dur_s": round(best, 2),
                        "dur_metric": dur_metric,
                        "rows": rows_out,
                    }
                )
    nodes.sort(key=lambda n: -n["max_dur_s"])
    print(f"\n-- heaviest SQL plan nodes ({len(sql_execs)} executions) --")
    print(f"{'exec':>4} {'dur_s':>8} {'rows':>12}  node / metric")
    for n in nodes[:top]:
        print(
            f"{n['exec']:>4} {n['max_dur_s']:>8.1f} "
            f"{str(n['rows']):>12}  {n['node']} / {n['dur_metric']}"
        )

    report = {
        "query": name,
        "sf_dir": sf_dir,
        "wall_sec": round(wall, 2),
        "executor_task_seconds": round(total_run, 1),
        "stages": rows,
        "sql_nodes": nodes,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
        print(f"\nwrote {out_path}")
    spark.stop()
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        ),
    )
    ap.add_argument(
        "--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    ap.add_argument("--top", type=int, default=14)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    run(args.name, args.sf_dir, args.cpus, args.top, args.out)


if __name__ == "__main__":
    main()
