"""Time EVERY registered query at two scale factors and flag
super-linear blowups — the full-registry extension of SCALE.md §11/§14
(those sections measure the headline suite only; the 100-TB design
claims of the other ~170 queries were plan-verified but never
data-verified beyond sf0.1).

Usage:
    python tools/scale_sweep.py <round>              # parent: sweep + artifact
    python tools/scale_sweep.py --child <sf_dir> n1 n2 ...   # internal

The parent runs chunked child subprocesses (fresh Spark session per
chunk, file-backed stdout — same hang-isolation scheme as
full_sweep.py); a chunk timeout costs the in-flight query a TIMEOUT
mark and the sweep resumes after it. Each query executes via a
noop-format write (full execution, no collect), one untimed warm run
then MIN of two timed runs. Writes SCALE_SWEEP_r{N}.json with
per-query (small_sec, big_sec, ratio); with 10x data a keyed-shuffle
plan should land around <= ~15x wall (linear work, less at the
overhead floor) — ratios far above that signal an accidental
quadratic / single-partition stage.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
# Spark's Python workers import the package too: they inherit the
# PYTHONPATH of the JVM, which get_spark starts from this environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (HERE, os.environ.get("PYTHONPATH")))
)

from bench import _calibrate, _median  # noqa: E402

SMALL = os.environ.get("SCALE_SWEEP_SMALL", "/root/testdata/sf0.1")
BIG = os.environ.get("SCALE_SWEEP_BIG", "/tmp/spark_graft_sf1")
CHUNK = 16
#: parent-side wall limit per chunk child (JVM start + warmup + queries)
CHUNK_TIMEOUT = {SMALL: 900, BIG: 1800}


def _child(sf_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod
    from task_on_dataframes_spark.session import get_spark
    from task_on_dataframes_spark.sources.readers import read_events

    # machine-speed probes (same fixed single-thread hash workload the
    # BENCH artifacts record) SPACED across the chunk — before the JVM
    # starts, mid-list, and after the last query (one probe swings
    # 0.3-0.55 within a run; the parent records the median plus the
    # raw probes), so sf1 drift between sweeps on untouched queries
    # can be adjudicated by the SCALE.md §9c2 rule
    print(json.dumps({"calib_probe": _calibrate()}), flush=True)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    biggest = max(
        (
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if os.path.isfile(os.path.join(sf_dir, f))
        ),
        default=0,
    )
    mpb = min(max(biggest // (3 * cpus), 4 << 20), 128 << 20)
    spark = get_spark("scale-sweep", max_partition_bytes=str(mpb))
    for t in (
        "region nation customer supplier part orders lineitem documents "
        "embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    read_events(spark, f"{sf_dir}/events.parquet").count()

    qs = entrymod.queries()
    mid_at = names[len(names) // 2] if names else None
    for name in names:
        if name == mid_at:
            print(json.dumps({"calib_probe": _calibrate()}), flush=True)
        try:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            print(json.dumps({"q": name, "sec": round(best, 3)}), flush=True)
        except Exception as exc:  # noqa: BLE001 — recorded, not fatal
            print(
                json.dumps({"q": name, "err": str(exc)[:200]}), flush=True
            )
        spark.catalog.clearCache()
    print(json.dumps({"calib_probe": _calibrate()}), flush=True)


def _sweep(sf_dir: str, names: list[str]) -> dict[str, dict]:
    results: dict[str, dict] = {}
    todo = list(names)
    while todo:
        part, todo = todo[:CHUNK], todo[CHUNK:]
        while part:
            with tempfile.NamedTemporaryFile(
                "w+", suffix=".log", delete=False
            ) as f:
                timed_out = False
                try:
                    subprocess.run(
                        [
                            sys.executable,
                            "tools/scale_sweep.py",
                            "--child",
                            sf_dir,
                            *part,
                        ],
                        cwd=HERE,
                        stdout=f,
                        stderr=subprocess.DEVNULL,
                        timeout=CHUNK_TIMEOUT.get(sf_dir, 1800),
                    )
                except subprocess.TimeoutExpired:
                    timed_out = True
                f.flush()
                done = set()
                # two passes: collect every spaced probe first so each
                # chunk's recs carry the MEDIAN (a single probe has
                # +-40% variance), then tag recs
                recs = []
                probes = []
                for line in open(f.name):
                    try:
                        rec = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    if "calib_probe" in rec or "calib_sec" in rec:
                        probes.append(
                            rec.get("calib_probe", rec.get("calib_sec"))
                        )
                        continue
                    recs.append(rec)
                for rec in recs:
                    if probes:
                        rec["calib"] = _median(probes)
                        rec["calib_probes"] = probes
                    results[rec["q"]] = rec
                    done.add(rec["q"])
            part = [n for n in part if n not in done]
            if timed_out and part:
                # the first unfinished name was in flight when the
                # chunk hit the wall — mark it and move on
                results[part[0]] = {"q": part[0], "err": "TIMEOUT"}
                part = part[1:]
            elif not timed_out:
                for n in part:  # child died without reaching these
                    results[n] = {"q": n, "err": "CHILD_EXIT"}
                part = []
        print(
            f"[scale_sweep] {sf_dir}: {len(results)}/{len(names)}",
            file=sys.stderr,
        )
    return results


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3:])
        return 0

    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    big = _sweep(BIG, names)
    small = _sweep(SMALL, names)

    queries: dict[str, dict] = {}
    flagged: list[str] = []
    for n in names:
        s, b = small.get(n, {}), big.get(n, {})
        rec: dict = {}
        if "sec" in s:
            rec["small_sec"] = s["sec"]
        if "sec" in b:
            rec["big_sec"] = b["sec"]
        # per-chunk machine-speed probes: divide a time ratio between
        # sweeps by (calib_now / calib_then) before calling it drift
        if "calib" in s:
            rec["calib_small"] = s["calib"]
        if "calib" in b:
            rec["calib_big"] = b["calib"]
        if "err" in s or "err" in b:
            rec["err"] = s.get("err") or b.get("err")
            flagged.append(n)
        if "sec" in s and "sec" in b and s["sec"] > 0:
            rec["ratio"] = round(b["sec"] / s["sec"], 2)
            if rec["ratio"] > 25:
                flagged.append(n)
        queries[n] = rec

    artifact = {
        "round": rnd,
        "small": SMALL,
        "big": BIG,
        "method": (
            "noop write; 1 warm + min of 2 timed; fresh session per 16 "
            "queries; calib_small/calib_big = bench._calibrate() run in "
            "each chunk child before its JVM starts"
        ),
        "total_queries": len(names),
        "flagged": flagged,
        "queries": queries,
    }
    path = os.path.join(HERE, f"SCALE_SWEEP_r{rnd:02d}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {path}: {len(names)} queries, flagged={flagged}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
