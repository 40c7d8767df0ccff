"""Three-point scale fit for the sweep's worst-ratio tail.

The full-registry sweep measures two points (sf0.1, sf1); its big
ratios were adjudicated as floor arithmetic (SCALE.md §9c2-style
fixed/variable reasoning) but never VERIFIED with a third point — the
difference between "no blowup at 10x" and "credible at 100x". This
tool times a query set at sf0.1 / sf1 / sf3
(min of 3 noop-write runs each, fresh session per scale, per-scale
calibration probe) and separates fixed cost from slope:

* ``fixed_sec`` / ``per_sf_sec`` — least-squares fit of t = f + c*sf;
* ``excess_sf3`` — measured t(sf3) over the LINEAR prediction
  extrapolated from the (sf0.1, sf1) segment: ~1.0 means the sf0.1->sf1
  ratio was floor arithmetic and the true variable cost is linear;
  >1.5 flags a super-linear slope the two-point sweep could not see.

Usage:
    python tools/scale_fit.py <round> [name ...]      # parent
    python tools/scale_fit.py --child <sf_dir> n1 ... # internal
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

SCALES = [
    (0.1, os.environ.get("SCALE_FIT_SMALL", "/root/testdata/sf0.1")),
    (1.0, os.environ.get("SCALE_FIT_MID", "/tmp/spark_graft_sf1")),
    (3.0, os.environ.get("SCALE_FIT_BIG", "/tmp/spark_graft_sf3")),
]
CHILD_TIMEOUT = 3000

#: the two-point sweep's worst-ratio tail plus the queries whose sf1
#: time drifts between sweeps
DEFAULT_NAMES = [
    "s2_whole_file_read",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "text_winnow",
    "text_langid_script",
    "dedup_components",
    "dedup_substring_rewrite",
    "dedup_minhash_lsh",
    "ann_ivfpq_topk",
    "stream_cms",
    # the two bench poles with 10x two-point ratios, plus the
    # BPE-accounting pole
    "pipeline_multilingual_curation",
    "dedup_minhash_char",
    "pipeline_multilingual_tokens",
    # the probe-only incremental rewrite (persisted-index probe; the
    # warm run absorbs the once-per-session index build, timed runs
    # measure the probe-only plan)
    "dedup_incremental_lsh",
    # the persisted-index pattern's probe-linearity, measured rather
    # than only plan-asserted. index_build's
    # timed runs measure the AMORTIZED path (the warm run builds the
    # layout once; every later run reads the published table — the
    # steady-state cost every ingest wave actually pays).
    "dedup_index_build",
    "dedup_index_probe",
    # the streaming maintain path's per-micro-batch cost claim
    # (O(batch), index-size-independent), as a measured fit row. The query
    # rebuilds its corpus index and drains a fixed 2-wave stream per
    # invocation, so t(sf) covers build + probe+append per wave with
    # batch size ∝ sf: linear fit = the O(batch) claim.
    "stream_index_maintain",
]


def _child(sf_dir: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod
    from bench import _calibrate
    from task_on_dataframes_spark.session import get_spark
    from task_on_dataframes_spark.sources.readers import read_events

    # spaced probes (start/mid/end; one probe has +-40% variance):
    # the parent records their MEDIAN as calib_sec
    print(json.dumps({"calib_probe": _calibrate()}), flush=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sizes = [
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if os.path.isfile(os.path.join(sf_dir, f))
    ]
    biggest = max(sizes, default=0)
    mpb = min(max(biggest // (3 * cpus), 4 << 20), 128 << 20)
    # heap sized to the fixture, like maxPartitionBytes above — a real
    # deployment scales executor memory with the data, and holding the
    # 32g test-scale heap while the fixture grows 100x measures memory
    # starvation, not the plan: at sf10 (1.6 GiB on disk) the cached
    # shingle/key frames thrash against 16M-row join execution memory
    # and identical runs drew 12-123 s (SCALE.md §28 addendum). Every
    # persist in the package uses the default MEMORY_AND_DISK_DESER
    # level, so cached frames spill rather than recompute — the
    # remaining starvation lever is execution-memory pressure, i.e.
    # the heap. Rule (spill-aware regime): 32g below 0.5 GiB on-disk
    # (sf0.1/sf1, comparable across sweeps), 64g at/above (sf3 AND
    # sf10, so the
    # sf3 adjudication point no longer runs a heap regime the grow
    # point doesn't).
    if "SPARK_DRIVER_MEMORY" not in os.environ and sum(sizes) >= (1 << 29):
        os.environ["SPARK_DRIVER_MEMORY"] = "64g"
    spark = get_spark("scale-fit", max_partition_bytes=str(mpb))
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
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            warm_dt = time.perf_counter() - t0
            # min-of-3 exists to beat the sub-second scheduling floor;
            # a >60 s job is floor-insensitive to THAT, but its FIRST
            # timed run is reliably polluted by the warm run's cleanup
            # (ContextCleaner deleting GiB-scale shuffle files + full
            # GCs of the warm run's heap debris): measured at sf10,
            # back-to-back runs draw 133.6 / 104.8 / 12.2 / 10.7 s with
            # both persisted frames fully cached from run 0 — the
            # settled regime only appears from the SECOND timed run
            # (SCALE.md §28 addendum). min-of-2 catches it; three runs
            # of a big query stack checkpoint generations faster than
            # the cleaner frees them (the 77M-edge component graph
            # OOMed on its third consecutive run even at 32g).
            n_timed = 3 if warm_dt < 60 else 2
            best = None
            for _ in range(n_timed):
                # checkpoint blocks from the previous run free only via
                # GC of their last reference; without the nudge, 3-4
                # generations of a big query's localCheckpoints overlap
                # and exhaust the pool (dedup_components sf3, 77M edges
                # per run)
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            print(json.dumps({"q": name, "sec": round(best, 3)}), flush=True)
        except Exception as exc:  # noqa: BLE001
            print(json.dumps({"q": name, "err": str(exc)[:200]}), flush=True)
        spark.catalog.clearCache()
    print(json.dumps({"calib_probe": _calibrate()}), flush=True)


def _run_scale(sf_dir: str, names: list[str]) -> dict:
    """Child runner with RESUME: a hard executor OOM stops the child's
    SparkContext and every later query in that chunk would report a
    bogus 'stopped SparkContext' — so the query in flight gets its real
    error recorded and a fresh child continues from the next name."""
    out: dict = {"queries": {}}
    probes: list = []
    todo = list(names)
    stalls = 0
    while todo:
        with tempfile.NamedTemporaryFile(
            "w+", suffix=".log", delete=False
        ) as f:
            timed_out = False
            try:
                subprocess.run(
                    [
                        sys.executable,
                        "tools/scale_fit.py",
                        "--child",
                        sf_dir,
                        *todo,
                    ],
                    cwd=HERE,
                    stdout=f,
                    stderr=subprocess.DEVNULL,
                    timeout=CHILD_TIMEOUT,
                )
            except subprocess.TimeoutExpired:
                timed_out = True
            f.flush()
            done = set()
            poisoned = False
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
                if "err" in rec and "stopped SparkContext" in rec["err"]:
                    poisoned = True
                    break  # rerun this and everything after in a fresh child
                out["queries"][rec["q"]] = rec
                done.add(rec["q"])
        todo = [n for n in todo if n not in done]
        if poisoned:
            # no-progress guard: a context that dies before
            # the FIRST query would respawn identical children forever;
            # after 2 stalled respawns record the head as poisoned and
            # advance
            stalls = stalls + 1 if not done else 0
            if stalls >= 2 and todo:
                out["queries"][todo[0]] = {
                    "q": todo[0],
                    "err": "POISONED_CONTEXT",
                }
                todo = todo[1:]
                stalls = 0
            continue
        if timed_out and todo:
            out["queries"][todo[0]] = {"q": todo[0], "err": "TIMEOUT"}
            todo = todo[1:]
        elif todo:
            # child exited without reaching these and without a poison
            # marker: the first one died the process — record, move on
            out["queries"][todo[0]] = out["queries"].get(
                todo[0], {"q": todo[0], "err": "CHILD_EXIT"}
            )
            todo = todo[1:]
    if probes:
        from bench import _median

        out["calib_sec"] = _median(probes)
        out["calib_probes"] = probes
    return out


def _grow(rnd: int, sf: float, sf_dir: str, names: list) -> int:
    """Grow-with-scale point: the quadratic regime
    of the char-LSH family opens when dup-CLUSTER size grows with the
    corpus (10 word-shuffled replicas at sf1 -> 30 at sf3 -> 100 at
    sf10), and the star cap's saturation had only been measured to 30.
    This mode measures ``names`` at one additional big scale (fresh
    child, same noop-write / min-of-3 / calib protocol), records
    ``sec_sf{sf}`` / ``norm_sf{sf}`` / ``excess_sf{sf}`` into the
    existing SCALE_FIT_r{rnd} artifact, and extends ``flagged``.
    excess = measured / linear extrapolation of the artifact's
    (sf1, sf3) normalized segment — the two points where the cluster
    regime is already growing, so super-linear cap saturation cannot
    hide in a small-cluster baseline.

    ISOLATED: each name runs in its OWN fresh child (one per-name
    calibration), not one shared chunk — SCALE.md §27: a shared-chunk
    grow run (5 queries sequentially, pipelines last) manufactured
    excess 1.89/1.65 on queries that measured SUB-linear wall when
    re-run isolated on the same commit."""
    path = os.path.join(HERE, f"SCALE_FIT_r{rnd:02d}.json")
    with open(path) as f:
        art = json.load(f)
    sfs = [s for s, _ in SCALES]
    calibs = [c for c in art["calib"].values() if c]
    ref = min(calibs) if calibs else None
    grow_calibs = {}
    for n in names:
        rec = art["queries"].setdefault(n, {})
        meas = _run_scale(sf_dir, [n])
        calib = meas.get("calib_sec")
        grow_calibs[n] = calib
        sec = meas["queries"].get(n, {}).get("sec")
        if sec is None:
            rec[f"err_sf{sf}"] = meas["queries"].get(n, {}).get(
                "err", "MISSING"
            )
            if n not in art["flagged"]:
                art["flagged"].append(n)
            continue
        norm = round(sec * ref / calib, 3) if (calib and ref) else sec
        rec[f"sec_sf{sf}"] = sec
        rec[f"norm_sf{sf}"] = norm
        # regime consistency: the grow point is measured ISOLATED, so
        # extrapolate from isolated (sf1, sf3) draws when the row has
        # them (written by _adjudicate) — comparing an isolated t10
        # against chunk-polluted t1/t3 mixes regimes, which
        # _adjudicate also refuses to do
        t1 = rec.get(
            f"norm_sf{sfs[1]}_isolated", rec.get(f"norm_sf{sfs[1]}")
        )
        t3 = rec.get(
            f"norm_sf{sfs[2]}_isolated", rec.get(f"norm_sf{sfs[2]}")
        )
        if t1 is not None and t3 is not None:
            # monotone prediction floor: a flat or
            # noisy-decreasing (sf1, sf3) segment must not skip the
            # check or predict bigger = faster — clamp the slope at 0
            # and the prediction at t3, mirroring main()/_adjudicate
            slope = max((t3 - t1) / (sfs[2] - sfs[1]), 0.0)
            pred = max(t3 + (sf - sfs[2]) * slope, t3)
            ex = round(norm / pred, 2) if pred > 0 else None
            rec[f"excess_sf{sf}"] = ex
            if ex is not None and ex > 1.5 and n not in art["flagged"]:
                art["flagged"].append(n)
        print(
            f"[grow] {n}: sec={sec} norm={norm} "
            f"excess_sf{sf}={rec.get(f'excess_sf{sf}')}",
            file=sys.stderr,
        )
    art.setdefault("grow", {})[f"sf{sf}"] = {
        "dir": sf_dir,
        "calib_per_name": grow_calibs,
        "names": names,
        "regime": "isolated (one fresh child + calib per name)",
    }
    note = (
        f"; grow-with-scale point at sf{sf}: excess vs linear "
        "extrapolation of the (sf1, sf3) normalized segment, "
        "measured ISOLATED per name (r11)"
    )
    if note not in art["method"]:
        art["method"] += note
    with open(path, "w") as f:
        json.dump(art, f, indent=1)
    print(f"rewrote {path}: flagged={art['flagged']}")
    return 0


def _adjudicate(rnd: int, extra: list = ()) -> int:
    """Isolation re-measure for flagged rows: the fit child runs its
    whole name list in ONE session, so a flagged row can be
    cross-query session state or a co-tenant transient rather than
    real slope — dedup_minhash_char drew 12.4 s inside the 13-query
    chunk and 6.4 s isolated (fresh session, min-of-3), same commit.

    The adjudicated excess is computed from a FULLY isolated regime:
    each flagged query is re-run in its own fresh child at EVERY
    scale, and the excess fit uses only those draws — re-measuring
    sf3 alone against chunk-measured sf0.1/sf1 points would mix a
    cold-session numerator with warm-chunk denominators (a sub-second
    fixed-cost query then fails on session overhead, not slope). The two-sided rule stands:
    the isolated-regime excess itself must fit (no min-with-chunk
    leniency). Chunk numbers stay recorded beside the isolated ones.
    Queries that flagged with an error are left flagged.

    ``extra`` names are adjudicated too even though unflagged — for
    rows whose chunk draws are visibly polluted in a way the excess
    formula cannot flag (e.g. non-monotone t(sf1) > t(sf3): the
    monotone floor clamps the slope so excess_sf3 looks fine, but any
    later grow extrapolation from those points would be garbage)."""
    path = os.path.join(HERE, f"SCALE_FIT_r{rnd:02d}.json")
    with open(path) as f:
        art = json.load(f)
    sfs = [sf for sf, _ in SCALES]
    calibs = [c for c in art["calib"].values() if c]
    # All-null calib (calibration query failed at every scale): fall
    # back to unnormalized seconds, exactly as main() does.
    ref = min(calibs) if calibs else None
    still = []
    todo = list(art.get("flagged", [])) + [
        n for n in extra if n not in art.get("flagged", [])
    ]
    for n in todo:
        rec = art["queries"].get(n, {})
        if rec.get("err"):
            still.append(n)
            continue
        iso = {}
        failed = False
        for sf, sf_dir in SCALES:
            m = _run_scale(sf_dir, [n])
            sec = m["queries"].get(n, {}).get("sec")
            calib = m.get("calib_sec")
            if sec is None:
                failed = True
                break
            norm = round(sec * ref / calib, 3) if (calib and ref) else sec
            iso[sf] = norm
            rec[f"sec_sf{sf}_isolated"] = sec
            rec[f"norm_sf{sf}_isolated"] = norm
            rec[f"calib_sf{sf}_isolated"] = calib
        if failed:
            still.append(n)
            continue
        t01, t1, t3 = iso[sfs[0]], iso[sfs[1]], iso[sfs[2]]
        # monotone floor — see the matching note in main()
        pred3 = max(t1 + 2.0 * (t1 - t01) / 0.9, t1)
        adj = round(t3 / pred3, 2) if pred3 > 0 else None
        rec["excess_sf3_adjudicated"] = adj
        # One rule for every adjudicated row, whether it came from
        # art['flagged'], the extra CLI list, or both (so a
        # doubly-listed name keeps the adj-None-stays-flagged
        # guarantee, and an extra whose adjudication produced no
        # number is not silently passed): a row with
        # no adjudicated excess (pred3 <= 0 or missing draw) is kept
        # flagged conservatively, and any adjudicated excess > 1.5
        # flags regardless of provenance.
        if adj is None or adj > 1.5:
            still.append(n)
        print(
            f"[adjudicate] {n}: isolated norms "
            f"{t01} / {t1} / {t3} adjudicated excess={adj}",
            file=sys.stderr,
        )
    art["flagged"] = still
    note = (
        "; flagged rows re-measured in a fully isolated regime (one "
        "fresh child per scale) and excess adjudicated on the "
        "isolated draws alone"
    )
    if note not in art["method"]:
        art["method"] += note
    with open(path, "w") as f:
        json.dump(art, f, indent=1)
    print(f"rewrote {path}: flagged={still}")
    return 0


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3:])
        return 0
    if len(sys.argv) > 2 and sys.argv[1] == "--adjudicate":
        return _adjudicate(int(sys.argv[2]), sys.argv[3:])
    if len(sys.argv) > 4 and sys.argv[1] == "--grow":
        return _grow(
            int(sys.argv[2]),
            float(sys.argv[3]),
            sys.argv[4],
            sys.argv[5:] or ["dedup_minhash_char", "pipeline_multilingual_curation"],
        )

    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    names = sys.argv[2:] or DEFAULT_NAMES

    per_scale = {}
    for sf, sf_dir in SCALES:
        per_scale[sf] = _run_scale(sf_dir, names)
        print(
            f"[scale_fit] sf{sf}: "
            f"{len(per_scale[sf]['queries'])}/{len(names)} "
            f"(calib {per_scale[sf].get('calib_sec')})",
            file=sys.stderr,
        )

    sfs = [sf for sf, _ in SCALES]
    # calib-normalize before fitting: each scale runs in its own child
    # on its own wall-clock window, and host-speed swings of 20-40%
    # between windows otherwise masquerade as slope (a 1.22x-slow sf0.1
    # chunk once manufactured a fake q7 excess flag)
    calibs = {sf: per_scale[sf].get("calib_sec") for sf in sfs}
    ref = min(c for c in calibs.values() if c) if any(calibs.values()) else None
    queries: dict[str, dict] = {}
    flagged: list[str] = []
    for n in names:
        ts = {
            sf: per_scale[sf]["queries"].get(n, {}).get("sec")
            for sf in sfs
        }
        rec: dict = {f"sec_sf{sf}": ts[sf] for sf in sfs}
        if all(v is not None for v in ts.values()):
            if ref:
                ts = {
                    sf: round(v * ref / calibs[sf], 3) if calibs[sf] else v
                    for sf, v in ts.items()
                }
                rec.update({f"norm_sf{sf}": ts[sf] for sf in sfs})
            xs, ys = sfs, [ts[sf] for sf in sfs]
            mx, my = sum(xs) / 3, sum(ys) / 3
            c = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
                (x - mx) ** 2 for x in xs
            )
            f0 = my - c * mx
            rec["fixed_sec"] = round(f0, 3)
            rec["per_sf_sec"] = round(c, 3)
            # linear prediction of sf3 from the (sf0.1, sf1) segment
            c01 = (ts[1.0] - ts[0.1]) / 0.9
            # monotone floor — see the matching note in _adjudicate
            pred3 = max(ts[1.0] + 2.0 * c01, ts[1.0])
            rec["excess_sf3"] = (
                round(ts[3.0] / pred3, 2) if pred3 > 0 else None
            )
            if rec["excess_sf3"] is not None and rec["excess_sf3"] > 1.5:
                flagged.append(n)
        else:
            rec["err"] = next(
                (
                    per_scale[sf]["queries"].get(n, {}).get("err", "MISSING")
                    for sf in sfs
                    if ts[sf] is None
                ),
                "MISSING",
            )
            flagged.append(n)
        queries[n] = rec

    artifact = {
        "round": rnd,
        "scales": {f"sf{sf}": d for sf, d in zip(sfs, [s for _, s in SCALES])},
        "calib": {f"sf{sf}": per_scale[sf].get("calib_sec") for sf in sfs},
        "method": (
            "noop write; 1 warm + min of 3 timed; fresh session per scale; "
            "excess_sf3 = t(sf3) / linear extrapolation of the "
            "(sf0.1, sf1) segment — >1.5 flags a super-linear slope"
        ),
        "flagged": flagged,
        "queries": queries,
    }
    path = os.path.join(HERE, f"SCALE_FIT_r{rnd:02d}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {path}: {len(names)} queries, flagged={flagged}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
