"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the input tables
and oracle results under ``.perfbench/build``. Every run gets a fresh
scratch root under ``.perfbench/runs`` for its working directory,
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the explore cache, and removes it
when it ends. The last stdout line is the result object; the line
before it is a report with host facts and the workload-specific
metrics. See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import subprocess
import sys
import tempfile
import time
from urllib.parse import parse_qsl, quote, unquote

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from clock import OpClock  # noqa: E402
from stats import Tally, geomean, layer_sums, median, tail  # noqa: E402
from workloads import (  # noqa: E402
    MIN_PASSES, STEP_REQUESTS, WORKLOADS, Batch, Explore, query_order, session_order,
)

SETUPS = 4
DRIVER_MEMORY = "2g"
#: one GC thread: parallel collectors would contend with the Spark task
#: threads for the few cores
DRIVER_JAVA_OPTIONS = "-XX:+UseSerialGC"


def declared_metrics(root: str) -> dict[str, list[dict]]:
    """The ``end_to_end`` and ``per_layer`` metric lists of BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: spec[k] for k in ("end_to_end", "per_layer")}


class Run:
    """State of one benchmark process: paths, session, counters."""

    def __init__(self, args, root: str):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.root = root
        self.nproc = len(os.sched_getaffinity(0))
        # Spark gets half the cores: the JVM's JIT and GC threads and the
        # Python client run beside it, and a shared host steals time from
        # a guest whose every core is busy
        self.cpus = max(1, self.nproc // 2)
        self.tally = Tally()
        self.errors: list[str] = []
        self.tracer = None
        self.spark = None
        self.label = f"{args.workload}-s{args.seed}-t{args.trace}"
        state = os.path.join(root, ".perfbench")
        self.build_root = os.path.join(state, "build")
        self.results = os.path.join(state, "results")
        self.scratch = os.path.join(state, "runs", f"{self.label}-{os.getpid()}")
        self.timed: dict[str, float] = {}
        self.pass_cpu: list[float] = []
        self.pass_gc: list[float] = []
        self.steal_share = 0.0
        self.clock: OpClock | None = None
        #: wall and CPU seconds of each measured operation, keyed by its
        #: place in a pass (a batch query, or one request of the walk)
        self.op_wall: dict[str, list[float]] = {}
        self.op_cpu: dict[str, list[float]] = {}

    # -- environment -----------------------------------------------------
    def isolate(self) -> None:
        for sub in ("cwd", "tmp", "local", "cache", "events"):
            os.makedirs(os.path.join(self.scratch, sub))
        tmp = os.path.join(self.scratch, "tmp")
        confs = ["spark.ui.showConsoleProgress=false"]
        if self.args.trace:
            confs += [
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir=file://{self.scratch}/events",
            ]
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.scratch, "local"),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in confs)
            + f" --driver-java-options '{DRIVER_JAVA_OPTIONS}' pyspark-shell",
        })
        tempfile.tempdir = None
        os.chdir(os.path.join(self.scratch, "cwd"))

    def group(self, label: str, phase: str) -> None:
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(f"{self.label}|{label}|{phase}", label)

    def span(self, name: str):
        from contextlib import nullcontext

        return nullcontext() if self.tracer is None else self.tracer.span(name)

    # -- set-up ------------------------------------------------------------
    def setup(self) -> float:
        """Start (or restart) the session and read every table's footer;
        returns the seconds it took."""
        from task_on_dataframes_spark.session import get_spark

        biggest = max(os.path.getsize(os.path.join(self.sf_dir, f))
                      for f in os.listdir(self.sf_dir))
        mpb = min(max(biggest // (3 * self.cpus), 4 << 20), 128 << 20)
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", max_partition_bytes=str(mpb))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.group("setup", "setup")
        for t in build.TABLES:
            self.spark.read.parquet(f"{self.sf_dir}/{t}.parquet")
        t2 = time.perf_counter()
        self.timed.setdefault("session.start_s", t1 - t0)
        self.timed.setdefault("session.warm_s", t2 - t1)
        return t2 - t0

    # -- batch workloads ---------------------------------------------------
    def batch(self, wl: Batch) -> dict:
        import pandas as pd

        import __spark_entry__ as entrymod
        from correct import same_rows

        qs = entrymod.queries()
        t_check = time.perf_counter()
        for name in wl.queries:  # correctness, outside the timed loop
            self.group(name, "check")
            try:
                df = qs[name](self.spark, self.sf_dir)
                err = same_rows(df.toPandas(), pd.read_parquet(self.oracles[name]))
            except Exception as e:  # a failed query is a counted failure
                err = f"{type(e).__name__}: {e}"
            if not self.tally.record(err is None):
                self.errors.append(f"{name}: {err}")

        self.timed["check_s"] = time.perf_counter() - t_check

        def one_pass(pass_no: int) -> None:
            for name in query_order(wl.queries, self.args.seed, pass_no):
                if self.tracer is not None:
                    self.tracer.request_id = name
                started = self.clock.start()
                try:
                    self.group(name, "construct")
                    with self.span("registry.construct"):
                        df = qs[name](self.spark, self.sf_dir)
                    if self.tracer is not None:
                        self.group(name, "plan")
                        with self.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                    self.group(name, "exec")
                    with self.span("spark.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as e:
                    ok = False
                    self.errors.append(f"{name}: {type(e).__name__}: {e}")
                wall, cpu = self.clock.stop(started)
                if self.tally.record(ok):
                    self.record(name, wall, cpu)

        passes, written = self.measure(one_pass)
        wall = {n: median(v) for n, v in self.op_wall.items()}
        cpu = {n: median(v) for n, v in self.op_cpu.items()}
        return {
            "passes": passes,
            **self.typical_pass(),
            "query_cpu_geomean_s": geomean(cpu.values()),
            "query_geomean_s": geomean(wall.values()),
            "query_median_s": wall,
            "query_cpu_median_s": cpu,
            "per_query_s": self.op_wall,
            "disk_write_mb": written,
        }

    def record(self, op: str, wall: float, cpu: float) -> None:
        self.op_wall.setdefault(op, []).append(wall)
        self.op_cpu.setdefault(op, []).append(cpu)

    def typical_pass(self) -> dict[str, float]:
        """A pass as it runs without the run's slowest moments, which a
        median of few whole passes would keep: the sum over a pass's
        operations of each one's median wall (``pass_s``) and CPU
        (``pass_cpu_s``) time."""
        return {
            "pass_s": sum(median(v) for v in self.op_wall.values()),
            "pass_cpu_s": sum(median(v) for v in self.op_cpu.values()),
        }

    def measure(self, one_pass) -> tuple[list[float], float]:
        """Run passes until ``--seconds`` have passed and at least
        MIN_PASSES ran. Returns each pass's wall time and the MB the JVM
        wrote to storage per pass. Both heaps are collected before each
        pass, untimed, so garbage of one pass is not collected inside
        the next."""
        import gc

        passes: list[float] = []
        io0 = self.jvm_write_bytes()
        if self.tracer is not None:
            self.tracer.enabled = True
        stat0 = host_cpu_ticks()
        start = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - start < self.args.seconds:
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            self.clock.set_workers([p for p, n in self.descendants().items() if n != "java"])
            p0, c0, g0 = time.perf_counter(), self.cpu_s(), self.jvm_gc_s()
            one_pass(len(passes))
            passes.append(time.perf_counter() - p0)
            self.pass_cpu.append(self.cpu_s() - c0)
            self.pass_gc.append(self.jvm_gc_s() - g0)
        if self.tracer is not None:
            self.tracer.enabled = False
        ticks, steal = (b - a for a, b in zip(stat0, host_cpu_ticks()))
        self.steal_share = steal / ticks if ticks else 0.0
        return passes, (self.jvm_write_bytes() - io0) / 1e6 / len(passes)

    # -- explore workload --------------------------------------------------
    def explore(self, wl: Explore) -> dict:
        from task_on_dataframes_spark.basic_tasks import register_document_tasks
        from task_on_dataframes_spark.llm_tasks import register_llm_tasks
        from task_on_dataframes_spark.serve import create_app

        reg = register_document_tasks(self.spark, self.sf_dir)
        register_llm_tasks(self.spark, self.sf_dir, registry=reg)
        walk = session_order(wl.sessions, self.args.seed)

        def one_pass(name: str, lat: dict | None) -> set:
            cache_root = os.path.join(self.scratch, "cache", name)
            client = create_app(self.spark, registry=reg, cache_root=cache_root).test_client()
            return self.walk(client, walk, name, lat)

        # untimed walk that warms the timed path; the frames its cache
        # served are checked for correctness
        t0 = time.perf_counter()
        self.check_views(reg, one_pass("check", None), os.path.join(self.scratch, "cache", "check"))
        self.timed["check_s"] = time.perf_counter() - t0

        # (wall, CPU) seconds of each request, by kind
        lat: dict[str, list[tuple[float, float]]] = {
            "explore": [], "view_cold": [], "view_hit": [], "csv": []}
        passes, written = self.measure(lambda n: one_pass(f"pass{n}", lat))
        p50 = {k: median([w for w, _ in v]) for k, v in lat.items()}
        cpu50 = {k: median([c for _, c in v]) for k, v in lat.items()}
        # the millisecond /explore route would dominate a log-scale mean
        means_over = ("view_cold", "view_hit", "csv")
        out = {
            "passes": passes,
            **self.typical_pass(),
            "query_cpu_geomean_s": geomean(cpu50[k] for k in means_over),
            "query_geomean_s": geomean(p50[k] for k in means_over),
            "disk_write_mb": written,
        }
        for k, v in lat.items():
            out[f"{k}_p50_s"] = p50[k]
            out[f"{k}_cpu_p50_s"] = cpu50[k]
            t = tail([w for w, _ in v])
            out[f"{k}_tail"] = None if t is None else vars(t)
            out[f"{k}_samples"] = len(v)
        return out

    def walk(self, client, walk, name: str, lat: dict | None) -> set:
        """One pass over the sessions; returns the (plan, frame) pairs
        viewed. A plan's first ``/view`` in the pass counts as cold.
        Requests of the untimed pass (``lat`` is ``None``) run in the
        ``check`` job group phase, measured ones in ``serve``."""
        seen: set[tuple[str, int]] = set()
        for s_no, session in enumerate(walk):
            q = ""
            for step, task in enumerate(session):
                rid = f"{name}s{s_no}t{step}"
                op = f"s{s_no}t{step}"
                body = self.request(client, f"/explore/{quote(q, safe='')}",
                                    "explore", rid, lat, f"{op}.explore")
                links = re.findall(r'<a href="/explore/([^"]+)">([^<]+)</a>', body)
                nxt = [href for href, label in links if label == task]
                if not self.tally.record(bool(nxt)):
                    self.errors.append(f"{rid}: no /explore link for {task}")
                    break
                q = unquote(nxt[0])
                idx = sum(k.endswith("_task") for k, _ in parse_qsl(q)) - 1
                qq = quote(q, safe="")
                for j, kind in enumerate(STEP_REQUESTS):
                    if kind == "csv":
                        self.request(client, f"/download/csv/{idx}/{qq}", "csv", rid, lat,
                                     f"{op}.{j}")
                        continue
                    bucket = "view_hit" if (q, idx) in seen else "view_cold"
                    seen.add((q, idx))
                    self.request(client, f"/view/{kind[-1]}/{idx}/{qq}", bucket, rid, lat,
                                 f"{op}.{j}")
        return seen

    def request(self, client, path: str, kind: str, rid: str, lat: dict | None,
                op: str) -> str:
        route = {"view_cold": "view", "view_hit": "view"}.get(kind, kind)
        if self.tracer is not None:
            self.tracer.request_id = rid
        self.group(rid, "check" if lat is None else "serve")
        started = self.clock.start()
        try:
            with self.span(f"serve.{route}"):
                resp = client.get(path)
            status, body = resp.status_code, resp.get_data(as_text=True)
        except Exception as e:
            status, body = 0, f"{type(e).__name__}: {e}"
        wall, cpu = self.clock.stop(started)
        if self.tally.record(status == 200):
            if lat is not None:
                lat[kind].append((wall, cpu))
                self.record(op, wall, cpu)
        else:
            self.errors.append(f"{rid} {path[:60]}: {status} {body[:200]}")
        return body

    def check_views(self, reg, plans, cache_root: str) -> None:
        """Each viewed frame as the cache served it equals the frame
        computed directly from the plan with ``perform_actions``."""
        from correct import same_rows
        from task_on_dataframes_spark.browse import BrowseState
        from task_on_dataframes_spark.cache import ResultCache, plan_key
        from task_on_dataframes_spark.plans.solve import perform_actions

        cache = ResultCache(cache_root)
        for q, idx in sorted(plans):
            self.group("check", "check")
            try:
                bs = BrowseState.from_url_q(q, registry=reg)
                served = cache.load(self.spark, plan_key(bs.actions, [f"frame={idx}"]))
                direct = perform_actions([], bs.actions, registry=reg,
                                         return_latest_first=False)[idx]
                err = "not cached" if served is None else same_rows(
                    served.toPandas(), direct.toPandas())
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            if not self.tally.record(err is None):
                self.errors.append(f"view {q[:80]} frame {idx}: {err}")

    # -- process facts -----------------------------------------------------
    def descendants(self) -> dict[int, str]:
        """Process id -> command name of every descendant of this process."""
        parents: dict[int, int] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1: stat.rindex(")")]
            parents[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
            comm[int(d)] = name
        me, out = os.getpid(), {}
        for pid in parents:
            p = pid
            while p in parents and p not in (me, 0, 1):
                p = parents[p]
            if p == me and pid != me:
                out[pid] = comm[pid]
        return out

    def jvm_pids(self) -> list[int]:
        return [pid for pid, name in self.descendants().items() if name == "java"]

    def cpu_s(self) -> float:
        """CPU seconds (user + system) this process and its JVM used so
        far, with their live and reaped descendants (the JVM's Python
        workers). Time the hypervisor stole from the guest is not in it."""
        ticks = 0
        for pid in [os.getpid(), *self.descendants()]:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # ended meanwhile; its parent has reaped it
                continue
            ticks += sum(int(f) for f in fields[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def jvm_gc_s(self) -> float:
        """Seconds the JVM has spent in garbage collection so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def jvm_write_bytes(self) -> int:
        total = 0
        for pid in self.jvm_pids():
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        return total

    def peak_rss_mb(self) -> float:
        total = 0
        for pid in [os.getpid(), *self.jvm_pids()]:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024

    def host_facts(self) -> dict:
        import pyspark

        return {
            "nproc": self.nproc,
            "spark_cores": self.cpus,
            "sf": build.SF,
            "spark": pyspark.__version__,
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "run_seconds": self.args.seconds,
        }

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- traced run ----------------------------------------------------------
    def per_layer(self, res: dict) -> dict:
        from tracing import read_event_log

        n = len(res["passes"])
        sums = layer_sums(self.tracer.spans)

        def total(name, key="total_s"):
            return sums.get(name, {}).get(key, 0.0) / n

        counts = {k: v / n for k, v in self.tracer.counts.items()}
        ev = read_event_log(os.path.join(self.scratch, "events"))

        def phase(names, key):
            return sum(ev.get(p, {}).get(key, 0.0) for p in names) / n

        exec_phases = ("exec", "serve")
        exec_s = total("spark.exec") + total("serve.view") + total("serve.csv")
        exec_task_s = phase(exec_phases, "task_s")
        lookups = counts.get("cache.lookups", 0.0)
        out = {
            "plans.find_path_s": total("plans.find_path"),
            "plans.find_path_calls": total("plans.find_path", "calls"),
            "plans.states_expanded": total("plans.actions_given_state", "calls"),
            "plans.actions_enumerated": counts.get("plans.actions_enumerated", 0.0),
            "plans.lookahead_s": total("plans.lookahead"),
            "runtime.call_task_s": total("runtime.call_task"),
            "runtime.call_task_calls": total("runtime.call_task", "calls"),
            "registry.construct_s": total("registry.construct"),
            "registry.construct_share": total("registry.construct") / res["pass_s"],
            "registry.eager_jobs": phase(["construct"], "jobs"),
            "registry.eager_stages": phase(["construct"], "stages"),
            "registry.eager_task_s": phase(["construct"], "task_s"),
            "registry.eager_shuffle_write_mb": phase(["construct"], "shuffle_write_mb"),
            "registry.eager_spill_mb": phase(["construct"], "spill_mb"),
            "registry.unattributed_jobs": ev.get("", {}).get("jobs", 0),
            "spark.plan_s": total("spark.plan"),
            "spark.exec_s": exec_s,
            "spark.exec_jobs": phase(exec_phases, "jobs"),
            "spark.exec_stages": phase(exec_phases, "stages"),
            "spark.exec_task_s": exec_task_s,
            "spark.exec_shuffle_write_mb": phase(exec_phases, "shuffle_write_mb"),
            "spark.exec_spill_mb": phase(exec_phases, "spill_mb"),
            "spark.exec_core_util": exec_task_s / (exec_s * self.cpus) if exec_s else 0.0,
            "spark.failed_tasks": sum(r["failed_tasks"] for r in ev.values()),
            "cache.lookups": lookups,
            "cache.hits": counts.get("cache.hits", 0.0),
            "cache.hit_ratio": counts.get("cache.hits", 0.0) / lookups if lookups else 0.0,
            "cache.store_s": total("cache.store"),
            "cache.load_s": total("cache.load"),
            "cache.stored_mb": counts.get("cache.stored_mb", 0.0),
            "serve.explore_self_s": total("serve.explore", "self_s"),
            "serve.view_self_s": total("serve.view", "self_s"),
            "browse.decode_s": total("browse.decode"),
            "view.page_s": total("view.page"),
        }
        # per batch query: its spans carry the query name as request id
        for q in sorted({q for w in WORKLOADS.values() if isinstance(w, Batch)
                         for q in w.queries}):
            for layer, span in (("registry.construct_s", "registry.construct"),
                                ("spark.exec_s", "spark.exec")):
                out[f"{layer}.{q}"] = sum(s.duration for s in self.tracer.spans
                                          if s.name == span and s.request_id == q) / n
        return out


def host_cpu_ticks() -> tuple[int, int]:
    """All CPU ticks of the host so far and those the hypervisor stole
    (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:9]]
    return sum(fields), fields[7]


def _dir_mb(path: str) -> float:
    from tracing import _dir_mb as size

    return size(path) if os.path.isdir(path) else 0.0


def untraced_pass_s(results_dir: str, workload: str, seed: int) -> float | None:
    """pass_s of this seed's untraced result, else the median over the
    workload's untraced results, else ``None``."""
    same = os.path.join(results_dir, f"{workload}-s{seed}-t0.json")
    paths = [same] if os.path.exists(same) else [
        os.path.join(results_dir, f) for f in os.listdir(results_dir)
        if f.startswith(f"{workload}-s") and f.endswith("-t0.json")
    ] if os.path.isdir(results_dir) else []
    vals = []
    for p in paths:
        with open(p) as fh:
            vals.append(json.load(fh)["metrics"]["pass_s"])
    return median(vals) if vals else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = ("__spark_entry__.py", "task_on_dataframes_spark/__init__.py",
              "tools/check_correctness.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    run = Run(args, root)
    t0 = time.perf_counter()
    names = sorted({q for w in WORKLOADS.values() if isinstance(w, Batch) for q in w.queries})
    # a child process, so the build's memory is not in this one's peak RSS
    subprocess.run([sys.executable, os.path.join(HERE, "build.py"), run.build_root, *names],
                   check=True)
    run.sf_dir = build.data_dir(run.build_root)
    run.oracles = build.oracle_paths(run.build_root, names)
    build_s = time.perf_counter() - t0

    run.isolate()
    try:
        if args.trace:
            from tracing import Tracer, instrument

            import task_on_dataframes_spark  # noqa: F401

            run.tracer = Tracer(run.label)
            instrument(run.tracer)
        phases = {"build_s": build_s, "import_s": time.perf_counter() - t0 - build_s}
        setups = [run.setup()]
        run.clock = OpClock(run.jvm_pids()[0])
        wl = run.workload
        t1 = time.perf_counter()
        res = run.batch(wl) if isinstance(wl, Batch) else run.explore(wl)
        phases["workload_s"] = time.perf_counter() - t1
        facts = run.host_facts()
        rss = run.peak_rss_mb()
        # further set-ups run after the measured work, because a restarted
        # session in the same JVM runs the workload measurably slower
        setups += [run.setup() for _ in range(SETUPS - 1)]
        run.stop_spark()
        tmp_left = sum(_dir_mb(os.path.join(run.scratch, d)) for d in ("cwd", "tmp", "local"))
        metrics = {
            "setup_s": median(setups),
            **{k: res[k] for k in ("pass_cpu_s", "query_cpu_geomean_s", "pass_s",
                                   "query_geomean_s", "disk_write_mb")},
            "peak_rss_mb": rss,
        }
        report = {
            "host": facts,
            "phases": {**phases, **run.timed},
            "setups_s": setups,
            "pass_tree_cpu_s": run.pass_cpu,
            "pass_gc_s": run.pass_gc,
            "steal_share": run.steal_share,
            "fail_ratio": run.tally.fail_ratio,
            "errors": run.errors[:20],
            **metrics,
            **{k: v for k, v in res.items() if k not in metrics},
            "registry.tmp_left_mb": tmp_left,
        }
        if args.trace:
            layers = run.per_layer(res)
            layers.update({k: run.timed.get(k, 0.0) for k in
                           ("session.start_s", "session.warm_s")})
            layers["registry.tmp_left_mb"] = tmp_left
            base = untraced_pass_s(run.results, args.workload, args.seed)
            report["traced_pass_s"] = res["pass_s"]
            report["tracing_overhead_s"] = None if base is None else res["pass_s"] - base
            report["layer_sum_s"] = (layers["registry.construct_s"] + layers["spark.plan_s"]
                                     + layers["spark.exec_s"])
            traces = os.path.join(root, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(traces, f"{run.label}.json"), layers)
            out_metrics = layers
        else:
            out_metrics = metrics
        os.makedirs(run.results, exist_ok=True)
        with open(os.path.join(run.results, f"{run.label}.json"), "w") as fh:
            json.dump({"host": facts, "metrics": out_metrics, "report": report},
                      fh, indent=1, default=str)
    finally:
        try:
            run.stop_spark()
        finally:
            os.chdir(root)
            shutil.rmtree(run.scratch, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    declared = declared_metrics(root)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {m["name"]: {"value": out_metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
