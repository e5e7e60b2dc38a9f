"""naqed-spark benchmark: fresh-plan query walls end to end, and each
engine layer timed from outside.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

One run, in one driver process with one client and no think time:

1. prepares the workload's input from the fixture copies under
   ``perfbench/fixtures`` (``inputs.py``); the seed does not change it;
2. sets up five times: start a ``local[nproc]`` session, import the
   registry, ``tune_session``, run a warm-up action. ``setup_s`` is the
   median. Set-ups after the first stop the session and re-import
   ``naqed_spark`` inside the running JVM, so its caches start empty;
3. runs one cold pass. A pass runs every key of the workload once, in an
   order the seed permutes; each sample builds a new DataFrame
   (``QUERIES[key](spark, dir)``), plans it and consumes it, so no sample
   reuses another's shuffle output;
4. checks every key once, untimed, against its DuckDB oracle twin
   (``naqed_spark.oracle_check.check_key``; ``ROWS_ONLY`` keys get a
   row-count check; ``oracle.py`` keeps the oracle's results between runs).
   It and the workload's ``warmup_passes`` untimed passes take the JVM
   past the steepest part of its JIT warm-up;
5. runs ``round(--seconds / pass_budget_s)`` timed passes, at least one.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``; the
per-layer ones, read from the JVM status stores, with ``--trace 1``). A
traced run also writes its spans and per-key layer table to
``perfbench/.work/traces/``. README.md says what each metric measures.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import inputs
from layers import MB, SparkProbe, Tracer, check_spans, covered
from oracle import OracleResults
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUPS = 5
DRIVER_MEMORY = "2g"
# the JVMs write no temporary or perf-data files outside perfbench/.work
JVM_FILES = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"

END_TO_END = {
    "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s", "cold_pass_s": "s",
    "setup_s": "s", "ok_frac": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "build_ms": "ms", "build_py4j_calls": "count", "build_jobs": "count",
    "build_job_ms": "ms", "catalog_load_ms": "ms", "catalog_load_cached_ms": "ms",
    "analysis_ms": "ms", "optimizer_ms": "ms", "planning_ms": "ms",
    "exec_jobs": "count", "exec_stages": "count", "exec_tasks": "count",
    "in_job_ms": "ms", "outside_job_ms": "ms", "task_ms_sum": "ms",
    "task_ms_max": "ms", "core_util": "ratio", "empty_task_frac": "ratio",
    "skipped_stage_frac": "ratio", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "gc_ms": "ms", "fetch_ms": "ms",
    "python_mb_sent": "MB", "python_rows_received": "count",
    "pinned_rdds_max": "count", "storage_mb_max": "MB", "write_mb": "MB",
    "files_written": "count", "floor_action_ms": "ms",
    "scan_partitions_min": "count", "traced_pass_s": "s",
}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-quantile: a mean of all the order
    statistics, weighted by a Beta((n+1)p, (n+1)(1-p)) density. A single
    order statistic jumps from one key's walls to another's when the
    quantile falls in a gap between two keys; this estimate moves smoothly."""
    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, x, cdf)
    return float(np.dot(np.diff(edges), v))


def _tail_percentile(n: int) -> float:
    """The highest percentile with at least ten of ``n`` samples beyond it
    (the lowest sample's, with ten samples or fewer)."""
    return max(1, n - 10) / n


class Bench:
    def __init__(self, workload, input_dir: str, seed: int, traced: bool, nproc: int) -> None:
        self.wl = workload
        self.input_dir = input_dir
        self.traced = traced
        self.nproc = nproc
        self.tr = Tracer()
        self.probe: SparkProbe | None = None
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.problems: list[str] = []
        self.floor_ms: list[float] = []
        self.fetch_ms: dict[str, float] = {}
        self.scan_partitions: dict[str, int] = {}
        self.order = random.Random(seed)

    # -- setup -------------------------------------------------------------
    def setup(self) -> None:
        if self.spark is not None:  # a fresh session and a fresh import
            self.spark.stop()
            for name in [m for m in sys.modules if m.split(".")[0] == "naqed_spark"]:
                del sys.modules[name]
        with self.tr.span("setup"):
            with self.tr.span("session_start"):
                from pyspark.sql import SparkSession

                work = str(WORK)
                self.spark = (
                    SparkSession.builder.master(f"local[{self.nproc}]")
                    .appName("perfbench")
                    .config("spark.sql.shuffle.partitions", str(self.nproc))
                    .config("spark.driver.memory", DRIVER_MEMORY)
                    .config("spark.ui.enabled", "false")
                    .config("spark.ui.showConsoleProgress", "false")
                    # keep every job and SQL execution of a run in the
                    # status stores, so a traced run can read them all
                    .config("spark.ui.retainedJobs", "1000000")
                    .config("spark.ui.retainedStages", "1000000")
                    .config("spark.sql.ui.retainedExecutions", "1000000")
                    .config("spark.local.dir", f"{work}/spark-local")
                    .config("spark.sql.warehouse.dir", f"{work}/warehouse")
                    # a fixed-size heap, every page touched at start: the JVM's
                    # resident size does not depend on when the collector
                    # grew the heap or how far it has cycled through it
                    .config("spark.driver.extraJavaOptions",
                            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JVM_FILES}")
                    .getOrCreate()
                )
                self.spark.sparkContext.setLogLevel("ERROR")
            with self.tr.span("load_all"):
                registry = importlib.import_module("naqed_spark.registry")
                registry.load_all()
                self.queries = registry.QUERIES
            with self.tr.span("tune_session"):
                importlib.import_module("naqed_spark.session").tune_session(self.spark)
            with self.tr.span("warmup"):
                self.spark.range(1_000_000).selectExpr("sum(id)").collect()

    def time_catalog_loads(self) -> None:
        """Wrap ``catalog.load`` wherever ``naqed_spark`` bound it, so that
        each call becomes a ``catalog_load`` span: ``first`` for a table's
        first load in the session (schema and DataFrame caches miss),
        ``cached`` for the later ones. Traced runs only, after the last
        set-up, so the cold pass makes the first calls."""
        catalog = importlib.import_module("naqed_spark.catalog")
        real = self.real_load = catalog.load
        seen = set()

        def timed_load(spark, sf_dir, name):
            call = "cached" if (sf_dir, name) in seen else "first"
            seen.add((sf_dir, name))
            with self.tr.span("catalog_load", table=name, call=call):
                return real(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").split(".")[0] != "naqed_spark":
                continue
            for attr in [a for a, v in vars(mod).items() if v is real]:
                setattr(mod, attr, timed_load)

    def floor(self) -> float:
        """Median wall (ms) of a 1-row two-stage job: the scheduler floor."""
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(1).groupBy("id").count().collect()
            walls.append((time.perf_counter() - t0) * 1000.0)
        self.floor_ms.append(statistics.median(walls))
        return self.floor_ms[-1]

    # -- samples -----------------------------------------------------------
    def sample(self, key: str, label, consume: str) -> dict:
        """Build a new DataFrame for ``key``, plan it and consume it."""
        pr = self.probe
        marks = (pr.rdd_mark(), pr.sql_execution_count(), time.time()) if pr else None
        self.attempted += 1
        df = None
        with self.tr.span("query", key=key, pass_no=label) as q:
            try:
                with self.tr.span("build") as b:
                    if pr:
                        b["group"] = pr.group(f"{key} build")
                        pr.py4j_calls, pr.counting = 0, True
                    try:
                        df = self.queries[key](self.spark, self.input_dir)
                    finally:
                        if pr:
                            pr.counting = False
                            b["py4j_calls"] = pr.py4j_calls
                if consume == "collect":
                    with self.tr.span("plan") as p:
                        if pr:
                            p["group"] = pr.group(f"{key} plan")
                        df._jdf.queryExecution().executedPlan()
                    with self.tr.span("consume") as c:
                        if pr:
                            c["group"] = pr.group(f"{key} consume")
                        df.collect()
                else:  # the noop sink plans the query itself
                    with self.tr.span("consume") as c:
                        if pr:
                            c["group"] = pr.group(f"{key} consume")
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing key is counted, not fatal
                q["error"] = f"{type(exc).__name__}: {exc}"[:400]
                self.failed += 1
                self.problems.append(f"{key} (pass {label}): {q['error']}")
            finally:
                if pr:
                    pr.clear_group()
        if pr and "error" not in q:
            self._layers(q, df, consume, *marks)
        return q

    def _layers(self, q: dict, df, consume: str, rdd_mark: int, sql_mark: int,
                t0: float) -> None:
        """Per-layer counters of one finished sample (traced runs only)."""
        pr = self.probe
        pr.settle()
        lay = {}
        jobs_by_phase = {}
        for phase in self.tr.children(q):
            if "group" not in phase:
                continue
            jobs = pr.jobs(phase["group"], rdd_mark)
            for j in jobs:  # a job still running after its phase stays open
                self.tr.add(phase, "job", j["start"], j["end"], job=j["job"])
            jobs_by_phase[phase["name"]] = [j for j in jobs if j["end"] is not None]
        build = next(s for s in self.tr.children(q) if s["name"] == "build")
        consume_span = next(s for s in self.tr.children(q) if s["name"] == "consume")
        lay["build_ms"] = (build["end"] - build["start"]) * 1000.0
        lay["build_py4j_calls"] = build["py4j_calls"]
        lay["build_jobs"] = len(jobs_by_phase["build"])
        lay["build_job_ms"] = sum(j["end"] - j["start"] for j in jobs_by_phase["build"]) * 1000.0
        exec_jobs = jobs_by_phase["consume"]
        in_job = covered((j["start"], j["end"]) for j in exec_jobs)
        lay["exec_jobs"] = len(exec_jobs)
        lay["exec_stages"] = sum(j["stages"] for j in exec_jobs)
        lay["exec_tasks"] = sum(j["tasks"] for j in exec_jobs)
        lay["in_job_ms"] = sum(j["end"] - j["start"] for j in exec_jobs) * 1000.0
        lay["outside_job_ms"] = ((consume_span["end"] - consume_span["start"]) - in_job) * 1000.0
        lay["task_ms_sum"] = sum(j["task_ms_sum"] for j in exec_jobs)
        lay["task_ms_max"] = max([j["task_ms_max"] for j in exec_jobs], default=0)
        every = [j for jobs in jobs_by_phase.values() for j in jobs]
        for name, field in (("tasks_all", "tasks"), ("empty_tasks", "empty_tasks"),
                            ("stages_all", "stages"), ("reused_stages", "reused_stages")):
            lay[name] = sum(j[field] for j in every)
        lay["shuffle_write_mb"] = sum(j["shuffle_write"] for j in every) / MB
        lay["shuffle_read_mb"] = sum(j["shuffle_read"] for j in every) / MB
        lay["spill_mb"] = sum(j["spill"] for j in every) / MB
        lay["gc_ms"] = sum(j["gc_ms"] for j in every)
        lay["write_mb"] = sum(j["output_bytes"] for j in every) / MB
        sent, rows = pr.python_metrics(sql_mark)
        lay["python_mb_sent"], lay["python_rows_received"] = sent / MB, rows
        pinned, held = pr.storage()
        lay["pinned_rdds"], lay["storage_mb"] = pinned, held / MB
        lay["files_written"] = sum(
            1 for d, _, fs in os.walk(os.environ["NAQED_SCRATCH_DIR"]) for f in fs
            if os.path.getmtime(os.path.join(d, f)) >= t0
        )
        if consume != "collect":  # the sink planned its own copy; plan ours untimed
            with self.tr.span("plan_probe", key=q["key"]):
                df._jdf.queryExecution().executedPlan()
        ph = pr.phases(df)
        lay["analysis_ms"], lay["optimizer_ms"], lay["planning_ms"] = (
            ph["analysis"], ph["optimization"], ph["planning"])
        q["layers"] = lay

    def run_pass(self, label) -> dict:
        keys = list(self.wl.keys)
        self.order.shuffle(keys)
        with self.tr.span("pass", pass_no=label) as p:
            for key in keys:
                self.sample(key, label, self.wl.consume)
        return p

    def fetch_probes(self) -> None:
        """collect() minus the noop sink on two new plans of each key."""
        with self.tr.span("fetch_probe"):
            for key in self.wl.keys:
                a = self.sample(key, "fetch", "collect")
                b = self.sample(key, "fetch", "noop")
                if "error" in a or "error" in b:
                    continue
                walls = {}
                for name, q in (("collect", a), ("noop", b)):
                    walls[name] = sum(s["end"] - s["start"] for s in self.tr.children(q)
                                      if s["name"] in ("plan", "consume"))
                self.fetch_ms[key] = (walls["collect"] - walls["noop"]) * 1000.0

    def record_scan_partitions(self) -> None:
        catalog = importlib.import_module("naqed_spark.catalog")
        for t in catalog.TABLES:
            rdd = self.real_load(self.spark, self.input_dir, t)._jdf.queryExecution().toRdd()
            self.scan_partitions[t] = int(rdd.getNumPartitions())

    # -- correctness -------------------------------------------------------
    def check(self) -> None:
        """Every key once, untimed, against its DuckDB oracle twin."""
        oracle_check = importlib.import_module("naqed_spark.oracle_check")
        catalog = importlib.import_module("naqed_spark.catalog")
        con = OracleResults(self.input_dir, self.wl.split, catalog.TABLES,
                            f"{inputs.digest()} {Path(self.input_dir).name}", WORK / "oracle")
        try:
            with self.tr.span("check"):
                for key in self.wl.keys:
                    self.attempted += 1
                    try:
                        found = oracle_check.check_key(self.spark, con, key, self.input_dir)
                    except Exception as exc:  # the key raised: a failure, not a crash
                        found = [f"{key}: raised {type(exc).__name__}: {exc}"[:400]]
                    if found:
                        self.failed += 1
                        self.problems.extend(found)
        finally:
            con.close()


def _metrics_line(metrics: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": metrics[k], "unit": units[k]} for k in units}


def timed_passes(wl, seconds: float) -> int:
    """How many passes a run times: fixed by ``--seconds`` and the
    workload's reference pass wall, so that a faster program neither does
    more timed work nor gets a warmer JVM than a slower one."""
    return max(1, round(seconds / wl.pass_budget_s))


def _measure(bench: Bench, args):
    """Set up, run the cold pass, the correctness gate and the timed
    passes, and read peak memory."""
    with bench.tr.span("run", workload=bench.wl.name, seed=args.seed) as run:
        for _ in range(SETUPS):
            bench.setup()
        if bench.traced:
            bench.probe = SparkProbe(bench.spark)
            bench.time_catalog_loads()
        floor_start = bench.floor()
        cold = bench.run_pass("cold")
        bench.check()
        # The Python process's peak memory counts from here on, so that the
        # DuckDB oracle the check may have run in it is not counted.
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        for i in range(bench.wl.warmup_passes):
            bench.run_pass(f"warmup{i}")
        warm = [bench.run_pass(i) for i in range(timed_passes(bench.wl, args.seconds))]
        if bench.traced:
            bench.fetch_probes()
            bench.record_scan_partitions()
        floor_end = bench.floor()
        jvm_pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    return run, cold, warm, (floor_start, floor_end), rss_mb


def _stop_jvm() -> None:
    """Stop the session and the JVM, and wait until the JVM has exited (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=inputs.SCALES, help="override the workload's fixture scale")
    args = ap.parse_args(argv)

    if not (ROOT / "naqed_spark" / "registry.py").is_file():
        print(f"perfbench: no naqed_spark package beside {HERE}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    load_start, cpu_start = os.getloadavg()[0], _cpu_times()

    # Everything a run writes stays under perfbench/.work, whatever the cwd.
    for d in ("tmp", "spark-local", "traces"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    sink = WORK / "sink"
    shutil.rmtree(sink, ignore_errors=True)
    sink.mkdir()
    os.chdir(WORK)
    os.environ.update({
        "NAQED_SCRATCH_DIR": str(sink),
        "TMPDIR": str(WORK / "tmp"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": JVM_FILES,
        # the Python workers import naqed_spark for pandas/Arrow UDFs
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    sys.path.insert(0, str(ROOT))

    sf = args.sf or wl.sf
    input_dir = inputs.prepare(sf, nproc if wl.split else 1, WORK / "data")

    bench = Bench(wl, input_dir, args.seed, bool(args.trace), nproc)
    tr = bench.tr
    try:
        run, cold, warm, floors, rss_mb = _measure(bench, args)
    finally:
        _stop_jvm()
    floor_start, floor_end = floors
    load_end, cpu_end = os.getloadavg()[0], _cpu_times()
    # share of CPU time the hypervisor gave to other guests during the run
    steal = [b - a for a, b in zip(cpu_start, cpu_end)]
    steal_pct = 100.0 * steal[7] / max(1, sum(steal[:8]))

    setups = [s["end"] - s["start"] for s in tr.spans if s["name"] == "setup"]
    queries = [q for q in tr.spans if q["name"] == "query" and isinstance(q["pass_no"], int)
               and "error" not in q]
    walls = [q["end"] - q["start"] for q in queries]
    pass_s = statistics.median(p["end"] - p["start"] for p in warm)
    tail_p = _tail_percentile(len(walls)) if walls else 0.0
    e2e = {
        "pass_s": pass_s,
        "query_p50_s": _hd_quantile(walls, 0.5) if walls else 0.0,
        "query_tail_s": _hd_quantile(walls, tail_p) if walls else 0.0,
        "cold_pass_s": cold["end"] - cold["start"],
        "setup_s": statistics.median(setups),
        "ok_frac": 1.0 - bench.failed / bench.attempted,
        "peak_rss_mb": rss_mb,
    }

    print(f"perfbench {wl.name} seed={args.seed} nproc={nproc} sf={sf} "
          f"split={wl.split} consume={wl.consume} keys={len(wl.keys)} "
          f"timed_passes={len(warm)} samples={len(walls)}")
    print("key median walls (ms): " + " ".join(
        f"{k}={statistics.median(q['end'] - q['start'] for q in queries if q['key'] == k) * 1000:.0f}"
        for k in wl.keys if any(q["key"] == k for q in queries)))
    print("timed pass walls (s): " + " ".join(f"{p['end'] - p['start']:.3f}" for p in warm))
    check_s = next(s["end"] - s["start"] for s in tr.spans if s["name"] == "check")
    warmup_s = sum(p["end"] - p["start"] for p in tr.spans
                   if p["name"] == "pass" and str(p["pass_no"]).startswith("warmup"))
    print(f"run phases (s): setups={sum(setups):.1f} cold={e2e['cold_pass_s']:.1f} "
          f"check={check_s:.1f} warmup={warmup_s:.1f} timed={sum(p['end'] - p['start'] for p in warm):.1f} "
          f"run={run['end'] - run['start']:.1f}")
    print(f"host: load1 start={load_start:.2f} end={load_end:.2f}  "
          f"floor_action_ms start={floor_start:.1f} end={floor_end:.1f}  cpu steal={steal_pct:.1f}%")
    for p in bench.problems:
        print(f"FAIL {p}")
    print(f"failed_frac = {bench.failed / bench.attempted:.4f} "
          f"({bench.failed} of {bench.attempted} samples and checks)")
    for k, unit in END_TO_END.items():
        extra = f"  (p{100 * tail_p:.1f} of {len(walls)} samples)" if k == "query_tail_s" else ""
        print(f"{k} = {e2e[k]:.4f} {unit}{extra}")

    if bench.traced:
        metrics, per_key = _per_layer(bench, queries, pass_s)
        trace_path = WORK / "traces" / f"{wl.name}-seed{args.seed}.json"
        with open(trace_path, "w") as f:
            json.dump({"workload": wl.name, "seed": args.seed, "nproc": nproc,
                       "end_to_end": e2e, "per_layer": metrics, "per_key": per_key,
                       "scan_partitions": bench.scan_partitions,
                       "span_problems": check_spans(tr), "spans": tr.spans}, f)
        _print_per_key(per_key)
        for k, unit in PER_LAYER.items():
            print(f"{k} = {metrics[k]:.4f} {unit}")
        print(f"trace: {trace_path} ({len(tr.spans)} spans, run {run['end'] - run['start']:.1f} s)")
        result = _metrics_line(metrics, PER_LAYER)
    else:
        result = _metrics_line(e2e, END_TO_END)
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": result}))
    return 0


_MEAN_FIELDS = [
    "build_ms", "build_py4j_calls", "build_jobs", "build_job_ms", "analysis_ms",
    "optimizer_ms", "planning_ms", "exec_jobs", "exec_stages", "exec_tasks",
    "in_job_ms", "outside_job_ms", "task_ms_sum", "task_ms_max", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "gc_ms", "python_mb_sent", "python_rows_received",
    "write_mb", "files_written",
]


def _aggregate(layers: list[dict], nproc: int) -> dict[str, float]:
    """Per-sample means of the counters, and the ratios taken over totals."""
    out = {k: statistics.fmean(lay[k] for lay in layers) for k in _MEAN_FIELDS}
    task_ms = sum(lay["task_ms_sum"] for lay in layers)
    in_job = sum(lay["in_job_ms"] for lay in layers)
    tasks = sum(lay["tasks_all"] for lay in layers)
    stages = sum(lay["stages_all"] + lay["reused_stages"] for lay in layers)
    out["core_util"] = task_ms / (in_job * nproc) if in_job else 0.0
    out["empty_task_frac"] = sum(lay["empty_tasks"] for lay in layers) / tasks if tasks else 0.0
    out["skipped_stage_frac"] = (
        sum(lay["reused_stages"] for lay in layers) / stages if stages else 0.0)
    out["pinned_rdds_max"] = max(lay["pinned_rdds"] for lay in layers)
    out["storage_mb_max"] = max(lay["storage_mb"] for lay in layers)
    return out


def _per_layer(bench: Bench, queries: list[dict], pass_s: float):
    traced = [q for q in queries if "layers" in q]
    per_key = {}
    for key in bench.wl.keys:
        mine = [q["layers"] for q in traced if q["key"] == key]
        if mine:
            per_key[key] = _aggregate(mine, bench.nproc)
            per_key[key]["wall_ms"] = statistics.fmean(
                q["end"] - q["start"] for q in traced if q["key"] == key) * 1000.0
            per_key[key]["fetch_ms"] = bench.fetch_ms.get(key, 0.0)
    metrics = _aggregate([q["layers"] for q in traced], bench.nproc) if traced else {
        k: 0.0 for k in PER_LAYER}
    # catalog.load: the first call of each table (in the cold pass), and the
    # median of its cached calls; both summed over the tables the keys load
    loads = [s for s in bench.tr.spans if s["name"] == "catalog_load"]
    metrics["catalog_load_ms"] = sum(
        s["end"] - s["start"] for s in loads if s["call"] == "first") * 1000.0
    cached = {}
    for s in loads:
        if s["call"] == "cached":
            cached.setdefault(s["table"], []).append(s["end"] - s["start"])
    metrics["catalog_load_cached_ms"] = sum(
        statistics.median(v) for v in cached.values()) * 1000.0
    metrics["fetch_ms"] = statistics.fmean(bench.fetch_ms.values()) if bench.fetch_ms else 0.0
    metrics["floor_action_ms"] = statistics.median(bench.floor_ms)
    metrics["scan_partitions_min"] = min(bench.scan_partitions.values())
    metrics["traced_pass_s"] = pass_s
    return metrics, per_key


def _print_per_key(per_key: dict) -> None:
    cols = ["wall_ms", "build_ms", "build_py4j_calls", "build_jobs", "planning_ms",
            "in_job_ms", "outside_job_ms", "exec_tasks", "core_util", "fetch_ms",
            "python_mb_sent", "pinned_rdds_max"]
    print("key".ljust(34) + "".join(c[:12].rjust(13) for c in cols))
    for key, row in per_key.items():
        print(key[:33].ljust(34) + "".join(f"{row[c]:13.1f}" for c in cols))


if __name__ == "__main__":
    sys.exit(main())
