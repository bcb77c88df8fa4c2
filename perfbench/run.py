#!/usr/bin/env python3
"""Benchmark for jsonschema_spark: one seeded workload per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

The run is a closed loop with one client: a single driver process, one
``local[nproc]`` session, and each job starts when the previous one has
returned.  It sets up Spark, generates (or reuses) the seeded inputs,
runs one cold job and the workload's fixed number of warm-up jobs, then
measures warm jobs for ``--seconds`` seconds, checks every job's output
against the workload's oracle, and prints one JSON object as the last
line of standard output:

- ``--trace 0``: the end-to-end metrics (setup_s, rows_per_s),
  measured with tracing off;
- ``--trace 1``: the per-layer metrics, from warm jobs run alternately
  with and without tracing, plus standalone layer probes (first_job_s
  and peak_rss_mb are among them: they vary too much from run to run to
  gate a change).

Everything the run writes goes under ``.perfbench/`` in the working
directory (inputs cached by seed and size, job outputs, Spark scratch
space, trace files).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import gen
import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(os.getcwd(), ".perfbench")

#: warm jobs measured at least, however long they take (traced runs:
#: this many untraced/traced pairs)
MIN_WARM_JOBS = 3
#: cached input directories kept (oldest removed first)
CACHE_KEEP = 12


# ------------------------------------------------------------------ host

def _start_ticks(pid) -> int | None:
    """Kernel start time of `pid` (clock ticks since boot); None once it
    has exited (gone, or a zombie nobody reaped yet)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - _start_ticks("self") / os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> dict[int, str]:
    """pid -> command name of every live descendant of `root`."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        parent[int(d)] = int(tail.split()[1])
        comm[int(d)] = head.split("(", 1)[1]
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        for c, pp in parent.items():
            if pp == p and c not in out:
                out[c] = comm[c]
                todo.append(c)
    return out


def _reset_hwm(pid: int) -> None:
    """Reset a process's VmHWM to its current RSS."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class MemorySampler:
    """Peak resident memory of the program: the Spark driver (this
    process) while a job runs, its JVM, and its Python workers, each
    from its own high-water mark (VmHWM).  This process's mark is reset
    before each job and read after it, so the oracle checks between jobs
    (DuckDB, jsonschema) do not count; the JVM's is reset once before the
    first job; workers come and go, so theirs are sampled every
    `interval` seconds and the last reading of each worker counts."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.driver_kb = 0
        self.worker_hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.jvm = next((p for p, c in _descendants(os.getpid()).items()
                         if c == "java"), 0)
        _reset_hwm(self.jvm)
        self._thread.start()

    def _sample(self) -> None:
        for pid, comm in _descendants(os.getpid()).items():
            if comm.startswith("python"):
                kb = _status_kb(pid, "VmHWM")
                if kb:
                    self.worker_hwm_kb[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    @contextlib.contextmanager
    def job(self):
        """Count this process's memory while the enclosed job runs."""
        _reset_hwm(os.getpid())
        try:
            yield
        finally:
            self.driver_kb = max(self.driver_kb,
                                 _status_kb(os.getpid(), "VmHWM"))

    def stop(self) -> dict[str, float]:
        """Peak MB of driver, JVM and workers (summed)."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return {"driver": self.driver_kb / 1024,
                "jvm": _status_kb(self.jvm, "VmHWM") / 1024,
                "workers": sum(self.worker_hwm_kb.values()) / 1024}


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


# ----------------------------------------------------------------- spark

def configure_env() -> None:
    """Environment the Spark JVM and its Python workers inherit: the
    package on the workers' path, scratch space inside the working
    directory, and the Spark driver memory (overridable from outside)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    local, tmp = os.path.join(STATE, "spark-local"), os.path.join(STATE, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched and the
    Python workers it forked, and wait until each has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    started = {p: t for p in _descendants(os.getpid())
               if (t := _start_ticks(p)) is not None}
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # workers outlive the JVM briefly (they exit when their pipe closes);
    # they are no longer our children, so poll for them
    deadline = time.monotonic() + 30
    while True:
        # the start time tells a worker from a later process that
        # reused its pid
        alive = [p for p, t in started.items() if _start_ticks(p) == t]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            return
        time.sleep(0.05)


def start_spark():
    from jsonschema_spark.session import get_spark
    spark = get_spark("perfbench", cores=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


# ------------------------------------------------------------------ inputs

def prune_cache(cache: str) -> None:
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e)
                     for e in os.listdir(cache))
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# -------------------------------------------------------------------- run

def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def timed_job(wl, spark, k: int, tr, mem) -> tuple[float, list[str]]:
    """Run job `k`, then check its output; returns (wall time, oracle
    mismatches).  A job that raises counts as failed, not as fatal."""
    t0 = time.perf_counter()
    try:
        with mem.job(), tr.span("job"):
            result = wl.job(spark, k, tr)
    except Exception as e:
        return (time.perf_counter() - t0,
                [f"raised {type(e).__name__}: {e}"[:2000]])
    wall = time.perf_counter() - t0
    errs = wl.check(k, result)
    if k > 0:
        wl.discard(k - 1)
    return wall, errs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every workload's input rows (tests)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jsonschema_spark")):
        print(f"jsonschema_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    configure_env()
    steal0 = steal_jiffies()

    # ---- set-up: process start to a session that has run one job
    t = time.perf_counter()
    spark = start_spark()
    session_start_s = time.perf_counter() - t
    setup_s = process_age()

    # ---- inputs and oracle expectations (untimed)
    cls = WORKLOADS[args.workload]
    rows = max(int(cls.default_rows * args.scale), 200)
    cache = os.path.join(STATE, "cache")
    t = time.perf_counter()
    inputs = gen.ensure(cache, cls.kind, args.seed, rows)
    gen_s = time.perf_counter() - t
    prune_cache(cache)
    work = os.path.join(STATE, "work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    wl = cls(args.seed, rows, inputs, work)
    t = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t

    host = {
        "nproc": os.cpu_count(),
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "commit": git_commit(),
        "rows": rows,
    }

    # ---- timed jobs
    mem = MemorySampler()
    failures: dict[str, list[str]] = {}     # job label -> mismatches
    attempted = 0

    def record(label: str, errs: list[str]) -> None:
        nonlocal attempted
        attempted += 1
        if errs:
            failures[label] = errs

    def run_job(k: int, tracer) -> float:
        wall, errs = timed_job(wl, spark, k, tracer, mem)
        record(f"job {k}", errs)
        return wall

    first_job_s = run_job(0, tracing.NULL_TRACER)
    # a fixed number of warm-up jobs, however long they take: warm jobs
    # get faster over the first few (JIT, caches), and a count-based
    # warm-up makes every run measure the same stretch of that curve
    warmup = [run_job(k, tracing.NULL_TRACER)
              for k in range(1, 1 + cls.warmup_jobs)]
    warm, traced, readings = [], [], []
    tr = tracing.Tracer(spark) if args.trace else None
    k = 1 + cls.warmup_jobs
    t_loop = time.perf_counter()
    while (time.perf_counter() - t_loop < args.seconds
           or len(warm) < MIN_WARM_JOBS):
        if tr is None:
            order = (False,)
        else:
            # alternate which job of the pair is traced first, so
            # warm-up drift does not bias the tracing overhead
            order = (False, True) if len(warm) % 2 == 0 else (True, False)
        for traced_turn in order:
            if not traced_turn:
                warm.append(run_job(k, tracing.NULL_TRACER))
            else:
                tr.install()
                traced.append(run_job(k, tr))
                tr.drain()
                tr.uninstall()
                root = next(s for s in tr.spans if s.name == "job")
                readings.append(layer_reading(spark, tr, root,
                                              wl.violation_rows(k)))
                tr.reset()
            k += 1
    probe_reading = None
    if tr is not None:
        tr.install()
        try:
            checked = wl.probes(spark, tr)
        except Exception as e:
            checked = [[f"raised {type(e).__name__}: {e}"[:2000]]]
        tr.drain()
        tr.uninstall()
        probe_reading = probe_metrics(spark, tr)
        for i, errs in enumerate(checked):
            record(f"probe {i}", errs)
    rss = mem.stop()
    peak_rss_mb = sum(rss.values())
    host["peak_rss_mb"] = {n: round(v, 1) for n, v in rss.items()}
    host["steal_jiffies"] = steal_jiffies() - steal0
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    host["phases_s"] = {"gen": round(gen_s, 3), "prepare": round(prepare_s, 3),
                        "loop": round(time.perf_counter() - t_loop, 3)}

    failed = len(failures)
    for label, errs in failures.items():
        for e in errs:
            print(f"ORACLE MISMATCH {label}: {e}")
    q1, med, q3 = quartiles(warm)
    print(f"host {json.dumps(host, sort_keys=True)}")
    print(f"warm jobs n={len(warm)} wall s q1={q1:.4f} median={med:.4f} "
          f"q3={q3:.4f} (too few samples per run for a tail percentile); "
          f"first={first_job_s:.4f} warm-up={[round(x, 4) for x in warmup]} "
          f"all={[round(x, 4) for x in warm]}")
    if args.trace:
        metrics = per_layer_metrics(
            readings, probe_reading, warm, traced, host, {
                "first_job_s": first_job_s,
                "peak_rss_mb": peak_rss_mb,
                "session.start_s": session_start_s,
                "sources.gen_s": gen_s,
                "sources.input_bytes": dir_bytes(inputs),
                "error_rate": failed / attempted,
            })
        write_trace(args, readings, probe_reading, host, metrics)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (rows / med, "rows/s"),
        }
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in metrics.items()},
    }))
    return 0


# ---------------------------------------------------------------- tracing

def layer_reading(spark, tr, root, violation_rows: int,
                  catalyst: list[dict] | None = None) -> dict:
    """Per-layer numbers of the traced call under span `root`, from the
    spans below it and the Spark work launched under their job groups;
    `catalyst`: the Catalyst readings of that call (default: all the
    tracer holds)."""
    spans = tr.subtree(root.sid)
    if catalyst is None:
        catalyst = tr.catalyst

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(name):
        return sum(s.dur for s in named(name))

    def jobs(name):
        return tr.jobs_of([x for s in named(name)
                           for x in tr.subtree(s.sid)])

    all_jobs = tr.jobs_of(tr.subtree(root.sid))
    ex = tracing.stage_metrics(spark, all_jobs)
    py = tracing.python_udf_metrics(spark, all_jobs)
    resume = named("runner.resume")
    nested = {x.sid for s in resume for x in tr.subtree(s.sid)}
    first_run = [s for s in named("runner.run") if s.sid not in nested]
    run_jobs = tr.jobs_of([x for s in first_run for x in tr.subtree(s.sid)])
    run_ex = tracing.stage_metrics(spark, run_jobs)
    compiles = named("compiler.compile")
    selfs: dict[str, float] = {}
    for s in spans:
        selfs[s.name] = selfs.get(s.name, 0.0) + tr.self_time(s)
    return {
        "wall_s": root.dur,
        "self_s": selfs,
        "spans": [vars(s) for s in spans],
        "spec.check_s": dur("spec.check"),
        "compiler.compile_s": dur("compiler.compile"),
        "compiler.checks": max([s.attrs.get("checks", 0) for s in compiles],
                               default=0),
        "compiler.jvm_calls": sum(s.attrs["py4j_calls"] for s in compiles),
        "catalyst.analysis_ms": sum(c.get("analysis", 0) for c in catalyst),
        "catalyst.optimization_ms": sum(c.get("optimization", 0)
                                        for c in catalyst),
        "catalyst.planning_ms": sum(c.get("planning", 0) for c in catalyst),
        "functions.udf_rows": py["udf_rows"],
        "functions.udf_bytes": py["udf_bytes"],
        "functions.task_s": py["udf_s"],
        "runner.run_s": sum(s.dur for s in first_run),
        "runner.resume_s": dur("runner.resume"),
        "runner.jobs": len(run_jobs) + len(jobs("runner.resume")),
        "runner.input_scans": run_ex["input_stages"],
        "runner.output_bytes": run_ex["output_bytes"],
        "dataset.build_s": dur("dataset.build"),
        "dataset.build_jobs": len(jobs("dataset.build")),
        "dataset.validate_s": dur("dataset.validate"),
        "operators.dedup.minhash_s": dur("operators.dedup.minhash"),
        "operators.dedup.build_jobs": len(jobs("operators.dedup.minhash")),
        "operators.clusters.s": dur("operators.clusters"),
        "operators.clusters.jobs": len(jobs("operators.clusters")),
        "pipeline.curate_s": dur("pipeline.curate"),
        "validator.violation_rows": violation_rows,
        **{f"exec.{key}": ex[key] for key in (
            "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_mb")},
        "callsites": ex["callsites"],
    }


def probe_metrics(spark, tr) -> dict:
    """Time and Spark work of each standalone probe span."""
    out = {}
    for s in tr.spans:
        if s.name.startswith("probe.") and s.parent is None:
            ex = tracing.stage_metrics(spark, tr.jobs_of(tr.subtree(s.sid)))
            out[s.name[len("probe."):]] = {"s": s.dur, **{
                k: v for k, v in ex.items() if k != "callsites"}}
            if "catalyst" in s.attrs:
                # a probed workload's job: the last run is kept
                first, end = s.attrs["catalyst"]
                out[s.name[len("probe."):]]["layers"] = layer_reading(
                    spark, tr, s, 0, tr.catalyst[first:end])
    return out


#: layers the listed workloads' own jobs leave idle or barely touch; the
#: traced runs that probe wide_schema and curate read these from the
#: probe's last job
PROBED_LAYERS = {
    "wide_schema": ("spec.check_s", "compiler.compile_s", "compiler.checks",
                    "compiler.jvm_calls", "catalyst.analysis_ms",
                    "catalyst.optimization_ms", "catalyst.planning_ms",
                    "functions.udf_rows", "functions.udf_bytes",
                    "functions.task_s"),
    "curate": ("operators.dedup.minhash_s", "operators.dedup.build_jobs",
               "operators.clusters.s", "operators.clusters.jobs",
               "pipeline.curate_s"),
}

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    # end-to-end candidates demoted: they did not repeat within a tenth
    # from run to run (see README.md)
    "first_job_s": "s", "peak_rss_mb": "MB",
    "session.start_s": "s",
    "spec.check_s": "s", "compiler.compile_s": "s",
    "compiler.checks": "count", "compiler.jvm_calls": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "functions.udf_rows": "count", "functions.udf_bytes": "B",
    "functions.task_s": "s",
    "validator.violations_s": "s", "validator.counts_s": "s",
    "validator.task_s": "s", "validator.violation_rows": "count",
    "runner.run_s": "s", "runner.resume_s": "s", "runner.jobs": "count",
    "runner.input_scans": "count", "runner.output_bytes": "B",
    "dataset.build_s": "s", "dataset.build_jobs": "count",
    "dataset.validate_s": "s",
    "operators.uniqueness.s": "s", "operators.uniqueness.shuffle_bytes": "B",
    "operators.referential.s": "s", "operators.referential.input_bytes": "B",
    "operators.stats.s": "s", "operators.drift.s": "s",
    "operators.multimodal.s": "s", "operators.dedup.phash_s": "s",
    "operators.dedup.minhash_s": "s", "operators.dedup.build_jobs": "count",
    "operators.clusters.s": "s", "operators.clusters.jobs": "count",
    "pipeline.curate_s": "s",
    "sources.input_bytes": "B", "sources.gen_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.peak_exec_mem_mb": "MB",
    "host.steal_jiffies": "count",
    "error_rate": "fraction",
    "trace.overhead_s": "s",
    "trace.span_sum_ratio": "ratio",
}


def per_layer_metrics(readings, probes, warm, traced, host,
                      run_level: dict) -> dict:
    med = {key: statistics.median(r[key] for r in readings)
           for key in readings[0] if key in PER_LAYER}
    p = probes or {}

    def probe(name, key="s"):
        return p.get(name, {}).get(key, 0.0)
    vc, vv = p.get("validator.counts", {}), p.get("validator.violations", {})
    untraced = statistics.median(warm)
    for name, keys in PROBED_LAYERS.items():
        if name in p:
            med.update({k: p[name]["layers"][k] for k in keys})
    med.update(run_level)
    med.update({
        "validator.counts_s": probe("validator.counts"),
        "validator.violations_s": probe("validator.violations"),
        "validator.task_s": vc.get("task_s", 0.0) + vv.get("task_s", 0.0),
        "operators.uniqueness.s": probe("operators.uniqueness"),
        "operators.uniqueness.shuffle_bytes": probe(
            "operators.uniqueness", "shuffle_write_bytes"),
        "operators.referential.s": probe("operators.referential"),
        "operators.referential.input_bytes": probe(
            "operators.referential", "input_bytes"),
        "operators.stats.s": probe("operators.stats"),
        "operators.drift.s": probe("operators.drift"),
        "operators.multimodal.s": probe("operators.multimodal"),
        "operators.dedup.phash_s": probe("operators.dedup.phash"),
        "host.steal_jiffies": host["steal_jiffies"],
        "trace.overhead_s": statistics.median(traced) - untraced,
        "trace.span_sum_ratio": statistics.median(
            sum(r["self_s"].values()) for r in readings) / untraced,
    })
    selfs = {}
    for r in readings:
        for name, v in r["self_s"].items():
            selfs.setdefault(name, []).append(v)
    self_med = {n: statistics.median(v) for n, v in selfs.items()}
    total = sum(self_med.values())
    print("self time on the blocking path (median over traced jobs):")
    for n, v in sorted(self_med.items(), key=lambda x: -x[1]):
        print(f"  {n:32s} {v:9.4f} s  {100 * v / total:5.1f}%")
    dominant = max((n for n in self_med if n != "job"),
                   key=self_med.get, default="job")
    print(f"dominant layer: {dominant}")
    host["dominant_layer"] = dominant
    return {name: (float(med[name]), unit) for name, unit in PER_LAYER.items()}


def write_trace(args, readings, probes, host, metrics) -> None:
    out = os.path.join(STATE, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "host": host, "readings": readings, "probes": probes,
                   "metrics": {n: v for n, (v, _) in metrics.items()}},
                  f, indent=1, default=str)
    print(f"trace written to {path}")


if __name__ == "__main__":
    sys.exit(main())
