"""Spans, Spark work attribution and per-layer readings.

Tracing is done from outside the program: :class:`Tracer` wraps public
functions of ``jsonschema_spark`` modules for the length of a traced
run, records a span (name, start, end, parent) around each call, and
sets a Spark job group named after the span, so every Spark job the
call launches can be read back from the status store and attributed to
it.  With tracing off the benchmark uses :data:`NULL_TRACER`, whose
spans cost one attribute lookup.

Spark readings come from the status store (``spark.ui.enabled=false``
keeps it): per stage run time, CPU, GC, shuffle, input/output bytes,
spill and peak execution memory; per SQL execution the plan graph's
Python-node metrics; per query the Catalyst phase times, delivered by
a ``QueryExecutionListener`` over the py4j callback server.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    sid: int = 0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class _NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield None


NULL_TRACER = _NullTracer()


class Tracer:
    """Records spans in memory; `install` wraps library entry points."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[Any, str, Any]] = []
        self.py4j_calls = 0
        self.catalyst: list[dict] = []
        self._listener = None
        # job groups stay in the status tracker after `reset`, so their
        # names must never repeat within the session
        self._group_ids = itertools.count()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent.sid if parent
                 else None, sid=len(self.spans))
        s.group = f"{name}#{next(self._group_ids)}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        calls0 = self.py4j_calls
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.attrs["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner: Any, attr: str, name: str,
             on_result: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until `uninstall`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                out = orig(*a, **kw)
                if on_result is not None:
                    on_result(s, a, out)
                return out
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public entry points of the layers the benchmark
        measures, count py4j round trips and register the Catalyst
        phase listener."""
        import jsonschema_spark.dataset as dataset
        import jsonschema_spark.operators.clusters as clusters
        import jsonschema_spark.operators.dedup as dedup
        import jsonschema_spark.operators.drift as drift
        import jsonschema_spark.operators.multimodal as multimodal
        import jsonschema_spark.operators.referential as referential
        import jsonschema_spark.operators.stats as stats
        import jsonschema_spark.operators.uniqueness as uniqueness
        import jsonschema_spark.pipeline as pipeline
        import jsonschema_spark.runner as runner
        import jsonschema_spark.validator as validator

        def checks(s, a, out):
            s.attrs["checks"] = len(a[0].checks)

        self.wrap(validator, "check_schema", "spec.check")
        self.wrap(validator.CompiledValidator, "__init__", "compiler.compile",
                  on_result=checks)
        self.wrap(validator.CompiledValidator, "violations",
                  "validator.violations")
        self.wrap(validator.CompiledValidator, "counts", "validator.counts")
        self.wrap(runner.ValidationRun, "run", "runner.run")
        self.wrap(dataset, "validate_dataset", "dataset.build")
        self.wrap(uniqueness, "uniqueness_violations", "operators.uniqueness")
        self.wrap(referential, "referential_violations",
                  "operators.referential")
        self.wrap(stats, "stats_violations", "operators.stats")
        self.wrap(drift, "partitioned_drift", "operators.drift")
        self.wrap(multimodal, "psnr_check", "operators.multimodal")
        self.wrap(dedup, "phash_near_duplicates", "operators.dedup.phash")
        self.wrap(dedup, "minhash_candidates", "operators.dedup.minhash")
        self.wrap(clusters, "resolve_duplicates", "operators.clusters")
        self.wrap(pipeline, "curate", "pipeline.curate.build")

        client = type(self.sc._gateway._gateway_client)
        orig_send = client.send_command
        tracer = self

        def send_command(this, *a, **kw):
            tracer.py4j_calls += 1
            return orig_send(this, *a, **kw)
        self._patches.append((client, "send_command", orig_send))
        client.send_command = send_command
        self._register_listener()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(
                self._listener)
            self._listener = None

    def _register_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        ensure_callback_server_started(self.sc._gateway)
        sink = self.catalyst
        lock = threading.Lock()

        class PhaseListener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = qe.tracker().phases()
                row = {k: phases.apply(k).durationMs()
                       for k in ("analysis", "optimization", "planning")
                       if phases.contains(k)}
                with lock:
                    sink.append(row)

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = [
                    "org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = PhaseListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the Catalyst listener are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    # ------------------------------------------------------- accounting
    def reset(self) -> None:
        self.spans.clear()
        self.catalyst.clear()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, s: Span) -> float:
        """Span duration minus the union of its children's intervals
        (children run one after another on the one Python thread, so they
        never overlap)."""
        return s.dur - sum(c.dur for c in self.children(s.sid))

    def subtree(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo += [c.sid for c in self.children(cur)]
        return out

    def jobs_of(self, spans: list[Span]) -> list[int]:
        tracker = self.sc.statusTracker()
        out = []
        for s in spans:
            out += list(tracker.getJobIdsForGroup(s.group))
        return sorted(set(out))


# ----------------------------------------------------- status-store reads

_CALLSITE = re.compile(r"jsonschema_spark/([\w/]+)\.py:\d+")


def stage_metrics(spark, job_ids: list[int]) -> dict:
    """Totals over every stage of `job_ids`, from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    tot = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "task_s": 0.0,
           "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
           "input_bytes": 0, "output_bytes": 0, "spill_bytes": 0,
           "peak_exec_mem_mb": 0.0, "input_stages": 0, "callsites": {}}
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            # a reused shuffle stage is listed by every job that reads it
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:       # skipped stage: never attempted
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += sd.numCompleteTasks()
        tot["task_s"] += sd.executorRunTime() / 1e3
        tot["cpu_s"] += sd.executorCpuTime() / 1e9
        tot["gc_s"] += sd.jvmGcTime() / 1e3
        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["input_bytes"] += sd.inputBytes()
        tot["output_bytes"] += sd.outputBytes()
        tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tot["peak_exec_mem_mb"] = max(tot["peak_exec_mem_mb"],
                                      sd.peakExecutionMemory() / 2**20)
        if sd.inputBytes() > 0:
            tot["input_stages"] += 1
        m = _CALLSITE.search(sd.name())
        site = m.group(1).replace("/", ".") if m else "other"
        tot["callsites"][site] = tot["callsites"].get(site, 0) + 1
    return tot


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: Optional[str]) -> float:
    """A rendered SQL metric ("1.5 KiB", "7 ms", "200,000", or the
    "total (min, med, max ...)\\n<total> (...)" form) -> a number in
    bytes, seconds or units."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2), 1.0)


_PY_UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")


def python_udf_metrics(spark, job_ids: list[int]) -> dict:
    """Rows, bytes and worker time of the pandas-UDF nodes
    (ArrowEvalPython / BatchEvalPython) in the SQL executions that ran
    `job_ids`."""
    store = spark._jsparkSession.sharedState().statusStore()
    want = set(job_ids)
    out = {"udf_rows": 0.0, "udf_bytes": 0.0, "udf_s": 0.0}
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = e.jobs().keySet().iterator()
        ids = set()
        while jobs.hasNext():
            ids.add(int(jobs.next()))
        if not ids & want:
            continue
        vals = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith(_PY_UDF_NODES):
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = vals.get(m.accumulatorId())
                v = parse_metric(v.get() if v.isDefined() else None)
                name = m.name()
                if name == "number of output rows":
                    out["udf_rows"] += v
                elif name in ("data sent to Python workers",
                              "data returned from Python workers"):
                    out["udf_bytes"] += v
                elif name == "time to run Python workers":
                    out["udf_s"] += v
    return out
