"""Traced runs: split each op's wall time across the program's modules
and the Spark layers below them, from outside the program.

* Module spans: before the program is imported, an import hook wraps
  every public function of the ``plans``, ``llm``, ``operators``,
  ``functions``, ``sources`` and ``streaming`` modules.  A span is
  opened only when the call changes module, on the main thread.
* Py4J: ``ClientServerConnection.send_command`` is wrapped; calls are
  counted on every thread and timed on the main thread.
* Spark: after each op (outside its wall time) the listener bus is
  drained and the application status store, the SQL status store, a
  ``QueryExecutionListener`` (Catalyst phases) and a streaming query
  listener (trigger phases) are read.

With tracing off, :data:`TRACER` stays inert and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import importlib.abc
import importlib.machinery
import inspect
import json
import re
import sys
import threading
import time
from collections import Counter

import seqstats

PACKAGE = "yelp_review_data_analysis_using_big_data_technologies_spark"
TRACED_PACKAGES = ("plans", "llm", "operators", "functions", "sources", "streaming")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
CATALYST_PHASES = ("analysis", "optimization", "planning")
#: the share of an op's wall time its measured layers must account for
RECONCILE_TOL = 0.10


def layer_of(module_name: str) -> str | None:
    if not module_name.startswith(PACKAGE + "."):
        return None
    rest = module_name[len(PACKAGE) + 1:]
    return rest if rest.split(".")[0] in TRACED_PACKAGES else None


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.main = threading.get_ident()
        self.local = threading.local()
        self.calls: Counter = Counter()
        self.count_lock = threading.Lock()
        self.op = None

    # -- spans ------------------------------------------------------------

    def _push(self, layer: str) -> None:
        now = time.time()
        top = self.stack[-1]
        self.op["segments"].append((top[0], top[1], now))
        self.stack.append([layer, now])

    def _pop(self) -> None:
        now = time.time()
        layer, since = self.stack.pop()
        self.op["segments"].append((layer, since, now))
        self.stack[-1][1] = now

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.on or self.op is None or self.stack[-1][0] == layer:
            yield
            return
        self._push(layer)
        try:
            yield
        finally:
            self._pop()

    def call(self, layer: str, fn, args, kwargs):
        with self.count_lock:
            self.calls[layer] += 1
        if (
            self.op is None
            or threading.get_ident() != self.main
            or self.stack[-1][0] == layer
        ):
            return fn(*args, **kwargs)
        self._push(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop()

    # -- ops --------------------------------------------------------------

    def begin(self, name: str) -> None:
        if not self.on:
            return
        self.calls = Counter()
        self.py4j_calls = 0
        self.op = {"name": name, "segments": [], "py4j": [], "py4j_cpu": 0.0}
        self.stack = [["harness", time.time()]]
        self.op["start"] = self.stack[0][1]
        self.cpu0 = time.thread_time()

    def end(self, ok: bool) -> dict | None:
        """Close the op's timeline and read the Spark side; the JVM
        reads happen here, after the op's wall time."""
        if not self.on or self.op is None:
            return None
        op = self.op
        op["cpu"] = time.thread_time() - self.cpu0
        now = time.time()
        while len(self.stack) > 1:
            self._pop()
        op["segments"].append(("harness", self.stack[0][1], now))
        op["end"] = now
        op["ok"] = ok
        op["calls"] = dict(self.calls)
        op["py4j_calls"] = self.py4j_calls
        self.op = None
        with self.internal():
            self.spark_side.drain(op)
        return op

    @contextlib.contextmanager
    def internal(self):
        self.local.internal = True
        try:
            yield
        finally:
            self.local.internal = False

    def sample_storage(self) -> None:
        if self.on and self.op is not None:
            with self.internal():
                self.op["cached_bytes"] = self.spark_side.cached_bytes()

    # -- installation -----------------------------------------------------

    def install_import_hook(self) -> None:
        sys.meta_path.insert(0, _WrapFinder())
        self.on = True

    def attach(self, spark) -> None:
        """Hook Py4J and register the Spark-side listeners."""
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if getattr(tracer.local, "internal", False) or tracer.op is None:
                return orig(conn, command)
            with tracer.count_lock:
                tracer.py4j_calls += 1
            if threading.get_ident() != tracer.main:
                return orig(conn, command)
            t0, c0 = time.time(), time.thread_time()
            try:
                return orig(conn, command)
            finally:
                tracer.op["py4j"].append((t0, time.time()))
                tracer.op["py4j_cpu"] += time.thread_time() - c0

        ClientServerConnection.send_command = send_command
        self.spark_side = SparkSide(spark, self)


TRACER = Tracer()


def _wrap(fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not TRACER.on:
            return fn(*args, **kwargs)
        return TRACER.call(layer, fn, args, kwargs)

    return traced


def wrap_module(module, layer: str) -> None:
    for name, obj in list(vars(module).items()):
        if not name.startswith("_") and inspect.isfunction(obj) and obj.__module__ == module.__name__:
            setattr(module, name, _wrap(obj, layer))


class _WrapLoader(importlib.abc.Loader):
    def __init__(self, inner, layer: str) -> None:
        self.inner, self.layer = inner, layer

    def create_module(self, spec):
        return self.inner.create_module(spec)

    def exec_module(self, module) -> None:
        self.inner.exec_module(module)
        wrap_module(module, self.layer)

    def __getattr__(self, name):
        return getattr(self.inner, name)


class _WrapFinder(importlib.abc.MetaPathFinder):
    """Wraps a traced module's public functions right after it executes,
    before any module that imports it can bind them."""

    def find_spec(self, fullname, path, target=None):
        layer = layer_of(fullname)
        if layer is None:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path, target)
        if spec is not None and spec.loader is not None:
            spec.loader = _WrapLoader(spec.loader, layer)
        return spec


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """Total of one SQL metric as the SQL status store formats it: a
    plain count (``1,234``), a size (``12.3 KiB``) or, for per-task
    metrics, ``total (min, med, max ...)`` followed by the total on
    the next line."""
    line = text.split("\n")[1] if text.startswith("total") and "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


class _QueryListener:
    def __init__(self, tracer: Tracer) -> None:
        self.tracer, self.events = tracer, []

    def _record(self, qe) -> None:
        with self.tracer.internal():
            phases = qe.tracker().phases()
            out = {}
            for name in CATALYST_PHASES:
                opt = phases.get(name)
                if opt.isDefined():
                    out[name] = opt.get().durationMs() / 1000.0
            self.events.append(out)

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkSide:
    def __init__(self, spark, tracer: Tracer) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        sc = spark.sparkContext
        jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.empty_list = jvm.java.util.ArrayList()
        self.last_job = -1
        self.seen_execs = 0
        ensure_callback_server_started(sc._gateway)
        self.queries = _QueryListener(tracer)
        spark._jsparkSession.listenerManager().register(self.queries)
        progress = self.progress = []

        class _StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer.internal():
                    progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_StreamListener())

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def cached_bytes(self) -> int:
        return sum(
            r["memoryUsed"] + r["diskUsed"] for r in self._json(self.store.rddList(True))
        )

    def drain(self, op: dict) -> None:
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = []
        while True:  # job ids are consecutive; stop at the first one not yet run
            try:
                jobs.append(self._json(self.store.job(self.last_job + 1)))
            except Exception:  # noqa: BLE001 - NoSuchElementException from the JVM
                break
            self.last_job += 1
        op["jobs"] = [
            (j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
            for j in jobs
            if j.get("submissionTime")
        ]
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self._json(self.store.stageData(sid, False, self.empty_list, False, self.no_quantiles)):
                if st["status"] != "SKIPPED":
                    stages.append(st)
        op["stages"] = [
            {
                "tasks": s["numCompleteTasks"],
                "task_s": s["executorRunTime"] / 1000.0,
                "cpu_s": s["executorCpuTime"] / 1e9,
                "gc_s": s["jvmGcTime"] / 1000.0,
                "input_bytes": s["inputBytes"],
                "shuffle_read_bytes": s["shuffleReadBytes"],
                "shuffle_write_bytes": s["shuffleWriteBytes"],
                "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
                "output_bytes": s["outputBytes"],
            }
            for s in stages
        ]
        op["catalyst"], self.queries.events[:] = list(self.queries.events), []
        op["triggers"], self.progress[:] = list(self.progress), []
        op["sql"] = self._sql_metrics()

    def _sql_metrics(self) -> dict:
        """Index-scan and file-write metrics of the SQL executions the op
        ran, from their plan graphs."""
        out = Counter()
        count = self.sql_store.executionsCount()
        new = self.sql_store.executionsList(self.seen_execs, count - self.seen_execs)
        self.seen_execs = count
        for i in range(new.size()):
            eid = new.apply(i).executionId()
            wanted = {}
            for node in self._json(self.sql_store.planGraph(eid).allNodes()):
                desc = node.get("desc", "")
                for m in node.get("metrics", []):
                    if m["name"] == "number of partitions read" and re.search(r"/(cells|codes)\b", desc):
                        wanted[m["accumulatorId"]] = "cells_probed"
                    elif m["name"] == "number of written files":
                        wanted[m["accumulatorId"]] = "files_written"
                    elif m["name"] == "written output":
                        wanted[m["accumulatorId"]] = "bytes_written"
            if wanted:
                values = self._json(self.sql_store.executionMetrics(eid))
                for acc, key in wanted.items():
                    out[key] += metric_value(values.get(str(acc), "0"))
        return dict(out)


# --------------------------------------------------------------------------
# per-op layer accounting
# --------------------------------------------------------------------------


def op_layers(op: dict, cores: int) -> dict:
    """Split one traced op into layer figures.

    ``<module>.self_s`` is span time minus child-module spans minus
    Spark-job time; ``<module>.job_s`` is the Spark-job time inside the
    module's own span time.  The reconcile check uses three independent
    sources — main-thread CPU, main-thread Py4J wait and Spark-job
    intervals from the status store — and passes when they cover the
    op's wall time within :data:`RECONCILE_TOL`."""
    a, b = op["start"], op["end"]
    wall = b - a
    jobs = seqstats.clip(seqstats.union(op["jobs"]), a, b)
    out: dict[str, float] = {}
    for layer, s, e in op["segments"]:
        seg = e - s
        job = seqstats.overlap(s, e, jobs)
        out[f"{layer}.self_s"] = out.get(f"{layer}.self_s", 0.0) + seg - job
        out[f"{layer}.job_s"] = out.get(f"{layer}.job_s", 0.0) + job
    for layer, n in op["calls"].items():
        out[f"{layer}.calls"] = float(n)
    job_wall = seqstats.length(jobs)
    st = op["stages"]
    task_s = sum(s["task_s"] for s in st)
    out.update(
        {
            "py4j.calls": float(op["py4j_calls"]),
            "py4j.s": seqstats.length(seqstats.union(op["py4j"])),
            "exec.jobs": float(len(op["jobs"])),
            "exec.stages": float(len(st)),
            "exec.job_wall_s": job_wall,
            "exec.idle_s": wall - job_wall,
            "exec.slot_util": task_s / (job_wall * cores) if job_wall > 0 else 0.0,
        }
    )
    for key in ("tasks", "task_s", "cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        out[f"exec.{key}"] = float(sum(s[key] for s in st))
    for phase in CATALYST_PHASES:
        out[f"catalyst.{phase}_s"] = sum(ev.get(phase, 0.0) for ev in op["catalyst"])
    trig = op["triggers"]
    out["streaming.triggers"] = float(len(trig))
    for phase in STREAM_PHASES:
        out[f"streaming.{phase}_s"] = sum(t.get(phase, 0) for t in trig) / 1000.0
    sql = op["sql"]
    out["llm.vectors.cells_probed"] = sql.get("cells_probed", 0.0)
    out["sources.files_written"] = sql.get("files_written", 0.0)
    out["sources.bytes_written"] = sql.get("bytes_written", 0.0)
    out["llm.staging.cached_bytes"] = float(op.get("cached_bytes", 0))
    # reconcile: CPU outside Py4J + Py4J-or-job wall time
    waited = seqstats.length(seqstats.union(op["py4j"] + jobs))
    python_s = max(0.0, op["cpu"] - op["py4j_cpu"])
    out["trace.python_cpu_s"] = python_s
    out["trace.gap_s"] = wall - waited - python_s
    out["trace.reconcile"] = (waited + python_s) / wall if wall > 0 else 1.0
    return out


def trigger_durations(op: dict) -> list[float]:
    return [t.get("triggerExecution", 0) / 1000.0 for t in op["triggers"]]
