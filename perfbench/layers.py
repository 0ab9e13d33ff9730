"""Per-layer tracing, measured from outside the library.

Three sources, all read by the benchmark rather than by the library:

* **Spans.** ``Tracer.install`` wraps every public function and public
  class method of each ``littletable_spark`` module. A wrapped call
  records a span (call id, span id, parent span id, name, layer, start,
  end) in memory. A span's layer is its module path below the package,
  for example ``table`` or ``operators.dedup``. Self time is a span's
  duration minus the time its child spans cover.
* **Job tags.** Each call runs under its own job group (the call id).
  The job description names the innermost open span's layer, or
  ``construct`` / ``action`` outside any span, so every Spark job can
  be charged to the layer that started it.
* **Status stores.** After a pass has been timed and Spark has
  finished recording it, ``SparkReader`` pulls the job and stage
  records of Spark's status store and the SQL executions of the SQL
  status store in three JVM round trips, and keeps the ones tagged with
  this pass's call ids.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import time
from collections import defaultdict

PACKAGE = "littletable_spark"
GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


def module_layers() -> dict[str, object]:
    """Every importable module of the package, keyed by layer name."""
    pkg = importlib.import_module(PACKAGE)
    out = {}
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if info.ispkg:
            continue
        mod = importlib.import_module(info.name)
        out[info.name[len(PACKAGE) + 1:]] = mod
    return out


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.call_id: str | None = None
        self._phase = "construct"

    # ---- wrapping -------------------------------------------------- #
    def install(self) -> None:
        for layer, mod in module_layers().items():
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    self._patch(mod, name, obj, layer, name)
                elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                    for meth, raw in list(vars(obj).items()):
                        if meth.startswith("_"):
                            continue
                        qual = f"{name}.{meth}"
                        if inspect.isfunction(raw):
                            self._patch(obj, meth, raw, layer, qual)
                        elif isinstance(raw, (classmethod, staticmethod)):
                            kind = type(raw)
                            self._patch(obj, meth, raw, layer, qual,
                                        self._wrap(raw.__func__, layer, qual), kind)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    def _patch(self, owner, name, orig, layer, qual, wrapped=None, kind=None):
        wrapped = wrapped or self._wrap(orig, layer, qual)
        setattr(owner, name, kind(wrapped) if kind else wrapped)
        self._patches.append((owner, name, orig))

    def _wrap(self, fn, layer, qual):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.call_id is None:
                return fn(*args, **kwargs)
            tracer._enter(qual, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit()

        return traced

    # ---- spans ----------------------------------------------------- #
    def _enter(self, name: str, layer: str) -> None:
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"call": self.call_id, "id": len(self.spans), "parent": parent,
                "name": name, "layer": layer, "start": time.perf_counter(),
                "end": None}
        self.spans.append(span)
        self._stack.append(span)
        self._describe(layer)

    def _exit(self) -> None:
        span = self._stack.pop()
        span["end"] = time.perf_counter()
        if self._stack:
            self._describe(self._stack[-1]["layer"] if len(self._stack) > 1 else self._phase)

    def _describe(self, phase: str) -> None:
        self._jsc.setLocalProperty(DESC_KEY, f"{self.call_id}|{phase}")

    def begin_call(self, call_id: str, name: str) -> None:
        """Open the root span of one benchmark call; its self time is
        the caller's own code outside any library function."""
        self.call_id = call_id
        self._phase = "construct"
        self._jsc.setLocalProperty(GROUP_KEY, call_id)
        self._enter(name, "call")
        self._describe(self._phase)

    def mark_action(self) -> None:
        """From here on, jobs started outside library spans belong to
        the call's final action rather than to construction."""
        self._phase = "action"
        self._describe(self._phase)

    def end_call(self) -> None:
        while self._stack:
            self._exit()
        self.call_id = None
        self._jsc.setLocalProperty(GROUP_KEY, None)
        self._jsc.setLocalProperty(DESC_KEY, None)

    def self_times(self, spans: list[dict]) -> dict[int, float]:
        """span id -> duration minus the duration of its direct children."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}


# ---- Spark status stores ------------------------------------------- #
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TOTAL = re.compile(r"^(?:total[^\n]*\n)?\s*([\d.,]+)\s*([A-Za-z]+)?")

# SQL plan metrics kept, by the name the plan node gives them. "time to
# initialize Python workers" is left out: it is not wall time (summed
# over a session it reads far more than the session's wall clock).
SQL_METRICS = {
    "time to run Python workers": "functions.python_run_s",
    "data sent to Python workers": "functions.bytes_to_python",
    "data returned from Python workers": "functions.bytes_from_python",
    "time to build": "spark.broadcast_build_s",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``"1.2 s"``, ``"total (min, med,
    max)\\n10.5 MiB (...)"``) in seconds or bytes."""
    m = _TOTAL.match(text.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _UNIT_S:
        return value * _UNIT_S[unit]
    if unit in _UNIT_B:
        return value * _UNIT_B[unit]
    return value


READ_TIMEOUT_S = 30.0


class SparkReader:
    """Bulk reads of the status stores, serialized to JSON in the JVM so
    one read costs a handful of round trips however many stages ran.

    Spark fills the stores from its listener bus, and the SQL store sums
    an execution's metrics in a task of its own after the execution has
    ended. A read therefore drains the bus first and then waits until
    every job it keeps has ended and every new execution carries its end
    time and metric values. An execution still unfinished after
    ``READ_TIMEOUT_S`` is reported as a problem and read again next
    time."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._execs_read = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _snapshot(self, call_ids):
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j.get("jobGroup") in call_ids]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._json(self._store.stageList(
            None, False, False, self._no_quantiles, None)) if s["stageId"] in stage_ids]
        total = self._sql.executionsCount()
        execs = self._json(self._sql.executionsList(self._execs_read, total - self._execs_read))
        return jobs, stages, execs

    def read(self, call_ids: set[str]) -> dict:
        """Jobs, stages and SQL executions that ran under ``call_ids``,
        and the problems that kept any of them from being read whole."""
        from py4j.protocol import Py4JJavaError

        deadline = time.monotonic() + READ_TIMEOUT_S
        try:
            self._bus.waitUntilEmpty(int(READ_TIMEOUT_S * 1e3))
        except Py4JJavaError as exc:  # a TimeoutException
            return {"jobs": [], "stages": [], "executions": [],
                    "problems": [f"listener bus did not drain: {exc.java_exception}"]}
        while True:
            jobs, stages, execs = self._snapshot(call_ids)
            running = [j["jobId"] for j in jobs if j["status"] == "RUNNING"]
            active = [s["stageId"] for s in stages if s["status"] in ("ACTIVE", "PENDING")]
            unfinished = [e["executionId"] for e in execs if not _ended(e)]
            if not (running or active or unfinished) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        problems = [f"{what} {ids} unfinished after {READ_TIMEOUT_S:.0f}s"
                    for what, ids in (("jobs", running), ("stages", active),
                                      ("SQL executions", unfinished)) if ids]
        # read up to the first unfinished execution; the rest next time
        done = next((i for i, e in enumerate(execs) if not _ended(e)), len(execs))
        self._execs_read += done
        job_ids = {j["jobId"] for j in jobs}
        out = []
        for e in execs[:done]:
            if not job_ids.intersection(int(k) for k in (e.get("jobs") or {})):
                continue
            # adaptive re-planning repeats metrics; one accumulator is one node
            names = {str(m["accumulatorId"]): m["name"] for m in e.get("metrics", [])}
            out.append({
                "id": e["executionId"],
                "jobs": sorted(int(k) for k in e["jobs"]),
                "metric_names": list(names.values()),
                "values": {
                    acc: (names[acc], parse_metric(v))
                    for acc, v in e["metricValues"].items() if names.get(acc) in SQL_METRICS
                },
            })
        stages = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        return {"jobs": jobs, "stages": stages, "executions": out, "problems": problems}

    @staticmethod
    def cached_bytes(sc) -> int:
        """Bytes the persisted RDDs hold in memory and on disk."""
        return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def _ended(execution: dict) -> bool:
    return (execution.get("completionTime") is not None
            and execution.get("metricValues") is not None)


def job_layer(job: dict) -> str:
    desc = job.get("description") or ""
    return desc.split("|", 1)[1] if "|" in desc else "construct"


def summarize(read: dict) -> dict[str, float]:
    """Pass-level counters from one ``SparkReader.read``."""
    out: dict[str, float] = defaultdict(float)
    for j in read["jobs"]:
        out["spark.jobs"] += 1
        layer = job_layer(j)
        out[f"jobs.{layer}"] += 1
    for s in read["stages"]:
        out["spark.stages"] += 1
        out["spark.tasks"] += s["numTasks"]
        out["spark.task_failures"] += s["numFailedTasks"]
        out["spark.exec_run_s"] += s["executorRunTime"] / 1e3
        out["spark.exec_cpu_s"] += s["executorCpuTime"] / 1e9
        out["spark.gc_s"] += s["jvmGcTime"] / 1e3
        out["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
        out["spark.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        sub, first = s.get("submissionTime"), s.get("firstTaskLaunchedTime")
        if sub is not None and first is not None:
            out["spark.sched_wait_s"] += max(0, first - sub) / 1e3
    for e in read["executions"]:
        out["plans.exchanges"] += e["metric_names"].count("shuffle records written")
        out["plans.broadcasts"] += e["metric_names"].count("time to build")
        out["plans.python_nodes"] += e["metric_names"].count("data sent to Python workers")
        for name, value in e["values"].values():
            out[SQL_METRICS[name]] += value
    return dict(out)


# ---- the per-layer record of one traced pass ------------------------ #
OPERATOR_MODULES = [
    "dedup", "similarity", "textops", "search", "urlops", "multimodal",
    "joins", "grouping", "stats", "sampling", "graph", "bpe", "classifier",
]

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "call.construct_s": "s",
    "call.action_s": "s",
    "library.self_s": "s",
    "table.construct_s": "s",
    "spark.jobs": "count",
    "spark.eager_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.sched_wait_s": "s",
    "spark.broadcast_build_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "functions.python_run_s": "s",
    "functions.bytes_to_python": "bytes",
    "functions.bytes_from_python": "bytes",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.python_nodes": "count",
    **{f"operators.{m}.construct_s": "s" for m in OPERATOR_MODULES},
    **{f"operators.{m}.eager_jobs": "count" for m in OPERATOR_MODULES},
    "streaming.ingest.batch_s": "s",
    "streaming.ingest.jobs": "count",
    "streaming.maintenance.compact_s": "s",
    "streaming.maintenance.jobs": "count",
    "streaming.maintenance.bytes_rewritten": "bytes",
    "streaming.asset_bytes": "bytes",
    "cache.persisted_rdds": "count",
    "cache.bytes": "bytes",
    "cache.leaked_rdds": "count",
    "trace.spans": "count",
    "trace.overhead_s": "s",
}


def pass_metrics(rec: dict) -> dict[str, float]:
    """Per-layer metrics of one traced pass (``run.Run.layer_record``)."""
    spark = rec["layers"]
    self_s = rec["self_s"]
    out = {
        "call.construct_s": sum(c["construct"] for c in rec["calls"]),
        "call.action_s": sum(c["wall"] - c["construct"] for c in rec["calls"]),
        "library.self_s": sum(v for k, v in self_s.items() if k != "call"),
        "table.construct_s": self_s.get("table", 0.0),
        "spark.eager_jobs": spark.get("spark.jobs", 0) - spark.get("jobs.action", 0),
        "streaming.ingest.jobs": spark.get("jobs.streaming.ingest", 0),
        "streaming.maintenance.jobs": spark.get("jobs.streaming.maintenance", 0),
        "streaming.maintenance.bytes_rewritten": rec.get("bytes_rewritten", 0),
        "streaming.asset_bytes": rec.get("asset_bytes", 0),
        "cache.persisted_rdds": rec["persisted_rdds"],
        "cache.bytes": rec["cache_bytes"],
        "cache.leaked_rdds": rec["leaked_rdds"],
        "trace.spans": len(rec["spans"]),
    }
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.eager_jobs"] = spark.get(f"jobs.operators.{m}", 0)
    for key in PER_LAYER:
        if key not in out and key in spark:
            out[key] = spark[key]
    # self time of every layer seen; those of modules outside PER_LAYER
    # (session, comparators, ...) go to the printed record only
    for layer, seconds in self_s.items():
        out[SELF_TIME_NAMES.get(layer, f"{layer}.construct_s")] = seconds
    return out


SELF_TIME_NAMES = {
    "call": "call.self_s",
    "streaming.ingest": "streaming.ingest.batch_s",
    "streaming.maintenance": "streaming.maintenance.compact_s",
}


def validate(rec: dict, cpus: int) -> list[str]:
    """Counters that cannot be true of wall-clock time. Self times must
    fit inside their call; executor and Python-worker time must fit in
    the pass's wall time on ``cpus`` cores."""
    problems = list(rec["read_problems"])
    walls = {c["call_id"]: c["wall"] for c in rec["calls"]}
    for call, self_sum in rec["span_self_by_call"].items():
        if self_sum > walls.get(call, 0.0) + 1e-6:
            problems.append(f"{call}: span self times {self_sum:.4f}s exceed call wall")
    if rec["min_self_s"] < -1e-6:
        problems.append(f"a span's children outlast it by {-rec['min_self_s']:.4f}s")
    budget = rec["wall"] * cpus
    for key in ("spark.exec_run_s", "functions.python_run_s"):
        if rec["layers"].get(key, 0.0) > budget:
            problems.append(f"{key} {rec['layers'][key]:.3f}s exceeds wall x cores {budget:.3f}s")
    return problems
