"""Benchmark of littletable_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload olap|corpus --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The run makes its input tables
from the seed, starts Spark on ``local[N]`` (N = usable cores, at most
4) and sets up (session start, base-table load and cache fill). It then
runs one cold pass and steady passes until they have taken
``--seconds`` (at least ``workloads.STEADY_PASSES``), checking every
call's output, and at the end sets up twice more.
The line before last prints every end-to-end figure by name; the last
line is one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of the traced passes (traced and
untraced passes alternate so the tracing overhead is measured in the
same run). A trace run also writes its spans and per-pass layer records
to ``perfbench/out/``. Everything else the run writes stays under
``perfbench/.work/`` and is deleted at exit.

The end-to-end metrics in the result line are CPU times (see
``work_cpu_s``):

* ``setup_s``: median CPU time of the three set-ups; the first also
  starts the JVM and costs the most, so the median is the slower of
  the two at the end, which reuse it.
* ``pass_cpu_s``: CPU time of a steady pass, see ``pass_seconds``.

The line before last also gives ``first_pass_cpu_s``, the CPU time of
the cold pass's calls (first-call cost), and the wall times
``setup_wall_s``, ``first_pass_s`` and ``pass_s``. They are left out
of the result line because they spread more from run to run. On a
shared host, wall time grows with the processor time that other
tenants take, and CPU time less so. CPU time does not see lost
parallelism or time spent waiting, though, so a change that claims a
gain from these figures should also show that ``pass_s`` did not rise.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MAX_CPUS = 4
DRIVER_MEMORY = "2g"

# the gated end-to-end metrics, and the units of every printed figure
E2E_METRICS = ["setup_s", "pass_cpu_s"]
SUMMARY_UNITS = {
    "setup_s": "s", "setup_wall_s": "s", "first_pass_s": "s", "first_pass_cpu_s": "s",
    "pass_s": "s", "pass_cpu_s": "s",
    "ops": "count", "ops_failed": "count", "leaked_rdds": "count",
    "batch_p50_s": "s", "space_amp": "ratio", "write_amp": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["olap", "corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> int:
    """Point every temporary path of Python, Spark and the JVM into the
    run's work directory and make the package importable by Python
    workers whatever the current directory. Returns the core count."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # no hsperfdata files: the JVM would write them under /tmp. A
        # fixed set of JIT compiler threads, so work_cpu_s can leave out
        # the time of every one (a retired thread's time would be lost)
        "--driver-java-options",
        shlex.quote(f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        # keep every job, stage and SQL execution of the run readable
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.sql.ui.retainedExecutions=100000",
        "--conf", shlex.quote(f"spark.local.dir={os.path.join(work, 'spark-local')}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "pyspark-shell",
    ])
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


class Run:
    def __init__(self, args, work, cpus):
        self.args = args
        self.work = work
        self.cpus = cpus
        self.data = os.path.join(work, "data")
        self.spark = None
        self.proc = None
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer = None
        self.reader = None
        self.passes: list[dict] = []
        self.t0 = time.perf_counter()

    def log(self, message: str) -> None:
        print(f"[{time.perf_counter() - self.t0:6.1f}s] {message}", file=sys.stderr, flush=True)

    # ---- set-up ----------------------------------------------------- #
    def setup(self, tables) -> tuple[float, float, float]:
        """Session start, then base-table load and cache fill. Returns
        the wall seconds of each and the CPU seconds of both."""
        import __spark_entry__ as entry
        from littletable_spark import get_spark

        cpu0 = work_cpu_s()
        t0 = time.perf_counter()
        spark = get_spark(cpus=self.cpus)
        t1 = time.perf_counter()
        for name in tables:
            if name == "events":
                entry._ev(spark, self.data)
            else:
                entry._t(spark, self.data, name)
        t2 = time.perf_counter()
        cpu = work_cpu_s() - cpu0
        self.spark = spark
        if self.proc is None:
            self.proc = spark.sparkContext._gateway.proc
        return t1 - t0, t2 - t1, cpu

    def teardown_session(self) -> None:
        import __spark_entry__ as entry

        entry._TABLE_CACHE.clear()
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()

    # ---- one call --------------------------------------------------- #
    def timed_call(self, label, body, traced):
        """Run ``body(mark_action)`` under the wall and CPU clocks.
        Returns the call's record (name, id, wall, CPU and construction
        seconds), its result and its error."""
        tracer = self.tracer if traced else None
        self.attempted += 1
        t_action = None

        def mark_action():
            nonlocal t_action
            t_action = time.perf_counter()
            if tracer:
                tracer.mark_action()

        call_id = f"c{self.attempted}"
        cpu0 = work_cpu_s()
        t0 = time.perf_counter()
        if tracer:
            tracer.begin_call(call_id, label)
        try:
            result, error = body(mark_action), None
        except Exception as exc:  # counted, never swallowed silently
            traceback.print_exc()
            result, error = None, f"{type(exc).__name__}: {exc}"
        finally:
            t1 = time.perf_counter()
            if tracer:
                tracer.end_call()
        cpu1 = work_cpu_s()
        if error:
            self.fail(f"{label}: {error}")
        record = {"name": label, "call_id": call_id, "wall": t1 - t0,
                  "cpu": cpu1 - cpu0, "construct": (t_action or t1) - t0}
        return record, result, error

    def fail(self, message: str) -> None:
        self.failures.append(message)
        print(f"FAILED {message}", file=sys.stderr, flush=True)

    # ---- registry workloads ---------------------------------------- #
    def registry_pass(self, names, refs, pass_no, traced, seen):
        import __spark_entry__ as entry

        from workloads import NO_ORACLE, check_bpe_pack, multiset, pass_order

        queries = entry.queries()
        calls = []
        for name in pass_order(names, self.args.seed, pass_no):
            def body(mark_action, fn=queries[name]):
                df = fn(self.spark, self.data)
                mark_action()
                return df, df.collect()

            record, result, error = self.timed_call(name, body, traced)
            calls.append(record)
            if error:
                continue
            df, rows = result
            got = multiset(rows, df.columns)
            if name in NO_ORACLE:
                problem = check_bpe_pack(rows, df.columns, self.n_docs)
                if problem is None and seen.setdefault(name, got) != got:
                    problem = "output differs from the first call's"
            elif got != refs[name]:
                problem = "output differs from the DuckDB oracle"
            else:
                problem = None
            if problem:
                self.fail(f"{name}: {problem}")
        return {"calls": calls}

    # ---- the ingest sink (the second half of a corpus pass) ---------- #
    def ingest_pass(self, pass_no, traced, state):
        from pyspark.sql import functions as F

        from littletable_spark import Table
        from littletable_spark.streaming import ingest, maintenance
        from workloads import COMPACT_EVERY

        docs = state["docs"]
        batches = state["batches"]
        root = os.path.join(self.work, "ingest", f"pass{pass_no}")
        corpus, bands = os.path.join(root, "corpus"), os.path.join(root, "bands")
        calls, batch_walls, ingested, stored = [], [], set(), set()
        written = {"batch": 0, "compact": 0}
        for bid, batch in enumerate(batches):
            batch_df = docs.where(F.col("doc_id").isin(batch))
            before = _files(root)

            def ingest_body(mark_action, batch_df=batch_df, bid=bid):
                mark_action()
                return ingest.ingest_batch(batch_df, bid, corpus, bands,
                                           collect_stats=False)

            record, _, error = self.timed_call("ingest_batch", ingest_body, traced)
            calls.append(record)
            batch_walls.append(record["wall"])
            after = _files(root)
            written["batch"] += _written(before, after)
            ingested.update(batch)
            pre_compact = None
            if (bid + 1) % COMPACT_EVERY == 0 and not error:
                pre_compact = set(_doc_ids(self.spark, corpus))

                def compact_body(mark_action):
                    mark_action()
                    return [maintenance.compact_asset(self.spark, p)
                            for p in (corpus, bands)]

                record, _, c_error = self.timed_call("compact_asset", compact_body, traced)
                calls.append(record)
                batch_walls[-1] += record["wall"]
                written["compact"] += _written(after, _files(root))
                error = error or c_error

            def read_back(mark_action):
                t = Table.parquet_import(self.spark, corpus, "corpus")
                mark_action()
                return t.select("doc_id").df.collect()

            record, rows, r_error = self.timed_call("read_back", read_back, traced)
            calls.append(record)
            if error or r_error:
                continue
            got = [r[0] for r in rows]
            stored = set(got)
            where = f"ingest pass {pass_no} batch {bid}"
            if len(got) != len(stored):
                self.fail(f"{where}: duplicate doc_id")
            if not stored <= ingested:
                self.fail(f"{where}: stored ids never ingested")
            if pre_compact is not None and pre_compact != stored:
                self.fail(f"{where}: compaction changed the stored doc set")
        survivors = frozenset(stored)
        if state.setdefault("survivors", survivors) != survivors:
            self.fail(f"ingest pass {pass_no}: survivors differ from the first pass")
        asset_bytes = sum(size for size, _ in _files(root).values())
        user_bytes = state["user_bytes"]
        shutil.rmtree(root, ignore_errors=True)
        return {
            "calls": calls,
            "batch_walls": batch_walls,
            "asset_bytes": asset_bytes,
            "bytes_written": written["batch"] + written["compact"],
            "bytes_rewritten": written["compact"],
            "space_amp": asset_bytes / user_bytes,
            "write_amp": (written["batch"] + written["compact"]) / user_bytes,
        }

    # ---- the run ----------------------------------------------------- #
    def execute(self) -> dict:
        import datagen
        import workloads

        wl = self.args.workload
        tables = datagen.write(self.args.seed, self.data)
        self.n_docs = tables["documents"].num_rows
        names = {"olap": workloads.OLAP, "corpus": workloads.CORPUS}[wl]
        refs = workloads.oracle_references(names, self.data, self.cpus)
        self.log("inputs written, oracle references built")

        starts, loads, setup_cpus = [], [], []

        def set_up():
            start, load, cpu = self.setup(workloads.TABLES[wl])
            starts.append(start)
            loads.append(load)
            setup_cpus.append(cpu)
            self.log(f"set-up {len(starts) - 1}: session {start:.3f}s, "
                     f"load {load:.3f}s, cpu {cpu:.2f}s")

        set_up()
        sc = self.spark.sparkContext
        if self.args.trace:
            import layers as tr

            self.tracer = tr.Tracer(self.spark)
            self.reader = tr.SparkReader(self.spark)

        seen: dict = {}
        if wl == "corpus":
            import __spark_entry__ as entry

            sink = {
                "docs": entry._t(self.spark, self.data, "documents").df.select("doc_id", "text"),
                "batches": workloads.ingest_batches(
                    tables["documents"].column("doc_id").to_pylist(), self.args.seed
                ),
                "user_bytes": sum(
                    8 + len(t.encode()) for t in tables["documents"].column("text").to_pylist()
                ),
            }

        def one_pass(pass_no, traced):
            rec = self.registry_pass(names, refs, pass_no, traced, seen)
            if wl == "corpus":
                calls = rec["calls"]
                rec = self.ingest_pass(pass_no, traced, sink)
                rec["calls"] = calls + rec["calls"]
            return rec

        def measured(pass_no, traced):
            if traced:
                self.tracer.install()
            persisted_before = sc._jsc.getPersistentRDDs().size()
            first_span = len(self.tracer.spans) if traced else 0
            rec = one_pass(pass_no, traced)
            if traced:
                self.tracer.uninstall()
            rec["pass_no"] = pass_no
            rec["traced"] = traced
            rec["wall"] = sum(c["wall"] for c in rec["calls"])
            rec["cpu"] = sum(c["cpu"] for c in rec["calls"])
            rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
            rec["leaked_rdds"] = rec["persisted_rdds"] - persisted_before
            if traced:
                rec.update(self.layer_record(rec, first_span))
            self.passes.append(rec)
            self.log(f"pass {pass_no}{' (traced)' if traced else ''}: "
                     f"wall {rec['wall']:.3f}s, cpu {rec['cpu']:.2f}s")
            return rec

        # pass 0 is the cold first pass; then steady passes until they
        # have taken ``--seconds``, at least STEADY_PASSES of them. A trace
        # run pairs each steady pass with a traced one, alternating which
        # goes first, so the tracing overhead is measured in the same run.
        first = measured(0, False)
        steady_time, pairs = 0.0, 0
        while pairs < workloads.STEADY_PASSES[wl] or steady_time < self.args.seconds:
            order = [False, True] if pairs % 2 == 0 else [True, False]
            for traced in order if self.args.trace else [False]:
                rec = measured(len(self.passes), traced)
                if not traced:
                    steady_time += rec["wall"]
            pairs += 1

        # The first set-up also started the JVM. The others tear the
        # session down and set it up again once the passes have warmed
        # the JVM: right after its start the JIT compilers still lag, and
        # by how much depends on how busy the host is.
        for _ in range(SETUPS - 1):
            self.teardown_session()
            set_up()

        steady = [p for p in self.passes[1:] if not p["traced"]]
        batch_walls = [w for p in steady for w in p.get("batch_walls", [])]
        summary = {
            "setup_s": statistics.median(setup_cpus),
            "setup_wall_s": statistics.median(a + b for a, b in zip(starts, loads)),
            "first_pass_s": first["wall"],
            "first_pass_cpu_s": first["cpu"],
            "pass_s": pass_seconds(steady),
            "pass_cpu_s": pass_seconds(steady, "cpu"),
            "ops": self.attempted,
            "ops_failed": len(self.failures),
            "leaked_rdds": statistics.median(p["leaked_rdds"] for p in steady),
        }
        if wl == "corpus":
            summary["batch_p50_s"] = statistics.median(batch_walls)
            for key in ("space_amp", "write_amp"):
                summary[key] = statistics.median(p[key] for p in steady)
        if self.args.trace:
            summary["layers"] = self.layer_metrics(starts, loads, steady)
        return summary, len(steady)

    def layer_record(self, rec, first_span) -> dict:
        """Spans, status-store counters and RDD census of a traced pass,
        read after its calls were timed; fails the run on counters that
        do not validate."""
        import layers as tr

        spans = self.tracer.spans[first_span:]
        read = self.reader.read({c["call_id"] for c in rec["calls"]})
        selfs = self.tracer.self_times(spans)
        by_layer: dict[str, float] = {}
        by_call: dict[str, float] = {}
        for s in spans:
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]]
            by_call[s["call"]] = by_call.get(s["call"], 0.0) + selfs[s["id"]]
        out = {
            "layers": tr.summarize(read),
            "read_problems": read["problems"],
            "self_s": by_layer,
            "spans": spans,
            "span_self_by_call": by_call,
            "min_self_s": min(selfs.values(), default=0.0),
            "cache_bytes": self.reader.cached_bytes(self.spark.sparkContext),
        }
        for problem in tr.validate({**rec, **out}, self.cpus):
            self.fail(f"pass {rec['pass_no']} validation: {problem}")
        return out

    def layer_metrics(self, starts, loads, steady) -> dict[str, float]:
        """Median over traced passes of each per-layer metric."""
        import layers as tr

        traced = [p for p in self.passes if p["traced"]]
        per_pass = [tr.pass_metrics(p) for p in traced]
        names = set(tr.PER_LAYER).union(*per_pass)
        out = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in names}
        out["session.start_s"] = statistics.median(starts)
        out["sources.load_s"] = statistics.median(loads)
        out["trace.overhead_s"] = pass_seconds(traced) - pass_seconds(steady)
        return out

    def write_record(self, summary) -> str:
        """The trace record: every traced pass's spans and counters."""
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"args": vars(self.args), "cpus": self.cpus,
                       "summary": summary, "failures": self.failures,
                       "passes": self.passes}, fh, default=float)
        return path


def pass_seconds(passes, clock: str = "wall") -> float:
    """The ``clock`` ("wall" or "cpu") time of a typical pass: the sum,
    over one pass's calls, of each call's median time across
    ``passes``. A call is known by its name and how many calls of that
    name came before it in its pass (the ingest sink repeats names).
    Only the calls are timed, not the output checks between them."""
    times: dict[tuple[str, int], list[float]] = {}
    for p in passes:
        seen: dict[str, int] = {}
        for c in p["calls"]:
            rank = seen[c["name"]] = seen.get(c["name"], -1) + 1
            times.setdefault((c["name"], rank), []).append(c[clock])
    return sum(statistics.median(v) for v in times.values())


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """Name and the fields after it of a ``/proc`` stat file, or None
    if the process or thread has ended."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    close = stat.rindex(")")
    return stat[stat.index("(") + 1:close], stat[close + 2:].split()


def work_cpu_s() -> float:
    """CPU seconds (user and system) used so far by this process and all
    its descendants (the JVM, the Python daemon and its workers, and
    whatever children each has already reaped), less the JVM's JIT
    compiler threads. Those compile code for many passes after the first
    and at moments of their own choosing, so leaving them out makes this
    a measure of the work a pass asks for; processor time stolen by the
    host is charged to no process."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            comm, fields = st
            # ppid; utime, stime, cutime, cstime (fields 4, 14-17 of stat)
            procs[int(name)] = (comm, int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        comm, _, own = procs.get(pid, ("", 0, 0))
        ticks += own
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st and st[0].startswith(JIT_THREADS):
                    ticks -= sum(map(int, st[1][11:13]))
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before, after) -> int:
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def _doc_ids(spark, corpus):
    return [r[0] for r in spark.read.parquet(corpus).select("doc_id").collect()]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "littletable_spark"))):
        print("perfbench: run from a source checkout: __spark_entry__.py and "
              "littletable_spark/ are missing", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = prepare_environment(work)
    sys.path.insert(0, HERE)
    run = Run(args, work, cpus)
    try:
        summary, steady_passes = run.execute()
        if args.trace:
            print(f"trace record: {run.write_record(summary)}", file=sys.stderr)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            run.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return report(run, summary, steady_passes)


def report(run, summary, steady_passes) -> int:
    """Every end-to-end figure by name and unit (and in a trace run the
    per-layer figures that are not in the result), then the result
    line."""
    layer_values = summary.pop("layers", None)
    figures = {k: {"value": v, "unit": SUMMARY_UNITS[k]} for k, v in summary.items()}
    record = {"workload": run.args.workload, "seed": run.args.seed,
              "cpus": run.cpus, "steady_passes": steady_passes,
              "end_to_end": figures}
    if layer_values is not None:
        import layers as tr

        metrics = {k: {"value": layer_values.pop(k), "unit": u}
                   for k, u in tr.PER_LAYER.items()}
        record["other_layers"] = layer_values
    else:
        metrics = {k: figures[k] for k in E2E_METRICS}
    print(json.dumps(record))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
