"""Per-layer tracing for the benchmark's traced passes.

Everything here lives in the benchmark: spans are recorded around the
calls into each layer of the engine, by wrapping them from outside.

- ``io.load_table`` where each loaded ``queries`` module binds it;
- every public function of the ``operators`` modules;
- PySpark's ``localCheckpoint``/``persist``/``cache`` (the pins);
- the two phases of each query, ``construct`` (the registry function
  call) and ``exec`` (the ``noop`` write), each under its own Spark job
  group ``workload:query:phase``.

Spark-side numbers come from the status stores after each pass: stage
run time, CPU, GC, input, shuffle and spill from the core store's
``lastStageAttempt``, and the Python-worker SQL metrics of the final
plans from ``sharedState().statusStore()``. Spans stay in memory, each
with its parent, and are written out once at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

OPERATOR_MODULES = ("stats", "ml", "trees", "graph", "dedup", "similarity",
                    "text", "multimodal", "temporal", "joins", "features",
                    "clean", "profile")
PIN_METHODS = ("localCheckpoint", "persist", "cache")
#: SQL metrics that Spark publishes for Python (pandas-UDF/Arrow) nodes
PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10,
          "TiB": 2**20}
_MB = 1 / 2**20


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    names = ["session.start_s", "queries.registry_s",
             "io.load_table_calls", "io.load_table_s", "io.load_table_jobs",
             "queries.construct_s", "queries.construct_jobs",
             "queries.pins", "queries.pin_s"]
    for m in OPERATOR_MODULES:
        names += [f"operators.{m}.calls", f"operators.{m}.s"]
    names += ["spark.exec_s", "spark.exec_jobs", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.input_mb",
              "spark.shuffle_read_mb", "spark.shuffle_write_mb",
              "spark.stages", "spark.tasks", "spark.gc_s", "spark.spill_mb"]
    names += list(PYTHON_METRICS.values())
    names.append("trace.overhead_s")
    return {n: "s" if n.endswith(("_s", ".s")) else
            "MB" if n.endswith("_mb") else "count" for n in names}


def _metric_total(text: str) -> float:
    """Value of a formatted SQL metric: the first ``<number> <unit>``,
    which is the total over tasks."""
    m = re.search(r"(-?[\d.,]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b", text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class Tracer:
    """Spans and counters for one run; patches are active only between
    ``install()`` and ``uninstall()``, so untraced passes in the same
    process pay nothing."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._query: str | None = None
        self._groups: list[tuple[str, str, str]] = []   # (query, phase, group)
        self._patches: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()
        self._last_execution = -1
        self.passes = 0

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "query": self._query, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _set_group(self, phase: str) -> None:
        group = f"{self.workload}:{self._query}:{phase}"
        self.sc.setJobGroup(group, group)
        self._groups.append((self._query, phase, group))

    @contextmanager
    def _grouped(self, phase: str, parent_phase: str):
        self._set_group(phase)
        try:
            yield
        finally:
            self._set_group(parent_phase)

    @contextmanager
    def query(self, name: str):
        self._query = name
        try:
            with self.span("query", pass_no=self.passes):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._query = None

    @contextmanager
    def phase(self, phase: str):
        self._set_group(phase)
        with self.span(phase):
            yield

    # -- wrapping --------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, fn, span_name: str, phase: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._query is None:
                return fn(*args, **kwargs)
            outer = tracer._groups[-1][1] if tracer._groups else "construct"
            with tracer.span(span_name):
                if phase is None:
                    return fn(*args, **kwargs)
                with tracer._grouped(phase, outer):
                    return fn(*args, **kwargs)
        return wrapper

    def install(self) -> None:
        import importlib
        import sys

        from pyspark.sql.classic.dataframe import DataFrame

        from parking_bigdata_spark import io

        load = self._wrap(io.load_table, "io.load_table", "load_table")
        for name, mod in list(sys.modules.items()):
            if (name.startswith("parking_bigdata_spark.queries.")
                    and getattr(mod, "load_table", None) is io.load_table):
                self._patch(mod, "load_table", load)
        for m in OPERATOR_MODULES:
            omod = importlib.import_module(f"parking_bigdata_spark.operators.{m}")
            for attr, fn in list(vars(omod).items()):
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == omod.__name__):
                    self._patch(omod, attr, self._wrap(fn, f"operators.{m}"))
        for meth in PIN_METHODS:
            self._patch(DataFrame, meth,
                        self._wrap(getattr(DataFrame, meth), "pin", "pin"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- status-store reads ----------------------------------------------
    def collect(self) -> list[dict]:
        """Per-query records of everything traced since the last call:
        span self-times and counts, Spark stage metrics per job group and
        Python-worker SQL metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        recs: dict[str, dict] = {}
        job_query: dict[int, str] = {}
        for query, phase, group in dict.fromkeys(self._groups):
            rec = recs.setdefault(query, defaultdict(float, query=query))
            for job in tracker.getJobIdsForGroup(group):
                # a group name recurs in every traced pass
                if job in self._seen_jobs:
                    continue
                self._seen_jobs.add(job)
                job_query[job] = query
                rec[f"jobs.{phase}"] += 1
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    self._add_stage(rec, store, sid)
        self._add_sql(recs, job_query)
        self._add_spans(recs)
        self._groups.clear()
        self.passes += 1
        out = [dict(r) for r in recs.values()]
        self.records.extend(out)
        return out

    @staticmethod
    def _add_stage(rec, store, sid: int) -> None:
        from py4j.protocol import Py4JJavaError
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:   # a stage evicted from the store
            return
        if str(sd.status()) == "SKIPPED":
            return
        rec["spark.stages"] += 1
        rec["spark.tasks"] += sd.numTasks()
        rec["spark.executor_run_s"] += sd.executorRunTime() / 1e3
        rec["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        rec["spark.gc_s"] += sd.jvmGcTime() / 1e3
        rec["spark.input_mb"] += sd.inputBytes() * _MB
        rec["spark.shuffle_read_mb"] += sd.shuffleReadBytes() * _MB
        rec["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() * _MB
        rec["spark.spill_mb"] += (sd.memoryBytesSpilled()
                                  + sd.diskBytesSpilled()) * _MB

    def _add_sql(self, recs, job_query: dict[int, str]) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        count = store.executionsCount()
        it = store.executionsList(0, count).iterator()
        newest = self._last_execution
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._last_execution:
                continue
            newest = max(newest, eid)
            jobs = ex.jobs().keySet().iterator()
            query = None
            while jobs.hasNext() and query is None:
                query = job_query.get(int(jobs.next()))
            if query is None:
                continue
            wanted = {}
            mi = ex.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() in PYTHON_METRICS:
                    wanted[m.accumulatorId()] = PYTHON_METRICS[m.name()]
            if not wanted:
                continue
            # iterate the Scala map: a lookup by Python int would box the
            # key as Integer and miss the map's Long keys
            vi = store.executionMetrics(eid).iterator()
            while vi.hasNext():
                kv = vi.next()
                key = wanted.get(int(kv._1()))
                if key is not None:
                    recs[query][key] += _metric_total(kv._2())
        self._last_execution = newest

    def _add_spans(self, recs) -> None:
        for s in self.spans:
            if s["query"] not in recs or s.get("collected"):
                continue
            s["collected"] = True
            rec, dur = recs[s["query"]], s["end"] - s["start"]
            name = s["name"]
            if name == "construct":
                rec["queries.construct_s"] += dur
            elif name == "exec":
                rec["spark.exec_s"] += dur
            elif name == "io.load_table":
                rec["io.load_table_calls"] += 1
                rec["io.load_table_s"] += dur
            elif name == "pin":
                rec["queries.pins"] += 1
                rec["queries.pin_s"] += dur
            elif name.startswith("operators."):
                # inclusive time of the outermost call into each module
                parent = self.spans[s["parent"]] if s["parent"] is not None else None
                if parent is None or parent["name"] != name:
                    rec[f"{name}.calls"] += 1
                    rec[f"{name}.s"] += dur

    @staticmethod
    def pass_totals(records: list[dict]) -> dict[str, float]:
        """One traced pass's per-layer totals from its per-query records."""
        tot: dict[str, float] = defaultdict(float)
        for r in records:
            for k, v in r.items():
                if k != "query":
                    tot[k] += v
        tot["io.load_table_jobs"] = sum(r.get("jobs.load_table", 0) for r in records)
        tot["queries.construct_jobs"] = sum(
            r.get(f"jobs.{p}", 0) for r in records
            for p in ("construct", "load_table", "pin"))
        tot["spark.exec_jobs"] = sum(r.get("jobs.exec", 0) for r in records)
        return tot

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"summary": summary, "records": self.records,
                       "spans": self.spans}, fh)
