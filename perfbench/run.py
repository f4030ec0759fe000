#!/usr/bin/env python3
"""Closed-loop benchmark of the query registry, one workload per run.

    python3 perfbench/run.py --workload tabular_sf0.1 --seed 1 \
        --seconds 5 --trace 0

One client runs one query at a time. Each query is a registry function
from ``parking_bigdata_spark.queries.queries()``, its result written to
the ``noop`` sink, with ``spark.catalog.clearCache()`` before it. A run:

1. writes the workload's input tables from ``--seed`` (untimed);
2. sets up: imports the package, starts the session (``get_spark``),
   builds the registry and scans one table (``setup_s``);
3. runs the cold pass in the listed order, collecting every result, and
   checks each result against its DuckDB oracle or a property of its
   method (``cold_pass_s``);
4. runs the workload's untimed warm-up passes, then whole timed passes
   until ``--seconds`` have passed, and at least the workload's
   ``timed_passes``; every pass after the cold one runs the queries in
   an order drawn from the seed;
5. reads the JVM heap still in use after full collections
   (``heap_live_mb``).

With ``--trace 0`` the last stdout line holds the end-to-end metrics;
with ``--trace 1`` timed passes alternate untraced and traced, and the
line holds the per-layer metrics of the traced ones plus their overhead.
The run's files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: driver heap, committed and touched up front so that the resident set
#: does not follow the collector's run-to-run heap-growth decisions; fits
#: a 16 GB host with room for the Python workers
DRIVER_MEM = "2g"
#: a traced run times this many pairs of an untraced and a traced pass
TRACED_PAIRS = 2

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Session inputs, through the environment ``get_spark`` reads."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # the pandas-UDF workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            # no /tmp/hsperfdata_<user> file (here and in the launcher
            # JVM above): the JVM writes it outside java.io.tmpdir
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    sys.path.insert(0, ROOT)


# -- processes ---------------------------------------------------------------

def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids``; unlike wall time it does not
    count the time a shared host's hypervisor steals from the guest."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssWatch:
    """High-water resident memory of the JVM and its Python workers: the
    per-process ``VmHWM`` of every descendant of this process, summed."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            kb = vm_hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def heap_live_mb(spark) -> float:
    """JVM heap in use once full collections stop freeing more: what the
    session still holds (pinned blocks, broadcasts, plan and status data).
    A collection lets Spark's context cleaner drop, in the background, the
    blocks of RDDs, shuffles and broadcasts no longer reachable, so the
    figure is read again after each collection until two in a row free
    less than 0.5% more."""
    gc.collect()   # releases the JVM objects behind dropped py4j proxies
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen = []
    for _ in range(12):
        jvm.java.lang.System.gc()
        time.sleep(0.25)
        seen.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(seen) > 2 and min(seen[-3:]) > 0.995 * seen[-3]:
            break
    print("perfbench: heap after collections " + " ".join(
        f"{v:.1f}" for v in seen) + " MB", file=sys.stderr)
    return min(seen)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()   # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _zombie(p)]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# -- the run -----------------------------------------------------------------

class Bench:
    def __init__(self, args, data_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.data = data_dir
        self.rng = random.Random(args.seed)
        self.rss = RssWatch()
        self.attempted = 0
        self.failed = 0
        self.correct = True

    def setup(self) -> dict:
        t0 = time.perf_counter()
        from parking_bigdata_spark import queries as Q
        from parking_bigdata_spark.io import load_table
        from parking_bigdata_spark.session import get_spark
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        registry = Q.queries()
        t3 = time.perf_counter()
        load_table(self.spark, self.data, "lineitem").count()
        t4 = time.perf_counter()
        self.fns = {q: registry[q] for q in self.wl.queries}
        self.oracles = Q.oracle_sql()
        return {"setup_s": t4 - t0, "session.start_s": t2 - t1,
                "queries.registry_s": t3 - t2}

    def execute(self, name: str, collect: bool, tracer=None):
        """One operation; returns (seconds, pandas result or None), or
        None when it raised."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            self.spark.catalog.clearCache()
            if tracer is None:
                df = self.fns[name](self.spark, self.data)
                out = df.toPandas() if collect else _noop(df)
            else:
                with tracer.query(name):
                    with tracer.phase("construct"):
                        df = self.fns[name](self.spark, self.data)
                    with tracer.phase("exec"):
                        out = _noop(df)
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t
        self.rss.sample()
        return dt, out

    def one_pass(self, collect: bool = False, tracer=None):
        order = list(self.wl.queries)
        if not collect:
            # the cold pass keeps the listed order: whichever query runs
            # first in a session pays for the session's first Python-worker
            # start and JIT work (ann_ivf: 5-6 s when it follows another
            # Python query, 10-14 s when it comes first)
            self.rng.shuffle(order)
        t = time.perf_counter()
        res = {q: self.execute(q, collect, tracer) for q in order}
        return time.perf_counter() - t, res

    def cpu_now(self) -> float:
        return cpu_seconds(descendants(os.getpid()))

    def check(self, outputs: dict) -> None:
        import checks
        con = checks.duck(self.data)
        for name, res in outputs.items():
            if res is None:
                continue
            diff = checks.check(name, res[1], self.oracles[name], con)
            if diff is not None:
                self.failed += 1
                self.correct = False
                print(f"perfbench: {name} output wrong: {diff}", file=sys.stderr)
        con.close()

    def run(self) -> dict:
        try:
            return self._run()
        finally:
            if hasattr(self, "spark"):
                shutdown(self.spark)

    def _run(self) -> dict:
        set_up = self.setup()
        cold_s, cold = self.one_pass(collect=True)
        print(f"perfbench: setup {set_up['setup_s']:.3f} s, cold pass "
              f"{cold_s:.3f} s " + " ".join(f"{q}={r[0]:.3f}" for q, r
                                          in cold.items() if r), file=sys.stderr)
        self.check(cold)
        del cold
        for i in range(self.wl.warmup_passes):
            wall, _ = self.one_pass()
            print(f"perfbench: warm-up pass {i + 1} {wall:.3f} s", file=sys.stderr)
        if self.args.trace:
            metrics = self.timed_traced()
            metrics["session.start_s"] = set_up["session.start_s"]
            metrics["queries.registry_s"] = set_up["queries.registry_s"]
            from tracing import per_layer_units
            units = per_layer_units()
        else:
            metrics = self.timed()
            metrics["setup_s"] = set_up["setup_s"]
            metrics["cold_pass_s"] = cold_s
            metrics["peak_rss_mb"] = self.rss.mb()
            metrics["heap_live_mb"] = heap_live_mb(self.spark)
            units = E2E_UNITS
        self.rss.sample()
        return {"correct": self.correct, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]}
                            for k in units}}

    def timed(self) -> dict:
        walls, cpus, samples = [], [], {q: [] for q in self.wl.queries}
        start = time.perf_counter()
        while (len(walls) < self.wl.timed_passes
               or time.perf_counter() - start < self.args.seconds):
            cpu = self.cpu_now()
            wall, res = self.one_pass()
            cpus.append(self.cpu_now() - cpu)
            walls.append(wall)
            for q, r in res.items():
                if r is not None:
                    samples[q].append(r[0])
            print(f"perfbench: pass {len(walls)} {wall:.3f} s cpu {cpus[-1]:.2f} s " + " ".join(
                f"{q}={r[0]:.3f}" for q, r in res.items() if r), file=sys.stderr)
        medians = [statistics.median(v) for v in samples.values() if v]
        return {
            "pass_s": statistics.median(walls),
            "pass_cpu_s": statistics.median(cpus),
            "query_geomean_s": math.exp(statistics.fmean(map(math.log, medians))),
        }

    def timed_traced(self) -> dict:
        from tracing import Tracer, per_layer_units
        tracer = Tracer(self.spark, self.args.workload)
        plain, traced, totals = [], [], []
        start = time.perf_counter()
        # whole pairs, the traced pass first in every other pair, so that
        # warm-up drift cancels out of the overhead
        while (len(traced) < TRACED_PAIRS
               or time.perf_counter() - start < self.args.seconds):
            for traced_turn in ((True, False) if len(traced) % 2 else (False, True)):
                if not traced_turn:
                    plain.append(self.one_pass()[0])
                    continue
                tracer.install()
                try:
                    traced.append(self.one_pass(tracer=tracer)[0])
                finally:
                    tracer.uninstall()
                totals.append(Tracer.pass_totals(tracer.collect()))
            print(f"perfbench: pass pair {len(traced)} untraced {plain[-1]:.3f} s"
                  f" traced {traced[-1]:.3f} s", file=sys.stderr)
        out = {k: statistics.median(t.get(k, 0.0) for t in totals)
               for k in per_layer_units()}
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        path = os.path.join(WORK, f"trace-{self.args.workload}-{self.args.seed}.json")
        tracer.write(path, out)
        print(f"perfbench: spans and per-query records in {path}", file=sys.stderr)
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "pass_cpu_s": "s",
             "query_geomean_s": "s", "peak_rss_mb": "MB", "heap_live_mb": "MB"}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "parking_bigdata_spark", "__init__.py")):
        print("perfbench: no parking_bigdata_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    started = time.perf_counter()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)
    import datagen
    data = os.path.join(run_dir, "data")
    datagen.write(data, args.seed, WORKLOADS[args.workload].sf)
    try:
        result = Bench(args, data).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: run took {time.perf_counter() - started:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
