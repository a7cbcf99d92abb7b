"""Benchmark plumbing: host sizing, the Spark session, the closed-loop
timer, and the traced run's spans and Spark counters.

Nothing here knows a workload; ``workloads.py`` builds the ops and
``run.py`` wires the two together.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import tempfile
import time
import traceback

from pyspark import SparkContext

from pythongis_spark.session import get_spark


# ------------------------------------------------------------------
# host sizing
# ------------------------------------------------------------------

def host_cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints, without the
    ``OMP_NUM_THREADS`` override that ``nproc`` honours)."""
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def driver_mem_gb() -> int:
    # 40% of physical RAM: local mode runs the executors inside the
    # driver JVM, and the Python workers (one per core) need the rest
    return max(1, int(host_mem_gb() * 0.4))


# ------------------------------------------------------------------
# session
# ------------------------------------------------------------------

def start_session(root: str, work: str):
    """Spark sized from the host, with every scratch file under ``work``
    and the checkout on the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM starts the Python workers with its own environment, so the
    # package must be on PYTHONPATH before the JVM is launched
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    return get_spark(
        app="perfbench",
        cores=host_cores(),
        extra_conf={
            "spark.driver.memory": f"{driver_mem_gb()}g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def noop_write(df) -> None:
    """Materialize the full result without keeping it (no ``.count()``,
    which Catalyst prunes to the columns a count needs)."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------
# spans
# ------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out
    once at the end of the run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, ops=None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (ops is None or s["op"] in ops)
        ]


# ------------------------------------------------------------------
# Spark counters (traced run only)
# ------------------------------------------------------------------

# SQL metric names that Spark's Python exec nodes report
PY_METRICS = {
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("arrow.bytes_to_python", 1.0),
    "data returned from Python workers": ("arrow.bytes_from_python", 1.0),
}

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}


def _parse_metric(text: str) -> float:
    """Total of a formatted SQL metric ('4,096', '12 ms',
    'total (min, med, max ...)\\n60.5 MiB (...)'), in bytes or ms."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


class SparkCounters:
    """Jobs, tasks and shuffle bytes of a job group (from the status
    store), plus the Python/Arrow SQL metrics of the SQL executions that
    ran while the group was set."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.accs = spark._jvm.org.apache.spark.util.AccumulatorContext
        self._n = 0
        self._scan_from = 0
        # last value seen per SQL metric accumulator: a cached frame's plan
        # shows in every execution that reads the cache, with the values
        # of the one run that filled it, so only increments are counted
        self._seen: dict[int, float] = {}

    def begin(self, label: str) -> str:
        """Start a fresh job group; one call, cheap enough to sit inside a
        timed op."""
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def end(self, gid: str) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; the yielded dict is
        filled with the group's counts when the body ends."""
        gid = self.begin(label)
        out: dict = {}
        try:
            yield out
        finally:
            self.end(gid)
        out.update(self.collect(gid))

    def _wait_jobs(self, gid: str) -> list[int]:
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        while True:
            jids = list(tracker.getJobIdsForGroup(gid))
            infos = [tracker.getJobInfo(j) for j in jids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                return jids
            if time.monotonic() > deadline:
                return jids
            time.sleep(0.01)

    def collect(self, gid: str) -> dict:
        """The group's counts; call outside the timed span, for groups in
        the order they began."""
        jids = self._wait_jobs(gid)
        tasks = 0
        shuffle = 0
        for j in jids:
            try:
                job = self.store.job(j)
            except Exception:  # evicted from the status store
                continue
            tasks += job.numCompletedTasks()
            sids = job.stageIds()
            for i in range(sids.size()):
                try:
                    stage = self.store.lastStageAttempt(sids.apply(i))
                except Exception:  # skipped stage: never attempted
                    continue
                shuffle += stage.shuffleWriteBytes()
        out = {"jobs": len(jids), "tasks": tasks, "shuffle_bytes": shuffle}
        out.update(self._python_metrics(set(jids)))
        return out

    def _python_metrics(self, jobs: set) -> dict:
        """Sum the Python/Arrow metrics of the SQL executions that ran
        any of ``jobs``. Execution ids are sequential and groups run one
        after another, so the scan starts after the previous group's last
        execution and ends at the first id not (yet) in the store: an
        execution is registered before its jobs start."""
        totals = {key: 0.0 for key, _ in PY_METRICS.values()}
        n_exec = 0
        eid = self._scan_from
        while True:
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                break
            ui = opt.get()
            exec_id, eid = eid, eid + 1
            keys = ui.jobs().keysIterator()
            ran = set()
            while keys.hasNext():
                ran.add(keys.next())
            if not ran & jobs:
                continue
            n_exec += 1
            self._scan_from = eid
            values = None
            metrics = ui.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                hit = PY_METRICS.get(m.name())
                if hit is None:
                    continue
                key, scale = hit
                acc_id = m.accumulatorId()
                acc = self.accs.get(acc_id)
                if acc.isDefined():
                    raw = float(acc.get().value())
                else:  # accumulator collected: fall back to the UI string
                    if values is None:
                        values = self._wait_values(exec_id)
                    text = values.get(acc_id)
                    raw = _parse_metric(text.get()) if text.isDefined() else 0.0
                # adaptive re-plans also list a node's metrics more than once
                totals[key] += (raw - self._seen.get(acc_id, 0.0)) * scale
                self._seen[acc_id] = raw
        totals["sql_executions"] = n_exec
        return totals

    def _wait_values(self, eid: int):
        deadline = time.monotonic() + 5.0
        while True:
            vals = self.sql.executionMetrics(eid)
            if vals.size() > 0 or time.monotonic() > deadline:
                return vals
            time.sleep(0.01)


# ------------------------------------------------------------------
# closed loop
# ------------------------------------------------------------------

class Loop:
    """One client, closed loop: each op starts when the previous one has
    finished. Ops run in whole cycles so every run holds the same mix."""

    def __init__(self, workload, tracer: Tracer):
        self.w = workload
        self.tracer = tracer
        self.latencies: list[float] = []
        self.warm_latencies: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0

    def run_op(self, k: int, warm_up: bool = False) -> float | None:
        """Time op ``k``, check its output outside the timed span; return
        its latency, or None when it failed."""
        self.w.prepare(k, warm_up)
        self.attempted += 1
        self.tracer.op_id = k
        ok = False
        dt = None
        result = None
        try:
            with self.tracer.span("op"):
                t0 = time.perf_counter()
                result = self.w.op(k)
                dt = time.perf_counter() - t0
            ok = self.w.check(k, result)
            if not ok:
                print(f"op {k}: output check failed", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        try:
            self.w.after(k, result)
        except Exception:  # a failed traced probe fails its op
            traceback.print_exc()
            ok = False
        finally:
            self.tracer.op_id = None
        if not ok:
            self.failed += 1
            return None
        self.latencies.append(dt)
        self.items += self.w.items_per_op
        return dt

    def warm_up(self, start: int, min_ops: int = 3, max_ops: int = 12) -> int:
        """Run ops until op time stops falling: at least ``min_ops``, then
        stop at the first op no faster than 0.95 x the best so far, which
        happens once code paths, caches and Python workers are warm."""
        times = self.warm_latencies
        k = start
        while k - start < max_ops:
            dt = self.run_op(k, warm_up=True)
            k += 1
            if dt is None:
                continue
            if len(times) >= min_ops - 1 and dt >= 0.95 * min(times):
                times.append(dt)
                break
            times.append(dt)
        return k

    def measure(self, start: int, seconds: float) -> tuple[int, float]:
        """Run whole cycles until ``seconds`` have passed and at least the
        workload's ``min_ops`` have run, so a slow window cannot shrink a
        run to fewer samples; returns the next op index and the summed op
        time."""
        cycle = self.w.cycle
        deadline = time.perf_counter() + seconds
        k = start
        while True:
            self.run_op(k)
            k += 1
            n = k - start
            if (n % cycle == 0 and n >= self.w.min_ops
                    and time.perf_counter() >= deadline):
                return k, sum(self.latencies)

    def reset(self) -> None:
        self.latencies.clear()
        self.items = 0
        self.attempted = 0
        self.failed = 0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
