"""Shared benchmark plumbing: tracing spans, latency statistics, process
RSS sampling, host guard, Spark session set-up and the Spark
status-store reader.

Nothing here imports ``hlld_spark`` at module level; the workload
modules do, so a checkout without the package fails at import.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, parent, trace, name, start, end).

    Disabled tracers cost one attribute test per span.  Parents nest per
    thread; ``trace`` groups the spans of one pass or one command.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1][0] if stack else 0
        tid = trace if trace is not None else (stack[-1][1] if stack else sid)
        stack.append((sid, tid))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, tid, name, t0, t1))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for _sid, parent, _t, _n, t0, t1 in self.spans:
            kids.setdefault(parent, []).append((t0, t1))
        out: dict[str, float] = {}
        for sid, _p, _t, name, t0, t1 in self.spans:
            covered, end = 0.0, t0
            for c0, c1 in sorted(kids.get(sid, [])):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[name] = out.get(name, 0.0) + (t1 - t0) - covered
        return out

    def durations(self, prefix: str = "") -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for _s, _p, _t, name, t0, t1 in self.spans:
            if name.startswith(prefix):
                out.setdefault(name, []).append(t1 - t0)
        return out

    def dump(self, path: str) -> None:
        keys = ("id", "parent", "trace", "name", "start", "end")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in sorted(self.spans)], f)


def span_cost_s(n: int = 20_000) -> float:
    """Seconds one enabled span adds, measured on a scratch tracer."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

_LADDER = (50.0, 90.0, 99.0, 99.9, 99.99)


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[max(0, min(len(v), math.ceil(q * len(v) / 100)) - 1)]


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, n): the highest ladder percentile with at least
    ten samples beyond it, as the report states every timing."""
    n = len(values)
    best = 50.0
    for q in _LADDER:
        if n * (1 - q / 100.0) >= 10:
            best = q
    return best, pct(values, best), n


def fmt_timing(name: str, values, unit: str) -> str:
    q, v, n = tail(values)
    return f"{name}: p50 {pct(values, 50):.4g} {unit}, p{q:g} {v:.4g} {unit} (n={n})"


def median(values) -> float:
    return statistics.median(values)


def hll_se(precision: int) -> float:
    """HLL standard error, 1.04 / sqrt(2^p)."""
    return 1.04 / math.sqrt(2**precision)


# Allowed error of one HLL estimate, in standard errors.  Three would
# fail a correct sketch: a run checks up to 167 estimates, and over 180
# seeds of the sketch_agg inputs the reference-parity estimator exceeded
# three standard errors on one estimate of seeds 5, 68 and 124 (by at
# most 3.3); small groups count empty registers, and their register
# collisions have a heavier tail than the normal approximation.
HLL_Z = 5


def hll_bound(precision: int) -> float:
    """Allowed relative error of one HLL estimate: HLL_Z standard errors."""
    return HLL_Z * hll_se(precision)


# ---------------------------------------------------------------------------
# host guard and memory
# ---------------------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat; steal is time the
    hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def host_probe_ms(reps: int = 5) -> float:
    """The host's single-thread speed: a fixed pure-Python loop (integer
    hashing and arithmetic), median of ``reps`` timings, in ms.  Taken
    before and after each run; runs whose two readings differ, or sets
    of runs whose readings differ, were not measured on the same host
    speed."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + hash(i)) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def driver_mem_setting() -> str:
    """Driver heap sized to the host: a sixteenth of RAM, 1-4 GiB.
    get_spark reads HLLD_SPARK_DRIVER_MEM (its default, 48g, exceeds
    small hosts)."""
    with open("/proc/meminfo") as f:
        total_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return f"{max(1024, min(4096, total_kb // 1024 // 16))}m"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss(root: int) -> dict[str, float]:
    """RSS in MB of the descendants of ``root`` (not ``root`` itself),
    summed per command name ("java", "python3", ...), plus "n" processes."""
    kids = _children_map()
    todo, out = list(kids.get(root, [])), {"n": 0}
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page / 2**20
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + rss
        out["n"] += 1
    return out


class RssSampler:
    """Background thread sampling, every 100 ms, the summed RSS of the
    processes this one started: the driver JVM and its Python workers, or
    the server subprocess.  ``peak_mb`` is the maximum seen, ``at_peak``
    its split by command name."""

    def __init__(self, interval: float = 0.1):
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _sample(self):
        by_name = tree_rss(os.getpid())
        total = sum(v for k, v in by_name.items() if k != "n")
        if total > self.peak_mb:
            self.peak_mb, self.at_peak = total, by_name

    def _run(self, interval):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------


def spark_conf(work: str) -> dict:
    """Keep Spark's scratch inside the work dir; keep the status store
    large enough to hold every labelled call of one run."""
    tmp = os.path.join(work, "tmp")
    jvm = f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": jvm,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _boot_workers(spark, cpus: int) -> None:
    """One Python task per core that imports the kernel modules, so the
    first timed call finds warm workers."""

    def touch(batches):
        import hlld_spark.core.accumulator  # noqa: F401
        import hlld_spark.operators.sketch  # noqa: F401

        yield from batches

    spark.range(0, cpus, numPartitions=cpus).mapInArrow(touch, "id long").count()


def spark_setup(work: str, cpus: int):
    """Cold set-up, as a pipeline job starts: launch the JVM through
    get_spark (which also ships the package), then boot the first Python
    workers.  Returns (spark, seconds)."""
    from hlld_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=spark_conf(work))
    _boot_workers(spark, cpus)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (EOF on its stdin, as when this
    process exits) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@contextmanager
def labelled(spark, label: str, tracer: Tracer, trace: int | None = None):
    """Span + Spark job group around one public call."""
    spark.sparkContext.setJobGroup(label, label)
    try:
        with tracer.span(label, trace):
            yield
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _sql_total(text: str | None) -> float:
    """First number of a formatted SQL metric ('total (...)\\n1.2 MiB (...)'
    or '806.4 KiB' or '12 ms'), in bytes or seconds."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


_SQL_KEYS = {
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}


def status_by_group(spark) -> dict[str, dict[str, float]]:
    """Stage task metrics and per-node SQL metrics summed per job group."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    job_group, stage_group = {}, {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        g = g.get() if g.isDefined() else "(none)"
        job_group[j.jobId()] = g
        ids = j.stageIds()
        for k in range(ids.size()):
            stage_group[ids.apply(k)] = g
    out: dict[str, dict[str, float]] = {}

    def acc(g, key, v):
        d = out.setdefault(g, {})
        d[key] = d.get(key, 0.0) + v

    stages = store.stageList(jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        g = stage_group.get(s.stageId(), "(none)")
        acc(g, "task_run_s", s.executorRunTime() / 1e3)
        acc(g, "task_cpu_s", s.executorCpuTime() / 1e9)
        acc(g, "gc_s", s.jvmGcTime() / 1e3)
        acc(g, "shuffle_write_mb", s.shuffleWriteBytes() / 2**20)
        acc(g, "tasks", float(s.numTasks()))
    # a cached relation repeats its producer's metrics in every later
    # plan that reads it: count each accumulator once, at first sight
    seen: set[int] = set()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        job_ids = e.jobs().keySet().toSeq()
        groups = {job_group.get(job_ids.apply(k)) for k in range(job_ids.size())} - {None}
        if not groups:
            continue
        g = sorted(groups)[0]
        values = sql.executionMetrics(e.executionId())
        ms = e.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            key = _SQL_KEYS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            x = _sql_total(v.get() if v.isDefined() else None)
            acc(g, key, x / 2**20 if key.endswith("_mb") else x)
    return out


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((r.memSize() + r.diskSize()) for r in infos) / 2**20
