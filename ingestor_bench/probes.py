"""Measurement from outside the product: layer spans, ``/proc`` sampling
of the process tree, and the driver JVM's own counters.

Spans come from wrappers installed over the product's public functions
(module attributes, class methods and ``plans.QUERIES`` entries) and
removed again on exit, so the product code is never edited. The
``/proc`` sampler runs in untraced runs too: CPU and peak PSS of the
process tree are end-to-end metrics.
"""

from __future__ import annotations

import functools
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- spans


class Spans:
    """Named spans with their parent span, kept per thread in memory.

    ``self_s`` of a name is its total duration minus the time its direct
    children cover, the layer's own time."""

    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self.records: list[tuple[str, str | None, float, float]] = []

    def wrap(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            stack.append(name)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with self._lock:
                    self.records.append((name, parent, t0, t1))
            if after is not None:
                after(args, kwargs, out)
            return out

        return traced

    def totals(self, t_lo: float, t_hi: float) -> dict[str, dict[str, float]]:
        """``{name: {"n", "total_s", "self_s"}}`` over spans that started in
        ``[t_lo, t_hi]``."""
        out: dict[str, dict[str, float]] = {}
        with self._lock:
            recs = [r for r in self.records if t_lo <= r[2] <= t_hi]
        for name, _, t0, t1 in recs:
            agg = out.setdefault(name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += t1 - t0
            agg["self_s"] += t1 - t0
        for _, parent, t0, t1 in recs:
            if parent is not None and parent in out:
                out[parent]["self_s"] -= t1 - t0
        return out


class Patches:
    """Attribute and mapping-entry replacements, undone in reverse order."""

    def __init__(self):
        self._undo: list = []

    def attr(self, obj, name: str, value) -> None:
        old = getattr(obj, name)
        self._undo.append(lambda: setattr(obj, name, old))
        setattr(obj, name, value)

    def item(self, mapping: dict, key, value) -> None:
        old = mapping[key]
        self._undo.append(lambda: mapping.__setitem__(key, old))
        mapping[key] = value

    def restore(self) -> None:
        while self._undo:
            self._undo.pop()()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


def install_layer_spans(spans: Spans, counters: dict) -> Patches:
    """Wrap each layer's public entry points. ``counters`` collects
    ``sources.staged_bytes``, ``sinks.bytes_written`` and
    ``sinks.files_written`` as ``(perf_counter time, amount)`` events."""
    from pygeoapi_ingestor_spark import api, plans, processes, session
    from pygeoapi_ingestor_spark.sinks import collections as sinks
    from pygeoapi_ingestor_spark.sources import external
    from pygeoapi_ingestor_spark.streaming import pipeline, scheduler

    lock = threading.Lock()

    def count(name, amount):
        with lock:
            counters.setdefault(name, []).append((time.perf_counter(), amount))

    def after_write(args, kwargs, _out):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        n_bytes, n_files = _dir_bytes_files(path)
        count("sinks.bytes_written", n_bytes)
        count("sinks.files_written", n_files)

    def after_fetch(_args, _kwargs, path):
        count("sources.staged_bytes", os.path.getsize(path))

    p = Patches()
    p.attr(session, "get_spark", spans.wrap("session.get_spark", session.get_spark))
    p.attr(session, "ensure_package_on_executors",
           spans.wrap("session.ship", session.ensure_package_on_executors))
    for key, fn in list(plans.QUERIES.items()):
        p.item(plans.QUERIES, key, spans.wrap("plans.build", fn))
    p.attr(api.ProcessAPI, "execute", spans.wrap("api.execute", api.ProcessAPI.execute))
    p.attr(api.ProcessAPI, "items", spans.wrap("api.items", api.ProcessAPI.items))
    for mod in (api, scheduler):
        p.attr(mod, "finalize_job", spans.wrap("scheduler.finalize", mod.finalize_job))
    p.attr(processes.IngestProcess, "execute",
           spans.wrap("processes.execute", processes.IngestProcess.execute))
    for mod in (processes, sinks):
        p.attr(mod, "write_collection",
               spans.wrap("sinks.write", mod.write_collection, after_write))
        p.attr(mod, "compute_extents", spans.wrap("sinks.extents", mod.compute_extents))
    p.attr(sinks.CollectionCatalog, "register",
           spans.wrap("sinks.register", sinks.CollectionCatalog.register))
    p.attr(external, "fetch_cds_gridded",
           spans.wrap("sources.fetch", external.fetch_cds_gridded, after_fetch))
    p.attr(pipeline, "run_to_collection",
           spans.wrap("streaming.tick", pipeline.run_to_collection))
    return p


# ---------------------------------------------------------------- /proc


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name may hold spaces: fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, children: bool = True) -> float:
    """User+system CPU of ``pid``; with ``children``, plus that of its
    reaped children (a worker that exited is counted by its parent)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def proc_pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, each shared page split
    between the processes sharing it, so a forked child (a pyspark
    worker, a short-lived helper the JVM forks) does not count its
    parent's memory twice."""
    raw = _read(f"/proc/{pid}/smaps_rollup")
    for line in (raw or "").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        raw = _read(f"/proc/{pid}/task/{tid}/children")
        if raw:
            out += [int(c) for c in raw.split()]
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def cmdline(pid: int) -> str:
    raw = _read(f"/proc/{pid}/cmdline")
    return raw.replace("\0", " ") if raw else ""


def process_start_epoch(pid: int) -> float:
    """Wall-clock start of ``pid`` from its ``/proc`` start time."""
    btime = next(
        int(line.split()[1]) for line in _read("/proc/stat").splitlines()
        if line.startswith("btime ")
    )
    return btime + int(_stat_fields(pid)[19]) / CLK_TCK


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from ``/proc/stat``."""
    vals = [int(v) for v in _read("/proc/stat").splitlines()[0].split()[1:]]
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


class TreeSampler:
    """Samples the runner's process tree: summed PSS (peak), the pyspark
    daemon's worker pids and, when ``storage`` is given, the Spark
    storage memory it reports. A background thread; ``stop`` joins it."""

    def __init__(self, interval_s: float, storage=None):
        self.pid = os.getpid()
        self.interval_s = interval_s
        self.storage = storage
        self.peak_pss_mb = 0.0
        self.storage_peak_mb = 0.0
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler",
                                        daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def reset_peaks(self) -> None:
        self.peak_pss_mb = self.storage_peak_mb = 0.0

    def tree(self) -> list[int]:
        return [self.pid] + descendants(self.pid)

    def daemon_pid(self) -> int | None:
        for pid in descendants(self.pid):
            if "pyspark.daemon" in cmdline(pid):
                return pid
        return None

    def jvm_pid(self) -> int | None:
        for pid in descendants(self.pid):
            if "org.apache.spark.deploy.SparkSubmit" in cmdline(pid):
                return pid
        return None

    def python_cpu_s(self) -> float:
        """CPU of the pyspark daemon and every worker it forked."""
        d = self.daemon_pid()
        if d is None:
            return 0.0
        return proc_cpu_s(d) + sum(proc_cpu_s(w) for w in descendants(d))

    def tree_cpu_s(self) -> float:
        return sum(proc_cpu_s(p) for p in self.tree())

    def sample(self) -> None:
        pids = self.tree()
        self.peak_pss_mb = max(self.peak_pss_mb, sum(proc_pss_mb(p) for p in pids))
        d = next((p for p in pids if "pyspark.daemon" in cmdline(p)), None)
        if d is not None:
            self.worker_pids.update(descendants(d))
        if self.storage is not None:
            try:
                self.storage_peak_mb = max(self.storage_peak_mb, self.storage())
            except Exception:  # noqa: BLE001 — the session may be stopping
                pass

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- JVM


def jvm_gc_s(spark) -> float:
    """Summed collection time of the driver JVM's garbage collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def storage_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks, as the storage status
    reports it."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def next_job_id(spark) -> int:
    """The id Spark gives its next job: one past that of a one-task JVM
    job run here (job ids only grow within a SparkContext)."""
    sc = spark.sparkContext
    group = "bench-job-id-marker"
    sc.setJobGroup(group, group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group)) + 1


def group_task_counts(spark, group: str, first_job_id: int) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``, counting
    only jobs with an id of at least ``first_job_id``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = [j for j in tracker.getJobIdsForGroup(group) if j >= first_job_id]
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stages += 1
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), stages, tasks
