"""Measurement probes for the benchmark: spans, engine counters, memory.

Nothing here changes what the engine does. ``Tracer`` records spans
around calls the benchmark makes (or wraps) into the engine's public
functions; ``EngineCounters`` reads per-stage and per-job figures from
Spark's status store (the UI and its REST API are off in the engine's
session); ``table_scans`` and ``column_bytes`` tell which columns of a
table the executed plan of a persisted frame reads, and what they weigh;
``RssSampler`` follows the resident memory of the JVM and its Python
workers through ``/proc``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import threading
import time
from contextlib import contextmanager


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id.

    Disabled tracers record nothing, so untraced runs pay one branch
    per span. Spans are written out once, by :meth:`dump`.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = "setup"
        #: seconds spent in probe work (engine counters, byte counts)
        #: inside traced calls: the tracing overhead an operation pays
        self.probe_s = 0.0

    @contextmanager
    def probe(self):
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.probe_s += time.monotonic() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` with a spanned call; returns the undo.

        ``after(rec, args, kwargs, result)`` may add counts to the span
        once the call has returned."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if after is not None:
                    with self.probe():
                        after(rec, args, kwargs, result)
                return result

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, original)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        children = [
            (c["start"], c["end"])
            for c in self.spans
            if c["parent"] == rec["id"] and c["end"] is not None
        ]
        return (rec["end"] - rec["start"]) - union_length(children)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [
            {**s, "self_s": self.self_time(s)} for s in self.spans if s["end"] is not None
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# --------------------------------------------------------- engine counters


class EngineCounters:
    """Per-stage and per-job figures from the SparkContext status store.

    ``mark()`` remembers which stages and jobs exist; ``since(mark)``
    sums the stages and lists the jobs that appeared after it, so
    figures are attributed to an operation by stage-id range.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ssc = self._sc._jsc.sc()
        self._gw = self._sc._gateway

    def _drain(self) -> None:
        # stage/job events reach the status store through the async
        # listener bus; wait so a just-finished action is counted
        self._ssc.listenerBus().waitUntilEmpty()

    def _stages(self):
        jvm = self._gw.jvm
        seq = self._ssc.statusStore().stageList(
            None, False, False, self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        return [seq.apply(i) for i in range(seq.size())]

    def _jobs(self):
        seq = self._ssc.statusStore().jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self):
        self._drain()
        return (
            {(s.stageId(), s.attemptId()) for s in self._stages()},
            {j.jobId() for j in self._jobs()},
        )

    def since(self, mark) -> dict:
        self._drain()
        seen_stages, seen_jobs = mark
        out = {
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_write_bytes": 0,
            "gc_s": 0.0,
            "spill_bytes": 0,
        }
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in seen_stages or str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["spill_bytes"] += s.memoryBytesSpilled()
        intervals = []
        for j in self._jobs():
            if j.jobId() in seen_jobs:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        out["jobs"] = len(intervals)
        out["job_busy_s"] = union_length(intervals)
        return out

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()


# ------------------------------------------------------------- plan scans


def _plan_leaves(node, expand_cache: bool) -> list:
    """Leaf operators of a physical plan. Adaptive and query-stage
    wrappers are looked through. With ``expand_cache`` the first
    in-memory scan met (the frame's own cache) is replaced by the plan
    that filled it; any other in-memory scan, and a reused exchange, is
    a leaf, since its rows are not read from files again."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_leaves(node.executedPlan(), expand_cache)
    if name.endswith("QueryStageExec"):
        return _plan_leaves(node.plan(), expand_cache)
    if name == "InMemoryTableScanExec" and expand_cache:
        return _plan_leaves(node.relation().cachedPlan(), False)
    children = node.children()
    if children.size() == 0:
        return [node]
    out = []
    for i in range(children.size()):
        out += _plan_leaves(children.apply(i), expand_cache)
    return out


def _local_path(uri: str) -> str:
    return os.path.realpath(uri[len("file:"):] if uri.startswith("file:") else uri)


def table_scans(df, table_dir: str) -> list[set[str]]:
    """The columns each parquet scan of ``table_dir`` reads when the
    persisted frame ``df`` is filled, from its executed physical plan
    (partition columns excluded)."""
    root = os.path.realpath(table_dir)
    scans = []
    for leaf in _plan_leaves(df._jdf.queryExecution().executedPlan(), True):
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        paths = leaf.relation().location().rootPaths()
        if any(_local_path(paths.apply(i).toString()) == root for i in range(paths.size())):
            scans.append(set(leaf.requiredSchema().fieldNames()))
    return scans


def column_bytes(table_dir: str, parts) -> dict[str, int]:
    """Compressed bytes of each column of partitions ``parts`` of a
    parquet table, summed from the file footers."""
    import pyarrow.parquet as pq

    sizes: dict[str, int] = {}
    for part in parts:
        for path in glob.glob(f"{table_dir}/part={part}/*.parquet"):
            md = pq.ParquetFile(path).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    chunk = md.row_group(rg).column(ci)
                    name = chunk.path_in_schema
                    sizes[name] = sizes.get(name, 0) + chunk.total_compressed_size
    return sizes


# ------------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(pid: int) -> list[int]:
    children = _children_map()
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds() -> float:
    """CPU seconds (user + system) this process and its descendants
    have used, children they have reaped included: the benchmark's own
    Python process (where ``cli.main`` runs), the JVM with its JIT and
    GC threads, and the Python workers. Unlike wall time it does not
    count time the processes waited for a processor another program
    held."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it (the Python workers are forked from
    one daemon, so summing their RSS would count its pages many times)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process's descendants,
    the JVM and the Python workers it forks, sampled while ``active()``
    is open. ``cpu_s`` is the CPU time the sampling thread has spent."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        total = sum(_pss_bytes(p) for p in descendants(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(timeout=self.period_s):
                t0 = time.thread_time()
                self._sample()
                self.cpu_s += time.thread_time() - t0
                self._stop.wait(self.period_s)

    @contextmanager
    def active(self):
        self._sample()
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------------------- host


def host_info(spark, root: str, n_cores: int, seed: int) -> dict:
    import pyspark

    mem_total_kib = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total_kib = int(line.split()[1])
                break
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_gib": round(mem_total_kib / 2**20, 2) if mem_total_kib else None,
        "disk_free_gib": round(shutil.disk_usage(root).free / 2**30, 1),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "master": spark.sparkContext.master,
        "local_n": n_cores,
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "jvm_max_heap_gib": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**30, 2),
        "seed": seed,
    }
