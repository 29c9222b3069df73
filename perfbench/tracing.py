"""Spans, Spark status-store readers, CPU counters and the memory sampler.

The tracer records spans from the benchmark's own files only: around
the calls it makes into each repository module (``Tracer.call``) and,
during a traced pass, around module functions it wraps for the duration
of that pass (``Tracer.instrument``).  Spark's own stage records are
attached afterwards as child spans of the action that ran them, matched
by the job description the benchmark sets for each operation.

With ``enabled=False`` every entry point is a plain call, so untraced
runs pay nothing but an attribute lookup.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer, getattr(fn, "__qualname__", str(fn))):
            return fn(*args, **kwargs)

    def instrument(self, targets):
        """Wrap ``(module, attribute, layer)`` functions in spans until
        :meth:`restore`; the wrapper records the call's first path-like
        argument so a sink span knows where it wrote."""
        for module, attr, layer in targets:
            fn = getattr(module, attr)
            self._patched.append((module, attr, fn))
            setattr(module, attr, self._wrap(fn, layer))

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(layer, fn.__qualname__) as rec:
                paths = [a for a in args if isinstance(a, str) and os.sep in a]
                if rec is not None and paths:
                    rec["path"] = paths[-1]
                return fn(*args, **kwargs)
        return wrapped

    def restore(self):
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def add_child(self, parent: dict, layer: str, name: str, start: float, end: float, **attrs):
        self.spans.append({"id": len(self.spans), "parent": parent["id"], "layer": layer,
                           "name": name, "start": start, "end": end, **attrs})


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Each span's duration minus the part of it its children cover,
    summed per layer."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - union_length(
            (max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], ())
            if min(b, s["end"]) > max(a, s["start"]))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
    return {k: round(v, 6) for k, v in sorted(out.items())}


# ----------------------------------------------------------- status stores
def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every queued event:
    the status store is filled asynchronously, so right after an action
    returns its last stage can still read as active."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_records(spark, label: str) -> list[dict]:
    """Completed stages whose job description is ``label``, with the
    task metrics the per-layer table needs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out = []
    for i in range(seq.size()):
        sd = seq.apply(i)
        if _opt(sd.description()) != label or str(sd.status()) != "COMPLETE":
            continue
        rec = {
            "stage": sd.stageId(), "attempt": sd.attemptId(),
            "start": _opt(sd.submissionTime()).getTime() / 1000.0,
            "end": _opt(sd.completionTime()).getTime() / 1000.0,
            "tasks": sd.numCompleteTasks(),
            "task_s": sd.executorRunTime() / 1e3,
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "jvm_gc_s": sd.jvmGcTime() / 1e3,
            "spill_disk_bytes": sd.diskBytesSpilled(),
            "spill_memory_bytes": sd.memoryBytesSpilled(),
            "peak_execution_memory_bytes": sd.peakExecutionMemory(),
            "input_bytes": sd.inputBytes(), "input_records": sd.inputRecords(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "shuffle_fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
        }
        if rec["shuffle_read_bytes"] > 0:
            tasks = store.taskList(rec["stage"], rec["attempt"], 1 << 20)
            durs = [_opt(tasks.apply(j).duration(), 0) for j in range(tasks.size())]
            med = statistics.median(durs) if durs else 0
            rec["task_skew"] = max(durs) / med if med else 1.0
        out.append(rec)
    return out


def job_count(spark, label: str) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return sum(1 for i in range(jobs.size()) if _opt(jobs.apply(i).description()) == label)


def pinned(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory + on disk)."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().statusStore().rddList(True)
    held = sum(infos.apply(i).memoryUsed() + infos.apply(i).diskUsed() for i in range(infos.size()))
    return sc._jsc.getPersistentRDDs().size(), int(held)


def python_exec_metrics(df) -> tuple[int, int]:
    """(rows, bytes sent to Python workers) from the SQL metrics of the
    Python-exec nodes in ``df``'s executed plan."""
    from grpc_map_reduce_spark.plans.runtime_witness import iter_executed_nodes, node_metrics

    rows = sent = 0
    for node in iter_executed_nodes(df._jdf.queryExecution().executedPlan()):
        cls = node.getClass().getSimpleName()
        if "Python" in cls or "Pandas" in cls or "Arrow" in cls:
            m = node_metrics(node)
            rows += int(m.get("pythonNumRowsReceived", 0))
            sent += int(m.get("pythonDataSent", 0))
    return rows, sent


# ----------------------------------------------------------- memory sampler
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads ("C2 CompilerThread0", ... in /proc, cut
# to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def cpu_snapshot(root: int) -> tuple[int, dict[int, int]]:
    """CPU clock ticks (user + system, with reaped children) of ``root``
    and its descendants, and the ticks of each JIT compiler thread among
    them.  Time the hypervisor stole is in neither."""
    total, jit = 0, {}
    for pid in [root] + _descendants(root):
        try:
            total += sum(int(x) for x in _stat_fields(f"/proc/{pid}/stat")[1][11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):
            continue
        for tid in tids:
            try:  # one thread at a time: threads come and go during the scan
                name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(_JIT_THREADS):
                jit[int(tid)] = int(fields[11]) + int(fields[12])
    return total, jit


def cpu_between(a, b) -> tuple[float, float]:
    """(CPU seconds outside JIT compilation, JIT compiler CPU seconds)
    spent between two :func:`cpu_snapshot` results.  A compiler thread
    the JVM retired in between counts as outside: it exits idle."""
    jit = sum(t - a[1].get(tid, 0) for tid, t in b[1].items())
    return (b[0] - a[0] - jit) / _TICK, jit / _TICK


class RssSampler:
    """Peak resident memory of this process's descendants (the driver
    JVM and its Python workers), sampled from /proc in a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
