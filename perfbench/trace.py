"""Spans, Spark counters and process-tree resources for one run.

Spans are recorded only by the benchmark's own code, around the public
calls into each layer (the program is not edited): the op itself, the
entry call (``build``), ``SparkSemanticLayer.compile``/``rewrite``
(``compile``), ``PreAggManager.materialize`` (``preagg``), forcing the
physical plan (``plan``), the noop sink (``execute``) and the delivery
step (``deliver``).  A span only records while its thread has an op
open, so the same wrapped layer serves untraced server threads
unchanged.  Spans stay in memory until the run writes them out.

Each layer span of an op runs under its own Spark job group
``<op>.<layer>``; right after the span ends, the group's jobs and their
stages are read from the status store (executor CPU, tasks, input,
shuffle and spill bytes), before ``spark.ui.retainedStages`` can evict
them.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager

_STAGE_KEYS = ("stages", "tasks", "cpu_s", "input_bytes", "output_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, op_id: str, name: str):
        """Open an op: its root span and the thread's op context."""
        self._local.op = op_id
        try:
            with self.span("op", entry=name) as root:
                yield root
        finally:
            self._local.op = None

    @contextmanager
    def paused(self):
        """Run the body untraced even inside an open op."""
        op_id = getattr(self._local, "op", None)
        self._local.op = None
        try:
            yield
        finally:
            self._local.op = op_id

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Record a span when the thread has an open op; with ``jobs``,
        run the body under the job group ``<op>.<name>`` and attach its
        Spark counters."""
        op_id = getattr(self._local, "op", None)
        if op_id is None:
            yield None
            return
        stack = self._stack()
        rec = {"id": next(self._ids), "parent": stack[-1]["id"] if stack else None,
               "op": op_id, "name": name, **attrs}
        group = f"{op_id}.{name}" if jobs else None
        outer = stack[-1].get("group") if stack else None
        if group:
            rec["group"] = group
            self.sc.setJobGroup(group, group)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self.counters(group))
            with self._lock:
                self.spans.append(rec)

    def wrap(self, obj, method: str, span_name: str, on_result=None) -> None:
        """Replace ``obj.method`` on this instance with a span around it."""
        inner = getattr(obj, method)
        tracer = self

        @functools.wraps(inner)
        def traced(*a, **kw):
            with tracer.span(span_name, jobs=True) as rec:
                out = inner(*a, **kw)
                if rec is not None and on_result is not None:
                    rec.update(on_result(out))
                return out

        setattr(obj, method, traced)

    def wrap_layer(self, layer) -> None:
        """Spans around one layer's compile, rewrite and materialize."""
        def sql_attrs(sql):
            return {"sql_bytes": len(sql.encode()), "routed": "used_preagg=" in sql}

        self.wrap(layer, "compile", "compile", sql_attrs)
        self.wrap(layer, "rewrite", "compile", sql_attrs)
        self.wrap(layer.preaggs, "materialize", "preagg")

    def counters(self, group: str, timeout_s: float = 10.0) -> dict:
        """Jobs of ``group`` and the sums over their stages that ran.
        The status store is fed asynchronously, so wait until every job
        and stage of the group has finished there."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        deadline = time.monotonic() + timeout_s
        while True:
            jids = sorted(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(j) for j in jids]
            stages = [s for i in infos if i is not None for s in i.stageIds]
            datas = [store.lastStageAttempt(s) for s in stages]
            states = [str(d.status()) for d in datas]
            done = all(i is not None and i.status != "RUNNING" for i in infos) and all(
                s in ("COMPLETE", "SKIPPED", "FAILED") for s in states)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.005)
        out = dict.fromkeys(_STAGE_KEYS, 0)
        out["jobs"] = len(jids)
        for d, s in zip(datas, states):
            if s == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            out["cpu_s"] += d.executorCpuTime() / 1e9
            out["input_bytes"] += d.inputBytes()
            out["output_bytes"] += d.outputBytes()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span run one after another in its thread)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


# ----------------------------------------------------------------------
# process tree from /proc (psutil is not installed)
# ----------------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU of every live process in the tree, including
    the children each has already reaped."""
    total = 0
    for pid in pids or process_tree():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _HZ


def tree_hwm_mb(pids: list[int] | None = None) -> float:
    """Summed peak resident set (VmHWM) of the live process tree."""
    kb = 0
    for pid in pids or process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole box from /proc/stat: steal is
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def process_start_wall() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _HZ
