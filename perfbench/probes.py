"""Benchmark-side observation of the engine: spans around engine calls, py4j
call counts, /proc counters of the Spark process tree, and the Spark event
log read back after the session stops.

Nothing here is imported by the engine; every probe sits in the benchmark
process, around calls it makes into the engine's public modules.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# process tree: the driver Python process, its JVM and the Python workers
# ---------------------------------------------------------------------------

def process_tree(root: int | None = None) -> list[int]:
    """``root`` and every live descendant, from /proc/<pid>/stat."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields restart after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _proc_fields(path: str) -> dict[str, int]:
    out = {}
    try:
        with open(path) as f:
            for line in f:
                key, _, val = line.partition(":")
                val = val.split()
                if val and val[0].isdigit():
                    out[key] = int(val[0])
    except OSError:
        pass
    return out


def tree_io(pids) -> dict[str, int]:
    """Summed read/write syscall counts and bytes (``syscr``, ``syscw``,
    ``rchar``, ``wchar``) over ``pids``."""
    tot = {"syscr": 0, "syscw": 0, "rchar": 0, "wchar": 0}
    for pid in pids:
        fields = _proc_fields(f"/proc/{pid}/io")
        for k in tot:
            tot[k] += fields.get(k, 0)
    return tot


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; runs with a high share measured the host."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def tree_rss_kb(pids) -> int:
    return sum(_proc_fields(f"/proc/{pid}/status").get("VmRSS", 0)
               for pid in pids)


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a timer thread while
    the ``with`` block runs (the thread only reads /proc)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(process_tree()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, tree_rss_kb(process_tree()))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Py4jCounter:
    """Counts driver -> JVM py4j commands by wrapping the gateway client's
    ``send_command`` on the instance."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return inner(*args, **kwargs)

        client.send_command = counted


class Tracer:
    """In-memory spans: (id, name, label, start, end, parent, iteration,
    py4j calls). Each span runs its Spark jobs under its own job group
    ``pb<id>``, so the event log attributes every task to one span.

    Without a session the tracer is off: it records nothing and touches no
    job group."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.spans: list[dict] = []
        self.iteration = -1
        self._stack: list[dict] = []
        if self.enabled:
            self._sc = spark.sparkContext
            self.py4j = Py4jCounter(spark)

    @contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "label": label,
             "parent": parent["id"] if parent else None,
             "iteration": self.iteration}
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(f"pb{s['id']}", name, False)
        calls0 = self.py4j.calls
        s["start"] = time.perf_counter()
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            s["py4j"] = self.py4j.calls - calls0
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(f"pb{parent['id']}", parent["name"],
                                     False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, attr: str, name: str, label_arg: int | None = None):
        """Replace ``obj.attr`` with a version that runs inside a span,
        labelled with its positional argument ``label_arg`` if given."""
        inner = getattr(obj, attr)

        def traced(*args, **kwargs):
            label = None if label_arg is None else args[label_arg]
            with self.span(name, label):
                return inner(*args, **kwargs)

        setattr(obj, attr, traced)

    def subtree(self, span_ids) -> set[int]:
        """The given spans plus all their descendants."""
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), list(span_ids)
        while todo:
            i = todo.pop()
            if i not in out:
                out.add(i)
                todo.extend(kids.get(i, ()))
        return out

    def self_seconds(self, spans) -> dict[str, float]:
        """Self time per layer (the span-name prefix before the first '.')
        summed over ``spans``: a span's duration minus the time its child
        spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child[s["id"]]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")


class EventLog:
    """Per-job-group task and SQL-metric totals from one event log file.

    ``group_totals(groups)`` sums, over every task whose job ran in one of
    ``groups``: executor run/CPU/GC time, shuffle and spill bytes, Python
    UDF boundary metrics, and output rows of join nodes; plus job, stage and
    task counts and the skew (max / median task time) of the slowest
    stage."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str | None] = {}
        self.jobs: dict[str | None, int] = {}
        # accumulator id -> (plan node name, metric name, metric type)
        self.accums: dict[int, tuple[str, str, str]] = {}
        self.tasks: list[dict] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            self.accums[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                               m["metricType"])
        for c in node.get("children", ()):
            self._plan(c)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[group] = self.jobs.get(group, 0) + 1
            for sid in e["Stage IDs"]:
                self.stage_group[sid] = group
        elif kind.endswith("SQLExecutionStart") or \
                kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "sw": tm.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0),
                "sr": sr.get("Remote Bytes Read", 0)
                      + sr.get("Local Bytes Read", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "acc": [(a["ID"], a.get("Update")) for a in
                        info.get("Accumulables", ())
                        if a.get("Metadata") == "sql"],
            })

    def group_totals(self, groups) -> dict[str, float]:
        groups = set(groups)
        t = {k: 0.0 for k in (
            "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_write", "shuffle_read", "spill", "py_run_s",
            "py_boot_s", "py_init_s", "py_sent", "py_recv", "py_rows",
            "join_rows")}
        t["jobs"] = float(sum(n for g, n in self.jobs.items() if g in groups))
        by_stage: dict[int, list[float]] = {}
        for task in self.tasks:
            if self.stage_group.get(task["stage"]) not in groups:
                continue
            by_stage.setdefault(task["stage"], []).append(task["dur_ms"])
            t["tasks"] += 1
            t["run_s"] += task["run_ms"] / 1e3
            t["cpu_s"] += task["cpu_ns"] / 1e9
            t["gc_s"] += task["gc_ms"] / 1e3
            t["shuffle_write"] += task["sw"]
            t["shuffle_read"] += task["sr"]
            t["spill"] += task["spill"]
            for aid, upd in task["acc"]:
                node, name, mtype = self.accums.get(aid, ("", "", ""))
                try:
                    v = float(upd)
                except (TypeError, ValueError):
                    continue
                if mtype == "timing":
                    v /= 1e3
                elif mtype == "nsTiming":
                    v /= 1e9
                if name == PY_RUN:
                    t["py_run_s"] += v
                elif name == PY_START:
                    t["py_boot_s"] += v
                elif name == PY_INIT:
                    t["py_init_s"] += v
                elif name == PY_SENT:
                    t["py_sent"] += v
                elif name == PY_RECV:
                    t["py_recv"] += v
                elif name == "number of output rows":
                    if "Python" in node or "Pandas" in node \
                            or "InArrow" in node:
                        t["py_rows"] += v
                    elif node in JOIN_NODES:
                        t["join_rows"] += v
        t["stages"] = float(len(by_stage))
        if by_stage:
            slow = max(by_stage.values(), key=sum)
            mid = statistics.median(slow)
            t["task_skew"] = max(slow) / mid if mid > 0 else 1.0
        else:
            t["task_skew"] = 0.0
        return t
