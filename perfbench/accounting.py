"""Process-tree accounting and Spark event-log parsing.

CPU and memory are read from /proc for the benchmark's own process tree
(the Python front process, the JVM it launched and the JVM's Python
workers).  The event-log reader follows ``bench/stageprof.py``: a plain
JSON-lines log, tasks joined to stages and stages to jobs; here jobs are
further joined to the job group the benchmark set around each call.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()  # fields from "state" on


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including children it has already reaped."""
    total = 0
    for p in descendants(root):
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _CLK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(root: int) -> int | None:
    for p in descendants(root):
        if p != root and "java" in _cmdline(p).split(" ")[0]:
            return p
    return None


def peak_rss_mb(root: int) -> float:
    """Peak resident set of the JVM plus the Python front process, in MB."""
    jvm = jvm_pid(root)
    jvm_kb = _status_kb(jvm, "VmHWM") if jvm else 0
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) * 1024 / 1e6


class WorkerRss(threading.Thread):
    """Samples the resident set of the JVM's Python workers every 100 ms."""

    def __init__(self, root: int):
        super().__init__(daemon=True, name="worker-rss")
        self.root = root
        self.peak_mb = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(0.1):
            for p in descendants(self.root):
                cmd = _cmdline(p)
                if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                    st = _stat(p)
                    if st is not None:
                        self.peak_mb = max(self.peak_mb, int(st[21]) * _PAGE / 1e6)

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=5)


# ------------------------------------------------------------------ event log


PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow")
ROW_METRICS = ("number of output rows", "records read")


def python_input_accums(plan: dict) -> list[int]:
    """Accumulator ids counting the rows fed to each Python node of a plan.

    For every Python node, follow its first child (the data side; a
    cogroup's second child is the other side) down to the nearest node
    that counts rows: a filter, join or scan's output rows, or an
    exchange's records read."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", ()))
        if node.get("nodeName") not in PYTHON_NODES or not node.get("children"):
            continue
        below = node["children"][0]
        while below is not None:
            ids = {m["name"]: m["accumulatorId"] for m in below.get("metrics", ())}
            hit = next((ids[n] for n in ROW_METRICS if n in ids), None)
            if hit is not None:
                out.append(hit)
                break
            below = (below.get("children") or [None])[0]
    return out


def read_event_log(events_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle write, spill, GC, task run times,
    named SQL metric totals, and the rows fed into Python nodes of the
    group's SQL plans, from the one finished log in ``events_dir``."""
    logs = [f for f in os.listdir(events_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise FileNotFoundError(f"expected one finished event log in {events_dir}, found {logs}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    accum: dict[int, float] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "shuffle_write_b": 0, "spill_b": 0, "gc_ms": 0,
                 "run_ms": [], "stage_runs": defaultdict(list), "sql": defaultdict(float),
                 "python_in_rows": 0, "job_submit_ms": []}
    )
    with open(os.path.join(events_dir, logs[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                gid = props.get("spark.jobGroup.id") or "-"
                groups[gid]["jobs"] += 1
                groups[gid]["job_submit_ms"].append(ev.get("Submission Time", 0))
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, gid)
                if props.get("spark.sql.execution.id") is not None:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), gid)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plans[int(ev["executionId"])] = ev["sparkPlanInfo"]  # the last one is final
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"], "-")
                g = groups[gid]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                run = m.get("Executor Run Time", 0)
                g["run_ms"].append(run)
                g["stage_runs"][ev["Stage ID"]].append(run)
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                g = groups[stage_group.get(si["Stage ID"], "-")]
                for acc in si.get("Accumulables", ()):
                    name = acc.get("Name") or ""
                    try:
                        value = float(acc.get("Value", 0))
                    except (TypeError, ValueError):
                        continue
                    g["sql"][name] += value
                    # an accumulator's value at stage end is its running total
                    accum[acc["ID"]] = max(accum.get(acc["ID"], 0.0), value)
    for xid, gid in exec_group.items():
        if xid in plans:
            groups[gid]["python_in_rows"] += sum(accum.get(a, 0.0) for a in python_input_accums(plans[xid]))
    return dict(groups)


def task_skew(g: dict) -> float:
    """Largest max/median task run time over the group's stages of 4+ tasks."""
    skews = [
        max(r) / max(statistics.median(r), 1.0)
        for r in g["stage_runs"].values() if len(r) >= 4
    ]
    return max(skews, default=1.0)
