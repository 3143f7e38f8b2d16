"""Spans, Spark job groups, event-log parsing and the memory sampler.

Spans are recorded only in a traced run, around the benchmark's own
calls into the program's modules (name, start, end, parent), kept in
memory and written to a JSON file when the run ends. Each span also
sets a Spark job group of the same name, so the stages of that call can
be picked out of the event log afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PYTHON_NODE_MARKS = ("Python", "InPandas", "InArrow")


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.spark = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self.spans.append({"name": name, "start": t0, "end": t1, "parent": parent})

    def group(self, name: str) -> None:
        """Attribute the jobs that follow to ``name`` (for jobs that a
        program function starts after a callback has returned)."""
        if self.enabled:
            self._group(name)

    def _group(self, name):
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def child_share(self, root: str) -> float:
        """Share of the ``root`` spans' time covered by their children."""
        roots = [s for s in self.spans if s["name"] == root]
        total = sum(s["end"] - s["start"] for s in roots)
        covered = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == root
        )
        return covered / total if total > 0 else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- event log -------------------------------------------------------------

def parse_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, job wall time, executor run time, shuffle
    write bytes, spill bytes, task skew (max / median task duration in
    the group's longest stage), planning gap (SQL execution start to its
    first job), and the Exchange / Python-node census of the final
    physical plans of the group's SQL executions."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    exec_first_job: dict[int, float] = {}
    exec_plan: dict[int, dict] = {}
    tasks: dict[int, list[tuple[float, float, int, int]]] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "job_s": 0.0, "executor_run_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "task_skew": 1.0, "planning_gap_s": 0.0,
            "exchanges": 0, "python_nodes": 0, "_stage_run": {}})

    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or "none"
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                    g(grp)["jobs"] += 1
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        eid = int(eid)
                        exec_group.setdefault(eid, grp)
                        exec_first_job.setdefault(eid, job_start[jid])
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["job_s"] += ev["Completion Time"] / 1000.0 - job_start[jid]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    run = m.get("Executor Run Time", 0) / 1000.0
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tasks.setdefault(sid, []).append((dur, run, sw, spill))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_start[ev["executionId"]] = ev["time"] / 1000.0
                    exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}

    for sid, ts in tasks.items():
        grp = g(stage_group.get(sid, "none"))
        grp["executor_run_s"] += sum(t[1] for t in ts)
        grp["shuffle_write_bytes"] += sum(t[2] for t in ts)
        grp["spill_bytes"] += sum(t[3] for t in ts)
        grp["_stage_run"][sid] = ts
    for grp in groups.values():
        stages = grp.pop("_stage_run")
        if stages:
            worst = max(stages.values(), key=lambda ts: sum(t[0] for t in ts))
            med = statistics.median(t[0] for t in worst)
            grp["task_skew"] = max(t[0] for t in worst) / med if med > 0 else 1.0
    for eid, grp_name in exec_group.items():
        grp = g(grp_name)
        if eid in exec_start:
            grp["planning_gap_s"] += max(0.0, exec_first_job[eid] - exec_start[eid])
        ex, py = _census(exec_plan.get(eid, {}))
        grp["exchanges"] += ex
        grp["python_nodes"] += py
    return groups


def _census(node: dict) -> tuple[int, int]:
    name = node.get("nodeName", "")
    ex = 1 if "Exchange" in name and "Reused" not in name else 0
    py = 1 if any(m in name for m in PYTHON_NODE_MARKS) else 0
    for child in node.get("children", []):
        a, b = _census(child)
        ex += a
        py += b
    return ex, py


def merged(groups: dict[str, dict], prefix: str) -> dict:
    """Sum the event-log figures of every group whose name starts with
    ``prefix``; skew is the largest of them."""
    out = {"jobs": 0, "job_s": 0.0, "executor_run_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_skew": 1.0, "planning_gap_s": 0.0,
           "exchanges": 0, "python_nodes": 0}
    for name, grp in groups.items():
        if not name.startswith(prefix):
            continue
        for k, v in grp.items():
            out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out


# --- resident set of the process tree -------------------------------------

def tree_bytes(path: str) -> int:
    """On-disk bytes of every file under ``path``."""
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def process_tree() -> set[int]:
    """This process and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {os.getpid()}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        grew = bool(kids)
        tree |= kids
    return tree


class RssSampler:
    """Samples the summed proportional set size (PSS: shared pages split
    among the processes that map them, so forked Python workers are not
    counted twice) of this process and all its descendants, the JVM and
    its Python workers, from /proc."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self.peak_python_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5.0)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        tree = process_tree()
        total = 0
        workers = 0
        for pid in tree - {os.getpid()}:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    workers += f.read().startswith("python")
            except OSError:
                continue
        self.peak_python_workers = max(self.peak_python_workers, workers)
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
