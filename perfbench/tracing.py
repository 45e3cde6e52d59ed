"""What the benchmark observes from outside the program: spans around
its own calls into public entry points, Spark's event log, and the
resident memory of the benchmark's own process tree read from /proc.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


class Spans:
    """Spans held in memory: (name, start, end, parent) on the monotonic
    clock. Each span also tags the Spark jobs it starts with its name, so
    the event log can be cut along the same boundaries."""

    def __init__(self, spark=None):
        self.spark = spark
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(name)
        start = time.monotonic()
        try:
            yield
        finally:
            self.items.append({"name": name, "start": start,
                               "end": time.monotonic(), "parent": parent})
            self._stack.pop()
            if self.spark is not None:
                self.spark.sparkContext.setJobDescription(parent)


# ------------------------------------------------------------- event log


@dataclass
class Stage:
    sid: int
    submitted: float = 0.0
    completed: float = 0.0
    n_tasks: int = 0
    acc_names: set = field(default_factory=set)  # SQL metrics the stage reports
    task_s: list = field(default_factory=list)
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_records: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0


@dataclass
class Job:
    jid: int
    description: str
    stage_ids: list
    sql_id: int | None


class EventLog:
    """The parts of an uncompressed Spark event log the layer metrics
    need: jobs with their descriptions, stages with SQL metrics and task
    metrics, SQL executions with their plans and driver-side metrics."""

    def __init__(self, log_dir: str):
        self.jobs: list[Job] = []
        self.stages: dict[int, Stage] = {}
        self.sql: dict[int, dict] = {}
        self.acc_values: dict[int, float] = {}  # accumulator -> final value
        acc_names: dict[int, tuple[str, str]] = {}  # accumulator -> (node, metric)
        driver: dict[int, list] = defaultdict(list)
        files = sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True))
        files += [f for f in glob.glob(f"{log_dir}/*") if os.path.isfile(f)]
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line), acc_names, driver)
        for eid, ups in driver.items():
            metrics = self.sql.setdefault(eid, {}).setdefault("driver", defaultdict(float))
            for acc_id, value in ups:
                if acc_id in acc_names:
                    metrics[acc_names[acc_id][1]] += float(value)

    def _event(self, e: dict, acc_names: dict, driver: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs.append(Job(e["Job ID"], props.get("spark.job.description") or "",
                                 e["Stage IDs"], int(sql_id) if sql_id else None))
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
            st.submitted = si.get("Submission Time", 0) / 1000
            st.completed = si.get("Completion Time", 0) / 1000
            st.n_tasks = si["Number of Tasks"]
            for a in si.get("Accumulables", []):
                if a["Name"].startswith("internal."):
                    continue
                try:
                    value = float(a["Value"])
                except (TypeError, ValueError):
                    continue
                # a running total of the accumulator, not this stage's share
                st.acc_names.add(a["Name"])
                self.acc_values[a["ID"]] = value
        elif ev == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.run_s += m.get("Executor Run Time", 0) / 1000
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.shuffle_write_records += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            rec = self.sql.setdefault(eid, {})
            if ev.endswith("SQLExecutionStart"):
                rec["start"] = e["time"] / 1000
                rec["description"] = e.get("description", "")
            nodes = rec.setdefault("nodes", [])
            stack = [e["sparkPlanInfo"]]
            while stack:
                node = stack.pop()
                nodes.append(node)
                for m in node.get("metrics", []):
                    acc_names[m["accumulatorId"]] = (node["nodeName"], m["name"])
                stack.extend(node.get("children", []))
        elif ev.endswith("SQLExecutionEnd"):
            self.sql.setdefault(e["executionId"], {})["end"] = e["time"] / 1000
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            driver[e["executionId"]].extend(e["accumUpdates"])

    def node_metric(self, sql: dict, node_pred, metric: str) -> list[float]:
        """Final values of `metric` on the plan nodes of `sql` that
        satisfy `node_pred`, one per distinct accumulator."""
        ids = {m["accumulatorId"] for n in sql.get("nodes", []) if node_pred(n)
               for m in n.get("metrics", []) if m["name"] == metric}
        return [self.acc_values[i] for i in sorted(ids) if i in self.acc_values]

    def jobs_of(self, description: str) -> list[Job]:
        return [j for j in self.jobs if j.description == description]

    def stages_of(self, description: str) -> list[Stage]:
        sids = {s for j in self.jobs_of(description) for s in j.stage_ids}
        # stages skipped because their shuffle output was reused never complete
        return [self.stages[s] for s in sorted(sids)
                if s in self.stages and self.stages[s].completed]

    def sql_of(self, description: str) -> list[dict]:
        ids = {j.sql_id for j in self.jobs_of(description) if j.sql_id is not None}
        return [self.sql[i] for i in sorted(ids) if i in self.sql]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


def max_over_median(values: list[float]) -> float:
    med = statistics.median(values) if values else 0.0
    return max(values) / med if med > 0 else 0.0


# ------------------------------------------------------------------- /proc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _is_python_worker(pid: int) -> bool:
    """A `python -m pyspark.daemon` process or one of its forks."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv = fh.read().split(b"\0")
    except OSError:
        return False
    return b"python" in os.path.basename(argv[0]) and b"pyspark.daemon" in argv


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class WorkerRss:
    """Samples, while active, the RSS of every Python worker that descends
    from this process (the JVM's `pyspark.daemon` and its forks) and keeps
    the highest single value. Reads /proc only."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._workers: set[int] = set()
        self._scan_at = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if not self._active.is_set():
                continue
            now = time.monotonic()
            if now >= self._scan_at:  # new workers appear rarely
                self._workers = {p for p in descendants(os.getpid()) if _is_python_worker(p)}
                self._scan_at = now + 0.5
            for p in list(self._workers):
                self.peak_mb = max(self.peak_mb, _rss_mb(p))

    @contextmanager
    def sampling(self):
        self._scan_at = 0.0
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
