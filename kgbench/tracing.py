"""Spans, Spark event-log folding, plan counts and process-tree memory.

A span wraps one call into a library layer. Each span runs under its own
Spark job group, so the stage metrics Spark writes to its event log can be
folded back onto the span after the session stops. Spans are kept in
memory and written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "kgbench"

# Stage accumulables folded per job group -> (metric, scale to seconds/bytes).
_STAGE_ACCUMULABLES = {
    "internal.metrics.executorRunTime": ("executor_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("python_bytes_in", 1),
}


class Tracer:
    """Records spans; once `sc` is set to a SparkContext, tags each span's
    jobs with a job group of its own."""

    def __init__(self):
        self.sc = None
        self.spans: list = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "group": f"{GROUP_PREFIX}:{len(self.spans)}:{name}",
               "counts": {}}
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["busy_s"] = rec["end"] - rec["start"]
            if self.sc is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}:none", "untraced")
            self.spans.append(rec)


def event_log_files(log_dir: str) -> list:
    """Event files of the rolling `eventlog_v2_<app>/events_<n>_<app>`
    logs under `log_dir`, in write order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: (os.path.dirname(p),
                                        int(os.path.basename(p).split("_")[1])))


def fold_event_log(log_dir: str) -> dict:
    """Folds completed-stage accumulables by job group.

    Returns {"groups": {group: {metric: value, "stages": n}},
             "jobs": [(start_s, end_s), ...], "task_failures": n}."""
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict = {}
    job_start: dict = {}
    jobs = []
    failures = 0
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id"
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = groups[stage_group.get(info["Stage ID"])]
                    g["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        m = _STAGE_ACCUMULABLES.get(acc.get("Name"))
                        if m is not None:
                            g[m[0]] += float(acc["Value"]) * m[1]
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        failures += 1
                elif kind == "SparkListenerJobStart":
                    job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                elif kind == "SparkListenerJobEnd":
                    start = job_start.pop(ev["Job ID"], None)
                    if start is not None:
                        jobs.append((start, ev["Completion Time"] / 1e3))
    return {
        "groups": {k: dict(v) for k, v in groups.items()},
        "jobs": jobs,
        "task_failures": failures,
    }


def busy_union_s(intervals: list) -> float:
    """Length of the union of (start, end) intervals."""
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


def plan_choices(df) -> dict:
    """Plan choices of a DataFrame's executed plan — the final adaptive
    plan once the DataFrame has been collected. `exchanges` counts shuffle
    exchanges only: broadcast and reused exchanges print under other names.
    `windowed` is 1 when the plan assigns context windows."""
    plan = df._jdf.queryExecution().executedPlan().toString()

    def nodes(name: str) -> int:
        return len(re.findall(rf"\b{name}\b", plan))

    return {
        "broadcast_joins": nodes("BroadcastHashJoin"),
        "sort_merge_joins": nodes("SortMergeJoin"),
        "exchanges": nodes("Exchange"),
        "map_in_pandas": nodes("MapInPandas"),
        "windowed": int("window_id" in plan),
    }


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def descendants(root: int) -> list:
    """Pids of every live descendant of `root`, from /proc."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _tree_rss_kb(root: int) -> int:
    """Resident set of `root` and all its descendants."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread that tracks the peak resident set of this
    process tree (driver, JVM and Python workers)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
