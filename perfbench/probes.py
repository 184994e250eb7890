"""Measurement probes: in-memory spans, process-tree memory from /proc
and Spark's REST status API."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from typing import Dict, List, Optional


class Spans:
    """Spans kept in memory and written out once, at the end of a run.

    A span is (name, start_ns, end_ns, parent index, trace id); spans of
    one document share its trace id.
    """

    def __init__(self) -> None:
        self.records: List[list] = []

    def open(self, name: str, trace_id: str, parent: Optional[int] = None) -> int:
        self.records.append([name, time.perf_counter_ns(), None, parent, trace_id])
        return len(self.records) - 1

    def close(self, idx: int) -> None:
        self.records[idx][2] = time.perf_counter_ns()

    def self_ms(self) -> Dict[str, float]:
        """Summed self time per span name: duration minus the part its
        children cover (children never overlap here)."""
        child_ns = [0] * len(self.records)
        for name, start, end, parent, _ in self.records:
            if parent is not None:
                child_ns[parent] += end - start
        out: Dict[str, float] = {}
        for i, (name, start, end, _, _) in enumerate(self.records):
            out[name] = out.get(name, 0.0) + (end - start - child_ns[i]) / 1e6
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, start, end, parent, tid in self.records:
                f.write(json.dumps({"name": name, "start_ns": start,
                                    "end_ns": end, "parent": parent,
                                    "trace_id": tid}) + "\n")


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> List[int]:
    """`root` and all its descendants (driver, JVM, Python workers)."""
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class PeakRss:
    """Samples VmRSS across this process tree every `period` seconds in
    a background thread.  `peak_mb` is the largest sum seen over this
    driver, the JVM and the Spark Python workers; `jvm_peak_mb` the
    JVM's own largest figure."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak_kb = 0
        self.jvm_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            python_kb = jvm_kb = 0
            # other processes are short-lived helpers the JVM spawns; a
            # vfork-ed one briefly reports the whole JVM's RSS as its own
            for pid in process_tree(root):
                name = comm(pid)
                if name.startswith("python"):
                    python_kb += rss_kb(pid)
                elif name == "java":
                    jvm_kb += rss_kb(pid)
            self.peak_kb = max(self.peak_kb, python_kb + jvm_kb)
            self.jvm_peak_kb = max(self.jvm_peak_kb, jvm_kb)
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    @property
    def jvm_peak_mb(self) -> float:
        return self.jvm_peak_kb / 1024


class StatusApi:
    """Spark's REST status API (needs spark.ui.enabled=true)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        # the UI listens on every interface; stay on the loopback one
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stages(self, group: str) -> List[dict]:
        """Completed stage attempts of every job in one job group."""
        ids = sorted({s for j in self.get("/jobs")
                      if j.get("jobGroup") == group for s in j["stageIds"]})
        stages = []
        for sid in ids:
            for attempt in self.get(f"/stages/{sid}"):
                if attempt["status"] == "COMPLETE":
                    stages.append(attempt)
        return stages
