"""Measurement plumbing: spans, Spark REST counters, file trees, RSS.

Spans are recorded around each call the benchmark makes into a layer
(``queries.build``, ``exec.collect``, ``merge.partitioned``, ...), under
a ``step`` span; every span carries its workload, pass and step ids.
Spark jobs are tagged with a per-step job group, so after the passes the
jobs, stages and SQL executions fetched from the local UI's REST API can
be attributed to steps. Nothing here touches the engine's code.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import re
import threading
import time
import urllib.request


class Spans:
    """A span tree kept in memory; ``enabled=False`` records nothing."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None
        self.step_id: str | None = None
        self.overhead_s = 0.0  # time spent in tracing-only work

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "pass": self.pass_id,
               "step": self.step_id, "start": time.time(),
               "t0": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["dur"] = time.perf_counter() - rec.pop("t0")
            rec["end"] = rec["start"] + rec["dur"]

    @contextlib.contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self, passes: set) -> dict[str, float]:
        """Self time (duration minus children) summed per layer, where
        the layer is the span name's first dotted component."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] in passes:
                layer = s["name"].split(".")[0]
                out[layer] = out.get(layer, 0.0) + s["dur"] - child[s["id"]]
        return out

    def total(self, name: str, passes: set) -> float:
        return sum(s["dur"] for s in self.spans
                   if s["name"] == name and s["pass"] in passes)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- Spark

def _rest(sc, route: str) -> list:
    port = re.search(r":(\d+)$", sc.uiWebUrl or "").group(1)
    url = (f"http://127.0.0.1:{port}/api/v1/applications/"
           f"{sc.applicationId}/{route}")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _size(text: str) -> float:
    """First byte size in a formatted SQL metric value ("total (min,
    med, max ...)\\n1.2 MiB (...)" or plain "1.2 MiB")."""
    m = _SIZE.search(text.split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def spark_counters(sc, steps: list[dict]) -> dict[str, dict]:
    """Per-step Spark counters. ``steps`` holds ``{"group", "start",
    "end"}`` per timed step; jobs are matched by job group, falling back
    to the step window for jobs started from untagged threads; SQL
    executions are matched by submission time."""
    jobs = _rest(sc, "jobs")
    stages: dict[int, list[dict]] = {}
    for sd in _rest(sc, "stages"):
        if sd.get("status") != "SKIPPED":
            stages.setdefault(sd["stageId"], []).append(sd)
    sqls = _rest(sc, "sql?details=true&planDescription=false"
                     "&offset=0&length=1000000")
    by_group = {s["group"]: s for s in steps}

    def owner(group, t):
        if group in by_group:
            return by_group[group]
        for s in steps:
            if t is not None and s["start"] <= t <= s["end"]:
                return s
        return None

    out = {s["group"]: {"jobs": 0, "stages": 0, "tasks": 0, "intervals": [],
                        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "input_bytes": 0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "sql_executions": 0, "py_sent": 0.0,
                        "py_returned": 0.0}
           for s in steps}
    for j in jobs:
        t0 = _epoch(j.get("submissionTime"))
        st = owner(j.get("jobGroup"), t0)
        if st is None:
            continue
        c = out[st["group"]]
        c["jobs"] += 1
        t1 = _epoch(j.get("completionTime")) or t0
        if t0 is not None:
            c["intervals"].append((t0, t1))
        for sid in j.get("stageIds", []):
            for sd in stages.get(sid, []):  # one entry per attempt
                c["stages"] += 1
                c["tasks"] += sd.get("numCompleteTasks", 0)
                c["run_s"] += sd.get("executorRunTime", 0) / 1e3
                c["cpu_s"] += sd.get("executorCpuTime", 0) / 1e9
                c["gc_s"] += sd.get("jvmGcTime", 0) / 1e3
                c["input_bytes"] += sd.get("inputBytes", 0)
                c["shuffle_read_bytes"] += sd.get("shuffleReadBytes", 0)
                c["shuffle_write_bytes"] += sd.get("shuffleWriteBytes", 0)
                c["spill_bytes"] += (sd.get("memoryBytesSpilled", 0)
                                     + sd.get("diskBytesSpilled", 0))
    for q in sqls:
        st = owner(None, _epoch(q.get("submissionTime")))
        if st is None:
            continue
        c = out[st["group"]]
        c["sql_executions"] += 1
        for node in q.get("nodes", []):
            for m in node.get("metrics", []):
                if m.get("name") == "data sent to Python workers":
                    c["py_sent"] += _size(m.get("value", ""))
                elif m.get("name") == "data returned from Python workers":
                    c["py_returned"] += _size(m.get("value", ""))
    for s in steps:
        c = out[s["group"]]
        c["in_job_s"] = _union_s(c.pop("intervals"))
        c["driver_gap_s"] = max(0.0, s["end"] - s["start"] - c["in_job_s"])
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds of an executed DataFrame,
    from its QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------- files

def tree(root: str) -> dict[str, tuple[int, int]]:
    """{file path: (size, mtime in ns)} under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or changed between two trees."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in new), len(new)


def orphan_dirs(root: str) -> int:
    """Left-over publish staging/backup directories under ``root``."""
    n = 0
    for _d, dirs, _files in os.walk(root):
        n += sum(1 for x in dirs if "__cow_" in x or "_staging" in x
                 or x.startswith("_temporary"))
    return n


# ------------------------------------------------------------------ RSS

def _tree_hwm_kb(pid: int) -> dict[int, int]:
    """{pid: peak resident KiB (VmHWM)} for ``pid`` and its descendants."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1])
                        break
        except OSError:
            pass
        todo.extend(kids.get(p, []))
    return out


class PeakRss:
    """Peak resident memory of this process and all of its descendants
    (the driver JVM and the Python workers): each process's own peak
    (VmHWM), summed. Sampled periodically so that processes which exit
    before the end still count."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_kb(self) -> int:
        return sum(self._hwm.values())

    def _sample(self):
        for p, kb in _tree_hwm_kb(os.getpid()).items():
            self._hwm[p] = max(kb, self._hwm.get(p, 0))

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
