"""Measurement plumbing for the benchmark: spans, the process tree and its
memory, host CPU mix and Spark event-log task metrics.

Everything here reads only ``/proc`` and the run's own event log; nothing
is sent anywhere. Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and request id. A
    top-level span (a pass, or one request) starts a request; the spans
    under it share its id.

    With ``enabled=False`` every call is a no-op, so the untraced run pays
    nothing but a function call per layer boundary. When enabled, each span
    also becomes the Spark job group of the calling thread, so jobs can be
    attributed to the innermost open span from the event log afterwards.
    """

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "request_id": sid if parent is None
               else self.spans[parent]["request_id"],
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    def descendants(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, ppid, start time) of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name: state, ppid, ... with
    # the start time 20 fields after the state
    rest = stat.rsplit(")", 1)[1].split()
    return rest[0], int(rest[1]), int(rest[19])


def process_tree(root: int) -> dict[int, int]:
    """{pid: start time} of ``root`` and all its descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    start: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            kids[st[1]].append(int(d))
            start[int(d)] = st[2]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = start.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the forked Python workers) split among their sharers, so a
    sum over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessSampler:
    """Samples the process tree under this process every ``interval``
    seconds on a daemon thread: every process seen, so the caller can wait
    for all of them to end, and with ``pss`` the peak of the summed PSS."""

    def __init__(self, interval: float, pss: bool):
        self.interval = interval
        self.pss = pss
        self.peak_kb = 0
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcessSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        tree = process_tree(os.getpid())
        self.seen.update(tree)
        if self.pss:
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in tree))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def wait_for_exit(self, timeout: float) -> list[int]:
        """Wait until every process seen (but this one) has ended, killing
        what is left after ``timeout`` seconds. A pid counts as ours only
        while its start time matches, so a reused pid is never touched.
        Returns the pids that had to be killed."""
        def alive():
            out = []
            for pid, start in self.seen.items():
                st = _stat(pid)
                if pid != os.getpid() and st and st[2] == start and st[0] != "Z":
                    out.append(pid)
            return out

        deadline = time.monotonic() + timeout
        while (left := alive()) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        return left


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return [int(v) for v in parts[1:9]]


def cpu_mix(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"user_pct": 100.0 * (d[0] + d[1]) / total,
            "sys_pct": 100.0 * (d[2] + d[5] + d[6]) / total,
            "steal_pct": 100.0 * d[7] / total}


def read_event_log(log_dir: str) -> dict:
    """Per-job task metrics from the Spark event log (JSON lines).

    Returns {"jobs": {job_id: {"group": str|None, "stages": [ids]}},
             "stages": {stage_id: {"tasks", "run_s", "cpu_s", "gc_s",
                                   "shuffle_write_b", "spill_b"}}}.
    Only stages that ran tasks appear under "stages"."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_b": 0, "spill_b": 0})
    files = []
    for d, _, names in os.walk(log_dir):
        # rolling (v2) logs are a directory of events_<n>_<app> files
        files += [(int(n.split("_")[1]) if n.startswith("events_") else 0,
                   os.path.join(d, n))
                  for n in names if not n.startswith((".", "appstatus"))]
    for _, path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(ev.get("Stage IDs") or [])}
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
    return {"jobs": jobs, "stages": dict(stages)}


def job_totals(log: dict, groups: set[str]) -> dict[str, float]:
    """Sum the task metrics of every job whose group is in ``groups``."""
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_b": 0, "spill_b": 0}
    seen_stages: set[int] = set()
    for job in log["jobs"].values():
        if job["group"] not in groups:
            continue
        tot["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen_stages:
                continue  # skipped (reused shuffle output) or counted
            seen_stages.add(sid)
            tot["stages"] += 1
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_b",
                      "spill_b"):
                tot[k] += st[k]
    return tot
