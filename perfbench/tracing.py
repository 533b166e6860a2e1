"""Spans around calls into the engine's layers, and a /proc memory sampler.

A span records name, start, end, parent, the pass it belongs to and the
CPU seconds all of the run's processes used while it was open.
While tracing, each span runs its Spark jobs under its own job group, so
the public StatusTracker attributes stages and tasks to it.  Spans stay
in memory and are written to JSON when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "cpu_start": tree_cpu_s(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = tree_cpu_s() - rec["cpu_start"]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setJobGroup("perfbench-untraced", "outside any span")

    def finish(self) -> None:
        """Self time and StatusTracker stage/task counts for every span
        (own jobs plus those of its descendants)."""
        tracker = self.sc.statusTracker()
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
            stages = tasks = failed = 0
            for job_id in tracker.getJobIdsForGroup(f"perfbench-span-{s['id']}"):
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else ():
                    st = tracker.getStageInfo(stage_id)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            s["own"] = {"stages": stages, "tasks": tasks, "tasks_failed": failed}
        # children are sequential, so their durations do not overlap
        for s in reversed(self.spans):  # children before parents
            kids = children.get(s["id"], [])
            s["self_s"] = s["dur_s"] - sum(k["dur_s"] for k in kids)
            for key in ("stages", "tasks", "tasks_failed"):
                s[key] = s["own"][key] + sum(k[key] for k in kids)

    def per_pass(self, name: str, key: str = "dur_s") -> float:
        """Median over traced passes of the pass total of `key` over the
        spans called `name`; 0 when no such span ran."""
        totals: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name:
                totals[s["pass"]] = totals.get(s["pass"], 0) + s[key]
        return statistics.median(totals.values()) if totals else 0.0

    def pass_shares(self) -> dict[str, float]:
        """`<span>.pass_share` for every span name: the median over traced
        passes of the time spent in spans of that name ÷ the pass wall."""
        walls = {s["pass"]: s["dur_s"] for s in self.spans if s["name"] == "bench.pass"}
        per: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s["name"] != "bench.pass":
                totals = per.setdefault(s["name"], {})
                totals[s["pass"]] = totals.get(s["pass"], 0) + s["dur_s"]
        return {
            f"{name}.pass_share": statistics.median(t / walls[p] for p, t in totals.items())
            for name, totals in per.items()
        }

    def cpu_per_pass(self) -> dict[str, float]:
        """`<span>.cpu_s` for every span name: the median over traced
        passes of the CPU seconds used in spans of that name."""
        return {f"{name}.cpu_s": self.per_pass(name, "cpu_s")
                for name in dict.fromkeys(s["name"] for s in self.spans)}

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = ("id", "name", "parent", "pass", "start", "end", "dur_s", "self_s", "cpu_s",
                "stages", "tasks", "tasks_failed")
        with open(path, "w") as f:
            json.dump({**meta, "spans": [{k: s[k] for k in keep} for s in self.spans]}, f,
                      indent=1)


def _stat_fields(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (field 3); the command
    name before them may contain spaces."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def start_time(pid: int) -> str | None:
    """Start time of a live process, None once it has ended (or is a
    zombie); with the pid it identifies the process even after the pid is
    reused."""
    fields = _stat_fields(pid)
    return fields[19] if fields and fields[0] != "Z" else None


def descendants(root: int) -> dict[int, str]:
    """{pid: start time} of every live process below root."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(entry)
            if fields:
                stats[int(entry)] = fields
    out, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == p]
        out.update((c, stats[c][19]) for c in kids)
        frontier.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live process below it, reaped children included through their
    parents' cutime/cstime, so a worker that exits keeps its count.  Time
    the host takes from the virtual CPUs (steal) is not in it."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *descendants(me)]:
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed resident set of this process and all of its
    descendants (the JVM and the Python workers) every `interval` seconds;
    remembers the peak of the current window and every pid it saw."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.seen: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        self.seen.update(kids)
        total = sum(_rss_bytes(p) for p in [me, *kids])
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, total)

    def take_peak(self) -> int:
        """The peak of the window that ends now; a new window starts."""
        self.sample()
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.seen.update(descendants(os.getpid()))
