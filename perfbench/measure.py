"""Host-side measurement: process-tree CPU and RSS from /proc, hypervisor
steal from /proc/stat, percentiles, and an in-memory span recorder.

CPU is read as utime+stime+cutime+cstime over this process and every
live descendant (the Spark JVM and its Python workers), so reaped
workers are still counted through their parent's c-times. Steal is the
system-wide `steal` column of /proc/stat: CPU time the hypervisor gave
to other guests while this one had work. Wall time grows with steal;
CPU time does not.
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        ppid = int(raw[raw.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+system, with reaped children) of the tree."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(b")") + 2 :].split()
        # fields[11..14] = utime, stime, cutime, cstime (stat(5) 14..17)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(cpus: int) -> tuple[float, int, float]:
    """Peak resident set of the tree in MB, as (total, Python workers
    seen, largest worker's peak).

    Python workers are interchangeable forks of the pyspark daemon, and
    how many it forks depends on how task starts happen to overlap (two
    or three on a 4-vCPU host for the same replay), so the total counts
    one worker per CPU at the largest worker's peak: what the tree needs
    when every core runs a Python task. Every other process counts with
    its own VmHWM."""
    hwm_kb, cmd, parent = {}, {}, {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read()
            parent[pid] = int(raw[raw.rindex(b")") + 2 :].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd[pid] = f.read()
            with open(f"/proc/{pid}/status") as f:
                hwm_kb[pid] = next(int(line.split()[1]) for line in f
                                   if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # exited, or a zombie
            continue
    # a worker is a fork of the daemon: same command line as its parent
    workers = [pid for pid in hwm_kb if b"pyspark.daemon" in cmd[pid]
               and cmd.get(parent.get(pid)) == cmd[pid]]
    others = sum(kb for pid, kb in hwm_kb.items() if pid not in workers)
    worker_kb = max((hwm_kb[pid] for pid in workers), default=0)
    return (others + cpus * worker_kb) / 1024.0, len(workers), worker_kb / 1024.0


def host_steal_s() -> float:
    """Cumulative steal seconds over all CPUs (/proc/stat, 8th value)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


TAIL_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least TAIL_BEYOND samples above it, as
    (percentile, value). Needs more than TAIL_BEYOND samples."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples; need more than {TAIL_BEYOND} for a tail")
    k = n - TAIL_BEYOND - 1  # index of the order statistic reported
    return 100.0 * (k + 1) / n, xs[k]


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A span is (id, parent, name, start, end, run id, attrs); times are
    seconds since the tracer was created."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "parent": parent, "name": name, "start": start,
                "end": end, "run_id": self.run_id, "attrs": attrs,
            })
        return sid

    def span(self, name: str, parent: int | None = None, **attrs) -> "_Span":
        return _Span(self, name, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "self_s": self.self_times(),
                       "spans": self.spans}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent: int | None, attrs: dict):
        self.tracer, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id: int | None = None

    def __enter__(self) -> "_Span":
        self.start = self.tracer.now()
        # reserve the id now so children opened inside can point at it
        self.id = self.tracer.add(self.name, self.start, self.start, self.parent,
                                  **self.attrs)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.spans[self.id]["end"] = self.tracer.now()
