"""In-memory span recorder and host context for the traced run.

Spans (name, start, end, parent, run id) are kept in a list and written
once, when the benchmark ends. Host context comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run: int | str):
        idx = len(self.spans)
        rec = {"name": name, "run": run,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def cpu_split(before: list[int], after: list[int]) -> dict:
    """Busy and stolen CPU seconds, summed over all CPUs, between two
    ``cpu_times()`` readings (busy = user, nice, system, irq, softirq)."""
    d = [a - b for a, b in zip(after, before)]
    hz = os.sysconf("SC_CLK_TCK")
    return {"cpu_busy_s": (sum(d[0:3]) + sum(d[5:7])) / hz,
            "steal_s": d[7] / hz}


def host_context(cpu_before: list[int]) -> dict:
    """nproc, load averages, and the steal share of CPU time since
    ``cpu_before`` (a ``cpu_times()`` reading)."""
    after = cpu_times()
    delta = [a - b for a, b in zip(after, cpu_before)]
    total = sum(delta) or 1
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        # field 8 of the cpu line is steal
        "steal_share": delta[7] / total if len(delta) > 7 else 0.0,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the closing ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_by_process(pid: int | None = None) -> dict[str, float]:
    """Peak resident set (``VmHWM``, MB) of this process and every
    descendant, summed per process name: ``python3`` is the driver,
    ``java`` the driver JVM, ``python`` the Python workers."""
    by_name: dict[str, float] = {}
    for p in descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return by_name
