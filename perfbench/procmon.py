"""Process-tree memory and CPU sampler that reads /proc (psutil is not
available).

It runs as its own process so that sampling never takes the interpreter
lock of the process it measures:

    python3 perfbench/procmon.py <root_pid> [interval_s]

It samples the tree under `root_pid` until `stop` arrives on stdin (or
stdin closes), then prints one JSON object and exits. Any other line
samples at once and records a mark: the tree's CPU time so far and its
peak resident memory since the previous mark, so the driver can take the
CPU time and the memory peak of one region.

The tree is split into three parts: the root process (the benchmark
driver), its `java` descendants (the Spark JVM) and everything under the
JVM (the pyspark daemon and its workers). Peaks are the largest sum of resident memory
seen in one sample; CPU time is summed per process from its last
sample, so processes that exit early still count.

`ProcMonitor` starts and stops the sampler from the driver.
"""
from __future__ import annotations

import json
import os
import select
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, comm, cpu_s, rss_bytes) of one pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("latin-1")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) ...
    # rss(21), in pages. cutime/cstime are left out: a reaped child's
    # time is already counted from its own last sample.
    cpu = (int(rest[11]) + int(rest[12])) / _TICK
    return int(rest[1]), comm, cpu, int(rest[21]) * _PAGE


def tree(root: int, skip: int | None = None) -> dict:
    """pid -> (part, cpu_s, rss_bytes) for `root` and its descendants."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) != skip:
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out = {}
    stack = [(root, "driver")] if root in info else []
    while stack:
        pid, part = stack.pop()
        _ppid, comm, cpu, rss = info[pid]
        if part == "driver" and pid != root:
            part = "jvm" if comm == "java" else "driver"
        elif part == "jvm" and comm != "java":
            part = "workers"
        out[pid] = (part, cpu, rss)
        stack.extend((k, part) for k in kids.get(pid, ()))
    return out


def sample_until_stopped(root: int, interval: float) -> dict:
    parts = ("driver", "jvm", "workers")
    peak = {p: 0 for p in parts}
    peak_total = region_peak = 0
    cpu: dict[int, float] = {}
    samples = 0
    marks = []
    me = os.getpid()
    ready_line = None
    while True:
        snap = tree(root, skip=me)
        rss = {p: 0 for p in parts}
        for pid, (part, c, r) in snap.items():
            rss[part] += r
            cpu[pid] = c
        for p in parts:
            peak[p] = max(peak[p], rss[p])
        peak_total = max(peak_total, sum(rss.values()))
        region_peak = max(region_peak, sum(rss.values()))
        samples += 1
        if ready_line is not None:
            if ready_line.strip() in ("stop", ""):
                break
            marks.append({"cpu_s": sum(cpu.values()),
                          "peak_rss_mb": region_peak / (1024 * 1024)})
            region_peak = 0
        ready, _, _ = select.select([sys.stdin], [], [], interval)
        ready_line = sys.stdin.readline() if ready else None
    mb = 1024 * 1024
    return {"peak_rss_mb": peak_total / mb,
            **{f"peak_rss_mb.{p}": peak[p] / mb for p in parts},
            "cpu_s": sum(cpu.values()), "marks": marks, "samples": samples}


class ProcMonitor:
    """Runs the sampler over this process's tree; `stop()` returns its
    figures and waits for the sampler to exit."""

    def __init__(self, interval: float = 0.05):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()),
             str(interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def mark(self) -> None:
        self._proc.stdin.write("mark\n")
        self._proc.stdin.flush()

    def stop(self) -> dict:
        out, _ = self._proc.communicate("stop\n", timeout=30)
        return json.loads(out)


if __name__ == "__main__":
    print(json.dumps(sample_until_stopped(
        int(sys.argv[1]), float(sys.argv[2]) if len(sys.argv) > 2
        else 0.05)))
