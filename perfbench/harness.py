"""Closed-loop operation timing, correctness verdicts, latency summaries
and host weather. One client: the next call waits for the previous one."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from perfbench.tracing import Tracer


class Recorder:
    """Times each operation, counts attempts and failures, and in smoke
    mode proves every gate fires on a deliberately corrupted result."""

    def __init__(self, tracer: Tracer, smoke: bool = False):
        self.tracer = tracer
        self.smoke = smoke
        self.timing = True
        self.latency: dict[str, list[float]] = {}
        self.by_name: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.gate_fired: dict[str, bool] = {}
        self.parent: str | None = None

    def op(self, name: str, role: str, kind: str, call, action=None):
        """Run ``call`` (the layer call) then ``action`` on its result (the
        Spark action, for lazy calls) as one timed operation. Returns the
        action's result, or None when the operation raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, role, self.parent) as sp:
                res = call()
                if action is not None:
                    if self.tracer.enabled:
                        sp["action_ms"] = time.time() * 1000.0
                    res = action(res)
        except Exception as exc:  # the loop keeps running; the op counts as failed
            self.failed += 1
            self.failures.append(f"{name}: {exc!r}"[:300])
            traceback.print_exc(file=sys.stderr)
            return None
        if self.timing:
            ms = (time.perf_counter() - t0) * 1000.0
            self.latency.setdefault(kind, []).append(ms)
            self.by_name.setdefault(name, []).append(ms)
        return res

    def check(self, gate: str, fn, *args, corrupt=None) -> str | None:
        """Apply one gate. In smoke mode also apply it to ``corrupt(*args)``
        and record whether it fired."""
        reason = fn(*args)
        if self.smoke and corrupt is not None:
            fired = fn(*corrupt(*args)) is not None
            self.gate_fired[gate] = self.gate_fired.get(gate, True) and fired
        if reason is not None:
            reason = f"{gate}: {reason}"
        return reason

    def verdict(self, name: str, reasons: list[str | None]) -> None:
        """An operation whose result failed any gate counts as failed once."""
        bad = [r for r in reasons if r]
        if bad:
            self.failed += 1
            self.failures.append(f"{name}: {'; '.join(bad)}"[:300])
            print(f"GATE FAILED {name}: {bad}", file=sys.stderr)


def run_cycles(n: int, cycle, rec: Recorder) -> float:
    """Run ``n`` cycles back to back; returns their wall time in seconds.
    Each cycle is the parent of the spans its operations record."""
    t0 = time.perf_counter()
    for i in range(n):
        rec.parent = f"cycle{i}"
        cycle(i)
    return time.perf_counter() - t0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, sample count)``. Below 20 samples that
    percentile is under the median, so the median is reported instead
    (percentile 50): the sample supports no tail."""
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    if n < 20:
        return statistics.median(xs), 50.0, n
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _steal_seconds() -> float:
    """Cumulative hypervisor steal of all CPUs, in CPU-seconds."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK") if len(parts) > 8 else 0.0
    except (OSError, ValueError, IndexError):
        return 0.0


class Weather:
    """Host conditions bracketing a run."""

    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self.steal_start = _steal_seconds()

    def report(self) -> dict:
        return {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "steal_cpu_s": round(_steal_seconds() - self.steal_start, 3),
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg()[0],
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root_pid: int | None = None) -> list[int]:
    """Every process below ``root_pid`` (default: this one)."""
    kids = _children()
    todo, out = list(kids.get(root_pid or os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of peak resident set size (VmHWM) over a process tree: this
    Python process, the JVM it launched and the Python workers."""
    kids = _children()
    todo, total_kb = [root_pid or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total
