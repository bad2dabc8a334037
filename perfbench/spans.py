"""Spans, statistics, resource stamps and the result line.

Spans are kept in memory and written out once, at the end of a traced
run. A span's self time is its duration minus the part of its interval
that its children cover.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a child of the innermost open span; yields
        the span's index (None when disabled)."""
        if not self.enabled:
            yield None
            return
        idx = self.add(name, time.perf_counter(), 0.0, **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a finished (or, with end 0, an open) span; the parent
        defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, start, end, parent, self.run_id, attrs))
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        rows = []
        selfs = self_times(self.spans)
        for i, s in enumerate(self.spans):
            rows.append({"id": i, **asdict(s), "self_s": selfs[i]})
        with open(path, "w") as f:
            json.dump(rows, f)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    clipped to the span (children may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((s.end - s.start) - covered)
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class RssSampler:
    """Peak memory of this process and all its descendants (the Spark
    JVM and its Python workers), sampled every 0.5 s as the sum of their
    proportional set sizes, so pages that forked workers share count
    once."""

    def __init__(self, every_s: float = 0.5):
        self.every_s = every_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, sum(map(_pss_bytes, _tree(os.getpid()))))
            self._stop.wait(self.every_s)


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


_CLK = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), user plus system, with the children
    each has already reaped, leaving out the JVM's JIT compiler threads.
    Those compile in the background whatever the JVM has found hot, at a
    pace that differs from run to run for a minute or more after start;
    the work itself is what the other threads use. Time the hypervisor
    steals from the VM is in neither."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            total += sum(_stat(f"/proc/{pid}/stat")[1][13:15])  # reaped children
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if not name.startswith(JIT_THREADS):
                    total += sum(fields[11:13])
        except (OSError, ValueError):  # the process or thread has exited
            pass
    return total / _CLK


def _stat(path: str) -> tuple[str, list[int]]:
    """A /proc stat line: the command name and the numeric fields after
    it (state, field 3, left out)."""
    with open(path) as f:
        line = f.read()
    head, tail = line.rsplit(")", 1)
    return head.split("(", 1)[1], [0] + list(map(int, tail.split()[1:]))


def _tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    out, todo = [root], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def host_stamp() -> dict:
    """Hypervisor steal (jiffies since boot) and load averages, as
    diagnostics; no run is kept or dropped because of them."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        steal = -1
    return {"steal_jiffies": steal, "loadavg": list(os.getloadavg())}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> str:
    """The final stdout line: every metric named with its unit."""
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }, separators=(",", ":"))
