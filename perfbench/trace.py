"""Spans recorded from the benchmark's own files, and process-tree
sampling from ``/proc``.

A span is ``(id, parent, name, start, end)`` in wall-clock seconds.  Spans
stay in memory and are written once, at exit.  A layer's self time is its
spans' durations minus the part of each interval its child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Nested spans on the calling thread; ``add()`` records a finished
    span under an explicit parent (used for per-trigger spans that arrive
    on the listener thread).  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def _new(self, name: str, parent: int | None, start: float, end: float | None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "start": start, "end": end}
            )
            return sid

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self._new(name, parent, time.time(), None)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, parent: int | None, start: float, end: float) -> int | None:
        if not self.enabled:
            return None
        return self._new(name, parent, start, end)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered = _union(
                [(max(lo, c["start"]), min(hi, c["end"])) for c in children.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --------------------------------------------------------------------------
# /proc sampling
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
MIN_AGE_S = 1.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                parent[int(entry)] = int(st[1])
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_bytes(root: int) -> tuple[int, int]:
    """(summed peak RSS bytes, process count) of the processes below
    ``root`` that have lived for ``MIN_AGE_S``.  Each process's peak is the
    high-water mark the kernel keeps (``VmHWM``), so no peak falls between
    two samples.

    A helper the JVM spawns shares the JVM's address space until it execs
    and reads the JVM's whole RSS meanwhile, so counting it would double
    the JVM; such helpers live for milliseconds."""
    with open("/proc/uptime") as fh:
        now_ticks = float(fh.read().split()[0]) * _TICK
    total = count = 0
    for pid in descendants(root):
        st = _stat(pid)
        if not st or now_ticks - int(st[19]) < MIN_AGE_S * _TICK:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                hwm = next(line for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        total += int(hwm.split()[1]) * 1024  # reported in kB
        count += 1
    return total, count


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU of the processes below ``root``, with that of the
    children they have already reaped."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK
