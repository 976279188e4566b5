"""Measurement plumbing shared by the workloads: process-tree CPU and RSS
read from /proc, the warm-up and timed repetition loops, and the span
tracer of the traced run."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(b")") + 2:].decode().split()


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time at which a process started, from its /proc stat."""
    fields = _stat(pid or os.getpid())
    started_after_boot = int(fields[19]) / CLK_TCK
    return time.time() - (time.clock_gettime(time.CLOCK_BOOTTIME) - started_after_boot)


class ProcTree:
    """The benchmark process and every descendant: the Spark JVM, its
    Python daemon and the Python workers."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat(int(name))
                if fields:
                    children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]

    @staticmethod
    def cpu_s(pids: list[int]) -> float:
        """User + system CPU of the processes, including the children they
        have reaped (a Python worker that exits is counted by its daemon)."""
        total = 0
        for pid in pids:
            fields = _stat(pid)
            if fields:
                total += sum(int(v) for v in fields[11:15])
        return total / CLK_TCK

    @staticmethod
    def rss_bytes(pids: list[int]) -> int:
        total = 0
        for pid in pids:
            fields = _stat(pid)
            if fields:
                total += int(fields[21]) * PAGE
        return total


class RssSampler:
    """Background thread sampling the summed RSS of the tree every
    ``period`` seconds; ``take_peak`` returns and resets the peak. The
    membership of the tree is refreshed once a second."""

    def __init__(self, tree: ProcTree, period: float = 0.1):
        self.tree, self.period = tree, period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, refreshed = self.tree.pids(), time.monotonic()
        while not self._stop.wait(self.period):
            if time.monotonic() - refreshed > 1.0:
                pids, refreshed = self.tree.pids(), time.monotonic()
            rss = self.tree.rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> None:
        self._thread.start()

    def take_peak(self) -> int:
        rss = self.tree.rss_bytes(self.tree.pids())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Loop:
    """Runs a workload's repetition: untimed warm-up, then the timed window."""

    def __init__(self, tree: ProcTree, sampler: RssSampler, tracer: "Tracer", after):
        self.tree, self.sampler, self.tracer = tree, sampler, tracer
        self.after = after  # untimed work after each repetition

    def _one(self, rep, rep_id: str) -> dict:
        self.sampler.take_peak()
        pids = self.tree.pids()
        c0 = self.tree.cpu_s(pids)
        t0 = time.perf_counter()
        with self.tracer.span("rep", rep=rep_id):
            rep()
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_s(self.tree.pids()) - c0
        peak = self.sampler.take_peak() / 2**20
        self.after()
        return {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak}

    def warmup(self, rep, n: int) -> list[float]:
        """``n`` untimed repetitions. Returns their times, the warm-up curve."""
        return [self._one(rep, f"warmup{k}")["wall_s"] for k in range(n)]

    def timed(self, rep, seconds: float, min_reps: int) -> list[dict]:
        """Repetitions until ``seconds`` have passed and at least
        ``min_reps`` were made."""
        reps: list[dict] = []
        t0 = time.perf_counter()
        while len(reps) < min_reps or time.perf_counter() - t0 < seconds:
            reps.append(self._one(rep, f"timed{len(reps)}"))
        return reps


def median(values) -> float:
    return float(statistics.median(values))


class Tracer:
    """Spans (name, start, end, parent, rep) kept in memory. While a span is
    open, the Spark jobs it launches carry its id in the local property
    ``perfbench.span``, which the event log records with each job. The
    disabled tracer of an untraced run does nothing."""

    PROP = "perfbench.span"

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._rep = None
        self.sc = None

    @contextmanager
    def span(self, name: str, rep: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        if rep is not None:
            self._rep = rep
        s = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
             "rep": self._rep, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(sid)
        self._set_prop(sid)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_prop(self._stack[-1] if self._stack else None)
            if rep is not None:
                self._rep = None

    def _set_prop(self, sid) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(self.PROP, None if sid is None else str(sid))

    def wrap(self, module, attr: str, name: str, label=None) -> None:
        """Replace ``module.attr`` by a wrapper that opens a span around
        each call. ``label(args, kwargs)`` may add attributes to the span."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def wrapper(*args, **kwargs):
            extra = label(args, kwargs) if label else {}
            with self.span(name, **extra):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapper)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def timed_spans(self, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and str(s["rep"]).startswith("timed")]

    def per_rep(self, name: str) -> float:
        """Median over timed repetitions of the per-repetition total
        duration of the spans called ``name``; 0 when there are none."""
        by_rep: dict[str, float] = {}
        for s in self.timed_spans(name):
            by_rep[s["rep"]] = by_rep.get(s["rep"], 0.0) + s["end"] - s["start"]
        return median(by_rep.values()) if by_rep else 0.0
