"""Measurement helpers: spans and self time, the percentile rule, round
latency from commit markers, failure accounting, and /proc sampling of
the benchmark's process tree (this Python process, the Spark JVM, Python workers).

Nothing here imports Spark, so the arithmetic is unit-tested on its own.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    only when the run ends."""

    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.monotonic(), float("nan"), parent, self.run_id))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.monotonic()

    def find(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - covered((s.start, s.end), kids.get(i, [])) for i, s in enumerate(spans)
    ]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def percentile_report(samples: list[float]) -> dict:
    """Median, plus the highest of p90/p95/p99/p99.9 that has at least ten
    samples beyond it, plus the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out: dict = {"n": n, "p50": statistics.median(xs) if xs else None}
    for p in _PERCENTILES:
        # nearest-rank percentile; samples strictly beyond its rank
        rank = max(1, -(-round(p * 10) * n // 1000))
        if n - rank >= 10:
            out[f"p{p:g}"] = xs[rank - 1]
            break
    return out


def commit_intervals(commit_times: list[float]) -> list[float]:
    """Intervals between consecutive commits, in commit order."""
    ts = sorted(commit_times)
    return [b - a for a, b in zip(ts, ts[1:])]


def round_commit_times(checkpoint_dir: str) -> list[float]:
    """mtimes of the ``round=N/seen/_SUCCESS`` markers, N >= 1, read from
    outside the engine."""
    out = []
    for d in os.listdir(checkpoint_dir):
        if not d.startswith("round="):
            continue
        n = int(d.split("=", 1)[1])
        marker = os.path.join(checkpoint_dir, d, "seen", "_SUCCESS")
        if n >= 1 and os.path.exists(marker):
            out.append(os.stat(marker).st_mtime)
    return sorted(out)


def fail_accounting(attempted: list[str], rows: list[tuple[str, str]] | None) -> int:
    """Failed URLs: attempted ones with no result row or with status
    ``error``. ``rows`` is (url_canon, status) pairs; ``None`` means the
    crawl raised, which fails every attempted URL."""
    if rows is None:
        return len(attempted)
    status: dict[str, set[str]] = {}
    for u, s in rows:
        status.setdefault(u, set()).add(s)
    return sum(1 for u in attempted if u not in status or "error" in status[u])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _pss(pid: str, rss: int) -> int:
    """Proportional set size: forked Python workers share pages with their
    daemon, and summing their RSS would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def _proc_table(memory: bool = False) -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, memory bytes:
    PSS when ``memory`` is set, else RSS)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fs = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21
        cpu = sum(int(x) for x in fs[11:15]) / _CLK
        out[int(d)] = (int(fs[1]), comm, cpu, int(fs[21]) * _PAGE)
    if memory:
        root_tree = _tree(out, os.getpid())
        for pid, (ppid, comm, cpu, rss) in root_tree.items():
            out[pid] = (ppid, comm, cpu, _pss(str(pid), rss))
    return out


def _tree(table: dict, root: int) -> dict:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in table:
            out[p] = table[p]
            todo.extend(kids.get(p, []))
    return out


def cpu_by_side(root: int | None = None) -> dict[str, float]:
    """Core-seconds so far of the process tree under ``root``, split into
    the JVM (``java``) and Python (this process and workers; a daemon's reaped
    workers are in its child times)."""
    tree = _tree(_proc_table(), root or os.getpid())
    out = {"jvm": 0.0, "python": 0.0}
    for _ppid, comm, cpu, _rss in tree.values():
        out["jvm" if comm == "java" else "python"] += cpu
    return out


class MemorySampler:
    """Background thread sampling the process tree's summed PSS; ``peak``
    is the largest sample, in bytes, and ``cpu_s`` the sampler's own CPU
    time (reading ``smaps_rollup`` is not free; callers subtract it from
    this process's). Use as a context manager."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            tree = _tree(_proc_table(memory=True), root)
            self.peak = max(self.peak, sum(r for *_x, r in tree.values()))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
