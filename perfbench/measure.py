"""Measurement helpers: tail percentile, spans, peak RSS and the
Spark UI REST records. Nothing here imports pyspark, so the helpers are
testable without a JVM."""

from __future__ import annotations

import json
import math
import os
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float]:
    """The highest whole percentile with at least ``beyond`` samples
    above it, and its nearest-rank value.

    With n samples, percentile p has rank ceil(p*n/100) and leaves
    n - rank samples beyond it; the largest p with n - rank >= beyond is
    floor(100*(n - beyond)/n). Raises when n <= beyond, since then no
    percentile qualifies."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples leave fewer than {beyond} beyond any percentile")
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(samples)[rank - 1]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. A span's
    self time is its duration minus the part its direct children cover."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0,
                               self._stack[-1] if self._stack else None, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def inside(self, prefix: str) -> bool:
        return any(self.spans[i].name.startswith(prefix) for i in self._stack)

    def self_times(self) -> dict[str, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s.end - s.start) - union_length(children.get(i, []))
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op} for s in self.spans]


# --- processes ---------------------------------------------------------------

def process_start_time() -> float:
    """Wall-clock time this process started, to the kernel's clock tick."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(pid: int) -> list[int]:
    """pids of every live descendant of ``pid``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def steal_s() -> float:
    """Host CPU time stolen from this machine since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def parquet_stats(paths) -> tuple[int, int]:
    """(files, bytes) of the parquet files under each of ``paths``."""
    files = size = 0
    for path in paths:
        for d, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
    return files, size


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (0 if it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --- Spark UI REST -----------------------------------------------------------

def parse_rest_time(text: str | None) -> float | None:
    """Epoch seconds of a REST timestamp such as
    ``2026-10-17T03:41:20.123GMT``; the millisecond part is optional."""
    if not text:
        return None
    body = text.removesuffix("GMT")
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in body else "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(body, fmt).replace(tzinfo=timezone.utc).timestamp()


def rest_get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
        return json.load(r)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric_value(text: str) -> float:
    """Total of a SQL-metric display string: ``12.5 KiB``, ``1,024`` or
    the multi-line ``total (min, med, max ...)\\n12.5 KiB (...)`` form."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    parts = line.replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1 and parts[1] in _SIZE:
        value *= _SIZE[parts[1]]
    return value
