"""Pure-Python pieces shared by the workloads: percentiles and tail
selection, the in-memory span tracer, the file-prefix freshness mapping,
host records and the result line. Nothing here imports Spark, so the
benchmark's unit tests run without a JVM."""

from __future__ import annotations

import json
import math
import os
import platform
import sys
import threading
import time
from dataclasses import dataclass, field

# A tail percentile must have at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND``
    samples strictly beyond it, never below the median: a sample too small
    to have a tail reports its median as the tail."""
    if n <= 0:
        raise ValueError("no samples")
    best = 50
    for p in range(99, 50, -1):
        if n - math.ceil(p / 100.0 * n) >= TAIL_MIN_BEYOND:
            best = p
            break
    return best


def summarize(values: list[float]) -> dict:
    """Median and tail of one latency sample, with the tail's percentile and
    the sample count (both go into the run's detail record)."""
    tp = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "tail_pct": tp,
        "tail": percentile(values, tp),
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out once
    at the end. Each thread nests its own spans. A disabled tracer records
    nothing, so timed runs pay only the call."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct children
        cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def totals(self, since: int = 0) -> dict[str, float]:
        """Per span name: summed duration of the spans from index ``since``."""
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
                    for s in self.spans
                ],
                f,
            )


_APPEND = threading.Lock()


class _SpanCtx:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.idx = -1

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            stack = t._stack()
            with _APPEND:
                self.idx = len(t.spans)
                t.spans.append(
                    Span(self.name, time.perf_counter(), 0.0, stack[-1] if stack else None)
                )
            stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            t.spans[self.idx].end = time.perf_counter()
            t._stack().pop()


def map_files_to_increments(
    file_lines: list[int], cumulative_rows: list[int]
) -> list[int] | None:
    """Which increment made each wire file visible.

    The file source takes files in modification order, so increment ``k``
    consumed exactly the files whose cumulative line count lies in
    ``(cumulative_rows[k-1], cumulative_rows[k]]``. Returns the increment
    index per file (``-1`` for files no increment consumed), or ``None``
    when an increment's cumulative row count is not a file-prefix boundary,
    which means the source did not consume whole files in write order."""
    bounds = set()
    acc = 0
    for n in file_lines:
        acc += n
        bounds.add(acc)
    prev = 0
    for c in cumulative_rows:
        if c < prev or (c != 0 and c not in bounds):
            return None
        prev = c
    out = []
    acc = 0
    k = 0
    for n in file_lines:
        acc += n
        while k < len(cumulative_rows) and cumulative_rows[k] < acc:
            k += 1
        out.append(k if k < len(cumulative_rows) else -1)
    return out


def host_record(seed: int, cpus: int, driver_mem: str) -> dict:
    """What a result must carry to be compared: the host, the Spark driver
    heap and the seed."""
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark_version,
        "python": platform.python_version(),
        "spark_graft_cpus": cpus,
        "spark_driver_memory": driver_mem,
        "seed": seed,
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


@dataclass
class Outcome:
    """What a workload hands back to run.py: set-up time, operation counts,
    the workload's own end-to-end values, a detail record, and whatever the
    traced part needs (``state``)."""

    setup_s: float
    attempted: int
    failed: int
    values: dict[str, float]
    detail: dict
    state: object = None


def metric_block(catalog, values: dict[str, float]) -> dict:
    """The result's ``metrics`` object: every catalog metric with its unit;
    a metric the workload did not produce is 0 (no work on that layer)."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, _ in catalog
    }


def emit(result: dict, detail: dict) -> None:
    """Print the run's detail record, then the one-line result the contract
    reads (it must be the last line of stdout)."""
    sys.stdout.write(json.dumps({"detail": detail}, default=str) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
