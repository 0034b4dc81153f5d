"""Summary statistics and failure counting for the benchmark."""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator, Optional, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values: Sequence[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail_percentile(n: int, beyond: int = 10) -> Optional[int]:
    """Highest whole percentile above the median that leaves at least
    ``beyond`` of ``n`` samples above it, or None when even the p51
    would not (p90 needs 100 samples, p99 needs 1000)."""
    if n <= 0:
        return None
    q = math.floor(100.0 * (n - beyond) / n + 1e-9)
    return q if q > 50 else None


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its live
    descendants, with the children they have reaped: here the Spark
    driver process, the JVM and its Python workers. On a shared host this is
    steadier than wall time, which also counts the time other tenants
    hold the cores."""
    kids, ticks = defaultdict(list), {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process has exited
            continue
        # fields after "(comm)": f[0] state, f[1] ppid, f[11:15] utime,
        # stime, cutime, cstime in clock ticks
        f = stat[stat.rindex(")") + 2:].split()
        kids[int(f[1])].append(int(name))
        ticks[int(name)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def window(seconds: float, min_ops: int, multiple: int = 1) -> Iterator[int]:
    """Indices of a closed loop's operations: the loop runs until
    ``seconds`` have passed and at least ``min_ops`` operations, a
    multiple of ``multiple``, were attempted. It counts attempts, not
    successes, so operations that keep failing still end it."""
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds or i < min_ops or i % multiple:
        yield i
        i += 1


class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output is checked and found wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def op(self, name: str):
        """Count one operation; an exception inside counts as a failure
        and is reported, not raised, so the run can go on."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"[perfbench] {name} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count a correctness check made on an operation's output."""
        self.attempted += 1
        if not ok:
            self.mismatch(name, detail)
        return ok

    def mismatch(self, name: str, detail: str) -> None:
        """An operation already counted produced a wrong result."""
        self.failed += 1
        print(f"[perfbench] mismatch in {name}: {detail}", file=sys.stderr)

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
