"""Sample statistics and failure accounting for the benchmark report.

Pure Python, no Spark: the rules here are unit-tested in ``test_stats.py``.
"""

from __future__ import annotations

import os
import statistics
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10
_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and all
    its descendants, including children they have already reaped.

    Read from ``/proc``; for this benchmark the tree is the Python driver,
    the Spark JVM it launched and the JVM's Python UDF workers. Unlike wall
    time, CPU time does not count the time the host hands to other work."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        used[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


@dataclass(frozen=True)
class Tail:
    """The highest nearest-rank percentile with at least ``beyond``
    samples ranked above it, its value and the sample count."""

    percentile: float
    value: float
    samples: int
    beyond: int


def tail(xs: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> Tail | None:
    """Highest percentile that still has ``min_beyond`` samples beyond it.

    With the samples sorted ascending, the value at 0-based rank ``k`` has
    ``n - 1 - k`` samples ranked above it, and under the nearest-rank
    definition it is the ``100 * (k + 1) / n``-th percentile. The highest
    rank with ``min_beyond`` samples above it is ``k = n - 1 - min_beyond``.
    Fewer than ``min_beyond + 1`` samples support no such percentile, so
    the result is ``None`` rather than an extrapolation.
    """
    n = len(xs)
    k = n - 1 - min_beyond
    if k < 0:
        return None
    s = sorted(xs)
    return Tail(100.0 * (k + 1) / n, float(s[k]), n, n - 1 - k)


@dataclass
class Ledger:
    """Attempted and failed operations of one run.

    An operation is one call into an engine layer. It fails when it raises
    or when its output later fails an oracle check; an operation that does
    both still counts once.
    """

    attempted: int = 0
    failed_ops: set[int] = field(default_factory=set)
    errors: list[str] = field(default_factory=list)

    def begin(self) -> int:
        self.attempted += 1
        return self.attempted

    def fail(self, op: int, why: str) -> None:
        if not 1 <= op <= self.attempted:
            raise ValueError(f"unknown operation {op}")
        self.failed_ops.add(op)
        self.errors.append(f"op {op}: {why}")

    def check(self, op: int, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(op, f"oracle mismatch: {what}")
        return ok

    @contextmanager
    def operation(self):
        """Count one operation; an exception marks it failed and re-raises."""
        op = self.begin()
        try:
            yield op
        except Exception:
            self.fail(op, traceback.format_exc(limit=3))
            raise

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
