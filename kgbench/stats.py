"""Summary statistics and host measurements the benchmark reports.

Nothing here touches Spark, so the unit tests in ``kgbench/tests``
exercise it without a JVM.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

# Standard percentiles, highest first. A percentile is "supported" by a
# sample when at least TAIL_MIN samples lie beyond it.
_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN = 10


def supported_percentile(n: int) -> float | None:
    """Highest standard percentile with at least ``TAIL_MIN`` of ``n``
    samples beyond it; None when even the median is not supported
    (n < 20), in which case callers report the maximum and state n."""
    for p in _PERCENTILES:
        # samples beyond p, rounded so 100 * (1 - 0.9) counts as 10
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_MIN:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of
    the sample at or below it)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def tail(values: list[float]) -> tuple[float, str]:
    """The tail a sample supports: (value, label), e.g. (4.2, 'p90 of
    120') or (4.2, 'max of 6')."""
    p = supported_percentile(len(values))
    if p is None:
        return max(values), f"max of {len(values)}"
    return percentile(values, p), f"p{p:g} of {len(values)}"


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------------------
# host control
# ---------------------------------------------------------------------------

# A fixed pure-Python loop, ~0.2 s on one core of the 4-vCPU box the
# README's numbers come from. It runs in fresh
# interpreters so that nothing of the benchmark's own state is timed.
_CONTROL_LOOP = (
    "import time\n"
    "t = time.perf_counter()\n"
    "x = 0\n"
    "for i in range(1_000_000):\n"
    "    x = (x + i * i) % 1_000_003\n"
    "print(time.perf_counter() - t)\n"
)


def widths() -> tuple[int, int]:
    """(N, 4N) from the CPUs this process may run on: 4N = all of them,
    N = max(1, cpus // 4)."""
    cpus = len(os.sched_getaffinity(0))
    return max(1, cpus // 4), cpus


def host_control(width: int) -> float:
    """Median per-process time of the control loop with ``width``
    copies running at once. Recorded next to the metrics so a reader
    can tell a slow host from slow code; never used to rescale one."""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CONTROL_LOOP],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(width)
    ]
    times = []
    for p in procs:
        out, _ = p.communicate(timeout=60)
        if p.returncode != 0:
            raise RuntimeError(f"host control loop exited {p.returncode}")
        times.append(float(out))
    return median(times)


# ---------------------------------------------------------------------------
# resident memory of a process tree
# ---------------------------------------------------------------------------


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command field may hold spaces; ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Sum of VmRSS over ``root`` and all its descendants."""
    kids = children_map()
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Polls the resident memory of a process tree from a thread and
    keeps the peak. Used over the measured window only, so set-up
    (JVM start, codegen warmup) does not set the peak."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        import threading

        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def now() -> float:
    """Wall clock in epoch seconds; spans and Spark's streaming progress
    timestamps share it."""
    return time.time()
