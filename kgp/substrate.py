"""Host-substrate scaling control: the pure-CPU ceiling every N-vs-4N
comparison on this box inherits.

The widths come from the CPUs this process may run on
(``os.sched_getaffinity``): 4N is that whole set and N a quarter of
it, so a 4-CPU box measures 1 vs 4 processes and a 32-CPU box 8 vs 32.
Shared hosts give less than 4N independent cores (SMT siblings, host
oversubscription, neighbors): k pinned single-core python processes
running an IDENTICAL arithmetic loop slow down per-process as k grows
from N to 4N, with zero Spark, zero shuffle and zero memory pressure.
The ratio t_N/t_4N of per-process time is therefore a hardware ceiling
on ANY local[N]-vs-local[4N] efficiency reading; a real cluster's 4N
executors add whole sockets, memory buses and disks instead, so
readings here are the pessimistic bound.

Shared by BENCH/scaling_ops.py (the per-op N→4N harness normalizes
its efficiencies by the ceiling) and bench.py (each snapshot carries
the control so a slow-host-window reading is self-diagnosing).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

# ~1.5-2 s per process on a shared vCPU: long enough that fork/startup
# is noise, short enough that a 3-repeat control costs ~15 s
DEFAULT_LOOP_ITERS = 20_000_000


def substrate_control(
    repeats: int = 3, loop_iters: int = DEFAULT_LOOP_ITERS
) -> dict:
    """Measure the host's pure-CPU N→4N scaling ceiling.

    Per repeat: launch N, then 4N, single-core python processes
    running an identical arithmetic loop, each pinned (taskset, when
    available) to its own CPU of the affinity set; record the mean
    per-process wall. The repeat's ceiling is min(1, t_N/t_4N) as a
    per-core-throughput ratio. The reported ceiling is the MEDIAN over
    ``repeats``: contamination during the width-N wave inflates a
    single reading, during the width-4N wave deflates it, so the
    median is the robust pick; all repeats are reported.
    """
    cpus = sorted(os.sched_getaffinity(0))
    narrow = max(1, len(cpus) // 4)
    widths = [narrow, len(cpus)]
    burn = (
        "import time\nt0=time.perf_counter()\nx=0\n"
        f"for i in range({loop_iters}): x += i*i % 7\n"
        "print(time.perf_counter()-t0)\n"
    )
    taskset = shutil.which("taskset")

    def wave(width: int) -> float:
        cmds = [
            ([taskset, "-c", str(cpu)] if taskset else [])
            + [sys.executable, "-c", burn]
            for cpu in cpus[:width]
        ]
        procs = [
            subprocess.Popen(c, stdout=subprocess.PIPE, text=True)
            for c in cmds
        ]
        outs = [p.communicate()[0] for p in procs]
        for c, p in zip(cmds, procs):
            if p.returncode != 0:
                raise RuntimeError(
                    f"substrate control process exited {p.returncode}: "
                    f"{' '.join(c[:3])}"
                )
        times = [float(o.strip()) for o in outs]
        return sum(times) / len(times)

    samples = []
    for _ in range(repeats):
        t_n, t_4n = wave(widths[0]), wave(widths[1])
        samples.append(
            {
                "sec_per_proc_n": round(t_n, 2),
                "sec_per_proc_4n": round(t_4n, 2),
                "ceiling": round(min(1.0, t_n / t_4n), 3),
            }
        )
    by_ceiling = sorted(samples, key=lambda s: s["ceiling"])
    med = by_ceiling[len(by_ceiling) // 2]
    return {
        "widths": widths,
        "sec_per_proc_n": med["sec_per_proc_n"],
        "sec_per_proc_4n": med["sec_per_proc_4n"],
        "ceiling": med["ceiling"],
        "repeats": [s["ceiling"] for s in samples],
    }
