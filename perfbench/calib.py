"""Host speed calibration: a fixed CPU workload, timed on every core.

The benchmark's host shares its cores with other tenants, and their load
comes in phases of about a minute: in one driver process, the same job's
warm passes ran 6.2 to 8.2 s, and its CPU time moved with its wall time,
with almost no vCPU steal. So a time measured on this host says as much
about the phase as about the program. ``Calibrator.measure`` times a fixed
workload (interpreter loop, dict updates, a sort, byte hashing) in one
process per core at once and returns the mean CPU seconds one unit took.
``job.py`` measures it right before and right after every pass, between
passes, when the job is not running, and ``run.py`` divides each pass's
times by the slowdown their mean shows against REF_CPU_S. Over 17 warm
passes of one process, that halved the passes' spread (coefficient of
variation of wall 8.2% -> 4.0%, of CPU 8.7% -> 4.4%).

A unit's CPU time, not its wall time, is what is measured, so a thread
the program left running between passes takes turns with the units
without making them read slower.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import random
import statistics
import time

# CPU seconds of one unit on the reference host, a 4-core VM: times divided
# by the slowdown read in seconds of that host
REF_CPU_S = 0.19
ROUNDS = 3  # units per core in one measurement (about 0.6 s)


def _unit(seed: int) -> float:
    t = time.process_time()
    rng = random.Random(seed)
    counts: dict[int, int] = {}
    for i in range(300_000):
        k = (i * 2654435761) % 8191
        counts[k] = counts.get(k, 0) + i
    floats = [rng.random() for _ in range(200_000)]
    floats.sort()
    blob = bytes(range(256)) * 32768  # 8 MiB
    for _ in range(4):
        hashlib.md5(blob).digest()
    return time.process_time() - t


class Calibrator:
    """A pool of one spawned process per core, started before the JVM;
    ``close`` stops it and waits for its processes."""

    def __init__(self, cores: int):
        self.cores = cores
        self.pool = multiprocessing.get_context("spawn").Pool(cores)
        self.pool.map(_unit, range(cores))  # start-up and imports, not timed
        self.n = 0

    def measure(self) -> float:
        """Mean CPU seconds of one unit over ROUNDS units per core, one per
        core at a time. A unit's time depends on which physical core its
        vCPU is on at the moment (measured: about 0.17 or about 0.23 s), so
        it is the mean over several that tracks the job."""
        k = ROUNDS * self.cores
        self.n += k
        return statistics.mean(self.pool.map(_unit, range(self.n - k, self.n), chunksize=1))

    def close(self) -> None:
        self.pool.close()
        self.pool.join()
