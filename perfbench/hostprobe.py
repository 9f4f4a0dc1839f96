"""Fixed-work host probe, reported beside every run's metrics (ungated).

One thread per available core runs the same numpy streaming arithmetic
(numpy releases the interpreter lock inside each array operation, so the
threads load every core and the memory bus at once); the probe is the wall
time of that batch. It tells a slow host window from a regression: on a
host shared with other tenants, the probe and the benchmark timings slow
down together.

    python3 hostprobe.py          # print the probe in seconds
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _burn() -> None:
    a = np.zeros(4_000_000)
    for _ in range(10):
        a = a * 1.000001 + 1.0


def probe() -> float:
    threads = [threading.Thread(target=_burn) for _ in range(len(os.sched_getaffinity(0)))]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


if __name__ == "__main__":
    print(probe())
