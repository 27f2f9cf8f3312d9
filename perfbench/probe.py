"""Host-speed probe: a frozen pure-Python loop.

The loop's work never changes, so its wall time moves only with the host
(CPU frequency, neighbours on the machine). Dividing an op's wall time by
the probes that bracket it cancels slow host drift. This module must stay
independent of the package under test, so no code change can move the
probe; a test checks that it imports nothing from it.
"""

from __future__ import annotations

import time

LOOP_N = 200_000
CHUNKS = 10


def _work(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return acc


def probe() -> tuple[float, float]:
    """Run the frozen loop ``CHUNKS`` times; returns the fastest chunk's
    wall seconds (short bursts of contention from the JVM's background
    threads slow single chunks, slow host drift slows them all) and the
    CPU seconds the probe spent in total."""
    c0 = time.process_time()
    best = float("inf")
    for _ in range(CHUNKS):
        t0 = time.perf_counter()
        _work(LOOP_N)
        best = min(best, time.perf_counter() - t0)
    return best, time.process_time() - c0
