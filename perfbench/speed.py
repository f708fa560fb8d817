"""Host speed, metered while the program runs.

The benchmark runs on vCPUs of a shared machine whose speed changes by
2-4x over seconds to minutes, in two ways: the host runs the guest's cores
slower without the guest seeing it (a pure-Python loop's CPU time grows as
much as its wall time), and the host takes cores away, which the guest sees
as steal. No raw timing is steady under that, so the gated timings are
scaled to a reference host speed.

A meter process (this file, run as a script) measures both every
``INTERVAL_S`` seconds. It times a fixed loop of ``LOOP_ITERS`` iterations
in thread CPU time, which grows when the host runs the cores slower and
leaves out waits for the guest's own scheduler (the program's threads) and
steal. It also reads the guest's busy and steal ticks from ``/proc/stat``.
The loop takes about 1-3 ms per sample, 2-6% of one core.

``scale(t0, t1)`` for a span ``[t0, t1)`` is

    REF_LOOP_S / (median loop time in the span) * (1 - steal share),

where the steal share is steal ÷ (busy + steal) ticks over the span: the
span's time on a host where the loop takes ``REF_LOOP_S`` and no core is
taken away is its wall time times that factor. No change to the program
can change the loop; a program that kept more cores busy would see more of
the steal, which the share counts per busy tick.
"""

from __future__ import annotations

import bisect
import os
import statistics
import subprocess
import sys
import time

LOOP_ITERS = 20_000
INTERVAL_S = 0.05
# the loop's time on a quiet host of the kind the benchmark was tuned on
# (Xeon vCPUs at 2.1 GHz): 1.0-1.1 ms
REF_LOOP_S = 1.0e-3


def _busy_steal_ticks() -> tuple:
    """(busy, steal) ticks of all the guest's cores from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def meter(path: str) -> None:
    """Sample until terminated, one ``start loop_s busy steal`` line per
    sample; ``start`` is ``time.perf_counter()``, the monotonic clock every
    process of the host shares. Exits when its parent has gone."""
    parent = os.getppid()
    with open(path, "w") as out:
        while os.getppid() == parent:
            t = time.perf_counter()
            c = time.thread_time()
            acc = 0
            for i in range(LOOP_ITERS):
                acc = (acc * 31 + i) % 1_000_003
            loop = time.thread_time() - c
            busy, steal = _busy_steal_ticks()
            out.write(f"{t:.6f} {loop:.7f} {busy} {steal}\n")
            out.flush()
            time.sleep(INTERVAL_S)


class SpeedMeter:
    def __init__(self, path: str):
        self.path = path
        self.proc = None
        self.starts: list = []
        self.loops: list = []
        self.ticks: list = []   # (busy, steal) right after each loop

    def start(self) -> "SpeedMeter":
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.path])
        return self

    def stop(self) -> None:
        """Stop the meter, wait for it, and load its samples."""
        self.proc.terminate()
        self.proc.wait()
        with open(self.path) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) == 4:  # the last line may be cut short
                    self.starts.append(float(parts[0]))
                    self.loops.append(float(parts[1]))
                    self.ticks.append((int(parts[2]), int(parts[3])))
        if not self.loops:
            raise RuntimeError("the speed meter took no sample")

    def loop_s(self, t0: float, t1: float) -> float:
        """Median loop time of the samples started in ``[t0, t1)``; the
        nearest sample when the span holds none."""
        a = bisect.bisect_left(self.starts, t0)
        b = bisect.bisect_left(self.starts, t1)
        if b > a:
            return statistics.median(self.loops[a:b])
        return self.loops[min(a, len(self.loops) - 1)]

    def steal_share(self, t0: float, t1: float) -> float:
        """steal ÷ (busy + steal) ticks between the samples that bracket
        ``[t0, t1)``."""
        n = len(self.starts)
        a = max(0, bisect.bisect_right(self.starts, t0) - 1)
        b = min(n - 1, bisect.bisect_left(self.starts, t1))
        busy = self.ticks[b][0] - self.ticks[a][0]
        steal = self.ticks[b][1] - self.ticks[a][1]
        return steal / (busy + steal) if busy + steal > 0 else 0.0

    def scale(self, t0: float, t1: float) -> float:
        return (REF_LOOP_S / self.loop_s(t0, t1)
                * (1.0 - self.steal_share(t0, t1)))


if __name__ == "__main__":
    meter(sys.argv[1])
