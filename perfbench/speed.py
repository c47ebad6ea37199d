"""Host speed probe: a fixed unit of pure-Python work, repeated with pauses,
each unit's CPU seconds written as a line "<monotonic time> <cpu seconds>".

    python3 perfbench/speed.py OUT_FILE

The box is a few cores of a shared host, and the speed of a core (how
much work a CPU second does) drifts by up to 2x over seconds and minutes
with what other guests run.  The probe runs beside the timed jobs, at
about a tenth of one core, so the benchmark can state their CPU time in
seconds of a core of fixed speed; see `harness.SpeedProbe`.  (A probe
that also timed zlib and a memory copy tracked the pipeline's CPU less
well than this one.)  Runs until killed.
"""

from __future__ import annotations

import sys
import time

PAUSE_S = 0.04


def unit() -> int:
    """The fixed work: dict, tuple hashing and string building, a few ms
    of pure Python (interpreter work, as the extraction kernel is)."""
    acc = 0
    counts: dict[int, int] = {}
    for i in range(12_000):
        k = i % 257
        counts[k] = counts.get(k, 0) + i
        acc ^= hash((i, acc)) & 0xFFFF
    return acc + len(",".join(map(str, counts.values())))


def main(path: str) -> None:
    with open(path, "w", buffering=1) as out:
        while True:
            c0 = time.thread_time()
            unit()
            out.write(f"{time.monotonic():.4f} {time.thread_time() - c0:.6f}\n")
            time.sleep(PAUSE_S)


if __name__ == "__main__":
    main(sys.argv[1])
