"""Machine-speed sampler, run beside the engine for the whole of a run.

    python3 perfbench/calibrate.py OUT

Until it is terminated, it times one fixed piece of Python work (a dict
update per item of a 2,000-float list, then sorting the list) about every
10 ms and appends ``<perf_counter> <thread CPU seconds>`` to OUT. The CPU
time of fixed work is the machine's speed at that moment: on a shared host
it changes from second to second with what the other tenants run, and it
changes the engine's times in step. ``run.py`` divides the engine's times
in an interval by the mean sample in the same interval.
"""

from __future__ import annotations

import random
import signal
import sys
import time

DATA = [random.Random(0).random() for _ in range(2_000)]
PERIOD_S = 0.01


def sample() -> float:
    t = time.thread_time()
    acc: dict[int, int] = {}
    for i, x in enumerate(DATA):
        k = int(x * 409)
        acc[k] = acc.get(k, 0) + i
    sorted(DATA)
    return time.thread_time() - t


def main(out: str) -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    with open(out, "w", buffering=1) as fh:
        while True:
            at = time.perf_counter()
            fh.write(f"{at} {sample()}\n")
            time.sleep(PERIOD_S)


if __name__ == "__main__":
    main(sys.argv[1])
