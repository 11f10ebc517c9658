"""Open-loop live load generator, run as its own single-threaded process.

Bar ``first + j`` is due at ``t0 + j / rate`` on the system-wide
monotonic clock, whatever the consumer is doing. At its due time all
five feed files of the bar are written (temp name, then atomic rename).
One line per bar goes to the log: ``index due written``.

    python3 loadgen.py --seed S --feeds DIR --first N --count K \
        --rate R --t0 T --log FILE
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import BarFactory, write_bar  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--feeds", required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    factory = BarFactory(a.seed)
    # render every payload before the first due time
    payloads = [factory.lines(a.first + j) for j in range(a.count)]
    with open(a.log, "w") as log:
        for j, payload in enumerate(payloads):
            i = a.first + j
            due = a.t0 + j / a.rate
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            write_bar(a.feeds, i, payload)
            log.write(f"{i} {due!r} {time.monotonic()!r}\n")
            log.flush()


if __name__ == "__main__":
    main()
