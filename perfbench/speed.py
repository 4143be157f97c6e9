#!/usr/bin/env python3
"""Host speed probe: one fixed pass of CPU work, timed over and over.

    python3 perfbench/speed.py OUT

run.py starts it beside set-up and the timed runs. Ten times a second
it runs `one_pass` and appends a line to OUT: the monotonic clock when
the pass ended and the thread CPU seconds the pass took. It stops when
terminated.

On a shared host the CPU seconds a fixed piece of work costs drift with
what the other tenants of the machine do, by up to 1.7x over minutes.
The median pass time over a set-up or a run measures that drift while
the work is being measured, and metrics.at_reference_speed scales it
out.
"""

from __future__ import annotations

import hashlib
import sys
import time

INTERVAL_S = 0.1
_BUF = bytes(range(256)) * 4096  # 1 MiB


def one_pass() -> None:
    """Interpreter work (dict inserts, a keyed sort) and memory traffic
    (a hash and a copy of 1 MiB), the mix of a Python worker's parse
    and a JVM's scan."""
    d = {}
    for i in range(2000):
        d[f"k{i}"] = (i * 2654435761) & 0xFFFF
    sorted(d.items(), key=lambda kv: kv[1])
    hashlib.blake2b(_BUF).digest()
    bytearray(_BUF)


def main(out: str) -> None:
    with open(out, "a", buffering=1) as f:
        while True:
            t = time.thread_time()
            one_pass()
            f.write(f"{time.monotonic()} {time.thread_time() - t}\n")
            time.sleep(INTERVAL_S)


if __name__ == "__main__":
    main(sys.argv[1])
