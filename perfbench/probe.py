"""Host-speed probe, run as a process of its own.

    python3 perfbench/probe.py <threads>

Each line read from standard input starts one probe: ``threads`` threads
each hash a fixed buffer with SHA-256 (hashlib releases the GIL, so the
threads run on separate cores), and the probe's wall seconds are written
back as one line. Like a Spark stage of one task per core, the probe
ends with its slowest thread, so it slows with steal on any one core.
It shares no state with the engine's JVM or the benchmark process: no
session, conf, heap, GC or JIT, so an engine change cannot move it,
while a slower host (CPU steal from other tenants) slows it as it slows
the ops.
"""

from __future__ import annotations

import hashlib
import sys
import threading
import time

BUF = bytes(range(256)) * 4096  # 1 MiB
ROUNDS = 120  # about 100 ms per probe on an idle 4-vCPU VM


def _hash() -> None:
    h = hashlib.sha256()
    for _ in range(ROUNDS):
        h.update(BUF)


def probe(threads: int) -> float:
    """Wall seconds for ``threads`` threads to hash ROUNDS MiB each."""
    workers = [threading.Thread(target=_hash) for _ in range(threads)]
    t = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return time.perf_counter() - t


def main() -> None:
    threads = int(sys.argv[1])
    for _ in sys.stdin:
        print(repr(probe(threads)), flush=True)


if __name__ == "__main__":
    main()
