"""A machine-speed probe that runs in a process of its own.

The benchmark's timings are scaled by how fast the shared machine runs
during a run.  The probe measures that with fixed work that uses none of
the program's code and runs outside the Spark JVM and the Python
workers: ``threads`` threads each sort a fixed array of random doubles
(numpy releases the GIL while it sorts).  The program can slow the probe
only by competing for the CPU while it runs, which it does not do
between calls unless it leaves work running.

The parent starts the process once (:class:`Probe`) and calls it before
each timed call; the child (``python3 probe.py <threads>``) runs the work
once per line it reads on stdin and answers with an empty line.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

import proc

SIZE = 1 << 20  # 8 MB of doubles per sort
ROUNDS = 4  # sorts per thread and probe


class Probe:
    """The probe process, seen from the benchmark."""

    def __init__(self, threads: int):
        self.child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(threads)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self()  # the first answer waits for the child's imports

    def __call__(self) -> float:
        """Run the fixed work once; returns its wall time net of steal."""
        return proc.net_time(self._round_trip)

    def _round_trip(self) -> None:
        self.child.stdin.write("\n")
        self.child.stdin.flush()
        if self.child.stdout.readline() != "\n":
            raise RuntimeError(f"speed probe exited with {self.child.poll()}")

    def close(self) -> None:
        """Stop the probe process and wait for it to end."""
        self.child.stdin.close()
        self.child.wait(timeout=30)
        self.child.stdout.close()


def _serve(threads: int) -> None:
    import numpy as np

    data = np.random.default_rng(0).random(SIZE)

    def work():
        for _ in range(ROUNDS):
            np.sort(data)

    for _ in sys.stdin:
        pool = [threading.Thread(target=work) for _ in range(threads)]
        for t in pool:
            t.start()
        for t in pool:
            t.join()
        sys.stdout.write("\n")
        sys.stdout.flush()


if __name__ == "__main__":
    _serve(int(sys.argv[1]))
