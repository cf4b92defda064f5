"""The checker process: everything that judges or feeds the program but
is not the program.

The measured driver starts it before its SparkSession and talks to it
over a pipe. It owns the workload's table rewrites, the DuckDB oracle
and the canonical comparison, so that their memory and CPU stay out of
the driver's ``peak_rss_mb`` and ``driver.cpu_s``.

Protocol: the driver writes pickled ``(method, args)`` tuples to the
checker's stdin; the checker calls that method of its workload object
and writes back a pickled ``("ok", result)`` or ``("error", text)``.
``None`` ends it.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import traceback


class Checker:
    """The driver's handle on a checker process."""

    def __init__(self, workload: str, tmp: str, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), workload, tmp, str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )

    def call(self, method: str, *args):
        pickle.dump((method, args), self.proc.stdin, protocol=pickle.HIGHEST_PROTOCOL)
        self.proc.stdin.flush()
        status, value = pickle.load(self.proc.stdout)
        if status != "ok":
            raise RuntimeError(f"checker {method}: {value}")
        return value

    def close(self) -> None:
        try:
            pickle.dump(None, self.proc.stdin)
            self.proc.stdin.close()
        except OSError:
            pass
        self.proc.wait(timeout=30)


def serve(workload: str, tmp: str, seed: int) -> None:
    # Answers go to the original stdout; anything a library prints goes
    # to stderr instead of into the pipe.
    answers = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    requests = sys.stdin.buffer
    import workloads

    wl = workloads.WORKLOADS[workload](tmp, seed)
    while True:
        msg = pickle.load(requests)
        if msg is None:
            return
        method, args = msg
        try:
            reply = ("ok", getattr(wl, method)(*args))
        except Exception:  # noqa: BLE001 - reported to the driver
            reply = ("error", traceback.format_exc(limit=3))
        pickle.dump(reply, answers, protocol=pickle.HIGHEST_PROTOCOL)
        answers.flush()


if __name__ == "__main__":
    serve(sys.argv[1], sys.argv[2], int(sys.argv[3]))
