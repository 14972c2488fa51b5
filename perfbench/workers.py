"""Input generation in parallel child processes, over plain pipes.

Each job runs in a child Python process that reads one pickled
``(module, function, args)`` from stdin and writes the pickled result to
stdout. There is no shared memory and no helper process, so nothing is
written outside the checkout, and every child is waited for. Children
start only when some input has to be generated.

Used as ``python3 -m perfbench.workers`` by :class:`Workers` only.
"""

from __future__ import annotations

import importlib
import os
import pickle
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Workers:
    """``starmap`` over at most ``n`` child processes at a time."""

    def __init__(self, n: int) -> None:
        self.n = n

    def starmap(self, fn, jobs) -> list:
        jobs, out = list(jobs), []
        for i in range(0, len(jobs), self.n):
            procs = []
            for args in jobs[i : i + self.n]:
                p = subprocess.Popen(
                    [sys.executable, "-m", "perfbench.workers"],
                    stdin=subprocess.PIPE, stdout=subprocess.PIPE, cwd=ROOT,
                )
                p.stdin.write(pickle.dumps((fn.__module__, fn.__name__, args)))
                p.stdin.close()
                procs.append(p)
            for p in procs:
                data = p.stdout.read()
                p.stdout.close()
                if p.wait() != 0:
                    raise RuntimeError(f"input generation job failed: {fn.__name__}")
                out.append(pickle.loads(data))
        return out


if __name__ == "__main__":
    module, name, args = pickle.load(sys.stdin.buffer)
    pickle.dump(getattr(importlib.import_module(module), name)(*args), sys.stdout.buffer)
