"""Open-loop load generator for the live part of the stream leg.

A separate single-threaded process. It loads a pre-generated schedule of
wire records, prints ``ready``, waits for ``go`` on stdin, then appends
record ``i`` to its fake shard file (after any records already there)
when ``i / rate`` seconds have passed, whether or not the query keeps
up. At exit it saves, per record, the line it landed on, when it was
due and when it was written.

Appends never let a record straddle a page boundary (the gap is padded
with blank lines, which the fake shard reader skips but counts as
sequence numbers): a reader of a file being appended to then only ever
sees whole lines, because the kernel publishes an append page by page.

Usage: python3 perfbench/streamgen.py <records_dir> <fake_dir> <rate> <log.npz>
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

PAGE = 4096


class ShardFile:
    """An append-only fake shard file and its line counter."""

    def __init__(self, path: str) -> None:
        with open(path, "ab+") as f:  # lines already in the shard
            f.seek(0)
            data = f.read()
        self.fd = os.open(path, os.O_WRONLY | os.O_APPEND)
        self.offset = len(data)
        self.lines = data.count(b"\n")

    def append(self, lines: list[str]) -> list[int]:
        """Append records in one write; returns their line indices."""
        buf = bytearray()
        at = []
        for line in lines:
            data = (line + "\n").encode()
            room = PAGE - (self.offset + len(buf)) % PAGE
            if room < len(data) <= PAGE:
                buf += b"\n" * room
                self.lines += room
            at.append(self.lines)
            self.lines += 1
            buf += data
        view = memoryview(buf)
        while view:
            view = view[os.write(self.fd, view):]
        self.offset += len(buf)
        return at


def main(records_dir: str, fake_dir: str, rate: float, log_path: str) -> None:
    meta = np.load(os.path.join(records_dir, "meta.npz"))
    shard = meta["shard"]
    with open(os.path.join(records_dir, "records.jsonl")) as f:
        lines = f.read().splitlines()
    files = {
        s: ShardFile(os.path.join(fake_dir, f"shard-{s:03d}.jsonl"))
        for s in sorted(set(shard.tolist()))
    }
    n = len(lines)
    due = np.arange(n) / rate
    line_at = np.zeros(n, dtype=np.int64)
    written = np.zeros(n)
    print("ready", flush=True)
    if sys.stdin.readline().strip() != "go":
        return
    t0 = time.time()
    i = 0
    while i < n:
        now = time.time() - t0
        j = int(np.searchsorted(due, now, side="right"))
        if j == i:
            time.sleep(min(due[i] - now, 0.002))
            continue
        for s, f in files.items():
            idx = [k for k in range(i, j) if shard[k] == s]
            if idx:
                for k, at in zip(idx, f.append([lines[k] for k in idx])):
                    line_at[k] = at
        written[i:j] = time.time()
        i = j
    for f in files.values():
        os.close(f.fd)
    np.savez(log_path, t0=t0, due=t0 + due, written=written, line=line_at, shard=shard)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), sys.argv[4])
