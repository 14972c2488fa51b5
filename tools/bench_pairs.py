"""Paired benchmark runs of two revisions, one workload, alternating.

    python3 tools/bench_pairs.py --workload pipeline --seeds 201-210 \\
        [--parent REV] [--change REV|WORKTREE] [--trace 0|1] [--workdir DIR]

Each side's files are laid out once, in a fresh directory of their own:
``git archive`` of a revision, or, for ``WORKTREE`` (the default
``--change``), the checkout's tracked and untracked-but-not-ignored
files. That is how a side is run when the benchmark is checked, and it
keeps both sides off the working checkout, whose inputs cache and page
cache would otherwise favour one side. ``--parent`` defaults to ``HEAD``.

For every seed the two sides run ``BENCHMARK.json``'s command with its
``run_seconds``, one run at a time, alternating which side goes first.
Each run's environment carries a token of its own, which every process
it starts inherits; once the run exits, any process still carrying the
token is reported, and if one is still alive after ``LEAK_GRACE_S`` the
script kills it and fails. The summary gives, per metric, each side's
median and quartiles, the number of pairs the change won (ties count for
neither) and whether the gap between the medians exceeds the parent's
interquartile range. Every run's result is appended to
``<workdir>/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the environment variable whose value marks every process of one run
TOKEN_VAR = "BENCH_PAIRS_RUN"
#: seconds a run's processes may outlive it before the run counts as leaking
LEAK_GRACE_S = 10.0


def parse_seeds(text: str) -> list[int]:
    """``"201-203,207"`` → ``[201, 202, 203, 207]``."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), inclusive method."""
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(
    pairs: list[tuple[dict[str, float], dict[str, float]]],
    better: dict[str, str],
) -> dict[str, dict]:
    """Per metric of ``better`` ("lower" or "higher") present on both
    sides of every pair: each side's quartiles, the change's wins and
    losses, and whether the medians differ by more than the parent's
    interquartile range."""
    out: dict[str, dict] = {}
    for name, direction in better.items():
        if not pairs or any(name not in p or name not in c for p, c in pairs):
            continue
        parent = [p[name] for p, _ in pairs]
        change = [c[name] for _, c in pairs]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
        losses = sum(sign * (p - c) < 0 for p, c in zip(parent, change))
        qp, qc = quartiles(parent), quartiles(change)
        out[name] = {
            "parent": qp,
            "change": qc,
            "wins": wins,
            "losses": losses,
            "pairs": len(pairs),
            "beyond_parent_iqr": abs(qc[1] - qp[1]) > qp[2] - qp[0],
        }
    return out


def format_summary(summary: dict[str, dict]) -> str:
    lines = [
        f"{'metric':<40} {'parent q1/med/q3':>32} {'change q1/med/q3':>32}"
        f" {'change':>8} {'wins':>7}  gap>IQR"
    ]
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        delta = (c[1] - p[1]) / p[1] * 100 if p[1] else float("nan")
        lines.append(
            f"{name:<40} {'/'.join(f'{v:.4g}' for v in p):>32}"
            f" {'/'.join(f'{v:.4g}' for v in c):>32} {delta:>+7.1f}%"
            f" {s['wins']:>3}/{s['pairs']:<3}  {'yes' if s['beyond_parent_iqr'] else 'no'}"
        )
    return "\n".join(lines)


def lay_out(rev: str, dest: str) -> None:
    """Write the files of ``rev`` (or the checkout, for ``WORKTREE``)
    into the new directory ``dest``."""
    os.makedirs(dest)
    if rev == "WORKTREE":
        names = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=REPO, check=True, capture_output=True,
        ).stdout.decode().split("\0")
        for name in filter(None, names):
            src = os.path.join(REPO, name)
            if os.path.isfile(src):  # a deleted-but-tracked file is skipped
                os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, name))
        return
    archive = subprocess.run(
        ["git", "archive", "--format=tar", rev], cwd=REPO, check=True,
        capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(dest, filter="data")


def processes_with(token: str) -> dict[int, str]:
    """pid → command line of every process whose environment holds
    ``TOKEN_VAR=token``."""
    needle = f"{TOKEN_VAR}={token}".encode()
    found = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if needle not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                found[int(entry)] = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:  # gone, or not ours
            continue
    return found


def run_one(root: str, cmd: list[str]) -> tuple[dict, float]:
    """Run the benchmark once in ``root``; return its result object and
    the seconds its last process outlived it (0 if none did). Exits the
    script if the run fails or leaves a process behind."""
    token = uuid.uuid4().hex
    env = {**os.environ, TOKEN_VAR: token}
    # output goes to files, not pipes: a process left behind that still
    # holds a pipe would block the read until it exits
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        code = subprocess.run(cmd, cwd=root, env=env, stdout=out, stderr=err).returncode
        ended = time.monotonic()
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    left = processes_with(token)
    outlived = 0.0
    while left and time.monotonic() - ended < LEAK_GRACE_S:
        time.sleep(0.1)
        left = processes_with(token)
        outlived = time.monotonic() - ended
    if left:
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        sys.exit(
            f"LEAK: {len(left)} process(es) of `{' '.join(cmd)}` in {root} still "
            f"alive {LEAK_GRACE_S:.0f} s after it exited (killed now):\n"
            + "\n".join(f"  {pid}: {line[:200]}" for pid, line in left.items())
        )
    if code != 0:
        sys.exit(f"run failed ({code}) in {root}:\n{stderr[-3000:]}")
    return json.loads(stdout.strip().splitlines()[-1]), outlived


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds)
    p.add_argument("--parent", default="HEAD")
    p.add_argument("--change", default="WORKTREE")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workdir", default=None)
    args = p.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    workdir = args.workdir or tempfile.mkdtemp(prefix="bench-pairs-")
    os.makedirs(workdir, exist_ok=True)
    roots = {}
    for side, rev in (("parent", args.parent), ("change", args.change)):
        roots[side] = os.path.join(workdir, f"{side}-{uuid.uuid4().hex[:8]}")
        lay_out(rev, roots[side])
    print(f"parent {args.parent} → {roots['parent']}\nchange {args.change} → {roots['change']}")

    pairs = []
    failed = {"parent": 0, "change": 0}
    try:
        for i, seed in enumerate(args.seeds):
            cmd = bench["command"] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side], outlived = run_one(roots[side], cmd)
                failed[side] += got[side]["failed"]
                with open(os.path.join(workdir, "runs.jsonl"), "a") as f:
                    f.write(json.dumps(
                        {"side": side, "seed": seed, "outlived_s": outlived, **got[side]}
                    ) + "\n")
                print(f"seed {seed} {side}: failed {got[side]['failed']}, "
                      f"processes outlived the run by {outlived:.1f} s", flush=True)
            pairs.append(tuple(
                {k: m["value"] for k, m in got[side]["metrics"].items()}
                for side in ("parent", "change")
            ))
    finally:
        for root in roots.values():
            shutil.rmtree(root, ignore_errors=True)
    print(format_summary(summarize(pairs, better)))
    print(f"failed operations: parent {failed['parent']}, change {failed['change']}; "
          f"results in {workdir}/runs.jsonl")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
