"""Summary math and leak check of tools/bench_pairs.py (no Spark)."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "bench_pairs", Path(__file__).resolve().parents[1] / "tools" / "bench_pairs.py"
)
bench_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_pairs)


def test_parse_seeds():
    assert bench_pairs.parse_seeds("201-203,207") == [201, 202, 203, 207]
    assert bench_pairs.parse_seeds("5") == [5]


def test_quartiles_inclusive():
    assert bench_pairs.quartiles([4.0, 1.0, 3.0, 2.0, 5.0]) == (2.0, 3.0, 4.0)
    assert bench_pairs.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert bench_pairs.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_summarize_wins_follow_direction_and_ties_count_for_neither():
    pairs = [
        ({"lat": 10.0, "rps": 100.0}, {"lat": 8.0, "rps": 120.0}),
        ({"lat": 12.0, "rps": 100.0}, {"lat": 12.0, "rps": 90.0}),  # tie / loss
        ({"lat": 11.0, "rps": 100.0}, {"lat": 13.0, "rps": 100.0}),  # loss / tie
        ({"lat": 14.0, "rps": 100.0}, {"lat": 9.0, "rps": 130.0}),
    ]
    got = bench_pairs.summarize(pairs, {"lat": "lower", "rps": "higher"})
    assert (got["lat"]["wins"], got["lat"]["losses"], got["lat"]["pairs"]) == (2, 1, 4)
    assert (got["rps"]["wins"], got["rps"]["losses"]) == (2, 1)
    assert got["lat"]["parent"] == (10.75, 11.5, 12.5)
    assert got["lat"]["change"] == (8.75, 10.5, 12.25)


def test_summarize_gap_against_parent_iqr():
    parent = [10.0, 11.0, 12.0, 13.0, 14.0]  # quartiles 11/12/13: IQR 2
    far = [(({"m": p}), {"m": p - 3.0}) for p in parent]  # medians 3 apart
    near = [(({"m": p}), {"m": p - 1.0}) for p in parent]  # 1 apart
    assert bench_pairs.summarize(far, {"m": "lower"})["m"]["beyond_parent_iqr"]
    assert not bench_pairs.summarize(near, {"m": "lower"})["m"]["beyond_parent_iqr"]


def test_summarize_skips_metrics_missing_from_any_run():
    pairs = [({"a": 1.0, "b": 2.0}, {"a": 1.0}), ({"a": 2.0, "b": 2.0}, {"a": 1.0, "b": 1.0})]
    assert set(bench_pairs.summarize(pairs, {"a": "lower", "b": "lower"})) == {"a"}
    assert bench_pairs.summarize([], {"a": "lower"}) == {}


@pytest.mark.parametrize("direction", ["lower", "higher"])
def test_format_summary_lists_every_metric(direction):
    pairs = [({"m": 2.0}, {"m": 1.0}), ({"m": 4.0}, {"m": 3.0})]
    text = bench_pairs.format_summary(bench_pairs.summarize(pairs, {"m": direction}))
    line = text.splitlines()[1]
    assert line.startswith("m ") and "-33.3%" in line
    assert ("2/2" if direction == "lower" else "0/2") in line


def test_run_one_returns_the_last_stdout_line(tmp_path):
    script = "print('noise'); print('{\"failed\": 0}')"
    result, outlived = bench_pairs.run_one(str(tmp_path), [sys.executable, "-c", script])
    assert result == {"failed": 0} and outlived == 0.0


def test_run_one_fails_on_a_process_left_behind(tmp_path, monkeypatch):
    """A child that moves to its own session (as Spark's Python daemon
    does) and outlives the run is found through the inherited token,
    killed, and fails the run."""
    monkeypatch.setattr(bench_pairs, "LEAK_GRACE_S", 0.5)
    script = (
        "import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
        "'import time; time.sleep(60)'], start_new_session=True); print('{}')"
    )
    with pytest.raises(SystemExit, match="LEAK: 1 process"):
        bench_pairs.run_one(str(tmp_path), [sys.executable, "-c", script])
