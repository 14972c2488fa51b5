"""Self-test of the benchmark at tiny sizes.

Checks that every metric named in BENCHMARK.json is emitted with its
unit, that each correctness gate trips on one corrupted record, window
or row, and that the stream generator reports its lateness. Run from
the checkout root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import datetime as dt
import itertools
import json
import os
import subprocess
import sys
import uuid

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, dashboard, ingest, inputs, run, stream  # noqa: E402


class SerialPool:
    """In-process stand-in for the generation workers."""

    n = 1

    def starmap(self, fn, jobs):
        return list(itertools.starmap(fn, jobs))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# --- gates -----------------------------------------------------------------


def _ship(out_dir: str, records: list[dict]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "shard-000.jsonl"), "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")


@pytest.fixture(scope="module")
def tree(tmp_path_factory):
    return inputs.log_tree(str(tmp_path_factory.mktemp("cache")), 7, 8, 20, SerialPool())


def _wire(tree) -> list[dict]:
    return [
        {"PartitionKey": uuid.uuid4().hex, "Data": inputs.wire_data(r)}
        for r in inputs.expected_wire_records(tree.root)
    ]


def test_ingest_gate_passes_a_faithful_shipment(tree, tmp_path):
    _ship(str(tmp_path), _wire(tree))
    assert ingest.gate(str(tmp_path), tree) == []


def test_ingest_gate_compares_decoded_records_not_bytes(tree, tmp_path):
    records = _wire(tree)
    data = json.loads(records[0]["Data"])
    records[0]["Data"] = json.dumps(dict(reversed(list(data.items()))))
    _ship(str(tmp_path), records)
    assert ingest.gate(str(tmp_path), tree) == []


@pytest.mark.parametrize("corruption", ["field", "key", "missing", "duplicate"])
def test_ingest_gate_trips_on_one_corrupted_record(tree, tmp_path, corruption):
    records = _wire(tree)
    if corruption == "field":
        data = json.loads(records[3]["Data"])
        data["http_status"] = "999"
        records[3]["Data"] = inputs.wire_data(data)
    elif corruption == "key":
        records[3]["PartitionKey"] = "not-a-hex-key"
    elif corruption == "missing":
        del records[3]
    else:
        records.append(records[3])
    _ship(str(tmp_path), records)
    assert ingest.gate(str(tmp_path), tree)


@pytest.fixture(scope="module")
def schedule(tmp_path_factory):
    return inputs.stream_input(
        str(tmp_path_factory.mktemp("cache")), 7, "live", 400, 2000.0, SerialPool()
    )


def _window_updates(counts: dict) -> list[dict]:
    out = []
    for (ws, ip), n in counts.items():
        start = dt.datetime.fromtimestamp(ws, dt.timezone.utc)
        data = {
            "window_start": start.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "window_end": (start + dt.timedelta(minutes=1)).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "src_ip": ip,
            "n_events": n,
        }
        out.append({"PartitionKey": uuid.uuid4().hex, "Data": json.dumps(data)})
    return out


def test_stream_gate_takes_the_final_update_per_window(schedule, tmp_path):
    counts = stream.twin_counts([schedule])
    earlier = {k: n - 1 for k, n in counts.items() if n > 1}
    _ship(str(tmp_path), _window_updates(earlier) + _window_updates(counts))
    assert stream.gate(str(tmp_path), [schedule], []) == []


def test_stream_gate_trips_on_one_wrong_window(schedule, tmp_path):
    counts = stream.twin_counts([schedule])
    key = next(iter(counts))
    counts[key] += 1
    _ship(str(tmp_path), _window_updates(counts))
    assert stream.gate(str(tmp_path), [schedule], [])


def test_stream_gate_trips_on_a_missing_window(schedule, tmp_path):
    counts = stream.twin_counts([schedule])
    del counts[next(iter(counts))]
    _ship(str(tmp_path), _window_updates(counts))
    assert stream.gate(str(tmp_path), [schedule], [])


def test_stream_gate_trips_on_a_watermark_drop(schedule, tmp_path):
    _ship(str(tmp_path), _window_updates(stream.twin_counts([schedule])))
    progress = [{"stateOperators": [{"numRowsDroppedByWatermark": 1}]}]
    assert stream.gate(str(tmp_path), [schedule], progress)


def test_dashboard_gate_trips_on_one_wrong_row():
    normalize = dashboard._normalize()
    want = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.25, 3.0]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert dashboard.gate("q", got, want, normalize) is None
    got.loc[1, "v"] = 2.26
    assert dashboard.gate("q", got, want, normalize)
    assert dashboard.gate("q", got.iloc[:2], want, normalize)


# --- generator -------------------------------------------------------------


def test_generator_reports_its_lateness_and_writes_whole_records(schedule, tmp_path):
    import numpy as np

    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import FakeShardClient

    log_path = str(tmp_path / "log.npz")
    fake = tmp_path / "fake"
    fake.mkdir()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "streamgen.py"),
         schedule.root, str(fake), str(schedule.rate), log_path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    assert gen.stdout.readline().strip() == "ready"
    gen.stdin.write("go\n")
    gen.stdin.flush()
    assert gen.wait(timeout=60) == 0
    log = dict(np.load(log_path))
    report = stream.generator_report(log, schedule)
    assert report["gen.records"] == schedule.n
    assert report["gen.late_ms_max"] >= 0
    assert 0 < report["gen.out_of_order_s_max"] < inputs.LATE_MAX_S
    client = FakeShardClient(str(fake))
    lines = schedule.lines()
    for shard in client.list_shards():
        s = int(shard.rsplit("-", 1)[1])
        got, _ = client.read_from(shard, 0)
        want = [k for k in range(schedule.n) if schedule.shard[k] == s]
        assert [seq for seq, _ in got] == [int(log["line"][k]) for k in want]
        assert [rec for _, rec in got] == [json.loads(lines[k]) for k in want]


# --- every metric, end to end ----------------------------------------------


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Tiny workloads, temporary files kept under ``tmp_path``, and the
    traced run's untraced twin run in-process."""
    monkeypatch.setattr(common, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(ingest, "FILES", 8)
    monkeypatch.setattr(ingest, "ROWS", 20)
    monkeypatch.setattr(ingest, "DIRECT_RECORDS", 200)
    monkeypatch.setattr(stream, "DRAIN_RECORDS", 200)
    monkeypatch.setattr(stream, "LIVE_RATE", 200)
    monkeypatch.setattr(stream, "ADMISSION_CAP", 10)
    monkeypatch.setattr(dashboard, "SCALE", 0.001)

    def untraced(args):
        return _run(argparse.Namespace(**{**vars(args), "trace": 0}), tmp_path)["metrics"]

    monkeypatch.setattr(run, "_untraced_twin", untraced)
    env = dict(os.environ)
    yield tmp_path
    os.environ.clear()
    os.environ.update(env)


def _run(args, tmp_path) -> dict:
    run_dir = tmp_path / f"run-{args.workload}-{args.trace}"
    run_dir.mkdir()
    common.pin_environment(str(run_dir))
    return run.run(args, str(run_dir))


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(tiny, workload, trace):
    args = argparse.Namespace(workload=workload, seed=3, seconds=1.0, trace=trace)
    result = _run(args, tiny)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    named = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == named
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert os.path.exists(
            os.path.join(common.WORK, "traces", f"{workload}-s3.jsonl")
        )
