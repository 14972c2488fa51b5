"""Sink-retry semantics against a fake PutRecords client (FIXTURES.md §A3).

Exercises the reference semantics (cloudfront_kinesis_lambda.py:122-146):
500-chunking, positional failure matching, rekeying, attempt increments,
backoff schedule, give-up after max attempts.
"""

from __future__ import annotations

import pytest

from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import (
    MAX_RECORDS_PER_PUT,
    KinesisSink,
    chunked,
    put_records_with_retry,
)


class FakeKinesis:
    """Scriptable put_records: fail_plan[i] = set of record indices that
    fail on the i-th call touching any batch (positional, like the API)."""

    def __init__(self, fail_plan=None, throughput_exceeded_first_n=0):
        self.calls = []
        self.fail_plan = list(fail_plan or [])
        self.throughput_exceeded_first_n = throughput_exceeded_first_n

    def put_records(self, StreamName, Records):
        self.calls.append((StreamName, [dict(r) for r in Records]))
        call_idx = len(self.calls) - 1
        fail_idx = set()
        if call_idx < len(self.fail_plan):
            fail_idx = {i for i in self.fail_plan[call_idx] if i < len(Records)}
        elif call_idx < self.throughput_exceeded_first_n:
            fail_idx = set(range(len(Records)))
        results = [
            {"ErrorCode": "ProvisionedThroughputExceededException",
             "ErrorMessage": "Rate exceeded"}
            if i in fail_idx
            else {"SequenceNumber": str(i), "ShardId": "shardId-0"}
            for i in range(len(Records))
        ]
        return {"FailedRecordCount": len(fail_idx), "Records": results}


def recs(n, start=0):
    return [{"Data": f"d{i}", "PartitionKey": f"k{i:032d}"} for i in range(start, start + n)]


def test_chunking_500():
    chunks = list(chunked(iter(range(1203)), MAX_RECORDS_PER_PUT))
    assert [len(c) for c in chunks] == [500, 500, 203]


def test_happy_path_no_retry():
    client = FakeKinesis()
    stats = put_records_with_retry(recs(1203), client, "prod-logs", sleep=lambda s: None)
    assert [len(r) for _, r in client.calls] == [203, 500, 500] or [
        len(r) for _, r in client.calls
    ] == [500, 500, 203]
    assert all(name == "prod-logs" for name, _ in client.calls)
    assert stats.records == 1203 and stats.retried_records == 0 and stats.dropped_records == 0


def test_partial_failure_retries_only_failed_and_rekeys():
    # first call: records 1 and 3 fail; second call: all succeed
    client = FakeKinesis(fail_plan=[{1, 3}])
    sleeps = []
    stats = put_records_with_retry(recs(5), client, "prod-logs", sleep=sleeps.append)
    assert len(client.calls) == 2
    retried = client.calls[1][1]
    assert [r["Data"] for r in retried] == ["d1", "d3"]  # positional match
    # rekeyed: fresh 32-hex keys, different from originals
    for r in retried:
        assert len(r["PartitionKey"]) == 32 and r["PartitionKey"] != f"k{r['Data'][1:]:>032}"
    assert sleeps == [pytest.approx(0.2)]  # attempt=1 → 2**1 * 0.1
    assert stats.retried_records == 2 and stats.dropped_records == 0


def test_backoff_schedule_and_attempt_increment():
    # same record keeps failing 4 times, then succeeds
    client = FakeKinesis(fail_plan=[{0}, {0}, {0}, {0}])
    sleeps = []
    put_records_with_retry(recs(1), client, "prod-logs", sleep=sleeps.append)
    assert sleeps == [pytest.approx(x) for x in (0.2, 0.4, 0.8, 1.6)]
    assert len(client.calls) == 5


def test_gives_up_after_max_attempts():
    client = FakeKinesis(throughput_exceeded_first_n=10**6)  # always fails
    stats = put_records_with_retry(
        recs(3), client, "prod-logs", max_attempts=4, sleep=lambda s: None
    )
    assert len(client.calls) == 4  # attempts 0..3, then dropped
    assert stats.dropped_records == 3


def test_sink_through_spark_partitions(spark):
    """End-to-end through foreachPartition with an executor-side fake.

    The fake client can't round-trip through Spark's closure pickling with
    shared state, so we count via side-effect files."""
    import glob
    import json
    import os
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="fake-kinesis-")

    class FileKinesis:
        def put_records(self, StreamName, Records):
            path = os.path.join(out_dir, f"{os.getpid()}-{id(self)}-{len(os.listdir(out_dir))}.json")
            with open(path, "w") as f:
                json.dump({"stream": StreamName, "n": len(Records)}, f)
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    df = spark.createDataFrame(
        [(f"d{i}", f"{i:032d}") for i in range(1250)], "Data string, PartitionKey string"
    )
    sink = KinesisSink("prod-logs", parallelism=4, client_factory=FileKinesis)
    sink.write(df)
    shipped = [json.load(open(p)) for p in glob.glob(f"{out_dir}/*.json")]
    assert sum(s["n"] for s in shipped) == 1250
    assert all(s["stream"] == "prod-logs" for s in shipped)
    assert all(s["n"] <= MAX_RECORDS_PER_PUT for s in shipped)


def test_streams_lazily_first_put_before_iterator_exhausted():
    """Round 1 regression (VERDICT): the retry loop materialized every
    chunk up front (`[(chunk, 0) for chunk in chunked(...)]`), holding
    the whole partition in memory. Chunks must now be pulled lazily —
    the first put_records happens after exactly one batch is consumed."""
    consumed = []
    puts_at = []

    class ProbeKinesis:
        def put_records(self, StreamName, Records):
            puts_at.append(len(consumed))
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    def gen(n):
        for i in range(n):
            consumed.append(i)
            yield {"Data": f"d{i}", "PartitionKey": f"k{i:032d}"}

    put_records_with_retry(gen(1250), ProbeKinesis(), "prod-logs", sleep=lambda s: None)
    # first put fired after 500 records consumed, not after all 1250
    assert puts_at[0] == 500
    assert puts_at == [500, 1000, 1250]


def test_lazy_retry_interleaves_with_fresh_chunks():
    """Retries drain before the next fresh chunk is pulled; total memory
    is one in-flight batch + failed records, never the partition."""
    client = FakeKinesis(fail_plan=[{0}])  # first batch: record 0 fails
    stats = put_records_with_retry(
        recs(12), client, "prod-logs", sleep=lambda s: None, batch_size=5
    )
    # call order: batch0(fail rec0) → retry(1 rec) → batch1 → batch2
    assert [len(r) for _, r in client.calls] == [5, 1, 5, 2]
    assert stats.records == 13 and stats.retried_records == 1


def test_concurrent_puts_overlap_in_flight():
    """io-overlap path (reference: 25 concurrent in-flight put_records):
    two puts must be in flight simultaneously — each call blocks on a
    2-party barrier that only a concurrent second call can release."""
    import threading

    barrier = threading.Barrier(2, timeout=10)

    class BarrierKinesis:
        def put_records(self, StreamName, Records):
            barrier.wait()  # deadlocks (then raises) unless 2 calls overlap
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    stats = put_records_with_retry(
        recs(20), BarrierKinesis(), "prod-logs",
        sleep=lambda s: None, batch_size=5, concurrency=2,
    )
    assert stats.records == 20 and stats.batches == 4


def test_concurrent_path_retry_and_drop_semantics():
    """Threaded path keeps the retry contract: positional matching,
    rekey, attempt cap → drop."""
    import threading

    calls = []
    lock = threading.Lock()

    class FlakyKinesis:
        def put_records(self, StreamName, Records):
            with lock:
                calls.append(len(Records))
            # every record of every batch fails forever
            return {
                "FailedRecordCount": len(Records),
                "Records": [
                    {"ErrorCode": "ProvisionedThroughputExceededException"}
                    for _ in Records
                ],
            }

    stats = put_records_with_retry(
        recs(10), FlakyKinesis(), "prod-logs",
        max_attempts=3, sleep=lambda s: None, batch_size=5, concurrency=4,
    )
    assert stats.dropped_records == 10
    assert stats.batches == 6  # 2 chunks × attempts 0,1,2
    assert stats.attempts_histogram == {0: 2, 1: 2, 2: 2}


def test_concurrency_overlaps_put_latency():
    """Measured: with a 40 ms-latency data plane, 4-way in-partition
    concurrency must beat sequential by a wide margin (reference
    rationale: 25 asyncio workers existed to hide PutRecords latency)."""
    import time as _time

    class SlowKinesis:
        def put_records(self, StreamName, Records):
            _time.sleep(0.04)
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    def run(conc):
        t0 = _time.perf_counter()
        put_records_with_retry(
            recs(8 * 100), SlowKinesis(), "s",
            sleep=lambda s: None, batch_size=100, concurrency=conc,
        )
        return _time.perf_counter() - t0

    seq = run(1)   # 8 puts × 40 ms ≈ 320 ms
    par = run(4)   # ≈ 2 waves ≈ 80-120 ms
    assert par < seq / 1.5


class FakeSTS:
    """assume_role stub: hands out numbered keys with a scriptable
    expiration per grant."""

    def __init__(self, expirations):
        self.expirations = list(expirations)
        self.calls = 0

    def assume_role(self, RoleArn, RoleSessionName, DurationSeconds):
        exp = self.expirations[min(self.calls, len(self.expirations) - 1)]
        self.calls += 1
        return {
            "Credentials": {
                "AccessKeyId": f"AKID{self.calls}",
                "SecretAccessKey": f"SECRET{self.calls}",
                "SessionToken": f"TOKEN{self.calls}",
                "Expiration": exp,
            }
        }


def test_assume_role_factory_caches_and_refreshes():
    """Reference parity (cloudfront_kinesis_lambda.py:57-71): the
    factory assumes once, reuses the grant while it is valid, and
    re-assumes when the grant is within the refresh margin — the fresh
    keys reaching the Kinesis client factory."""
    from datetime import datetime, timedelta, timezone

    from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import (
        AssumeRoleClientFactory,
    )

    now = datetime.now(timezone.utc)
    sts = FakeSTS([now + timedelta(hours=1), now + timedelta(hours=2)])
    seen_keys = []
    factory = AssumeRoleClientFactory(
        "arn:aws:iam::000000000000:role/writer",
        sts_client_factory=lambda: sts,
        kinesis_client_factory=lambda c: seen_keys.append(c["AccessKeyId"])
        or FakeKinesis(),
    )
    factory(); factory()
    assert sts.calls == 1 and seen_keys == ["AKID1", "AKID1"]
    # age the grant into the refresh margin → next call re-assumes
    factory._creds["Expiration"] = now + timedelta(seconds=10)
    factory()
    assert sts.calls == 2 and seen_keys[-1] == "AKID2"


def test_assume_role_factory_never_pickles_grant():
    """The cached grant is process-local: a pickled factory (what Spark
    ships to executors) arrives credential-less and re-assumes there."""
    from datetime import datetime, timedelta, timezone

    from pyspark import cloudpickle as pickle  # what Spark actually uses

    from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import (
        AssumeRoleClientFactory,
    )

    sts = FakeSTS([datetime.now(timezone.utc) + timedelta(hours=1)])
    factory = AssumeRoleClientFactory(
        "arn:aws:iam::000000000000:role/writer",
        sts_client_factory=lambda: sts,
        kinesis_client_factory=lambda c: FakeKinesis(),
    )
    factory()
    assert factory._creds is not None
    clone = pickle.loads(pickle.dumps(factory))
    assert clone._creds is None


def test_sink_with_assume_role_factory_delivers(spark, tmp_path):
    """End to end through the sink seam: KinesisSink(client_factory=
    AssumeRoleClientFactory(...)) ships every record using STS-derived
    clients (file-backed data plane, one client per partition)."""
    import json
    from datetime import datetime, timedelta, timezone
    from glob import glob

    from cloudfront_kinesis_log_lambda_spark.sinks.kinesis import (
        AssumeRoleClientFactory,
    )
    from cloudfront_kinesis_log_lambda_spark.sources.kinesis import (
        FakeKinesisDataPlane,
    )

    out_dir = str(tmp_path / "plane")

    class LocalSTS:  # function-local → cloudpickle ships it by value
        def assume_role(self, RoleArn, RoleSessionName, DurationSeconds):
            return {
                "Credentials": {
                    "AccessKeyId": "AKID",
                    "SecretAccessKey": "SECRET",
                    "SessionToken": "TOKEN",
                    "Expiration": datetime.now(timezone.utc)
                    + timedelta(hours=1),
                }
            }

    factory = AssumeRoleClientFactory(
        "arn:aws:iam::000000000000:role/writer",
        sts_client_factory=LocalSTS,
        kinesis_client_factory=lambda c: FakeKinesisDataPlane(out_dir, n_shards=2),
    )
    df = spark.createDataFrame(
        [(f"d{i}", f"k{i}") for i in range(40)], "Data string, PartitionKey string"
    )
    KinesisSink("cross", parallelism=4, client_factory=factory).write(df)
    got = sorted(
        json.loads(line)["Data"]
        for p in glob(f"{out_dir}/shard-*.jsonl")
        for line in open(p)
    )
    assert got == sorted(f"d{i}" for i in range(40))


# --- sink shape: shipping tasks, clients and put sizes ----------------------


def _counting_factory(out_dir):
    """Client factory whose every client leaves a file, and whose every
    put appends its size to that file. Function-local classes, so
    cloudpickle ships them to the executors by value."""
    import os
    import uuid

    class CountingKinesis:
        def __init__(self):
            self.path = os.path.join(out_dir, f"client-{uuid.uuid4().hex}")
            open(self.path, "w").close()

        def put_records(self, StreamName, Records):
            with open(self.path, "a") as f:
                f.write(f"{len(Records)}\n")
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

    return CountingKinesis


def _puts_per_client(out_dir):
    import glob

    return [
        [int(line) for line in open(p)]
        for p in sorted(glob.glob(f"{out_dir}/client-*"))
    ]


def _wire(spark, n, partitions):
    return spark.createDataFrame(
        [(f"d{i}", f"{i:032d}") for i in range(n)], "Data string, PartitionKey string"
    ).repartition(partitions)


def test_sink_parallelism_caps_shipping_tasks(spark, tmp_path):
    """16 input partitions, parallelism=2: the partitions are coalesced
    into exactly two shipping tasks, one client each, and every row ships."""
    df = _wire(spark, 400, 16)
    assert df.rdd.getNumPartitions() == 16
    stats = KinesisSink(
        "s", parallelism=2, client_factory=_counting_factory(str(tmp_path))
    ).write(df)
    puts = _puts_per_client(str(tmp_path))
    assert len(puts) == 2
    assert sum(map(sum, puts)) == 400
    assert stats.records == 400 and stats.batches == sum(map(len, puts))


def test_sink_default_never_adds_tasks(spark, tmp_path):
    """The default (one task per core) is an upper bound, not a fan-out:
    a 3-partition input builds at most 3 clients."""
    df = _wire(spark, 90, 3)
    stats = KinesisSink("s", client_factory=_counting_factory(str(tmp_path))).write(df)
    puts = _puts_per_client(str(tmp_path))
    assert 1 <= len(puts) <= 3
    assert sum(map(sum, puts)) == 90 == stats.records


def test_sink_puts_span_arrow_batches(spark, tmp_path):
    """One partition of 1250 rows arriving in 300-row Arrow batches still
    goes out as full 500-record puts."""
    df = _wire(spark, 1250, 1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        KinesisSink("s", client_factory=_counting_factory(str(tmp_path))).write(df)
    finally:
        spark.conf.set(key, old)
    assert _puts_per_client(str(tmp_path)) == [[500, 500, 250]]


def test_sink_write_reports_dropped_records(spark):
    """Records given up on after max_attempts are not lost silently:
    write() returns them in the merged stats."""

    class RejectAll:
        def put_records(self, StreamName, Records):
            return {
                "FailedRecordCount": len(Records),
                "Records": [
                    {"ErrorCode": "ProvisionedThroughputExceededException"}
                    for _ in Records
                ],
            }

    stats = KinesisSink(
        "s", parallelism=2, max_attempts=2, client_factory=RejectAll
    ).write(_wire(spark, 30, 2))
    assert stats.dropped_records == 30
    assert stats.records == 60 and stats.retried_records == 60
    assert stats.batches == 4  # two tasks × attempts 0 and 1
