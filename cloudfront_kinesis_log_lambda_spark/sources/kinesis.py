"""Kinesis source as a PySpark (Spark 4) Python DataSource.

The reference only ever *writes* to Kinesis (`put_records`,
cloudfront_kinesis_lambda.py:122); the analytics engine also needs to
*read* the stream back (north star: "Structured Streaming + Kinesis
source"). SURVEY.md §4 called the Python DataSource API the one genuine
Spark-extension candidate — this module is it:

- ``KinesisPyDataSource`` registers format ``kinesis_py`` for BOTH
  ``spark.read`` (bounded replay of a stream) and ``spark.readStream``
  (incremental micro-batches with offsets in the checkpoint log).
- Batch reads are one ``InputPartition`` per shard, fetched on the
  executors — shard count is the parallelism unit, exactly like the
  real connector.
- The streaming side has BOTH stream-reader tiers of the DataSource
  API, and the shard client picks between them. A client with the
  shard-tip pair (``latest_position`` + ``bound_advance``; the
  file-backed fake) gets the partitioned ``DataSourceStreamReader``:
  the driver only plans {shard → (start, end)} ranges; record bytes
  flow on the EXECUTORS, one task per shard — the 100 TB shape. A
  client without it (boto3: AWS's API has no O(1) shard tip) gets the
  ``SimpleDataSourceStreamReader`` (driver-side prefetch +
  ``readBetweenOffsets`` replay), the right fit at moderate
  throughput. Offsets ({shard → position token}) are identical in
  both tiers, so a checkpoint survives switching.

The wire protocol is injected: ``ShardClient`` is a tiny protocol with a
deterministic file-backed implementation (``fake_dir`` option) used by
tests, and a boto3 implementation behind a lazy import for production
(AWS SDK access isn't assumed in this environment — the Spark-side
plumbing, schema, partitioning, and offset handling are the real,
tested surface).

Offset protocol (client-agnostic by construction): a shard *position* is
an opaque JSON-serializable token owned by the client — the reader never
does arithmetic or ordering on it. Each client exposes

- ``initial_position`` — the "beginning of shard" token,
- ``read_from(shard, pos, limit) -> (records, next_pos)`` — records
  strictly after ``pos`` plus the token to resume from,
- ``read_between(shard, start, end)`` — deterministic replay of exactly
  the records a ``read_from(start)`` that returned ``next_pos == end``
  produced (checkpoint recovery).

For the fake, tokens are line indices (next unread line); for boto3 they
are Kinesis sequence-number strings (last consumed, used with
AFTER_SEQUENCE_NUMBER) with ``None`` meaning TRIM_HORIZON.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.types import StructType

#: output schema: one row per Kinesis record. Data is the UTF-8 payload
#: (the reference's JSON wire record); SequenceNumber orders within a shard.
KINESIS_SCHEMA = "ShardId string, SequenceNumber string, PartitionKey string, Data string"


class FakeShardClient:
    """Deterministic file-backed stand-in for the Kinesis data-plane API.

    A "stream" is a directory of ``shard-*.jsonl`` files; each line is a
    record ``{"PartitionKey": ..., "Data": ...}``; a record's sequence
    number is its line index. Append-only files model an open shard.

    Position token: the index of the next unread line (0 = beginning).
    """

    initial_position: int = 0

    def __init__(self, fake_dir: str) -> None:
        self.fake_dir = fake_dir

    def list_shards(self) -> list[str]:
        return sorted(
            f[: -len(".jsonl")]
            for f in os.listdir(self.fake_dir)
            if f.startswith("shard-") and f.endswith(".jsonl")
        )

    def _scan(
        self,
        shard_id: str,
        start: int,
        stop: int | None,
        limit: int | None,
    ) -> list[tuple[int, dict[str, Any]]]:
        path = os.path.join(self.fake_dir, f"{shard_id}.jsonl")
        if not os.path.exists(path):
            return []
        out: list[tuple[int, dict[str, Any]]] = []
        with open(path) as f:
            for seq, line in enumerate(f):
                if seq < start or not line.strip():
                    continue
                if stop is not None and seq >= stop:
                    break
                out.append((seq, json.loads(line)))
                if limit is not None and len(out) >= limit:
                    break
        return out

    def read_from(
        self, shard_id: str, position: int, limit: int | None = None
    ) -> tuple[list[tuple[int, dict[str, Any]]], int]:
        got = self._scan(shard_id, int(position), None, limit)
        next_pos = got[-1][0] + 1 if got else int(position)
        return got, next_pos

    def read_between(
        self, shard_id: str, start: int, end: int
    ) -> list[tuple[int, dict[str, Any]]]:
        return self._scan(shard_id, int(start), int(end), None)

    def latest_position(self, shard_id: str) -> int:
        """Shard tip (= position after the last record): the line count.
        O(file) here but O(1) in any indexed data plane; this is what
        enables the partitioned stream reader."""
        path = os.path.join(self.fake_dir, f"{shard_id}.jsonl")
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            # every physical line consumes a sequence number (blank lines
            # are skipped as records but still advance the counter in
            # _scan's enumerate), so the tip is the raw line count
            return sum(1 for _ in f)

    def bound_advance(self, shard_id: str, start: int, tip: int, max_records: int) -> int:
        """Clamp a planned (start → tip] range to ≤ max_records — the
        partitioned reader's backpressure knob."""
        return min(int(tip), int(start) + max_records)


class FakeKinesisDataPlane:
    """put_records fake over the same shard-file layout ``FakeShardClient``
    reads — records hash to shards by PartitionKey, like Kinesis. Plug it
    into :class:`sinks.kinesis.KinesisSink` as the ``client_factory`` to
    run the reference's whole write path against local files (importable
    package module, so executors can unpickle it)."""

    def __init__(self, fake_dir: str, n_shards: int = 2) -> None:
        self.fake_dir = fake_dir
        self.n_shards = n_shards
        os.makedirs(fake_dir, exist_ok=True)

    def put_records(self, StreamName: str, Records: list) -> dict:
        import zlib

        # group per shard and append each shard's chunk in ONE write():
        # concurrent shipping tasks (and io_concurrency threads)
        # append to the same files, and single-write appends in O_APPEND
        # mode don't interleave in practice — per-record open/write
        # would both churn syscalls and risk torn lines for large
        # payloads
        by_shard: dict[int, list[str]] = {}
        for r in Records:
            shard = zlib.crc32(r["PartitionKey"].encode()) % self.n_shards
            by_shard.setdefault(shard, []).append(
                json.dumps({"PartitionKey": r["PartitionKey"], "Data": r["Data"]})
            )
        for shard, lines in by_shard.items():
            path = os.path.join(self.fake_dir, f"shard-{shard:03d}.jsonl")
            with open(path, "a") as f:
                f.write("\n".join(lines) + "\n")
        return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}


class Boto3ShardClient:
    """Production client: same protocol over the real data-plane API.

    Position token: the last consumed Kinesis sequence-number string
    (resumed with AFTER_SEQUENCE_NUMBER, which is exclusive); ``None``
    means TRIM_HORIZON. Lazy boto3 import — only executors/driver that
    actually talk to AWS need the SDK.

    ``client`` injects any object speaking the three data-plane calls
    (list_shards / get_shard_iterator / get_records) — the same
    dependency seam as the sink's ``client_factory``, and how the tests
    drive this class through the real API's paging edge cases
    (NextToken shard pages, NextShardIterator chains, closed shards,
    MillisBehindLatest tip detection) without AWS.
    """

    initial_position: None = None

    def __init__(
        self,
        stream_name: str,
        region_name: str | None = None,
        client: Any | None = None,
    ) -> None:
        self.stream_name = stream_name
        self.region_name = region_name
        self._injected = client is not None
        self._client_obj = client  # built lazily when not injected

    @property
    def _client(self) -> Any:
        if self._client_obj is None:
            import boto3  # deferred: not installed/needed for tests

            self._client_obj = boto3.client(
                "kinesis", region_name=self.region_name
            )
        return self._client_obj

    def __getstate__(self) -> dict:
        # PySpark pickles stream readers (and their client) into the
        # executor read function; a live botocore client is unpicklable
        # (SSLContext / thread locals), so an OWNED client is dropped
        # and lazily rebuilt on the other side. Injected clients (test
        # fakes) must be picklable themselves and are kept.
        state = dict(self.__dict__)
        if not self._injected:
            state["_client_obj"] = None
        return state

    def list_shards(self) -> list[str]:
        shards, token = [], None
        while True:
            kw = {"NextToken": token} if token else {"StreamName": self.stream_name}
            resp = self._client.list_shards(**kw)
            shards += [s["ShardId"] for s in resp["Shards"]]
            token = resp.get("NextToken")
            if not token:
                return sorted(shards)

    def _iterate(
        self,
        shard_id: str,
        position: str | None,
        limit: int | None,
        stop_seq: str | None,
    ) -> list[tuple[str, dict[str, Any]]]:
        if position in (0, "0", None):
            it_kw = {"ShardIteratorType": "TRIM_HORIZON"}
        else:
            it_kw = {
                "ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
                "StartingSequenceNumber": str(position),
            }
        iterator = self._client.get_shard_iterator(
            StreamName=self.stream_name, ShardId=shard_id, **it_kw
        )["ShardIterator"]
        # Kinesis sequence numbers are decimal strings of a 128-bit
        # counter — numeric comparison (NOT lexicographic) is the
        # documented ordering, used only for the replay stop bound.
        stop = int(stop_seq) if stop_seq is not None else None
        out: list[tuple[str, dict[str, Any]]] = []
        while iterator:
            resp = self._client.get_records(ShardIterator=iterator, Limit=1000)
            for r in resp["Records"]:
                if stop is not None and int(r["SequenceNumber"]) > stop:
                    return out
                out.append(
                    (
                        r["SequenceNumber"],
                        {
                            "PartitionKey": r["PartitionKey"],
                            "Data": r["Data"].decode("utf-8", "replace"),
                        },
                    )
                )
                if limit is not None and len(out) >= limit:
                    return out
            iterator = resp.get("NextShardIterator")
            if resp.get("MillisBehindLatest", 0) == 0:
                return out
        return out

    def read_from(
        self, shard_id: str, position: str | None, limit: int | None = None
    ) -> tuple[list[tuple[str, dict[str, Any]]], str | None]:
        got = self._iterate(shard_id, position, limit, None)
        next_pos = got[-1][0] if got else position
        return got, next_pos

    def read_between(
        self, shard_id: str, start: str | None, end: str | None
    ) -> list[tuple[str, dict[str, Any]]]:
        if end is None or start == end:
            return []
        return self._iterate(shard_id, start, None, end)


def _make_client(options: dict) -> FakeShardClient | Boto3ShardClient:
    if options.get("fake_dir"):
        return FakeShardClient(options["fake_dir"])
    return Boto3ShardClient(options["stream_name"], options.get("region"))


def _max_per_shard(options: dict, default: int) -> int | None:
    """The ``max_records_per_shard`` cap, ``None`` when uncapped (0).
    The shard clients check their limit after appending, so a literal
    limit of 0 would crawl at one record per shard per trigger."""
    cap = int(options.get("max_records_per_shard", default))
    return cap if cap > 0 else None


#: rows per Arrow RecordBatch yielded by the executor-side readers —
#: large enough to amortize per-batch overhead, small enough to bound
#: worker memory for fat Data payloads (guide §4.2's batch-size rule)
_ARROW_ROWS_PER_BATCH = 10_000


def _record_batches(shard_id: str, records: list) -> Iterator:
    """Executor-side rows → pyarrow RecordBatches (guide §4.2).

    The DataSource worker accepts an iterator of ``pyarrow.RecordBatch``
    and forwards the batches to the JVM as-is; yielding tuples instead
    makes the worker build the identical Arrow batches itself via a
    per-record Python loop (pyspark/sql/worker/plan_data_source_read.py,
    ``records_to_arrow_batches``) — per-row tuple allocation plus a
    row→column transpose that four bulk ``pa.array`` calls replace.
    Column NAMES and order must match ``KINESIS_SCHEMA`` (the worker
    validates both). ``records`` is the client protocol's
    ``[(seq, {"PartitionKey": ..., "Data": ...}), ...]`` list; the
    emitted values are bit-identical to the tuple path's
    (``str(seq)`` included).
    """
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field("ShardId", pa.string()),
            pa.field("SequenceNumber", pa.string()),
            pa.field("PartitionKey", pa.string()),
            pa.field("Data", pa.string()),
        ]
    )
    for i in range(0, len(records), _ARROW_ROWS_PER_BATCH):
        chunk = records[i : i + _ARROW_ROWS_PER_BATCH]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([shard_id] * len(chunk), type=pa.string()),
                pa.array([str(seq) for seq, _ in chunk], type=pa.string()),
                pa.array([rec["PartitionKey"] for _, rec in chunk], type=pa.string()),
                pa.array([rec["Data"] for _, rec in chunk], type=pa.string()),
            ],
            schema=schema,
        )


class _ShardPartition(InputPartition):
    def __init__(self, shard_id: str) -> None:
        self.shard_id = shard_id


class KinesisBatchReader(DataSourceReader):
    """Bounded read: everything currently in the stream, one task/shard."""

    def __init__(self, options: dict) -> None:
        self.options = options

    def partitions(self) -> list[InputPartition]:
        return [_ShardPartition(s) for s in _make_client(self.options).list_shards()]

    def read(self, partition: _ShardPartition) -> Iterator:
        client = _make_client(self.options)  # executor-side construction
        got, _ = client.read_from(partition.shard_id, client.initial_position)
        yield from _record_batches(partition.shard_id, got)


class _ShardRangePartition(InputPartition):
    def __init__(self, shard_id: str, start: Any, end: Any) -> None:
        self.shard_id = shard_id
        self.start = start
        self.end = end


class KinesisPartitionedStreamReader(DataSourceStreamReader):
    """Executor-side micro-batch reads: the driver plans only
    {shard → (start, end)} offset ranges; each shard's bytes are pulled
    by its own task via ``read_between`` — no record ever crosses the
    driver, so throughput scales with shards × executors (the 100 TB
    shape; the Simple reader funnels every byte through the driver).

    Needs the shard-tip pair (``latest_position``, ``bound_advance``);
    ``KinesisPyDataSource.streamReader`` picks this reader only for a
    client that has it — the file-backed fake, not ``Boto3ShardClient``
    (AWS exposes no O(1) shard-tip lookup).
    """

    def __init__(self, options: dict) -> None:
        self.options = options
        self.client = _make_client(options)
        self.max_per_shard = _max_per_shard(options, 0)
        #: last planned end offsets — the admission-control baseline.
        #: None until initialOffset() or the first partitions() call
        #: reveals the true consumer position.
        self._last_end: dict | None = None

    def initialOffset(self) -> dict:
        init = self.client.initial_position
        offsets = {s: init for s in self.client.list_shards()}
        # The true position of a new query, so a safe backpressure
        # baseline; but Spark calls latestOffset() BEFORE initialOffset()
        # on a new query, so its first batch is planned uncapped
        # (perfbench's admission probe: 1 batch of 10000 records under a
        # 625-per-shard cap). Checkpoint restores never call
        # initialOffset; their baseline is set by the first partitions().
        self._last_end = dict(offsets)
        return offsets

    def latestOffset(self) -> dict:
        # resharding-safe: list_shards() re-enumerated every batch
        tips = {s: self.client.latest_position(s) for s in self.client.list_shards()}
        # Backpressure: cap each shard's advance to max_records_per_shard
        # beyond the last planned end. Only once a baseline is known —
        # capping against a guess below the checkpointed position would
        # REWIND the offset log and replay records (at-most-once lost).
        # So the first batch of a query, new or restarted, is uncapped.
        if self.max_per_shard and self._last_end is not None:
            init = self.client.initial_position
            tips = {
                s: self.client.bound_advance(
                    s, self._last_end.get(s, init), tip, self.max_per_shard
                )
                for s, tip in tips.items()
            }
        return tips

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        self._last_end = dict(end)  # true planned position (incl. restore)
        init = self.client.initial_position
        return [
            _ShardRangePartition(shard, start.get(shard, init), stop)
            for shard, stop in end.items()
            if start.get(shard, init) != stop
        ]

    def read(self, partition: _ShardRangePartition):  # executor-side
        client = _make_client(self.options)
        got = client.read_between(
            partition.shard_id, partition.start, partition.end
        )
        # Arrow RecordBatch yields (guide §4.2): same rows, columnar
        # hand-off — see _record_batches. The Simple (driver-prefetch)
        # tier below keeps tuple yields: its read() runs on the driver
        # and its records re-enter Spark through the prefetch cache,
        # not this worker path.
        yield from _record_batches(partition.shard_id, got)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint log; nothing to ack


class KinesisStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch read with offsets = {shard_id: next_sequence}."""

    def __init__(self, options: dict) -> None:
        self.options = options
        self.client = _make_client(options)
        # bounded by default: this tier lands every batch on the driver
        self.max_per_shard = _max_per_shard(options, 10000)

    def initialOffset(self) -> dict:
        init = self.client.initial_position
        return {s: init for s in self.client.list_shards()}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        # pick up shards that appeared after the stream started
        # (resharding); position tokens are opaque to this reader — the
        # client returns its own next position (no +1 arithmetic here,
        # which would break on boto3's string sequence numbers)
        init = self.client.initial_position
        offsets = {s: init for s in self.client.list_shards()}
        offsets.update(start)
        rows: list[tuple] = []
        end: dict = {}
        for shard_id, pos in offsets.items():
            got, next_pos = self.client.read_from(shard_id, pos, self.max_per_shard)
            for s, rec in got:
                rows.append((shard_id, str(s), rec["PartitionKey"], rec["Data"]))
            end[shard_id] = next_pos
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay for recovery: deterministic because shards are append-only.
        # Iterate END's shards, not start's: a shard that appeared
        # mid-stream (resharding) exists in the committed end offsets but
        # not in the checkpointed start — iterating start would silently
        # drop that shard's first batch on crash recovery (the
        # partitioned tier's partitions() already gets this right)
        init = self.client.initial_position
        for shard_id, stop in end.items():
            pos = start.get(shard_id, init)
            for s, rec in self.client.read_between(shard_id, pos, stop):
                yield (shard_id, str(s), rec["PartitionKey"], rec["Data"])


class KinesisPyDataSource(DataSource):
    """``spark.read/readStream.format("kinesis_py")``.

    Options: ``stream_name`` (+ ``region``) for AWS, or ``fake_dir`` for
    the file-backed test harness; ``max_records_per_shard`` caps a
    micro-batch (backpressure — the streaming analogue of the
    reference's producer sleep loop, cloudfront_kinesis_lambda.py:219).

    The shard client picks the stream tier (``streamReader``).
    Tier-dependent DEFAULT for ``max_records_per_shard`` (0 means
    uncapped in both): the partitioned reader defaults to 0 (it plans
    against shard tips, so a batch is naturally bounded by the data
    present), while the Simple reader defaults to 10000 (it materializes
    the batch on the driver, which must stay bounded). Switching tiers on
    one checkpoint is offset-compatible but changes batch sizing unless
    the option is set explicitly.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_py"

    def schema(self) -> str:
        return KINESIS_SCHEMA

    def reader(self, schema: StructType) -> KinesisBatchReader:
        return KinesisBatchReader(self.options)

    def streamReader(self, schema: StructType) -> KinesisPartitionedStreamReader:
        # Spark prefers this over simpleStreamReader; raising
        # PySparkNotImplementedError makes it fall back to the Simple
        # tier, the one a client without the shard-tip pair can serve
        client = _make_client(self.options)
        if not (hasattr(client, "latest_position") and hasattr(client, "bound_advance")):
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "Kinesis stream reads without a shard tip"},
            )
        return KinesisPartitionedStreamReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> KinesisStreamReader:
        return KinesisStreamReader(self.options)


def register_kinesis_source(spark) -> None:
    """Idempotently register the ``kinesis_py`` format on a session."""
    spark.dataSource.register(KinesisPyDataSource)
