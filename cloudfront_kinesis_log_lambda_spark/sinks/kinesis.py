"""Kinesis PutRecords sink with the reference's reliability semantics.

The reference fans 500-record batches out to 25 asyncio consumers, each
doing: exponential backoff on retry, ``put_records``, positional matching
of partial failures, partition-key re-randomization, re-enqueue with
``attempt+1`` (cloudfront_kinesis_lambda.py:77-155, SURVEY.md §3.3).

Spark-first translation:

- the 25-worker fan-out becomes at most ``parallelism`` shipping tasks,
  default one per core: the rows are shipped from the partitions that
  produce them, ``coalesce``d (never shuffled) and streamed to the
  executor's Python worker over Arrow by ``mapInArrow``. Each task runs
  :func:`put_records_with_retry` synchronously (Spark supplies the
  concurrency asyncio provided). Tasks are not free: every Python task
  pays a fixed start-up cost in the worker, about 0.02 s of CPU on a
  4-core box with the engine's worker daemon
  (:mod:`cloudfront_kinesis_log_lambda_spark.daemon`, which ``get_spark``
  selects on a local master) and 0.17-0.24 s with Spark's own,
  so more shipping tasks than cores only adds that cost.
  The reference's in-worker I/O overlap is ``io_concurrency``.
- the producer's bounded-queue backpressure (…:219-220) is the streaming
  source's ``maxFilesPerTrigger`` — no code here.
- the reference's deadline-abandon (…:114-116) has no Lambda wall-clock
  to race; we cap attempts instead (``max_attempts``), defaulting to the
  point where the reference's own backoff passes its 600 s budget.
  Records given up on are counted: :meth:`KinesisSink.write` returns the
  summed :class:`PutStats` of every shipping task, and the
  ``foreachBatch`` entry keeps their running total in ``KinesisSink.totals``.
- delivery is at-least-once, like the reference: a retried task re-ships
  its whole partition. Exactly-once upgrade:
  make the consumer idempotent on ``cf_request_id`` (SURVEY.md §2.5).

The boto3 client is injected (``client_factory``) so tests use a fake and
production passes a real/assumed-role session factory. boto3 itself is
imported lazily — it is only needed on executors that actually ship.
"""

from __future__ import annotations

import itertools
import threading
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

#: Kinesis PutRecords API limit; the reference hardcodes the literal 500
#: and leaves its named constant dead (cloudfront_kinesis_lambda.py:73,217)
#: — here the constant is the single source of truth.
MAX_RECORDS_PER_PUT = 500

#: backoff base: 2**attempt * 0.1 s → 0.1, 0.2, 0.4, … like the comment
#: ladder at cloudfront_kinesis_lambda.py:119
BACKOFF_BASE_S = 0.1


def chunked(it: Iterable[Any], size: int) -> Iterator[list[Any]]:
    """Fixed-size rebatch (the reference's 500-row accumulate/flush loop,
    cloudfront_kinesis_lambda.py:214-227) over any iterator, O(size) memory."""
    chunk: list[Any] = []
    for item in it:
        chunk.append(item)
        if len(chunk) == size:
            yield chunk
            chunk = []
    if chunk:
        yield chunk


@dataclass
class PutStats:
    batches: int = 0
    records: int = 0
    retried_records: int = 0
    dropped_records: int = 0
    attempts_histogram: dict[int, int] = field(default_factory=dict)


#: the counters of :class:`PutStats`: each shipping task reports one row
#: of them for :meth:`KinesisSink.write` to sum
_STATS_COUNTS = ("batches", "records", "retried_records", "dropped_records")


def put_records_with_retry(
    records: Iterable[dict[str, Any]],
    client: Any,
    stream_name: str,
    max_attempts: int = 11,
    sleep: Callable[[float], None] = time.sleep,
    batch_size: int = MAX_RECORDS_PER_PUT,
    concurrency: int = 1,
) -> PutStats:
    """Ship wire records (``{"Data": ..., "PartitionKey": ...}``) to a
    Kinesis stream, reproducing the reference's partial-failure handling:

    - inspect ``FailedRecordCount``; response entries align positionally
      with the request (cloudfront_kinesis_lambda.py:131-141)
    - only entries carrying ``ErrorCode`` are retried
    - each retried record gets a fresh ``PartitionKey`` to dodge the hot
      shard (…:142-143) — the same idea as join-skew salting
    - retry waits ``2**attempt * 0.1`` s (…:110-119)
    - ``max_attempts`` replaces the Lambda deadline-abandon: 11 attempts
      ≈ the reference's backoff ladder crossing its 600 s budget; beyond
      it the batch is dropped (at-least-once, drops possible — faithful
      to …:114-116).
    - puts run on a pool of ``concurrency`` threads, at most one batch
      each — the reference's 25 asyncio consumers hiding PutRecords
      latency (cloudfront_kinesis_lambda.py:74,93-122). boto3 clients are
      thread-safe. At ``concurrency=1`` the puts are sequential.
    - chunks are pulled LAZILY from ``records``, and only when a pool
      slot frees up; a retry is resubmitted before the next fresh chunk
      is pulled. Memory held is the in-flight batches plus the failed
      records, never the partition — the reference's bounded-queue
      producer (cloudfront_kinesis_lambda.py:219-220) never materialized
      the whole file either.
    - backoff sleeps run INSIDE pool threads, so a burst of throttled
      batches can occupy every slot sleeping and stall fresh chunks until
      a retry completes. Deliberate: it bounds total in-flight work at
      ``concurrency`` batches, the same role the reference's
      2×NUM_WORKERS queue cap plays.
    - a put error fails the whole Spark task (the shipping task's retry
      re-sends the partition → at-least-once, matching the reference);
      before re-raising, every already-completed future in the same wait
      set is drained so its retry work is submitted and counted — the
      stats stay faithful to what was actually attempted. The pool's
      threads are joined before this function returns or raises.
    """
    stats = PutStats()
    lock = threading.Lock()

    def do_put(
        batch: list[dict[str, Any]], attempt: int
    ) -> tuple[list[dict[str, Any]], int] | None:
        if attempt >= max_attempts:
            with lock:
                stats.dropped_records += len(batch)
            return None
        if attempt:
            sleep(2**attempt * BACKOFF_BASE_S)
        response = client.put_records(StreamName=stream_name, Records=batch)
        with lock:
            stats.batches += 1
            stats.records += len(batch)
            stats.attempts_histogram[attempt] = (
                stats.attempts_histogram.get(attempt, 0) + 1
            )
        failed = _failed_records(response, batch)
        if failed:
            with lock:
                stats.retried_records += len(failed)
            return failed, attempt + 1
        return None

    chunks = chunked(records, batch_size)
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        pending = set()
        while True:
            while len(pending) < concurrency:
                batch = next(chunks, None)
                if batch is None:
                    break
                pending.add(pool.submit(do_put, batch, 0))
            if not pending:
                break
            done, pending = wait(pending, return_when=FIRST_COMPLETED)
            first_err: Exception | None = None
            for fut in done:
                try:
                    retry = fut.result()
                except Exception as e:  # noqa: BLE001 — re-raised below
                    first_err = first_err or e
                    continue
                if retry:
                    pending.add(pool.submit(do_put, *retry))
            if first_err is not None:
                raise first_err  # → task fails → Spark re-runs the partition
    return stats


def _failed_records(
    response: dict[str, Any], batch: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Positional partial-failure extraction + rekey (the reference's
    retry selection, cloudfront_kinesis_lambda.py:131-143)."""
    if not response.get("FailedRecordCount"):
        return []
    failed = []
    for i, result in enumerate(response["Records"]):
        if result.get("ErrorCode"):
            # copy, don't mutate: callers of the public retry API may
            # hold references to their record dicts (audit, re-send) and
            # must not see PartitionKey silently rewritten under them
            failed.append({**batch[i], "PartitionKey": uuid.uuid4().hex})
    return failed


def _default_client_factory(region_name: str | None = None) -> Callable[[], Any]:
    def make() -> Any:
        import boto3  # executor-side import; not needed for tests

        return boto3.client("kinesis", region_name=region_name)

    return make


class AssumeRoleClientFactory:
    """Cross-account ``client_factory`` for :class:`KinesisSink` — the
    reference parity piece for its auto-refreshing assume-role producer
    credentials (cloudfront_kinesis_lambda.py:57-71, which swaps
    STS-backed ``DeferredRefreshableCredentials`` into the Kinesis
    client so a Lambda in account A can write a stream in account B).

    Zero-arg callable: each call returns a Kinesis client built from
    AssumeRole credentials, re-assumed whenever the cached grant is
    within ``refresh_margin_seconds`` of expiry (or absent). The sink
    builds one client per shipping task, so on an executor this
    refreshes at task granularity — the same refresh-on-use behavior the
    reference's deferred credentials give, without holding a mutable
    botocore session across pickling boundaries (the cached grant is
    process-local transient state and is never serialized).

    ``sts_client_factory`` / ``kinesis_client_factory`` are seams: tests
    inject a fake STS (no AWS, no boto3 import); production leaves them
    None and gets boto3. Usage::

        sink = KinesisSink(
            "cross-account-stream",
            client_factory=AssumeRoleClientFactory(
                "arn:aws:iam::<TARGET_ACCOUNT>:role/<WRITER_ROLE>"
            ),
        )
    """

    def __init__(
        self,
        role_arn: str,
        session_name: str = "cfkll-kinesis-producer",
        region_name: str | None = None,
        duration_seconds: int = 3600,
        refresh_margin_seconds: int = 300,
        sts_client_factory: Callable[[], Any] | None = None,
        kinesis_client_factory: Callable[[dict], Any] | None = None,
    ) -> None:
        self.role_arn = role_arn
        self.session_name = session_name
        self.region_name = region_name
        self.duration_seconds = duration_seconds
        self.refresh_margin_seconds = refresh_margin_seconds
        self.sts_client_factory = sts_client_factory
        self.kinesis_client_factory = kinesis_client_factory
        self._creds: dict | None = None

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state["_creds"] = None  # a grant never crosses process boundaries
        return state

    def _credentials(self) -> dict:
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc)
        if (
            self._creds is None
            or (self._creds["Expiration"] - now).total_seconds()
            <= self.refresh_margin_seconds
        ):
            if self.sts_client_factory is not None:
                sts = self.sts_client_factory()
            else:
                import boto3  # deferred: executors without AWS never pay it

                sts = boto3.client("sts", region_name=self.region_name)
            self._creds = sts.assume_role(
                RoleArn=self.role_arn,
                RoleSessionName=self.session_name,
                DurationSeconds=self.duration_seconds,
            )["Credentials"]
        return self._creds

    def __call__(self) -> Any:
        creds = self._credentials()
        if self.kinesis_client_factory is not None:
            return self.kinesis_client_factory(creds)
        import boto3

        return boto3.client(
            "kinesis",
            region_name=self.region_name,
            aws_access_key_id=creds["AccessKeyId"],
            aws_secret_access_key=creds["SecretAccessKey"],
            aws_session_token=creds["SessionToken"],
        )


class KinesisSink:
    """``foreachBatch``-compatible Kinesis sink.

    Usage (streaming)::

        sink = KinesisSink("prod-logs")
        wire_df.writeStream.foreachBatch(sink).start(...)

    or batch: ``stats = sink.write(wire_df)``. The rows ship from at most
    ``parallelism`` tasks, default ``None`` = one per core
    (``defaultParallelism``). It is an upper bound, not a fan-out: the
    input's partitions are coalesced, never shuffled, so an input with
    fewer partitions ships from that many tasks. The reference's 25
    consumers (cloudfront_kinesis_lambda.py:74) existed to overlap
    PutRecords latency, which ``io_concurrency`` does *within* each task
    — total in-flight puts = tasks × io_concurrency — without paying the
    fixed per-Python-task cost (about 0.02 s of CPU under the engine's
    worker daemon, 0.17-0.24 s under Spark's) 25 times.

    As a ``foreachBatch`` function the sink adds each batch's
    :class:`PutStats` counters into :attr:`totals` on the driver, dropped
    records included.
    """

    def __init__(
        self,
        stream_name: str,
        parallelism: int | None = None,
        max_attempts: int = 11,
        client_factory: Callable[[], Any] | None = None,
        region_name: str | None = None,
        io_concurrency: int = 1,
    ) -> None:
        self.stream_name = stream_name
        self.parallelism = parallelism
        self.max_attempts = max_attempts
        self.client_factory = client_factory or _default_client_factory(region_name)
        self.io_concurrency = io_concurrency
        #: counters summed over every ``foreachBatch`` call so far
        self.totals = PutStats()
        self._totals_lock = threading.Lock()

    def __getstate__(self) -> dict:
        # a lock cannot be pickled, and Spark Connect pickles a
        # foreachBatch function to run it on the server
        state = dict(self.__dict__)
        del state["_totals_lock"]
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state, _totals_lock=threading.Lock())

    def write(self, df: DataFrame) -> PutStats:
        """Ship every row of ``df`` (columns ``Data`` and ``PartitionKey``)
        and return the :class:`PutStats` counters summed over the shipping
        tasks (the per-task attempt histograms are not gathered)."""
        stream_name = self.stream_name
        max_attempts = self.max_attempts
        client_factory = self.client_factory
        io_concurrency = self.io_concurrency

        def ship(batches: Iterator[Any]) -> Iterator[Any]:
            import pyarrow as pa

            # one retry loop over the whole partition, so 500-record puts
            # span Arrow batch boundaries
            records = (
                {"Data": data, "PartitionKey": key}
                for batch in batches
                for data, key in zip(
                    batch.column("Data").to_pylist(),
                    batch.column("PartitionKey").to_pylist(),
                )
            )
            first = next(records, None)
            stats = PutStats()
            if first is not None:  # no client for an empty partition
                stats = put_records_with_retry(
                    itertools.chain([first], records),
                    client_factory(),
                    stream_name,
                    max_attempts,
                    concurrency=io_concurrency,
                )
            yield pa.RecordBatch.from_pydict(
                {name: [getattr(stats, name)] for name in _STATS_COUNTS}
            )

        n = self.parallelism or df.sparkSession.sparkContext.defaultParallelism
        rows = (
            df.select("Data", "PartitionKey")
            .coalesce(n)
            .mapInArrow(ship, ", ".join(f"{name} long" for name in _STATS_COUNTS))
            .collect()
        )
        return PutStats(
            **{name: sum(row[name] for row in rows) for name in _STATS_COUNTS}
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch entry point: ship the batch and add its counters to
        :attr:`totals` (one sink may serve several queries at once)."""
        stats = self.write(batch_df)
        with self._totals_lock:
            for name in _STATS_COUNTS:
                total = getattr(self.totals, name) + getattr(stats, name)
                setattr(self.totals, name, total)
