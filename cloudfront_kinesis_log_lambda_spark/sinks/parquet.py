"""Partitioned parquet analytics store for the enriched log table.

The reference only forwards to Kinesis; the engine additionally persists
the enriched records as a queryable columnar store. Layout chosen for
100 TB scans (SURVEY.md §4):

- partitioned by ``env`` and event date → partition pruning turns
  "prod, last 7 days" queries into a tiny directory listing instead of a
  full-store scan;
- sorted within partitions by ``@timestamp`` via a repartition+sort so
  parquet row-group min/max stats make timestamp range filters cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_log_store(
    enriched: DataFrame,
    path: str,
    mode: str = "append",
    target_file_partitions: int | None = None,
) -> None:
    """Write the enriched CloudFront table partitioned by env/log_day.

    ``@timestamp`` is the ISO string the wire format requires; the store
    adds a proper timestamp + date column for pruning (the string column
    is kept for wire fidelity on re-export).
    """
    df = enriched.withColumn("ts", F.to_timestamp(F.col("`@timestamp`")))
    # log_day comes from the @timestamp STRING, not date_format(ts):
    # the wire contract renders @timestamp as the UTC wall-clock with a
    # +00:00 offset — timezone-independently since the ADVICE-r11 fix
    # (transforms.add_timestamp parses/renders via TIMESTAMP_NTZ, no
    # session-zone round-trip), so its first 10 chars ARE the UTC event
    # date in ANY producing session — while date_format renders in the
    # SESSION timezone, and this is public API callable from un-pinned
    # sessions (a New York session would file a 01:00 UTC record under
    # the previous day, splitting one UTC day across two partition
    # values and skewing expire_partitions' lexicographic cutoff by a
    # day).
    # ts itself is offset-qualified, so the instant (and the ts sort
    # below) is timezone-independent either way.
    df = df.withColumn("log_day", F.substring(F.col("`@timestamp`"), 1, 10))
    parts = [F.col("env"), F.col("log_day")]
    # sortWithinPartitions must LEAD with the partition columns: the
    # dynamic-partition writer requires an (env, log_day) ordering and
    # inserts its own sort (scrambling ts) unless the existing ordering
    # already satisfies it by prefix. repartitionByRange alone only
    # range-partitions — it does not order rows within a partition, so
    # both branches need the explicit sort for the row-group min/max
    # stats the module docstring promises.
    if target_file_partitions is not None:
        if target_file_partitions < 1:
            raise ValueError(
                f"target_file_partitions must be >= 1, got "
                f"{target_file_partitions}"
            )
        # a within-group salt is required: hashing on the Hive partition
        # columns alone sends each (env, log_day) to exactly ONE task —
        # one file per partition regardless of the requested count — and
        # a global repartitionByRange(N, ...) splits the WHOLE batch
        # into N ranges, not N per group. The ts-hash salt yields
        # ~target_file_partitions files per (env, log_day); each file
        # stays internally ts-sorted (the row-group min/max contract),
        # though file-level ts ranges overlap — compaction later rewrites
        # to non-overlapping ts-sorted files anyway. The task count is
        # passed EXPLICITLY: a bare repartition(cols) is fair game for
        # AQE partition coalescing, which at small volume merges every
        # salt bucket back into one task — silently undoing the split.
        # The count is the session's shuffle-partition count, which
        # session.py sizes to one task per core, at least 8.
        salt = F.pmod(F.xxhash64(F.col("ts")), F.lit(target_file_partitions))
        n_tasks = int(
            enriched.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        df = df.repartition(n_tasks, *parts, salt)
    else:
        df = df.repartitionByRange(F.col("env"), F.col("log_day"), F.col("ts"))
    df = df.sortWithinPartitions("env", "log_day", "ts")
    (
        df.write.mode(mode)
        .partitionBy("env", "log_day")
        .parquet(path)
    )


def read_log_store(spark, path: str, schema=None) -> DataFrame:
    """Read the store back. Pass ``schema`` (the written DataFrame's
    schema, partition columns included) when the store may be EMPTY: a
    partitionBy write of zero rows leaves only a _SUCCESS marker, and a
    bare read of a footer-less tree fails with UNABLE_TO_INFER_SCHEMA
    (r13 empty-table differential sweep) — an empty day must read back
    as an empty frame, not an error. With a schema the read also skips
    footer inference, which is a free win on wide stores."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def compact_partitions(
    spark,
    path: str,
    partition_values: list[tuple[str, str]],
    target_file_bytes: int = 512 * 1024 * 1024,
    zorder_by: list[str] | None = None,
) -> int:
    """Small-file compaction for one (env, log_day) partition — the
    maintenance job a 100 TB store needs after streaming ingest, where
    every micro-batch appends a sliver file and scans drown in open()
    overhead. Rewrites the partition's files into
    ``ceil(bytes / target_file_bytes)`` ts-sorted files (keeping the
    row-group min/max guarantee of write_log_store) via an
    overwrite-into-place of ONLY that partition directory; other
    partitions are untouched, so compaction parallelizes across
    partitions and never rewrites the store. Returns the output file
    count.

    Rewrite goes through a SIBLING temp directory then a directory
    swap — overwriting the directory a lazy plan is still reading
    deletes its own input mid-scan (FAILED_READ_FILE). The swap is the
    object-store-friendly shape too (write new prefix, flip). The
    caller picks WHICH partitions (e.g. yesterday's, once final);
    compacting a partition still receiving appends is the caller's race
    to avoid — same contract as Hive/Delta OPTIMIZE of an active
    partition. Run from a single maintenance job, never concurrently
    with itself on the same partition (two concurrent compactions would
    sweep each other's temp dirs — the same single-writer contract as
    the streaming stores' fold).

    Trash retention: the swapped-out originals are RETAINED in the
    dot-prefixed trash dir until the next maintenance pass touches this
    partition (compact or expire). This is deferred cleanup + the crash
    -recovery source (_recover_compaction restores it if the swap dies
    between renames) — NOT reader grace: os.rename moves the files, so
    a lazy plan that already listed the old paths under the partition
    dir cannot keep reading them (FAILED_READ_FILE), and the trash's
    different dot-path is invisible to that plan. Plain parquet has no
    snapshot isolation; the reader contract is "re-resolve the scan
    after a maintenance pass" (or read with
    spark.sql.files.ignoreMissingFiles at the cost of silently dropping
    the moved files) — the upsert store's read() gets real fallback
    only because it consults the trash PATH itself.

    ``zorder_by`` re-clusters the partition by the Z-order of the given
    columns instead of the default ts sort — the full OPTIMIZE ... ZORDER
    BY shape: compaction is the natural (and only sensible) place to pay
    the clustering shuffle, since the data is being rewritten anyway
    (operators/layout.py; skipping gain measured in test_parquet_store).
    """
    import math
    import os
    import shutil

    part_dir = os.path.join(
        path, *[f"{k}={v}" for k, v in partition_values]
    )
    _recover_compaction(part_dir)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(part_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    # dot-prefixed: the in-progress rewrite must not be discoverable as
    # a sibling Hive partition while it is being written
    tmp = os.path.join(
        os.path.dirname(part_dir),
        f".{os.path.basename(part_dir)}.compacting-{os.getpid()}",
    )
    if zorder_by:
        from cloudfront_kinesis_log_lambda_spark.operators.layout import (
            write_zordered,
        )

        write_zordered(
            spark.read.parquet(part_dir), tmp, zorder_by, n_files=n_files
        )
    else:
        (
            spark.read.parquet(part_dir)
            .coalesce(n_files)
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )
    # rename-first swap, manifest-journaled: the old partition moves
    # aside before the new one takes its name, and a dot-prefixed
    # manifest records (tmp, trash) so _recover_compaction can finish or
    # roll back from ANY crash point without guessing — in particular a
    # trash dir is never deleted unless the manifest proves the swap
    # completed (sweeping on sight would destroy the only copy when a
    # racing append recreated the live dir after a mid-swap crash). All
    # transient names are DOT-prefixed: a bare sibling like
    # "log_day=...old-pid" would be discovered as a real Hive partition
    # by readers (duplicate rows under a bogus partition value).
    parent, base = os.path.split(part_dir)
    trash = os.path.join(parent, f".{base}.old-{os.getpid()}")
    from cloudfront_kinesis_log_lambda_spark.streaming.store import (
        atomic_write_json,
    )

    atomic_write_json(
        _compact_manifest_path(part_dir),
        {"tmp": os.path.basename(tmp), "trash": os.path.basename(trash)},
    )
    os.rename(part_dir, trash)
    os.rename(tmp, part_dir)
    os.remove(_compact_manifest_path(part_dir))
    # trash intentionally retained (deferred cleanup + crash-recovery
    # source, see docstring) — the next maintenance pass for this
    # partition sweeps it
    # report what actually landed: range partitions can be empty (few
    # distinct z-values) and coalesce can't split, so the real file
    # count may undershoot the computed target
    return sum(1 for f in os.listdir(part_dir) if f.endswith(".parquet"))


def _compact_manifest_path(part_dir: str) -> str:
    import os

    parent, base = os.path.split(part_dir)
    return os.path.join(parent, f".{base}.compact_manifest.json")


def _recover_compaction(part_dir: str) -> None:
    """Finish or roll back a crashed compaction of ``part_dir`` from any
    crash point, then sweep unreferenced dot-temp dirs. State machine
    over (manifest[phase], tmp, live, trash) existence:

    - no manifest → only pre-manifest temps and retained trash can exist;
      their content is fully in the live dir, sweep them.
    - manifest[swap] + tmp + live + no trash → crashed before the first
      rename: nothing moved; drop tmp + manifest (recompute fresh).
    - manifest[swap] + tmp + no live + trash → crashed between the
      renames: the compacted tmp is complete — promote it; the trash
      (pre-compaction originals) is then reclaimed by this function's
      own trailing sweep (once the live dir is complete and no manifest
      references the trash, no rollback copy is needed).
    - manifest[swap] + tmp + live + trash → crashed between the renames
      AND a racing append recreated the live dir: journal phase=restore
      FIRST (the restore path below deletes/renames in steps whose
      crash states are indistinguishable from other swap states — the
      journaled phase removes the guessing), then restore.
    - manifest[restore] → re-enter the idempotent restore: drop tmp,
      fold any appended live files into trash (names are unique
      part-<uuid>), promote trash back to live, drop manifest.
    - manifest[swap] + no tmp → the swap committed: drop the manifest;
      the trailing sweep then reclaims the trash (same reasoning as the
      promote case — recovery IS a maintenance pass, and the test suite
      pins the trash as gone after it).
    """
    import json
    import os
    import shutil

    parent, base = os.path.split(part_dir)
    if not os.path.isdir(parent):
        return
    mp = _compact_manifest_path(part_dir)
    if os.path.isfile(mp):
        from cloudfront_kinesis_log_lambda_spark.streaming.store import (
            atomic_write_json,
        )

        with open(mp) as f:
            m = json.load(f)
        tmp = os.path.join(parent, m["tmp"])
        trash = os.path.join(parent, m["trash"])
        live = os.path.isdir(part_dir)
        if m.get("phase") == "restore":
            _finish_restore(part_dir, tmp, trash, mp)
        elif os.path.isdir(tmp):
            if live and not os.path.isdir(trash):
                shutil.rmtree(tmp)
                os.remove(mp)
            elif not live and os.path.isdir(trash):
                os.rename(tmp, part_dir)
                os.remove(mp)
            else:  # live AND trash: a racing append recreated live
                atomic_write_json(mp, {**m, "phase": "restore"})
                _finish_restore(part_dir, tmp, trash, mp)
        else:
            os.remove(mp)
    # pre-manifest temps, post-recovery leftovers, and expired
    # trash are reproducible/garbage once no manifest references them;
    # orphaned manifest tmp files (crash inside atomic_write_json)
    # likewise
    if not os.path.isfile(mp):
        for e in os.listdir(parent):
            p = os.path.join(parent, e)
            if e.startswith(f".{base}.compacting-") or e.startswith(
                f".{base}.old-"
            ):
                shutil.rmtree(p, ignore_errors=True)
            elif e.startswith(f".{base}.compact_manifest.json.tmp-"):
                try:
                    os.remove(p)
                except OSError:
                    pass


def _finish_restore(part_dir: str, tmp: str, trash: str, mp: str) -> None:
    """Idempotent tail of the racing-append recovery: every step either
    re-runs harmlessly or finds its work already done, so a crash at ANY
    point re-enters here (phase=restore is already journaled) and
    converges. tmp goes first as defense-in-depth: with the phase
    journaled, every re-entry lands back here regardless of ordering
    (r12 crash-enumeration verified both orderings converge), but
    deleting tmp before the fold means no crash state even RESEMBLES
    the swap-phase 'promote tmp' shape — the misread the phase journal
    exists to rule out (removing the journaling loses the folded
    appends; the r12 crash-injection test fails on exactly that
    mutant)."""
    import os
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.isdir(trash):
        if os.path.isdir(part_dir):
            for f in os.listdir(part_dir):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(part_dir, f), os.path.join(trash, f)
                    )
            shutil.rmtree(part_dir)
        os.rename(trash, part_dir)
    os.remove(mp)


def expire_partitions(path: str, keep_days: int, today: str) -> list[str]:
    """Retention: drop log_day partitions older than ``keep_days``
    before ``today`` (YYYY-MM-DD). Pure directory-level deletes — the
    partitioned layout makes retention an O(partitions) metadata
    operation, never a data scan. Returns the deleted partition paths.
    Dates compare lexicographically in this format, so no parsing.

    This is also a maintenance pass: crashed compactions are RECOVERED
    first (a day stuck mid-swap has no live dir and would otherwise
    evade both the retention walk and any future compaction — its full
    data hiding in dot-artifacts forever), and expired days' dot
    artifacts (retained trash, temp dirs, stray manifest tmps) are swept
    along with the live dirs so retention actually frees the bytes.
    """
    import datetime
    import os
    import shutil

    cutoff = (
        datetime.date.fromisoformat(today)
        - datetime.timedelta(days=keep_days)
    ).isoformat()
    manifest_suffix = ".compact_manifest.json"
    deleted = []
    for env_dir in sorted(os.listdir(path)):
        env_path = os.path.join(path, env_dir)
        if not (os.path.isdir(env_path) and env_dir.startswith("env=")):
            continue
        for e in sorted(os.listdir(env_path)):
            if e.startswith(".log_day=") and e.endswith(manifest_suffix):
                _recover_compaction(
                    os.path.join(env_path, e[1 : -len(manifest_suffix)])
                )
        for e in sorted(os.listdir(env_path)):
            p = os.path.join(env_path, e)
            if e.startswith("log_day=") and e.split("=", 1)[1] < cutoff:
                shutil.rmtree(p)
                deleted.append(p)
            elif e.startswith(".log_day="):
                # dot artifact: ".log_day=<D>.old-*", ".compacting-*",
                # or a manifest tmp — expire with its day
                day = e.split("=", 1)[1].split(".", 1)[0]
                if day < cutoff:
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        try:
                            os.remove(p)
                        except OSError:
                            pass
    return deleted
