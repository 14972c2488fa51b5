"""Seeded benchmark inputs, cached by (kind, seed, size).

One ``--seed`` fixes every input: the CloudFront log tree of ``ingest``,
the backlog and live schedule of ``stream`` (including which records
arrive out of order, and by how much), and the star-schema tables of
``dashboard``. Generation runs before any timing and is cached under
``.perfbench/cache`` in the checkout, so a repeated (seed, size) pays it
once. Each cache entry is built under a temporary name and renamed into
place, so a crash never leaves a half-written entry behind.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
import uuid
import zlib
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

#: cache entries kept per kind (least recently used are evicted)
CACHE_KEEP = 3

# --- CloudFront tree (ingest) ----------------------------------------------

ENVS = ("prod", "stg")
SERVICES = 4


def data_digest(data: str) -> int:
    """64-bit digest of one wire ``Data`` string (the gates compare
    sorted digest arrays before falling back to decoded records)."""
    return int.from_bytes(hashlib.blake2b(data.encode(), digest_size=8).digest(), "little")


def wire_data(record: dict[str, str]) -> str:
    """An enriched record in the sink's wire form: compact JSON in the
    record's own field order, as ``to_json`` renders it."""
    return json.dumps(record, separators=(",", ":"), ensure_ascii=False)


def read_log_rows(path: str) -> list[dict[str, str]]:
    """The raw rows of one generated gzipped TSV file."""
    from cloudfront_kinesis_log_lambda_spark.schema import FIELDNAMES

    with gzip.open(path, "rt", newline="") as f:
        return [
            dict(zip(FIELDNAMES, line.rstrip("\n").split("\t")))
            for line in f
            if line.strip() and not line.startswith("#")
        ]


def tree_files(root: str) -> list[tuple[str, str, str]]:
    """(path, env, serviceId) for every log file of a generated tree."""
    out = []
    base = os.path.join(root, "tree", "cloudfront")
    for env in sorted(os.listdir(base)):
        for sid in sorted(os.listdir(os.path.join(base, env))):
            d = os.path.join(base, env, sid)
            out += [(os.path.join(d, f), env, sid) for f in sorted(os.listdir(d))]
    return out


def expected_wire_records(root: str) -> Iterator[dict[str, str]]:
    """``testing.oracle.enrich_row`` over every generated row."""
    from cloudfront_kinesis_log_lambda_spark.testing.oracle import enrich_row

    return (
        enrich_row(row, env, sid)
        for path, env, sid in tree_files(root)
        for row in read_log_rows(path)
    )


def _write_service(root: str, sid: str, files: int, rows: int, seed: int) -> list[int]:
    """One service's share of the tree (both envs), plus the digests of
    its expected wire records."""
    from cloudfront_kinesis_log_lambda_spark.testing.fixtures import write_log_tree
    from cloudfront_kinesis_log_lambda_spark.testing.oracle import enrich_row

    tree = os.path.join(root, "tree")
    paths = write_log_tree(
        tree, envs=ENVS, service_ids=(sid,), files_per_service=files, rows=rows, seed=seed
    )
    digests = []
    for p in paths:
        env = p.split(os.sep)[-3]
        digests += [data_digest(wire_data(enrich_row(r, env, sid))) for r in read_log_rows(p)]
    return digests


@dataclass(frozen=True)
class LogTree:
    root: str
    tree: str
    rows: int
    #: sorted digests of the expected wire ``Data`` strings
    digests: np.ndarray


def log_tree(cache: str, seed: int, files: int, rows: int, workers) -> LogTree:
    """A seeded tree ``tree/cloudfront/<env>/<serviceId>/*.gz`` written by
    ``testing.fixtures.write_log_tree``: ``files`` files of ``rows`` rows,
    spread over 2 envs × 4 services (one generator task per service)."""
    per_service = files // (len(ENVS) * SERVICES)
    if per_service * len(ENVS) * SERVICES != files:
        raise ValueError(f"files must be a multiple of {len(ENVS) * SERVICES}")

    def build(tmp: str) -> None:
        rng = random.Random(f"cloudfront-{seed}")
        sids = [str(uuid.UUID(int=rng.getrandbits(128), version=4)) for _ in range(SERVICES)]
        # write_log_tree seeds file n of a call with seed+n: keep the
        # per-service base seeds far enough apart that no file repeats
        jobs = [
            (tmp, sid, per_service, rows, seed * 1_000_003 + k * 10_000)
            for k, sid in enumerate(sids)
        ]
        digests = [d for part in workers.starmap(_write_service, jobs) for d in part]
        np.save(os.path.join(tmp, "digests.npy"), np.sort(np.array(digests, dtype=np.uint64)))

    root = _cached(cache, "cftree", seed, f"f{files}r{rows}", build)
    return LogTree(
        root=root,
        tree=os.path.join(root, "tree"),
        rows=files * rows,
        digests=np.load(os.path.join(root, "digests.npy")),
    )


# --- Kinesis wire records (stream) ------------------------------------------

STREAM_SHARDS = 4
#: simulated event-time clock: each wall second of the schedule is one
#: simulated minute, starting at the fixture day's midnight
SIM_T0 = 1547769600  # 2019-01-18T00:00:00Z
SIM_SPEED = 60
#: share of records that arrive out of order, and their largest
#: event-time delay (simulated seconds) — kept below the query's
#: 2-minute watermark, so no record may be dropped as late
LATE_SHARE = 0.1
LATE_MAX_S = 90


def _stream_chunk(
    seed: int, tag: str, start: int, stop: int, rate: float, first: int
) -> list[tuple]:
    """Records ``start..stop-1`` of a seeded schedule at ``rate`` records
    per wall second, whose clock starts at record ``first``:
    ``(shard, line, event_epoch, src_ip, late_s)``."""
    from cloudfront_kinesis_log_lambda_spark.testing.fixtures import make_log_row
    from cloudfront_kinesis_log_lambda_spark.testing.oracle import enrich_row

    out = []
    for i in range(start, stop):
        rng = random.Random(f"{tag}-{seed}-{i}")
        row = make_log_row(rng)
        late = rng.uniform(0, LATE_MAX_S) if rng.random() < LATE_SHARE else 0.0
        epoch = int(SIM_T0 + (first + i) / rate * SIM_SPEED - late)
        rec = enrich_row(row, "prod", "bf574f33-66e3-4936-a0b6-420325157173")
        rec["@timestamp"] = _iso(epoch)
        pk = f"{rng.getrandbits(128):032x}"
        line = json.dumps({"PartitionKey": pk, "Data": wire_data(rec)})
        out.append((zlib.crc32(pk.encode()) % STREAM_SHARDS, line, epoch, rec["src_ip"], late))
    return out


def _iso(epoch: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).isoformat()


@dataclass(frozen=True)
class StreamInput:
    root: str
    #: JSONL lines in schedule order, and their shard
    n: int
    rate: float
    shard: np.ndarray
    epoch: np.ndarray
    src_ip: np.ndarray
    late_s: np.ndarray

    def lines(self) -> list[str]:
        with open(os.path.join(self.root, "records.jsonl")) as f:
            return f.read().splitlines()


def stream_input(
    cache: str, seed: int, tag: str, n: int, rate: float, workers, first: int = 0
) -> StreamInput:
    """``n`` seeded CloudFront wire records (what ``ingest`` ships) on a
    schedule of ``rate`` records per second, with simulated event time
    and a seeded out-of-order share. ``tag`` keeps the backlog and the
    live schedule of one seed distinct; ``first`` continues the simulated
    clock of an earlier schedule of that many records."""

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        step = -(-n // workers.n)
        jobs = [(seed, tag, a, min(a + step, n), rate, first) for a in range(0, n, step)]
        recs = [r for part in workers.starmap(_stream_chunk, jobs) for r in part]
        with open(os.path.join(tmp, "records.jsonl"), "w") as f:
            f.write("\n".join(r[1] for r in recs) + "\n")
        np.savez(
            os.path.join(tmp, "meta.npz"),
            shard=np.array([r[0] for r in recs], dtype=np.int16),
            epoch=np.array([r[2] for r in recs], dtype=np.int64),
            src_ip=np.array([r[3] for r in recs]),
            late_s=np.array([r[4] for r in recs]),
        )

    root = _cached(cache, f"stream-{tag}", seed, f"n{n}r{rate:g}f{first}", build)
    meta = np.load(os.path.join(root, "meta.npz"))
    return StreamInput(
        root=root, n=n, rate=rate, shard=meta["shard"], epoch=meta["epoch"],
        src_ip=meta["src_ip"], late_s=meta["late_s"],
    )


def write_shards(inp: StreamInput, fake_dir: str) -> None:
    """Lay a whole schedule out as fake shard files (the drain backlog)."""
    os.makedirs(fake_dir, exist_ok=True)
    by_shard: dict[int, list[str]] = {s: [] for s in range(STREAM_SHARDS)}
    for shard, line in zip(inp.shard.tolist(), inp.lines()):
        by_shard[shard].append(line)
    for shard, lines in by_shard.items():
        with open(os.path.join(fake_dir, f"shard-{shard:03d}.jsonl"), "w") as f:
            f.write("".join(line + "\n" for line in lines))


# --- star-schema tables (dashboard) -----------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PWORDS = ["blue", "hot", "large", "small", "red", "green", "tiny", "steel"]
_PNOUNS = ["ring", "bolt", "anvil", "widget", "gear", "valve", "spring", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(days_from: str, days: np.ndarray) -> np.ndarray:
    return np.datetime64(days_from, "us") + (days * 86_400_000_000).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write_tables(tmp: str, seed: int, sf: float) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_docs, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(_PWORDS, n_part), " "), rng.choice(_PNOUNS, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li)),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lengths = rng.integers(10, 101, n_docs)
    words = rng.choice(_VOCAB, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]: bounds[i + 1]]) for i in range(n_docs)]
    # a seeded share of near-duplicates: a copy of an earlier document
    # with one word changed, so the near-dup operators have pairs to find
    for i in rng.choice(np.arange(1, n_docs), n_docs // 50, replace=False):
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def star_schema(cache: str, seed: int, sf: float) -> str:
    """A seeded scale-``sf`` directory of the ten tables the registry
    reads (same names, columns and types as the repository's test tables,
    TESTDATA.md)."""

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        _write_tables(tmp, seed, sf)

    return _cached(cache, "star", seed, f"sf{sf:g}", build)


# --- cache ------------------------------------------------------------------


def _cached(cache: str, kind: str, seed: int, size: str, build) -> str:
    root = os.path.join(cache, f"{kind}-s{seed}-{size}")
    marker = os.path.join(root, ".complete")
    if os.path.exists(marker):
        os.utime(marker)
        return root
    tmp = f"{root}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, root)
    except OSError:  # a concurrent run built the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(cache, kind)
    return root


def _evict(cache: str, kind: str) -> None:
    entries = []
    for name in os.listdir(cache):
        marker = os.path.join(cache, name, ".complete")
        if name.startswith(f"{kind}-s") and os.path.exists(marker):
            entries.append((os.path.getmtime(marker), name))
    for _, name in sorted(entries)[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, name), ignore_errors=True)
