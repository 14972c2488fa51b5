"""``dashboard``: passes over ten single-job registry entries at sf0.1.

These queries each take under a second and sit on the engine's
scheduling and planning floor, so per-job overhead and session
configuration show here while operator compute barely does. A pass
runs every entry through ``__spark_entry__.queries()`` and collects its
result; the first pass is cold, warm passes follow until ``--seconds``
of pass time has been measured. Every result is gated against its
DuckDB twin from ``oracle_sql()``, normalized as in
``tools/check_correctness.py``.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import time

from perfbench import inputs
from perfbench.common import ROOT, Ctx, Outcome, fail, median, spark_layer, stage_totals, sum_totals

#: pinned here, not imported from bench.py, so the benchmark does not
#: move when that list does
ENTRIES = (
    "pricing_summary", "revenue_by_segment", "top_orders_per_customer",
    "running_customer_spend", "cube_orders", "events_hourly", "sessionize_events",
    "doc_quality", "purchases_asof_view", "cosine_topk_bruteforce",
)
SCALE = 0.1
MIN_WARM_PASSES = 2
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def prepare(ctx: Ctx, workers) -> str:
    return inputs.star_schema(ctx.cache, ctx.seed, SCALE)


def _normalize():
    """``normalize`` of tools/check_correctness.py, the repository's own
    result normalization for oracle comparisons."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def twins(sf_dir: str) -> dict:
    """The DuckDB twin of every entry over the generated tables."""
    import duckdb

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return {name: con.execute(oracles[name]).df() for name in ENTRIES}


def gate(name: str, got, want, normalize) -> str | None:
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, twin has {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            normalize(got), normalize(want), check_dtype=False, check_exact=True
        )
    except AssertionError as err:
        return f"{name}: values differ: {' | '.join(str(err).splitlines()[:3])}"
    return None


def release(spark) -> None:
    """Between timings (as tools/check_correctness.py does): drop cached
    and checkpointed blocks and collect garbage on both sides."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(ctx: Ctx, sf_dir: str) -> Outcome:
    import __spark_entry__ as entrymod

    spark, tracer = ctx.spark, ctx.tracer
    queries = entrymod.queries()
    want = twins(sf_dir)
    normalize = _normalize()
    walls: list[float] = []
    per_query: dict[str, list[float]] = {name: [] for name in ENTRIES}
    groups: list[dict[str, str]] = []
    rows_per_pass = 0
    attempted = failed = 0
    first = 0.0
    k = 0
    while k <= MIN_WARM_PASSES or sum(walls) < ctx.seconds:
        tracer.pass_label = "cold" if k == 0 else f"warm-{k}"
        wall, rows, pass_groups = 0.0, 0, {}
        for name in ENTRIES:
            with tracer.span(f"q.{name}", group=True) as sp:
                t0 = time.perf_counter()
                got = queries[name](spark, sf_dir).toPandas()
                dt = time.perf_counter() - t0
            if sp is not None:
                pass_groups[name] = sp["group"]
            attempted += 1
            problem = gate(name, got, want[name], normalize)
            if problem:
                failed += 1
                fail(f"dashboard pass {k}: {problem}")
            release(spark)
            wall += dt
            rows += len(got)
            if k:
                per_query[name].append(dt)
        if k == 0:
            first = wall
        else:
            walls.append(wall)
            groups.append(pass_groups)
        rows_per_pass = rows
        k += 1
    tracer.pass_label = None
    pass_s = median(walls)
    out = Outcome(
        first_pass_s=first,
        pass_s=pass_s,
        records_per_s=rows_per_pass / pass_s,
        latencies_ms=[dt * 1000 for name in ENTRIES for dt in per_query[name]],
        attempted=attempted,
        failed=failed,
    )
    if tracer.enabled:
        totals = stage_totals(spark)
        layer = {}
        for name in ENTRIES:
            per_pass = [sum_totals(totals, [g[name]]) for g in groups]
            layer[f"q.{name}.s"] = median(per_query[name])
            layer[f"q.{name}.jobs"] = median([p["jobs"] for p in per_pass])
            layer[f"q.{name}.cpu_ms"] = median([p["cpu_ms"] for p in per_pass])
        layer.update(
            spark_layer([sum_totals(totals, list(g.values())) for g in groups], walls)
        )
        out.layer = layer
    return out
