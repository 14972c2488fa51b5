"""Graph operators: planted-graph triangle census + PageRank
mode-agreement (the exact_fold oracle mode vs the order-free
production aggregation documented in operators/graph.py)."""

from __future__ import annotations

import pytest
from conftest import executed_plans
from pyspark.sql import functions as F

from cloudfront_kinesis_log_lambda_spark.operators.graph import (
    copurchase_edges,
    pagerank,
    triangle_stats,
)
from cloudfront_kinesis_log_lambda_spark.operators.util import fits_broadcast
from cloudfront_kinesis_log_lambda_spark.session import scoped_conf

#: the engine's broadcast threshold, and Spark's "broadcasts off": the
#: operators broadcast their ≤|V| / |E| tables under the first and run
#: their shuffle formulations under the second — same output either way
THRESHOLDS = ["64m", "-1"]


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long"
    )


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_triangle_stats_planted_graph(spark, threshold):
    """K4 ∪ pendant ∪ isolated edge — every degree/triangle/clustering
    value computed by hand. K4 has C(4,3)=4 triangles, 3 through each
    of its nodes; the pendant vertex dilutes node 4's clustering to
    2·3/(4·3) = 0.5 without adding triangles."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    conf = {"spark.sql.autoBroadcastJoinThreshold": threshold}
    with scoped_conf(spark, conf), executed_plans(spark) as plans:
        out = triangle_stats(_edges(spark, k4 + [(4, 5), (6, 7)]))
        got = {r["node"]: r for r in out.collect()}
    assert any("BroadcastHashJoin" in p for p in plans) == (threshold != "-1")
    expect = {
        1: (3, 3, 1.0),
        2: (3, 3, 1.0),
        3: (3, 3, 1.0),
        4: (4, 3, 0.5),
        5: (1, 0, 0.0),
        6: (1, 0, 0.0),
        7: (1, 0, 0.0),
    }
    assert set(got) == set(expect)
    for n, (d, t, c) in expect.items():
        assert got[n]["degree"] == d, n
        assert got[n]["triangles"] == t, n
        assert got[n]["clustering"] == c, n
    # global triangle count: corner-count / 3
    assert sum(r["triangles"] for r in got.values()) == 3 * 4


def test_triangle_stats_star_has_no_wedges(spark):
    """Celebrity-skew shape: a star has zero triangles, and the degree
    orientation points every edge INTO the hub — the hub's oriented
    out-degree is 0, so the wedge join never fans out on it (the
    O(m^1.5) bound's load-bearing case)."""
    star = [(1, h) for h in range(2, 12)]  # hub 11 high? no: hub is 1
    out = triangle_stats(_edges(spark, star))
    rows = {r["node"]: r for r in out.collect()}
    assert rows[1]["degree"] == 10
    assert all(r["triangles"] == 0 for r in rows.values())
    assert all(r["clustering"] == 0.0 for r in rows.values())


def test_copurchase_edges_contract(spark, sf_dir):
    """Edge list is undirected-canonical (a < b), self-edge-free, and
    duplicate-free even when a part appears twice in one order."""
    e = copurchase_edges(spark, sf_dir)
    assert e.where(F.col("a") >= F.col("b")).count() == 0
    assert e.count() == e.distinct().count()


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_pagerank_exact_fold_matches_production(spark, threshold):
    """The oracle-checked sequential-fold mode and the order-free
    production sum walk the same trajectory within float noise (both
    quantize to 12 decimals per sweep, so agreement is exact here), to
    the same ranks with and without broadcast joins."""
    edges = _edges(
        spark,
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 4), (5, 1)],
    ).selectExpr("a as src", "b as dst")
    conf = {"spark.sql.autoBroadcastJoinThreshold": threshold}
    with scoped_conf(spark, conf), executed_plans(spark) as plans:
        a = {r["node"]: r["rank"] for r in pagerank(edges, exact_fold=True).collect()}
        b = {r["node"]: r["rank"] for r in pagerank(edges, exact_fold=False).collect()}
    assert any("BroadcastHashJoin" in p for p in plans) == (threshold != "-1")
    assert a == {
        1: 1.550892963116,
        2: 1.391124242261,
        3: 0.784370982975,
        4: 1.12361181165,
        5: 0.15,
    }
    assert set(a) == set(b)
    for n in a:
        assert abs(a[n] - b[n]) < 1e-9, n


def test_fits_broadcast_reads_spark_byte_units():
    """Spark reports the threshold as it was set ("64m"), with its byte
    suffix ("10485760b" on a plain session), or as -1 (broadcasts off);
    a relation fits when rows × row bytes is at most the threshold."""
    from types import SimpleNamespace

    def session(value):
        return SimpleNamespace(conf=SimpleNamespace(get=lambda key: value))

    assert fits_broadcast(session("64m"), 4 << 20, 16)
    assert not fits_broadcast(session("64m"), (4 << 20) + 1, 16)
    assert fits_broadcast(session("10485760b"), 655360, 16)
    assert not fits_broadcast(session("10485760b"), 655361, 16)
    assert fits_broadcast(session("1kb"), 64, 16)
    assert not fits_broadcast(session("1024"), 65, 16)
    assert fits_broadcast(session("1G"), 1 << 26, 16)
    assert not fits_broadcast(session("-1"), 0, 16)
