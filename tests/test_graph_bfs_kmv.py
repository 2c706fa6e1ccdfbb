"""Laws for ext/graph.bfs_min_hops and ext/sketch KMV theta sketches,
batch and streaming."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext.graph import bfs_min_hops
from dvh_airflow_kafka_spark.ext.sketch import (
    KMV_SALT,
    KMV_UNIVERSE,
    kmv_estimate,
    kmv_sketch,
)
from tests.compare import twin_rows


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


# ---------------------------------------------------------------- BFS laws


def test_bfs_path_graph_hops_are_distances(spark):
    pairs = [(i, i + 1) for i in range(6)]  # 0 -> 1 -> ... -> 6
    got = {
        r["id"]: r["hops"]
        for r in bfs_min_hops(
            _seeds(spark, [0]), _edges(spark, pairs), max_hops=4
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # 5,6 beyond max_hops


def test_bfs_min_hop_wins_on_multiple_paths(spark):
    # 0->1->2->3 and the shortcut 0->3: node 3 must report hop 1
    pairs = [(0, 1), (1, 2), (2, 3), (0, 3)]
    got = {
        r["id"]: r["hops"]
        for r in bfs_min_hops(
            _seeds(spark, [0]), _edges(spark, pairs), max_hops=3
        ).collect()
    }
    assert got[3] == 1 and got[2] == 2


def test_bfs_multi_source_takes_nearest_seed(spark):
    pairs = [(0, 1), (1, 2), (2, 3), (10, 3)]
    got = {
        r["id"]: r["hops"]
        for r in bfs_min_hops(
            _seeds(spark, [0, 10]), _edges(spark, pairs), max_hops=3
        ).collect()
    }
    assert got[3] == 1  # via seed 10, not hop-3 via seed 0
    assert got[0] == 0 and got[10] == 0


def test_bfs_cycle_terminates_and_each_node_once(spark):
    pairs = [(0, 1), (1, 2), (2, 0)]
    rows = bfs_min_hops(
        _seeds(spark, [0]), _edges(spark, pairs), max_hops=4
    ).collect()
    assert sorted((r["id"], r["hops"]) for r in rows) == [
        (0, 0),
        (1, 1),
        (2, 2),
    ]


def test_bfs_result_independent_of_partitioning(spark):
    pairs = [(i, (i * 7 + 1) % 40) for i in range(40)]
    e1 = _edges(spark, pairs).repartition(1)
    e2 = _edges(spark, pairs).repartition(13)
    r1 = sorted(
        (r["id"], r["hops"])
        for r in bfs_min_hops(_seeds(spark, [0]), e1, max_hops=4).collect()
    )
    r2 = sorted(
        (r["id"], r["hops"])
        for r in bfs_min_hops(_seeds(spark, [0]), e2, max_hops=4).collect()
    )
    assert r1 == r2


# ---------------------------------------------------------------- KMV laws


def _py_hash(v) -> int:
    return int(
        hashlib.sha256(f"{KMV_SALT}{v}".encode()).hexdigest()[:15], 16
    )


def _members(spark, rows):
    return spark.createDataFrame(rows, "g string, v long")


def test_kmv_sketch_matches_reference_kmins(spark):
    rows = [("a", i) for i in range(200)]
    got = kmv_sketch(_members(spark, rows), "g", "v", 8).collect()
    assert len(got) == 1
    expect = sorted(_py_hash(i) for i in range(200))[:8]
    assert got[0]["kmins"] == expect


def test_kmv_sketch_independent_of_partitioning_and_duplicates(spark):
    rows = [("a", i % 50) for i in range(500)]  # heavy duplication
    s1 = kmv_sketch(_members(spark, rows).repartition(1), "g", "v", 8)
    s2 = kmv_sketch(_members(spark, rows).repartition(17), "g", "v", 8)
    assert s1.collect()[0]["kmins"] == s2.collect()[0]["kmins"]
    assert s1.collect()[0]["kmins"] == sorted(_py_hash(i) for i in range(50))[:8]


def test_kmv_unsaturated_sketch_is_exact(spark):
    rows = [("a", i) for i in range(5)]
    out = (
        kmv_sketch(_members(spark, rows), "g", "v", 64)
        .select(kmv_estimate(F.col("kmins"), 64).alias("est"))
        .collect()
    )
    assert out[0]["est"] == 5.0


def test_kmv_estimate_within_error_envelope(spark):
    n, k = 5000, 64
    rows = [("a", i) for i in range(n)]
    out = (
        kmv_sketch(_members(spark, rows), "g", "v", k)
        .select(kmv_estimate(F.col("kmins"), k).alias("est"))
        .collect()
    )
    est = out[0]["est"]
    # KMV relative error ~ 1/sqrt(k-2) ≈ 12.7%; allow 4 sigma
    assert abs(est - n) / n < 0.51


def test_kmv_universe_matches_hash_width(spark):
    assert KMV_UNIVERSE == 16**15
    assert _py_hash(123) < KMV_UNIVERSE


def test_streaming_kmv_matches_batch_twin(spark, sf_dir):
    batch, stream = twin_rows(
        spark, sf_dir, "theta_sketch_overlap", "streaming_kmv_minima"
    )
    assert batch == stream
    assert len(batch) > 0
