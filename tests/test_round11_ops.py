"""Round-11 operator laws: the compositions left in
catalog/q13_round11.py (the ingest queries' laws live in
tests/test_ingest.py, the shingle-index updater's in
tests/test_stateful_streaming.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog import REGISTRY
from dvh_airflow_kafka_spark.io import load_table


def test_streaming_gate_matches_batch_gate(spark, sf_dir):
    batch = REGISTRY["incremental_near_dup_ingest"].fn(spark, sf_dir).collect()
    stream = REGISTRY["streaming_neardup_gate"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))
    assert len(batch) > 0


# --------------------------------------------------------------------------
# mixture_rebalance_incremental
# --------------------------------------------------------------------------


def test_rebalance_merge_law_and_budget(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog.q13_round11 import (
        _REBALANCE_BUDGET,
    )
    from dvh_airflow_kafka_spark.ext.text import token_count_ws

    rows = REGISTRY["mixture_rebalance_incremental"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    direct = {
        r["source"]: (r["n"], r["t"])
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(token_count_ws(F.col("text"))).alias("t"),
        )
        .collect()
    }
    assert {r["source"] for r in rows} == set(direct)
    for r in rows:
        # merged partials equal the direct one-pass aggregate
        assert (r["n_docs"], r["n_tokens"]) == direct[r["source"]], r
        # the increment is a subset of the total
        assert 0 <= r["inc_docs"] <= r["n_docs"]
        assert 0 <= r["inc_tokens"] <= r["n_tokens"]
        assert r["w_sqrt"] * r["w_sqrt"] <= r["n_tokens"]
        assert (r["w_sqrt"] + 1) * (r["w_sqrt"] + 1) > r["n_tokens"]
    # floor-division shares never oversubscribe the ppm pool / budget
    assert sum(r["share_ppm"] for r in rows) <= 1_000_000
    assert sum(r["token_budget"] for r in rows) <= _REBALANCE_BUDGET


# --------------------------------------------------------------------------
# cross_snapshot_neardup
# --------------------------------------------------------------------------


def test_cross_snapshot_gate_covers_exactly_the_increment(spark, sf_dir):
    rows = REGISTRY["cross_snapshot_neardup"].fn(spark, sf_dir).collect()
    diff = {
        r["doc_id"]: r["change_type"]
        for r in REGISTRY["corpus_snapshot_diff"].fn(spark, sf_dir).collect()
    }
    ingestable = {k for k, v in diff.items() if v in ("added", "changed")}
    assert {r["doc_id"] for r in rows} == ingestable
    for r in rows:
        assert r["change_type"] == diff[r["doc_id"]]
        assert 0.0 <= r["max_jaccard"] <= 1.0
        assert r["kept"] == int(r["max_jaccard"] < 0.5)


# --------------------------------------------------------------------------
# quality_drift_monitor
# --------------------------------------------------------------------------


def test_drift_monitor_week_pairs_and_chi2_per_week(spark, sf_dir):
    import datetime as dt

    rows = REGISTRY["quality_drift_monitor"].fn(spark, sf_dir).collect()
    assert rows
    by_week: dict[str, set] = {}
    for r in rows:
        d = dt.date.fromisoformat(r["week"])
        assert d.weekday() == 0  # Monday-truncated weeks
        assert r["n_prev"] > 0 and r["n_cur"] > 0
        assert r["ks_num"] >= 0 and 0.0 <= r["ks_stat"] <= 1.0
        by_week.setdefault(r["week"], set()).add(r["mix_chi2_micro"])
    # the mix chi-square is a WEEK-level statistic: one value per week,
    # repeated across that week's event-type rows
    for wk, vals in by_week.items():
        assert len(vals) == 1, (wk, vals)
    # the first week has no predecessor -> it never appears as a pair
    weeks = sorted(by_week)
    assert "2024-01-01" not in weeks


# --------------------------------------------------------------------------
# weekly_crawl_capstone
# --------------------------------------------------------------------------


def test_weekly_crawl_composes_its_stages(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog.q13_round11 import (
        _REBALANCE_BUDGET,
    )

    rows = REGISTRY["weekly_crawl_capstone"].fn(spark, sf_dir).collect()
    gate = {
        r["doc_id"]: r["kept"]
        for r in REGISTRY["cross_snapshot_neardup"].fn(spark, sf_dir).collect()
    }
    # the capstone's admitted counts equal the standalone gate's verdicts
    docs = load_table(spark, sf_dir, "documents")
    src_of = {
        r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()
    }
    adm_by_src: dict[str, int] = {}
    for doc_id, kept in gate.items():
        if kept == 1 and src_of.get(doc_id) is not None:
            adm_by_src[src_of[doc_id]] = adm_by_src.get(src_of[doc_id], 0) + 1
    got = {r["source"]: r["adm_docs"] for r in rows}
    for src, n in adm_by_src.items():
        assert got.get(src, 0) == n, (src, n, got.get(src))
    for r in rows:
        assert 0 <= r["adm_docs"] <= r["n_docs"]
        assert 0 <= r["adm_tokens"] <= r["n_tokens"]
        assert r["w_sqrt"] * r["w_sqrt"] <= r["n_tokens"] < (r["w_sqrt"] + 1) ** 2
    assert sum(r["share_ppm"] for r in rows) <= 1_000_000
    assert sum(r["token_budget"] for r in rows) <= _REBALANCE_BUDGET


def test_streaming_mixture_matches_batch_twin(spark, sf_dir):
    batch = REGISTRY["mixture_rebalance_incremental"].fn(spark, sf_dir).collect()
    stream = REGISTRY["streaming_mixture_rebalance"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))
    assert len(batch) > 0
