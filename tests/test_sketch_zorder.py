"""Sketch laws: the Misra-Gries superset guarantee (batch kernel,
resumable feed, streaming twin), the ddsketch quantile bounds and its
streaming twin, and Z-order layout skipping evidence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog import _DDSKETCH_QS
from dvh_airflow_kafka_spark.ext.sketch import _mg_feed
from dvh_airflow_kafka_spark.io import load_table
from tests.compare import run_query, twin_rows


def _freqs(texts):
    out: dict[str, int] = {}
    for t in texts:
        for tok in t.split():
            out[tok] = out.get(tok, 0) + 1
    return out


def test_misra_gries_candidates_cover_heavy_hitters(spark, sf_dir):
    from dvh_airflow_kafka_spark.ext.sketch import (
        _misra_gries_partition,
        frequent_tokens,
    )
    from dvh_airflow_kafka_spark.ext.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # exact reference: tokens with freq*k > N
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    N = toks.count()
    k = 64
    want = {
        (r.t, r.c)
        for r in toks.groupBy("t").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c * k > N
    }
    got = {
        (r.token, r.n_occurrences)
        for r in frequent_tokens(docs, F.col("text"), k_state=k).collect()
    }
    assert got == want
    assert want  # fixture vocabulary is small: heavy hitters exist


def test_misra_gries_adversarial_stream(spark):
    """Single-partition kernel on a crafted stream: the heavy item
    survives even when drowned in distinct noise exceeding k."""
    import pandas as pd

    from dvh_airflow_kafka_spark.ext.sketch import _misra_gries_partition

    # 400 occurrences of 'hot' interleaved with 2000 distinct cold tokens
    text = []
    for i in range(400):
        text.append("hot")
        for j in range(5):
            text.append(f"cold{i}_{j}")
    pdf = pd.DataFrame({"__text": [" ".join(text)]})
    out = list(_misra_gries_partition(iter([pdf]), 16))
    survivors = set(out[0]["token"]) if out else set()
    # freq(hot)=400 > 2400/16=150 -> MG guarantees survival
    assert "hot" in survivors
    assert len(survivors) <= 16


def test_zorder_layout_narrows_file_ranges(spark, tmp_path):
    from dvh_airflow_kafka_spark.operators.maintenance import (
        column_range_stats,
        zorder_layout,
    )

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "ev")
    # baseline: hash-scattered layout, every file spans both domains
    ev.repartition(8).write.parquet(path)
    before = column_range_stats(path, ["user_id", "value"])
    zorder_layout(spark, path, ["user_id", "value"], n_files=8)
    after = column_range_stats(path, ["user_id", "value"])

    assert after["user_id"]["n_files"] >= 4
    # the stats are the store's, not the spelling's: the file:// URI of
    # the same dir lists the same files, and a missing dir raises
    assert column_range_stats("file://" + path, ["user_id", "value"]) == after
    with pytest.raises(FileNotFoundError):
        column_range_stats(path + "_missing", ["user_id"])
    # same rows, new layout
    assert spark.read.parquet(path).count() == ev.count()
    for c in ("user_id", "value"):
        # scattered: each of 8 files covers most of the range (>=~5 of 8
        # total); z-ordered: 8 files split a 2-D curve ~sqrt(8)x per
        # dimension, so coverage must shrink for BOTH columns at once -
        # that is the multi-column skipping property a plain sort lacks.
        assert before[c]["relative_coverage"] > 4.5
        assert after[c]["relative_coverage"] < 0.6 * before[c]["relative_coverage"]


def test_ivf_index_build_and_serve(spark, tmp_path):
    """The persisted IVF index serves the same results as the inline
    ivf_topk (same seed/params), the probe scan is partition-pruned at
    the directory level, and recall vs brute force clears the floor."""
    from dvh_airflow_kafka_spark.ext import similarity as xsim

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.limit(10)
    path = str(tmp_path / "ivf")
    xsim.ivf_index_build(emb, path, n_lists=16)

    served = xsim.ivf_index_topk(spark, path, queries, k=5, n_probe=6)
    inline = xsim.ivf_topk(emb, queries, k=5, n_lists=16, n_probe=6)
    got = {(r.query_id, r.rank): r.neighbor_id for r in served.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in inline.collect()}
    assert got == want  # same quantizer seed -> identical answers

    # directory-level pruning: the probed scan reads only the needed
    # list_id= partitions
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    exact = xsim.brute_force_topk(emb, queries, k=5)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(
        1
        for (qid, _), nid in got.items()
        if nid in truth.get(qid, set())
    )
    assert hits / len(got) >= 0.6  # recall floor at n_probe=6/16


def test_countmin_never_underestimates_and_merges(spark, sf_dir):
    """CM laws: (1) one-sided error — the estimate is >= the exact count
    for every probe, including an absent token whose truth is 0; (2)
    mergeability — the sketch of a union equals the elementwise
    (i, bucket) sum of the halves' sketches."""
    from dvh_airflow_kafka_spark.ext import text as xtext
    from dvh_airflow_kafka_spark.ext.sketch import (
        countmin_build,
        countmin_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(xtext.tokens(F.col("text"))).alias("token"))
    probes = ["the", "spark", "data", "zzznotintext"]
    sk = countmin_build(toks)
    est = {
        r["token"]: r["cm_estimate"]
        for r in countmin_estimate(spark, sk, probes).collect()
    }
    exact = {
        r["token"]: r["n"]
        for r in toks.filter(F.col("token").isin(probes))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert est["zzznotintext"] >= 0 and exact.get("zzznotintext") is None
    for t in probes:
        assert est[t] >= exact.get(t, 0), t

    lo = docs.filter(F.col("doc_id") % 2 == 0)
    hi = docs.filter(F.col("doc_id") % 2 == 1)

    def sk_rows(frame):
        t = frame.select(F.explode(xtext.tokens(F.col("text"))).alias("token"))
        return {
            (r["i"], r["bucket"]): r["c"] for r in countmin_build(t).collect()
        }

    whole = sk_rows(docs)
    a, b = sk_rows(lo), sk_rows(hi)
    merged: dict = {}
    for part in (a, b):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_ddsketch_quantile_bounds_vs_exact(spark, sf_dir):
    """The sketch's reported bucket upper bound brackets the exact
    percentile: hi ≥ exact, and hi ≤ exact · (1 + 1/16) + 1 (one
    sub-bucket of relative width, +1 for integer truncation)."""
    rows = run_query(spark, sf_dir, "ddsketch_value_quantiles").collect()
    vals = np.array(
        [
            int(np.floor(r.value * 1_000_000 + 0.5))
            for r in load_table(spark, sf_dir, "events")
            .select("value")
            .collect()
        ],
        dtype=np.int64,
    )
    assert rows and {r.q_pct for r in rows} == set(_DDSKETCH_QS)
    for r in rows:
        # exact rank-percentile over this event_type's values
        sub = np.sort(
            np.array(
                [
                    int(np.floor(v * 1_000_000 + 0.5))
                    for (v,) in load_table(spark, sf_dir, "events")
                    .filter(F.col("event_type") == r.event_type)
                    .select("value")
                    .collect()
                ],
                dtype=np.int64,
            )
        )
        rank = -(-r.q_pct * len(sub) // 100)  # ceil
        exact = int(sub[rank - 1])
        assert r.value_micro_hi >= exact, (r, exact)
        assert r.value_micro_hi <= exact + exact // 16 + 1, (r, exact)
    assert vals.min() >= 1  # the vm >= 1 guard drops nothing on this data


def test_streaming_ddsketch_equals_batch_sketch(spark, sf_dir):
    """Mergeability, engine-level: the streaming complete-mode snapshot
    must equal the batch sketch row-for-row."""
    batch, stream = twin_rows(
        spark, sf_dir, "ddsketch_value_quantiles", "streaming_ddsketch_quantiles"
    )
    assert batch == stream


def test_mg_feed_retains_every_heavy_hitter():
    # adversarial mix: one dominant token, a mid token, and a long tail of
    # singletons that forces constant decrement churn at k=4
    texts = ["hot " * 40 + "warm " * 12] + [f"tail{i}" for i in range(60)]
    k = 4
    counters: dict[str, int] = {}
    _mg_feed(counters, texts, k)
    assert len(counters) <= k
    n = sum(_freqs(texts).values())
    for tok, c in _freqs(texts).items():
        if c > n / k:
            assert tok in counters, (tok, c, n, counters)


def test_mg_feed_chunked_equals_single_pass():
    # the streaming-state law: resuming the counters across chunk
    # boundaries is EXACTLY one pass over the concatenation
    texts = [f"a b c d{i % 7} e{i % 3} a" for i in range(50)]
    one: dict[str, int] = {}
    _mg_feed(one, texts, 5)
    chunked: dict[str, int] = {}
    for lo in range(0, 50, 9):
        _mg_feed(chunked, texts[lo : lo + 9], 5)
    assert one == chunked


def test_streaming_mg_matches_batch_twin_and_bounds_emissions(spark, sf_dir):
    batch, stream = twin_rows(
        spark,
        sf_dir,
        "frequent_tokens_bounded_state",
        "streaming_frequent_tokens",
    )
    assert batch == stream
    assert len(batch) > 0
