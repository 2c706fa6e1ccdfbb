"""Laws for ext/stats (order statistics by counting) and containment
pairs — pinned against numpy/direct computation on seeded data, so the
kernels hold independently of the catalog oracles that also exercise
them — and the week-over-week drift monitor built on them."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext import stats as xstats
from dvh_airflow_kafka_spark.ext.dedup import ngram_containment_pairs
from tests.compare import run_query


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def seeded_values(spark):
    rng = random.Random(4242)
    rows = [
        (k, rng.randint(0, 500))
        for k in ("a", "b", "c")
        for _ in range(rng.randint(30, 200))
    ]
    return rows


def test_keyed_median_matches_numpy(spark, seeded_values):
    df = _df(spark, seeded_values, "k string, v long")
    got = {
        r["k"]: r["m"]
        for r in xstats.keyed_median(df, "k", "v", "m").collect()
    }
    for k in ("a", "b", "c"):
        vals = [v for kk, v in seeded_values if kk == k]
        assert got[k] == float(np.median(vals)), k


def test_keyed_values_at_ranks_matches_sorted_indexing(spark, seeded_values):
    df = _df(spark, seeded_values, "k string, v long")
    got = {
        r["k"]: (r["lo"], r["hi"], r["n"])
        for r in xstats.keyed_values_at_ranks(
            df,
            "k",
            "v",
            {"lo": "(5 * __n + 99) div 100", "hi": "__n - (5 * __n + 99) div 100 + 1"},
            with_total="n",
        ).collect()
    }
    for k in ("a", "b", "c"):
        vals = sorted(v for kk, v in seeded_values if kk == k)
        n = len(vals)
        r_lo = (5 * n + 99) // 100
        assert got[k] == (vals[r_lo - 1], vals[n - r_lo], n), k


def test_keyed_median_mad_matches_numpy(spark, seeded_values):
    df = _df(spark, seeded_values, "k string, v long")
    got = {
        r["k"]: (r["med"], r["mad"])
        for r in xstats.keyed_median_mad(df, "k", "v", "med", "mad").collect()
    }
    for k in ("a", "b", "c"):
        vals = np.array([v for kk, v in seeded_values if kk == k], dtype=float)
        med = float(np.median(vals))
        mad = float(np.median(np.abs(vals - med)))
        assert got[k] == (med, mad), k


def test_median_mad_robust_to_planted_whale(spark):
    """The 50% breakdown point in action: one planted 10⁹ outlier moves
    a mean/σ pair arbitrarily but leaves median and MAD unchanged."""
    base = [("k", v) for v in range(1, 102)]  # 1..101, median 51, MAD 25
    clean = xstats.keyed_median_mad(
        _df(spark, base, "k string, v long"), "k", "v", "med", "mad"
    ).collect()[0]
    spiked = xstats.keyed_median_mad(
        _df(spark, base + [("k", 10**9)], "k string, v long"),
        "k",
        "v",
        "med",
        "mad",
    ).collect()[0]
    assert (clean["med"], clean["mad"]) == (51.0, 25.0)
    assert spiked["med"] == 51.5  # shifts half a step, not 10⁷
    assert spiked["mad"] == 25.5


def test_ks_identical_samples_is_zero_and_split_detects(spark):
    rows = [("k", v % 97, v % 2 == 0) for v in range(2000)]
    df = _df(spark, rows, "k string, v long, early boolean")
    r = xstats.keyed_ks_two_sample(df, "k", "v", "early").collect()[0]
    # alternating assignment → both sides see the same distribution
    assert r["ks_stat"] <= 0.01
    # disjoint supports → D = 1 exactly
    rows2 = [("k", v, v < 500) for v in range(1000)]
    df2 = _df(spark, rows2, "k string, v long, early boolean")
    r2 = xstats.keyed_ks_two_sample(df2, "k", "v", "early").collect()[0]
    assert r2["ks_stat"] == 1.0
    assert r2["ks_num"] == r2["n_a"] * r2["n_b"]


def test_containment_superset_scores_one(spark):
    """A document pasted verbatim inside a longer one has containment
    exactly 1.0 in the short→long direction even though Jaccard is low."""
    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = _df(spark, [(1, short), (2, long)], "doc_id long, text string")
    rows = ngram_containment_pairs(
        df, "doc_id", "text", ngram=3, threshold=0.5
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_a"] == 1.0
    assert r["containment_b"] < 0.2


def test_rank_bounds_cover_sorted_positions(spark, seeded_values):
    df = _df(spark, seeded_values, "k string, v long")
    got = {
        (r["k"], r["v"]): (r["__lo"], r["__hi"], r["__cnt"])
        for r in xstats.keyed_rank_bounds(df, "k", "v").collect()
    }
    for k in ("a", "b"):
        vals = sorted(v for kk, v in seeded_values if kk == k)
        for v in set(vals):
            lo = vals.index(v) + 1
            cnt = vals.count(v)
            assert got[(k, v)] == (lo, lo + cnt - 1, cnt), (k, v)


def test_gini_and_spearman_catalog_laws(spark):
    """Analytic pins for the corpus-statistics queries: Gini is 0 for a
    uniform frequency distribution; Spearman is exactly ±1 for
    monotone (anti)monotone pairs and its centered doubled ranks sum
    to zero by construction."""
    from dvh_airflow_kafka_spark.catalog import REGISTRY
    import math

    # Gini/entropy on a handmade corpus: source 'u' has 4 tokens each
    # appearing twice (uniform → gini 0, entropy ln(4)); source 's' is
    # maximally skewed over 2 types.
    rows = [
        (1, "aa bb cc dd aa bb cc dd", "en", "u", 1),
        (2, "x x x x x x x y", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, shutil, os

    tmp = tempfile.mkdtemp(prefix="statslaw_")
    try:
        # stage a minimal sf_dir with just the documents table
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = {
            r["source"]: r
            for r in REGISTRY["token_frequency_profile"].fn(spark, tmp).collect()
        }
        assert out["u"]["gini"] == 0.0
        # uniform over 4 types, 2 each: collision_sum = 4*2^2 = 16,
        # Simpson = 16/64 = 1/4, so Renyi-2 entropy -ln(1/4) = ln(4)
        assert out["u"]["collision_sum"] == 16
        assert out["u"]["simpson_index"] == 0.25
        assert abs(-math.log(out["u"]["simpson_index"]) - math.log(4)) < 1e-12
        assert out["u"]["vocab_size"] == 4 and out["u"]["total_tokens"] == 8
        # frequencies [1, 7]: G = (2·1·1 + 2·2·7 − 3·8) / (2·8) = 0.375
        assert out["s"]["gini"] == 0.375
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_spearman_monotone_is_one(spark):
    rows = [("k", i, i * 3 + 7) for i in range(1, 50)]
    df = _df(spark, rows, "k string, x long, y long")
    bx = xstats.keyed_rank_bounds(df.select("k", "x"), "k", "x").select(
        "k", "x", (F.col("__lo") + F.col("__hi")).alias("a2")
    )
    by = xstats.keyed_rank_bounds(df.select("k", "y"), "k", "y").select(
        "k", "y", (F.col("__lo") + F.col("__hi")).alias("b2")
    )
    n = df.count()
    j = df.join(bx, ["k", "x"]).join(by, ["k", "y"]).select(
        (F.col("a2") - n - 1).alias("a"), (F.col("b2") - n - 1).alias("b")
    )
    agg = j.agg(
        F.sum("a").alias("sa"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    ).collect()[0]
    assert agg["sa"] == 0  # centered ranks sum to zero exactly
    assert agg["sab"] == agg["saa"] == agg["sbb"]  # monotone → rho = 1


def test_pmi_and_fixed_k_catalog_laws(spark):
    """PMI: a bigram whose parts only ever occur together maximises
    PMI; fixed-k sampling returns exactly k per stratum and is
    idempotent."""
    from dvh_airflow_kafka_spark.catalog import REGISTRY
    import os, shutil, tempfile

    rows = []
    # 'aa bb' always adjacent (5 docs) vs 'cc' 'dd' scattered apart
    for i in range(5):
        rows.append((i, "aa bb cc xx dd yy cc zz dd ww", "en", "s", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="pmilaw_")
    try:
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        out = REGISTRY["token_pmi_collocations"].fn(spark, tmp).collect()
        assert out, "min-count floor should keep the 5x bigrams"
        top = out[0]
        assert top["bigram"] == "aa bb"  # perfectly-associated pair wins
        got = REGISTRY["fixed_k_per_group_sample"].fn(spark, tmp)
        a = sorted(r["doc_id"] for r in got.collect())
        b = sorted(r["doc_id"] for r in got.collect())
        assert a == b and len(a) == 5  # k=20 floor-capped by stratum size
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_cusum_reflection_identity_matches_sequential(spark):
    """The windowed CUSUM (P_i − min(0, min_{j≤i} P_j)) must equal the
    textbook sequential recurrence S_i = max(0, S_{i−1} + d_i) on a
    seeded deviation stream."""
    rng = random.Random(77)
    devs = [rng.randint(-40, 50) for _ in range(300)]
    # sequential reference
    seq, s = [], 0
    for d in devs:
        s = max(0, s + d)
        seq.append(s)
    rows = [("u", i, d) for i, d in enumerate(devs)]
    df = _df(spark, rows, "k string, i long, d long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = df.select("k", "i", F.sum("d").over(w).alias("ps"))
    got = (
        p.select(
            "i",
            (
                F.col("ps")
                - F.least(F.lit(0).cast("bigint"), F.min("ps").over(w))
            ).alias("cusum"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r["cusum"] for r in got] == seq


def test_containment_symmetric_on_equal_docs(spark):
    text = "one two three four five six seven"
    df = _df(spark, [(1, text), (2, text)], "doc_id long, text string")
    r = ngram_containment_pairs(df, "doc_id", "text", threshold=0.9).collect()[0]
    assert r["containment_a"] == 1.0 and r["containment_b"] == 1.0


def test_drift_monitor_week_pairs_and_chi2_per_week(spark, sf_dir):
    import datetime as dt

    rows = run_query(spark, sf_dir, "quality_drift_monitor").collect()
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
