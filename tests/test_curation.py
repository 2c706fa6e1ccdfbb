"""Curation-composition laws (``catalog/q03_curation``): the per-source
attrition funnel, the Unicode normalization kernel and the NFC/NFKC
drift audit built on it."""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext.text import unicode_normalize_udf
from tests.compare import run_query


def test_curation_funnel_monotone_attrition(spark, sf_dir):
    from dvh_airflow_kafka_spark.io import load_table

    from dvh_airflow_kafka_spark.ext.text import token_count_ws

    rows = run_query(spark, sf_dir, "curation_funnel_attrition").collect()
    docs = load_table(spark, sf_dir, "documents")
    raw = {
        (r["source"],): (r["n"], r["t"])
        for r in docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(token_count_ws(F.col("text"))).alias("t"),
        )
        .collect()
    }
    by_src: dict[str, dict[int, tuple]] = {}
    for r in rows:
        by_src.setdefault(r["source"], {})[int(r["stage"])] = (
            r["n_docs"],
            r["n_tokens"],
        )
    assert by_src
    for src, stages in by_src.items():
        # stage 0 covers the whole per-source corpus (docs AND tokens)
        assert stages[0][0] == raw[(src,)][0], (src, stages)
        assert stages[0][1] == raw[(src,)][1], (src, stages)
        # docs and tokens are monotonically non-increasing in stage
        for s in range(1, 4):
            prev = stages.get(s - 1, (0, 0))
            cur = stages.get(s, (0, 0))
            assert cur[0] <= prev[0] and cur[1] <= prev[1], (src, stages)


def test_unicode_normalize_udf_matches_unicodedata(spark):
    rows = [
        ("café",),  # decomposed é
        ("ﬁsh ½",),  # ligature fi + vulgar half
        ("plain ascii",),
        ("",),
    ]
    df = spark.createDataFrame(rows, "t string")
    got = df.select(
        unicode_normalize_udf("NFC")(F.col("t")).alias("nfc"),
        unicode_normalize_udf("NFKC")(F.col("t")).alias("nfkc"),
    ).collect()
    for (t,), r in zip(rows, got):
        assert r["nfc"] == unicodedata.normalize("NFC", t)
        assert r["nfkc"] == unicodedata.normalize("NFKC", t)


def test_unicode_normalize_udf_rejects_bad_form():
    with pytest.raises(ValueError):
        unicode_normalize_udf("NFX")


def test_nfc_audit_classes(spark, sf_dir):
    rows = run_query(spark, sf_dir, "unicode_nfc_audit").collect()
    by_class: dict[int, list] = {}
    for r in rows:
        by_class.setdefault(int(r["inject_class"]), []).append(r)
    # class 0 (decomposed accents): NFC composes -> chars saved > 0 where
    # any 'e' existed; NFKC agrees with NFC here (canonical composition)
    for r in by_class[0]:
        assert r["nfc_chars_saved"] >= 0
        assert r["nfkc_chars_delta"] == -r["nfc_chars_saved"]
    # class 1 (fi ligature): NFC-stable, NFKC expands
    for r in by_class[1]:
        assert r["nfc_drift_docs"] == 0 and r["nfc_chars_saved"] == 0
        assert r["nfkc_chars_delta"] >= 0
    # class 2 (clean ASCII): nothing moves under either form
    for r in by_class[2]:
        assert r["nfc_drift_docs"] == 0 and r["nfkc_drift_docs"] == 0
        assert r["nfc_chars_saved"] == 0 and r["nfkc_chars_delta"] == 0
