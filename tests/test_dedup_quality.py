"""Near-dup / ANN quality gates: the LSH paths must agree with their exact
counterparts on planted duplicates (precision) and find most of them
(recall). These are the non-SQL-expressible ops the driver checks
rows-only — pytest carries the semantic verification.  Also the laws of
the dedup compositions (winnowing, passage windows, the survivor and
decontamination capstones, the cross-snapshot gate, the weekly crawl)
and of the streaming near-dup gate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.catalog import _WINNOW_K, _WINNOW_W
from dvh_airflow_kafka_spark.ext import dedup as xdedup
from dvh_airflow_kafka_spark.ext import similarity as xsim
from dvh_airflow_kafka_spark.io import load_table
from tests.compare import run_query, twin_rows


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def exact_pairs(docs):
    """Ground truth: exact 3-gram-set Jaccard >= 0.5."""
    out = xdedup.ngram_jaccard_pairs(docs, "doc_id", "text", ngram=3, threshold=0.5)
    return {(r.id_a, r.id_b) for r in out.collect()}


def test_minhash_recall_and_precision(docs, exact_pairs):
    got = xdedup.minhash_near_duplicates(
        docs, "doc_id", "text", ngram=3, num_perm=64, bands=8, threshold=0.5
    )
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    # verification step makes every reported pair exactly right
    assert pairs <= exact_pairs or not pairs
    if exact_pairs:
        recall = len(pairs & exact_pairs) / len(exact_pairs)
        assert recall >= 0.8, f"minhash recall {recall:.2f}"


def test_simhash_finds_planted_dups(docs, exact_pairs):
    got = xdedup.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    if exact_pairs:
        recall = len(pairs & exact_pairs) / len(exact_pairs)
        assert recall >= 0.6, f"simhash recall {recall:.2f}"


def test_exact_dedup_counts(docs):
    survivors = xdedup.exact_dedup_survivors(docs, ["text"], "doc_id")
    total = docs.count()
    agg = survivors.agg(
        F.sum("n_copies").alias("s"), F.count(F.lit(1)).alias("groups")
    ).collect()[0]
    assert agg.s == total and agg.groups <= total


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = xsim.brute_force_topk(emb, queries, k=5)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = xsim.lsh_bucketed_topk(emb, queries, k=5, n_bits=8, n_tables=4)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, f"ANN recall {recall:.2f}"


def test_hot_shingle_cap_bounds_candidates(spark):
    """A stop phrase shared by the whole corpus must not blow up the
    candidate join when max_doc_freq is set; planted real dups survive."""
    from dvh_airflow_kafka_spark.ext.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from dvh_airflow_kafka_spark.ext.text import tokens, word_ngrams_from_tokens

    stop = "this message is confidential please do not distribute"
    rows = [(i, f"unique document body number {i} alpha beta {stop}") for i in range(60)]
    rows.append((1000, rows[0][1]))  # planted exact dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", ngram=3, threshold=0.2)
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", ngram=3, threshold=0.2, max_doc_freq=5
    )
    n_uncapped, n_capped = uncapped.count(), capped.count()
    # the stop-phrase shingles pair everyone with everyone without the cap
    assert n_capped < n_uncapped
    assert n_capped < 60  # bounded: no quadratic stop-phrase bucket
    assert {(0, 1000)} <= {(r.id_a, r.id_b) for r in capped.collect()}

    sh = df.select(
        F.col("doc_id"),
        word_ngrams_from_tokens(tokens(F.col("text")), 3).alias("sh"),
    )
    cand = minhash_lsh_candidates(sh, "doc_id", "sh", max_doc_freq=5)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (0, 1000) in pairs
    assert len(pairs) < 200


def test_registered_df_cap_is_transparent_on_fixture(docs):
    """The catalog registers the near-dup queries with max_doc_freq=50 —
    the cap must be ABOVE the fixture's max shingle DF (7 at sf0.01, 25
    at sf0.1), so the capped plan returns byte-identical pairs and the
    DuckDB oracle (which computes exact uncapped Jaccard) stays green."""
    uncapped = xdedup.ngram_jaccard_pairs(docs, "doc_id", "text", ngram=3, threshold=0.2)
    capped = xdedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.2, max_doc_freq=50
    )
    a = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in uncapped.collect()}
    b = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in capped.collect()}
    assert a == b


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = xsim.brute_force_topk(emb, queries, k=5)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx = xsim.ivf_topk(emb, queries, k=5, n_lists=16, n_probe=6)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, f"IVF recall {recall:.2f}"


def test_inverted_index_postings_consistent(spark, sf_dir):
    """postings length == doc_freq, postings sorted unique, and every
    posted doc really contains the token."""
    from dvh_airflow_kafka_spark.catalog import REGISTRY
    from dvh_airflow_kafka_spark.io import load_table

    rows = REGISTRY["token_inverted_index"].fn(spark, sf_dir).collect()
    assert rows
    docs = {
        r.doc_id: set(r.text.lower().split())
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in rows:
        # postings is a comma-joined ascending id string (nested arrays are
        # unhashable in the driver's pandas-based compare)
        posted = [int(d) for d in r.postings.split(",")]
        assert len(posted) == r.doc_freq
        assert posted == sorted(set(posted))
        for d in posted:
            assert r.token in docs[d], (r.token, d)


def test_prefix_filter_jaccard_is_lossless_and_prunes(spark, sf_dir):
    """PPJoin law: the prefix-filtered join returns EXACTLY the pairs the
    full inverted-index join returns at the same threshold, while
    indexing strictly fewer shingle occurrences."""
    from dvh_airflow_kafka_spark.ext.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
    )
    from dvh_airflow_kafka_spark.ext.text import (
        tokens,
        word_ngrams_from_tokens,
    )
    from dvh_airflow_kafka_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    fast = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_prefix_filter_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert fast == full and fast
    # pruning actually bites: prefix index strictly smaller than full
    sh = docs.select(
        F.array_distinct(
            word_ngrams_from_tokens(tokens(F.col("text")), 3)
        ).alias("s")
    )
    full_rows = sh.select(F.explode("s")).count()
    prefix_rows = sh.select(
        (F.size("s") - F.ceil(F.lit(0.5) * F.size("s")) + 1).cast("long").alias("p")
    ).agg(F.sum("p")).first()[0]
    assert prefix_rows < full_rows


def test_translit_casefold_converges_cross_lingual_spellings(spark):
    """Transliteration law: alternate orthographies of the same content
    normalize to one byte string (the reference F2 Æ/Ø/Å mapping
    generalized), so cross-lingual exact dedup groups them."""
    from dvh_airflow_kafka_spark.ext.text import translit_casefold

    rows = [
        (1, "Æble SMØRBRØD på vei"),      # Norwegian
        (2, "aeble smoerbroed paa vei"),   # ASCII digraph spelling
        (3, "Äble smörbröd på vei"),       # Swedish/German umlauts
        (4, "Grüße straße"),               # German
        (5, "gruesse strasse"),            # ASCII spelling
        (6, "café crème übermäßig"),       # mixed accents
        (7, "cafe creme uebermaessig"),
        (8, "something else entirely"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r.id: r.norm
        for r in df.select(
            "id", translit_casefold(F.col("text")).alias("norm")
        ).collect()
    }
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5]
    assert got[6] == got[7]
    assert got[8] not in {got[1], got[4], got[6]}
    # idempotent: normalizing a normalized string is a no-op
    again = {
        r.id: r.norm2
        for r in df.select(
            "id",
            translit_casefold(
                translit_casefold(F.col("text"))
            ).alias("norm2"),
        ).collect()
    }
    assert again == got


def _stage_documents(spark, tmp_path, rows):
    """Write a synthetic documents table the catalog queries can read."""
    (
        spark.createDataFrame(
            [
                (i, text, "en", f"src{i % 3}", len(text))
                for i, text in enumerate(rows)
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        .coalesce(1)
        .write.parquet(f"{tmp_path}/documents.parquet")
    )
    return str(tmp_path)


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(
    spark, tmp_path
):
    """The winnowing theorem (Schleimer et al. 2003): two documents
    sharing a token run of length ≥ k + w − 1 select at least one
    common fingerprint from inside the run — so the planted pair MUST
    surface, and an unrelated pair must not."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
             "lam mu nu xi omicron pi rho sigma tau upsilon"
    rows = [
        "one two three four five six seven " + shared + " end0 stop0",
        "red green blue cyan violet umber ochre " + shared + " end1 stop1",
        # controls: no shared >= k+w-1 run with anything
        "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt",
        "zz yy xx ww vv uu qq2 rr2 ss2 tt2 a1 b1 c1 d1 e1 f1 g1 h1 i1 j1",
    ]
    assert len(shared.split()) >= _WINNOW_K + _WINNOW_W - 1
    sf_dir = _stage_documents(spark, tmp_path, rows)
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in run_query(
            spark, sf_dir, "winnowing_fingerprint_pairs"
        ).collect()
    }
    assert (0, 1) in pairs  # the planted pair
    assert pairs[(0, 1)] >= 2
    for bad in ((0, 2), (1, 3), (2, 3)):
        assert bad not in pairs


def test_passage_dedup_counts_planted_boilerplate(spark, tmp_path):
    """A 10-token window duplicated verbatim across two docs is counted
    for both, and a unique doc reports zero dup windows."""
    boiler = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        boiler + " u1 u2 u3 u4 u5 u6 u7 u8 u9 u10",
        boiler + " v1 v2 v3 v4 v5 v6 v7 v8 v9 v10",
        "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 y1 y2 y3 y4 y5 y6 y7 y8 y9 y10",
    ]
    sf_dir = _stage_documents(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in run_query(spark, sf_dir, "passage_window_dedup").collect()
    }
    assert got[0] == (2, 1) and got[1] == (2, 1)
    assert got[2] == (2, 0)


def test_sign_codes_match_numpy_bits(spark, sf_dir):
    from dvh_airflow_kafka_spark.ext import similarity as xsim

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    got = {
        r.vec_id: (r.code_lo, r.code_hi)
        for r in xsim.sign_codes(emb).collect()
    }
    for r in emb.collect():
        e = np.asarray(r.embedding, dtype=np.float64)
        lo = sum(1 << i for i in range(32) if e[i] > 0)
        hi = sum(1 << (i - 32) for i in range(32, 64) if e[i] > 0)
        assert got[r.vec_id] == (lo, hi)


def test_maxsim_scores_bounded_and_deterministic(spark, sf_dir):
    rows = run_query(spark, sf_dir, "multi_vector_maxsim").collect()
    assert rows
    for r in rows:
        # 8 query tokens, each max-cosine in [-1, 1] micro-units
        assert -8_000_000 <= r.score_micro <= 8_000_000
        assert r.cand_group != r.query_group
    again = run_query(spark, sf_dir, "multi_vector_maxsim").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_neardup_pipeline_partitions_the_corpus(spark, sf_dir):
    from dvh_airflow_kafka_spark.io import load_table

    out = run_query(spark, sf_dir, "neardup_survivor_pipeline")
    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = out.collect()
    # one row per original document, exactly one survivor per cluster
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    clusters: dict[int, int] = {}
    for r in rows:
        clusters[r["cluster_id"]] = clusters.get(r["cluster_id"], 0) + r[
            "survivor"
        ]
        if not r["survivor"]:
            # dropped members lose everything
            assert r["n_removed"] == r["n_tokens"]
        assert 0 <= r["n_removed"] <= r["n_tokens"]
    assert all(v == 1 for v in clusters.values()), clusters


def test_decontamination_accounting(spark, sf_dir):
    rows = run_query(spark, sf_dir, "decontamination_capstone").collect()
    assert rows
    for r in rows:
        assert r["n_removed"] + r["n_kept"] == r["n_train"]
        assert 0 <= r["tokens_removed"] <= r["train_tokens"]


def test_streaming_gate_matches_batch_gate(spark, sf_dir):
    batch, stream = twin_rows(
        spark, sf_dir, "incremental_near_dup_ingest", "streaming_neardup_gate"
    )
    assert batch == stream
    assert len(batch) > 0


def test_cross_snapshot_gate_covers_exactly_the_increment(spark, sf_dir):
    rows = run_query(spark, sf_dir, "cross_snapshot_neardup").collect()
    diff = {
        r["doc_id"]: r["change_type"]
        for r in run_query(spark, sf_dir, "corpus_snapshot_diff").collect()
    }
    ingestable = {k for k, v in diff.items() if v in ("added", "changed")}
    assert {r["doc_id"] for r in rows} == ingestable
    for r in rows:
        assert r["change_type"] == diff[r["doc_id"]]
        assert 0.0 <= r["max_jaccard"] <= 1.0
        assert r["kept"] == int(r["max_jaccard"] < 0.5)


def test_weekly_crawl_composes_its_stages(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog.q04_sampling import (
        _REBALANCE_BUDGET,
    )

    rows = run_query(spark, sf_dir, "weekly_crawl_capstone").collect()
    gate = {
        r["doc_id"]: r["kept"]
        for r in run_query(spark, sf_dir, "cross_snapshot_neardup").collect()
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
