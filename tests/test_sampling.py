"""Deterministic hash split/sample: stability across runs and
re-partitionings, fraction accuracy, and stratum uniformity; the
incremental mixture rebalance and its streaming twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext.sampling import (
    hash_split,
    stratified_hash_sample,
)
from dvh_airflow_kafka_spark.io import load_table
from tests.compare import run_query, twin_rows


def test_split_stable_under_repartition(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id").collect()
    }
    assert a == b  # assignment is a pure function of the key


def test_split_fraction_close(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    train = hash_split(docs, "doc_id").filter(F.col("split") == "train").count()
    assert abs(train / n - 0.8) < 0.08


def test_salt_redraws_assignment(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", salt="v1").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", salt="v2").collect()}
    assert a != b  # new salt, new draw
    assert set(a) == set(b)  # same universe


def test_stratified_sample_uniform_per_stratum(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    kept = stratified_hash_sample(ev, "event_id", frac=0.2)
    per = {
        r["event_type"]: r["frac"]
        for r in kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("k"))
        .join(
            ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
            on="event_type",
        )
        .select("event_type", (F.col("k") / F.col("n")).alias("frac"))
        .collect()
    }
    assert per and all(abs(f - 0.2) < 0.06 for f in per.values())


def test_pack_into_shards_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.sampling import pack_into_shards
    from dvh_airflow_kafka_spark.ext.text import token_count_ws
    from dvh_airflow_kafka_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", token_count_ws(F.col("text")).alias("sz"))
    packed = pack_into_shards(sized, "doc_id", F.col("sz"), capacity=512).collect()
    rows = sorted(packed, key=lambda r: r.doc_id)
    assert all(0 <= r.offset_in_shard < 512 for r in rows)
    # shard ids are non-decreasing in doc order and start at 0
    ids = [r.shard_id for r in rows]
    assert ids[0] == 0 and all(a <= b for a, b in zip(ids, ids[1:]))
    # prefix-sum definition: shard = floor(cum_before / capacity)
    cum = 0
    for r in rows:
        assert r.shard_id == cum // 512 and r.offset_in_shard == cum % 512
        cum += r.size


def test_quantize_embeddings_int8_bounds(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.similarity import quantize_embeddings_int8
    from dvh_airflow_kafka_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in quantize_embeddings_int8(emb).collect():
        q = np.asarray(r.q, dtype=np.int64)
        assert q.min() >= -127 and q.max() <= 127
        assert np.abs(q).max() == 127  # max magnitude saturates exactly
        # dequantization error bounded by half a quantization step
        err = np.abs(orig[r.vec_id] - q * r.scale)
        assert float(err.max()) <= r.scale / 2 + 1e-12


def test_with_prefix_sum_matches_serial(spark, sf_dir):
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.sampling import with_prefix_sum
    from dvh_airflow_kafka_spark.ext.text import token_count_ws
    from dvh_airflow_kafka_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", token_count_ws(F.col("text")).alias("sz"))
    got = {
        r.doc_id: (r.size, r.before)
        for r in with_prefix_sum(sized, "doc_id", F.col("sz")).collect()
    }
    cum = 0
    for doc_id in sorted(got):
        size, before = got[doc_id]
        assert before == cum
        cum += size


def test_sequence_pack_tiles_exactly(spark, sf_dir):
    # Spans must tile each sequence gaplessly and reconstruct every doc.
    from dvh_airflow_kafka_spark.catalog import training_sequence_pack, _SEQ_LEN

    rows = training_sequence_pack(spark, sf_dir).collect()
    by_seq: dict[int, list] = {}
    by_doc: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.offset_in_seq < _SEQ_LEN
        assert 1 <= r.n_seq_tokens <= _SEQ_LEN
        by_seq.setdefault(r.seq_id, []).append(r)
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.n_seq_tokens
    seqs = sorted(by_seq)
    assert seqs == list(range(len(seqs)))  # dense sequence ids from 0
    for sid in seqs:
        spans = sorted(by_seq[sid], key=lambda r: r.offset_in_seq)
        pos = 0
        for s in spans:
            assert s.offset_in_seq == pos  # gapless
            pos += s.n_seq_tokens
        # every sequence but the last is exactly full
        assert pos == _SEQ_LEN or sid == seqs[-1]
    # per-doc span lengths sum to the doc's token count
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.text import token_count_ws
    from dvh_airflow_kafka_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    want = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", token_count_ws(F.col("text")).alias("n")
        ).collect()
        if r.n > 0
    }
    assert by_doc == want


def test_with_prefix_sum_custom_order_matches_serial(spark, sf_dir):
    """order_by=(-quality, id) must produce the exact serial running sum
    under that order — the quality_token_budget total order."""
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.sampling import with_prefix_sum
    from dvh_airflow_kafka_spark.ext.text import quality_score, token_count_ws
    from dvh_airflow_kafka_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        quality_score(F.col("text")).alias("q"),
        token_count_ws(F.col("text")).alias("sz"),
    )
    rows = with_prefix_sum(
        sized,
        "doc_id",
        F.col("sz"),
        order_by=[-F.col("q"), F.col("doc_id")],
        carry_cols=("q",),
    ).collect()
    # replay serially under (quality desc, id asc)
    ordered = sorted(rows, key=lambda r: (-r.q, r.doc_id))
    cum = 0
    for r in ordered:
        assert r.before == cum, r
        cum += r.size


def test_semantic_dedup_survivor_invariants(spark, sf_dir):
    """Survivors: no surviving pair in the same bucket is >= threshold
    cosine; every dropped vector has a LOWER-id same-bucket survivor or
    dropped antecedent within threshold (keep-lowest-id rule)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.dedup import semantic_dedup_survivors
    from dvh_airflow_kafka_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup_survivors(emb, "vec_id", "embedding", threshold=0.3)
    kept = {r.vec_id: r.semantic_bucket for r in out.collect()}
    vecs = {r.vec_id: np.asarray(r.embedding, float) for r in emb.collect()}
    assert set(kept) <= set(vecs) and kept

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return round(float(a @ b / ((na or 1.0) * (nb or 1.0))), 6)

    by_bucket: dict[int, list[int]] = {}
    for vid, b in kept.items():
        by_bucket.setdefault(b, []).append(vid)
    for b, ids in by_bucket.items():
        ids.sort()
        for i, lo in enumerate(ids):
            for hi in ids[i + 1 :]:
                assert cos(vecs[lo], vecs[hi]) < 0.3, (lo, hi)
    # lowest id overall always survives
    assert min(vecs) in kept


def test_semantic_dedup_hot_bucket_cap(spark, sf_dir):
    """With a cap, members of over-size buckets are excluded from pair
    generation (they all survive); uncapped survivors are a subset. A
    cap larger than every bucket is a no-op."""
    from dvh_airflow_kafka_spark.ext.dedup import semantic_dedup_survivors
    from dvh_airflow_kafka_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    free = {
        r.vec_id
        for r in semantic_dedup_survivors(emb, "vec_id", "embedding").collect()
    }
    capped = {
        r.vec_id
        for r in semantic_dedup_survivors(
            emb, "vec_id", "embedding", max_bucket_size=3
        ).collect()
    }
    assert free <= capped  # capping can only ADD survivors
    huge_cap = {
        r.vec_id
        for r in semantic_dedup_survivors(
            emb, "vec_id", "embedding", max_bucket_size=10**6
        ).collect()
    }
    assert huge_cap == free


def test_temperature_mixture_drops_null_sources(spark):
    """NULL-source rows must be DROPPED (oracle inner-join semantics),
    not crash the driver-side threshold sort (None vs str ordering)."""
    from dvh_airflow_kafka_spark.ext.sampling import temperature_mixture_filter

    df = spark.createDataFrame(
        [(i, "srcA" if i % 2 else None) for i in range(40)],
        "doc_id long, source string",
    )
    kept = temperature_mixture_filter(df, k=100.0).collect()
    assert kept  # k large enough that srcA keeps everything
    assert all(r.source == "srcA" for r in kept)
    assert len(kept) == 20


def test_rebalance_merge_law_and_budget(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog.q04_sampling import (
        _REBALANCE_BUDGET,
    )
    from dvh_airflow_kafka_spark.ext.text import token_count_ws

    rows = run_query(spark, sf_dir, "mixture_rebalance_incremental").collect()
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


def test_streaming_mixture_matches_batch_twin(spark, sf_dir):
    batch, stream = twin_rows(
        spark,
        sf_dir,
        "mixture_rebalance_incremental",
        "streaming_mixture_rebalance",
    )
    assert batch == stream
    assert len(batch) > 0
