"""Law tests for the round-6b [EXT] additions: product-quantization
encode (``ext/similarity.pq_encode``) and Duffield-Lund-Thorup priority
sampling (catalog ``weighted_priority_sample`` and its streaming twin)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from dvh_airflow_kafka_spark.ext import similarity as xsim


@pytest.fixture(scope="module")
def pq_emb(spark):
    # 8 vectors, dim 8, values exact at 6 decimals (halves) -> rounding
    # is the identity and a vector equal to its codebook seed
    # reconstructs with error exactly 0
    rows = []
    for i in range(8):
        base = [float(i)] * 8
        rows.append((i, base))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def test_pq_seed_vectors_reconstruct_exactly(pq_emb):
    cb = xsim.pq_seed_codebooks(pq_emb, n_codes=4)
    assert cb.shape == (4, 8)
    out = {r["vec_id"]: r for r in xsim.pq_encode(pq_emb, cb, m=2).collect()}
    assert len(out) == 8
    # vec_id 0..3 ARE the seeds of codes 0..3 -> zero error, own code
    for i in range(4):
        assert out[i]["recon_err"] == 0.0
        assert out[i]["codes"] == [i, i]
    # every code in range, error non-negative
    for r in out.values():
        assert len(r["codes"]) == 2
        assert all(0 <= c < 4 for c in r["codes"])
        assert r["recon_err"] >= 0.0
    # vec 4 ([4.0]*8) is nearer seed 3 ([3.0]*8) than seed 0
    assert out[4]["codes"] == [3, 3]


def test_pq_encode_deterministic_on_real_data(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = xsim.pq_seed_codebooks(emb, n_codes=16)
    a = sorted(
        (r["vec_id"], tuple(r["codes"]), r["recon_err"])
        for r in xsim.pq_encode(emb, cb, m=8).collect()
    )
    b = sorted(
        (r["vec_id"], tuple(r["codes"]), r["recon_err"])
        for r in xsim.pq_encode(emb, cb, m=8).collect()
    )
    assert a == b
    assert len(a) == emb.count()
    assert all(len(codes) == 8 for _, codes, _ in a)


def test_priority_sample_matches_python_arithmetic(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog import REGISTRY

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {
        r["doc_id"]: max(r["n_chars"], 1)
        for r in docs.select("doc_id", "n_chars").collect()
    }
    out = REGISTRY["weighted_priority_sample"].fn(spark, sf_dir).collect()
    assert out, "sample must be non-empty"
    per_source: dict[str, list[int]] = {}
    for r in out:
        h = int(
            hashlib.sha256(f"prio-v1{r['doc_id']}".encode()).hexdigest()[:8],
            16,
        )
        assert r["priority"] == (weights[r["doc_id"]] << 32) // (h + 1)
        assert r["weight"] == weights[r["doc_id"]]
        per_source.setdefault(r["source"], []).append(r["rank"])
    for src, ranks in per_source.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src
        assert len(ranks) <= 20


def test_pq_adc_perfect_recall_on_clustered_fixture(spark):
    # 16 tight blobs in 64-dim (blob b = constant vector b + tiny jitter),
    # 6 members each. Seeds (min id per id%16) are one per blob, every
    # subspace separates blobs, so ADC top-5 must equal exact-L2 top-5
    # (the 5 same-blob siblings) for every query: recall exactly 1.0.
    import numpy as np

    rows = []
    for i in range(96):
        b = i % 16
        vec = [float(b)] * 64
        vec[i % 64] += 0.001 * (i // 16 + 1)
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cb = xsim.pq_seed_codebooks(emb, n_codes=16)
    codes = xsim.pq_encode(emb, cb, m=8).select("vec_id", "codes")
    qdf = emb.filter("vec_id < 10")
    q_ids, q_mat = xsim._collect_matrix(qdf, "vec_id", "embedding")
    adc = xsim.pq_adc_topk(codes, cb, q_ids, q_mat, m=8, k=5)
    exact = xsim.brute_force_topk_l2(emb, qdf, k=5)
    adc_sets: dict[int, set[int]] = {}
    for r in adc.collect():
        adc_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ex_sets: dict[int, set[int]] = {}
    for r in exact.collect():
        ex_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(adc_sets) == set(range(10))
    for q in range(10):
        expected = {i for i in range(96) if i % 16 == q % 16 and i != q}
        assert ex_sets[q] == expected, q
        assert adc_sets[q] == expected, q


def test_brute_force_l2_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    out = xsim.brute_force_topk_l2(emb, emb.filter("vec_id < 3"), k=4)
    got: dict[int, list[int]] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q in range(3):
        qv = X[ids == q][0]
        d = np.round(((X - qv) ** 2).sum(axis=1), 6)
        dm = np.rint(d * 1e6).astype(np.int64)
        keep = ids != q
        order = np.lexsort((ids[keep], dm[keep]))[:4]
        assert got[q] == list(ids[keep][order]), q


@pytest.mark.parametrize("refine_iters", [0, 2])
def test_ivf_pq_recall_and_determinism(spark, sf_dir, refine_iters):
    # IVF-PQ (routing + codes) vs the exact-L2-on-normalized baseline:
    # with n_probe=8 of 8 lists, routing misses nothing, so the only
    # approximation is PQ — recall must be >= the exhaustive ADC path's
    # (same codes, same metric), and the whole pipeline is deterministic.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 10")

    def run():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["dist_micro"], r["rank"])
            for r in xsim.ivf_pq_topk(
                emb, queries, k=5, n_lists=8, n_probe=8, m=8, n_codes=16,
                refine_iters=refine_iters,
            ).collect()
        )

    a, b = run(), run()
    assert a == b
    per_q: dict[int, list[int]] = {}
    for qid, nid, dist, rank in a:
        assert dist >= 0
        per_q.setdefault(qid, []).append(rank)
    assert set(per_q) == set(range(10))
    assert all(sorted(r) == [1, 2, 3, 4, 5] for r in per_q.values())

    # full-probe IVF-PQ == exhaustive ADC over the same normalized
    # vectors/codes (routing with n_probe == n_lists prunes nothing)
    nv = xsim.normalize_udf()
    norm_emb = emb.select("vec_id", nv("embedding").alias("embedding"))
    cb = xsim.pq_seed_codebooks(norm_emb, n_codes=16)
    if refine_iters:
        cb = xsim.pq_refine_codebooks(norm_emb, cb, m=8, iters=refine_iters)
    codes = xsim.pq_encode(norm_emb, cb, m=8).select("vec_id", "codes")
    q_ids, q_mat = xsim._collect_matrix(
        norm_emb.filter("vec_id < 10"), "vec_id", "embedding"
    )
    adc = sorted(
        (r["query_id"], r["neighbor_id"], r["dist_micro"], r["rank"])
        for r in xsim.pq_adc_topk(codes, cb, q_ids, q_mat, m=8, k=5).collect()
    )
    assert a == adc


def test_pq_refined_codebooks_reduce_error(spark, sf_dir):
    # Lloyd refinement must (weakly) reduce total reconstruction error —
    # the k-means objective is monotone non-increasing. (Recall@k is NOT
    # asserted: lower quantization error does not imply better neighbor
    # ordering on near-random fixtures — on real clustered embeddings it
    # does, which is the clustered-fixture test's job.)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nv = xsim.normalize_udf()
    norm_emb = emb.select("vec_id", nv("embedding").alias("embedding"))
    seeds = xsim.pq_seed_codebooks(norm_emb, n_codes=16)
    refined = xsim.pq_refine_codebooks(norm_emb, seeds, m=8, iters=3)
    assert refined.shape == seeds.shape

    def total_err(cb):
        out = xsim.pq_encode(norm_emb, cb, m=8)
        return out.agg({"recon_err": "sum"}).collect()[0][0]

    e_seed, e_ref = total_err(seeds), total_err(refined)
    assert e_ref <= e_seed + 1e-9
    # refinement is deterministic run-to-run
    again = xsim.pq_refine_codebooks(norm_emb, seeds, m=8, iters=3)
    assert (again == refined).all()


def test_knn_label_accuracy_perfect_on_clustered(spark, sf_dir, tmp_path):
    # blobs as labels -> 5-NN classification must be perfect; and the
    # per-label test counts must partition the test split exactly.
    from dvh_airflow_kafka_spark.catalog import REGISTRY

    rows = []
    for i in range(96):
        b = i % 8
        vec = [float(b)] * 64
        vec[i % 64] += 0.001 * (i // 8 + 1)
        rows.append((i, vec, b))
    spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, label: int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    # the query loads embeddings via load_table; point sf_dir at tmp
    out = REGISTRY["knn_label_accuracy"].fn(spark, str(tmp_path)).collect()
    n_test = sum(r["n_test"] for r in out)
    assert n_test == len([i for i in range(96) if i % 5 == 0])
    assert all(r["n_correct"] == r["n_test"] for r in out)


def test_ivf_pq_index_build_and_serve(spark, tmp_path):
    """The persisted IVF-PQ index serves ROW-IDENTICAL results to the
    inline ivf_pq_topk at the same params (same quantizer seeds, same
    refined codebooks, same ADC micro-int distances), the probed scan
    is partition-pruned at the directory level, and the serve path
    never reads the float corpus."""
    from dvh_airflow_kafka_spark.ext import similarity as xsim
    from dvh_airflow_kafka_spark.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.limit(8)
    path = str(tmp_path / "ivfpq")
    xsim.ivf_pq_index_build(
        emb, path, n_lists=16, m=8, n_codes=16, refine_iters=2
    )
    served = xsim.ivf_pq_index_topk(spark, path, queries, k=5, n_probe=4)
    inline = xsim.ivf_pq_topk(
        emb, queries, k=5, n_lists=16, n_probe=4, m=8, n_codes=16,
        refine_iters=2,
    )
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_micro)
        for r in served.collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.dist_micro)
        for r in inline.collect()
    }
    assert got == want and got

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the stored index holds codes only — floats are never persisted,
    # so the serve path CANNOT read them
    schema_cols = spark.read.parquet(f"{path}/codes").columns
    assert set(schema_cols) == {"vec_id", "codes", "list_id"}


def test_streaming_priority_sample_equals_batch(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog import REGISTRY

    batch = REGISTRY["weighted_priority_sample"].fn(spark, sf_dir).collect()
    stream = REGISTRY["streaming_priority_sample"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, batch)) == sorted(map(tuple, stream))
    assert len(batch) > 0
