"""BPE merge-application kernel: algorithm pinned against hand-computed
merge sequences, plus the lossless-concatenation invariant on real data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext.text import DEFAULT_BPE_MERGES, bpe_encode_udf
from dvh_airflow_kafka_spark.io import load_table


def _encode_py(word: str, merges=DEFAULT_BPE_MERGES) -> list[str]:
    """Independent reference: the textbook greedy-by-rank merge loop."""
    ranks = {p: i for i, p in enumerate(merges)}
    toks = list(word)
    while len(toks) > 1:
        pairs = [(ranks.get((a, b)), i) for i, (a, b) in enumerate(zip(toks, toks[1:]))]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        _, i = min(ranked)
        toks = toks[:i] + [toks[i] + toks[i + 1]] + toks[i + 2 :]
    return toks


@pytest.mark.parametrize(
    "word,want",
    [
        ("the", ["the"]),  # t+h (rank 0) then th+e (rank 1)
        ("and", ["and"]),  # a+n (rank 3) then an+d (rank 10)
        ("to", ["to"]),
        ("thing", ["th", "ing"]),  # th, in, in+g; no (th,ing) merge
        ("zzz", ["z", "z", "z"]),  # no applicable merges
        ("", []),
    ],
)
def test_known_merge_sequences(word, want):
    assert _encode_py(word) == want


def test_udf_matches_reference_and_rejoins(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    enc = bpe_encode_udf()
    rows = docs.select(
        F.lower(F.col("text")).alias("t"), enc(F.lower(F.col("text"))).alias("p")
    ).collect()
    assert rows
    for r in rows:
        words = r.t.split()
        # invariant: pieces concatenate back to the words, in order
        assert "".join(r.p) == "".join(words)
        # piece-for-piece agreement with the independent reference
        ref = [piece for w in words for piece in _encode_py(w)]
        assert r.p == ref


from hypothesis import given, settings, strategies as st


@settings(max_examples=50, deadline=None)
@given(
    words=st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz",
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_reference_encoder_properties(words):
    """For arbitrary lowercase words: pieces rejoin to the word, every
    piece is non-empty, and encoding is idempotent under re-merge (no
    adjacent piece pair is itself a mergeable rank — the loop really
    ran to fixpoint)."""
    ranks = {p: i for i, p in enumerate(DEFAULT_BPE_MERGES)}
    for w in words:
        pieces = _encode_py(w)
        assert "".join(pieces) == w
        assert all(pieces)
        for a, b in zip(pieces, pieces[1:]):
            assert (a, b) not in ranks, (w, pieces, (a, b))


def test_bpe_tokenize_and_pack_tiles(spark, sf_dir):
    """Spans tile every sequence to exactly 256 tokens (last ragged),
    per-doc span totals equal the doc's BPE piece count, and in-doc
    offsets reconstruct contiguously."""
    from dvh_airflow_kafka_spark.catalog import REGISTRY

    rows = REGISTRY["bpe_tokenize_and_pack"].fn(spark, sf_dir).collect()
    assert rows
    by_seq: dict[int, int] = {}
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.offset_in_seq < 256
        assert 1 <= r.n_seq_tokens <= 256
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.n_seq_tokens
        by_doc.setdefault(r.doc_id, []).append(r)
    seqs = sorted(by_seq)
    assert seqs == list(range(len(seqs)))
    assert all(by_seq[s] == 256 for s in seqs[:-1])

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode_udf()
    n_bpe = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(enc(F.lower(F.col("text")))).alias("n")
        ).collect()
    }
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r.tok_start)
        assert sum(r.n_seq_tokens for r in spans) == n_bpe[doc_id]
        pos = 0
        for r in spans:
            assert r.tok_start == pos  # contiguous in-doc coverage
            pos += r.n_seq_tokens


def test_bpe_piece_vocab_aggregate_oracled_via_materialized_pieces(
    spark, sf_dir, tmp_path
):
    """Partial-oracle pin for the rows-only ``bpe_piece_vocab``: the
    tokenizer itself stays Python (no SQL form), but the doc-frequency
    AGGREGATE over its output is SQL — materialize Spark's exploded
    (doc_id, piece) rows to parquet and let DuckDB run the same
    grouped aggregate over the SAME pieces. Hash-equivalent results
    mean the distributed count/count-distinct plumbing (not just the
    kernel) is cross-engine correct."""
    import duckdb

    from dvh_airflow_kafka_spark.catalog import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode_udf()
    pieces_path = str(tmp_path / "pieces")
    docs.select(
        "doc_id", F.explode(enc(F.lower(F.col("text")))).alias("piece")
    ).write.parquet(pieces_path)

    got = sorted(
        (r.piece, r.n_occurrences, r.doc_freq)
        for r in REGISTRY["bpe_piece_vocab"].fn(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    want = sorted(
        (p, int(n), int(d))
        for p, n, d in con.execute(
            f"""SELECT piece, COUNT(*) AS n_occurrences,
                       COUNT(DISTINCT doc_id) AS doc_freq
                FROM read_parquet('{pieces_path}/*.parquet')
                GROUP BY piece"""
        ).fetchall()
    )
    con.close()
    assert got == want


def _reference_bpe_learn(word_freqs: dict, n_merges: int, min_freq: int = 2):
    """Pure-Python Sennrich reference: greedy best-pair merges over a
    word-frequency dict; ties break lexicographic."""
    pieces = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts: dict = {}
        for w, f in word_freqs.items():
            p = pieces[w]
            for i in range(len(p) - 1):
                counts[(p[i], p[i + 1])] = counts.get((p[i], p[i + 1]), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        if c < min_freq:
            break
        merges.append((a, b, c))
        for w in pieces:
            p, out, i = pieces[w], [], 0
            while i < len(p):
                if i + 1 < len(p) and p[i] == a and p[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(p[i])
                    i += 1
            pieces[w] = out
    return merges


def test_bpe_learn_matches_python_reference(spark):
    from dvh_airflow_kafka_spark.ext.text import bpe_learn_merges

    corpus = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame(
        [(0, " ".join(corpus))], "doc_id: long, text: string"
    )
    freqs = {w: corpus.count(w) for w in set(corpus)}
    expect = _reference_bpe_learn(freqs, n_merges=6)
    got = bpe_learn_merges(docs, "text", n_merges=6)
    assert got == expect
    # learned merges drive the encoder end-to-end; pieces rejoin exactly
    from dvh_airflow_kafka_spark.ext.text import bpe_encode_udf

    enc = bpe_encode_udf(tuple((a, b) for a, b, _ in got))
    import pyspark.sql.functions as F

    out = docs.select(enc(F.col("text")).alias("p")).collect()[0]["p"]
    assert "".join(out) == "".join(corpus)


def test_bpe_learn_deterministic(spark, sf_dir):
    from dvh_airflow_kafka_spark.ext.text import bpe_learn_merges
    from dvh_airflow_kafka_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = bpe_learn_merges(docs, n_merges=4)
    b = bpe_learn_merges(docs, n_merges=4)
    assert a == b and len(a) == 4


def test_bpe_staged_pairs_argmax_matches_learner(spark, sf_dir):
    # round-13 staged-bytes oracle law: the merge table the catalog
    # query derives from the STAGED per-iteration pair counts equals
    # the learner's own live merge list — the byte-consistency claim
    # the DuckDB replay rests on (exact integer counts round-trip).
    from dvh_airflow_kafka_spark.catalog.q07_clustering import (
        bpe_learn_merges_table,
    )
    from dvh_airflow_kafka_spark.ext.text import bpe_learn_merges
    from dvh_airflow_kafka_spark.io import load_table

    got = {
        r["rank"]: (r["left"], r["right"], r["pair_count"])
        for r in bpe_learn_merges_table(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs, "text", n_merges=8)
    assert got == {i: m for i, m in enumerate(merges)}


def test_bpe_piece_vocab_partial_oracle(spark, sf_dir):
    from dvh_airflow_kafka_spark.catalog import REGISTRY
    from tests.compare import compare_query

    qd = REGISTRY["bpe_piece_vocab"]
    res = compare_query(spark, "bpe_piece_vocab", qd.fn, qd.sql, sf_dir)
    assert res["match"], res
