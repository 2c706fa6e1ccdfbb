"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

import datetime as dt

from dvh_airflow_kafka_spark.ext import dedup as xdedup, multimodal as xmm, similarity as xsim, stats as xstats, text as xtext
from dvh_airflow_kafka_spark.io import ensure_parallelism, load_table
from dvh_airflow_kafka_spark.sources import events_as_kafka_frame, with_envelope
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.ext.sketch import (
    DDSKETCH_QS as _DDSKETCH_QS,
    ddsketch_buckets as _ddsketch_buckets,
    ddsketch_report as _ddsketch_report,
)
from dvh_airflow_kafka_spark.catalog._core import (
    _stage_frame,
    _staged_range_write,
    _staged_stream_src,
    register,
)

# ==========================================================================
# [EXT] — training-data pipeline operators
# ==========================================================================


@register(
    "dedup_exact_survivors",
    sql="""
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS survivor_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] exact dedup: hash-groupBy on sha256(text), min-id survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return xdedup.exact_dedup_survivors(docs, ["text"], "doc_id").select(
        "content_hash", "survivor_id", "n_copies"
    )


_PASSAGE_W = 10  # tokens per non-overlapping passage window


@register(
    "dup_provenance_matrix",
    sql=f"""
    WITH d AS (
        SELECT doc_id, source, regexp_extract_all(text, '\\S+') AS wl
        FROM documents
    ), w AS (
        SELECT source,
               unnest(list_transform(range(0, len(wl) // {_PASSAGE_W}),
                      i -> sha256(array_to_string(
                          wl[i * {_PASSAGE_W} + 1 : i * {_PASSAGE_W} + {_PASSAGE_W}],
                          ' ')))) AS h
        FROM d
    ), g AS (
        SELECT h, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM w GROUP BY h, source
    ), grp AS (SELECT h FROM g GROUP BY h HAVING SUM(c) >= 2)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CASE WHEN a.source = b.source
                         THEN a.c * (a.c - 1) / 2
                         ELSE a.c * b.c END) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM g a
    JOIN grp USING (h)
    JOIN g b ON a.h = b.h AND a.source <= b.source
    WHERE NOT (a.source = b.source AND a.c < 2)
    GROUP BY a.source, b.source
    """,
)
def dup_provenance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Duplication PROVENANCE matrix — which sources copy from
    which: every duplicated 10-token passage window (the
    ``passage_window_dedup`` unit — doc-level hashes are too coarse to
    localize boilerplate) attributes its implied duplicate pairs to a
    (source_a ≤ source_b) cell — cnt_a·cnt_b cross-source pairs,
    C(cnt_a, 2) within a source — and the cells are summed.  The
    readout a curation team uses to decide WHERE dedup pressure comes
    from (mirror sites, cross-posted feeds, intra-source re-crawls and
    templated boilerplate) before spending on near-dup passes.

    Exact combinatorics over per-(window-hash, source) counts: the
    corpus is windowed+hashed in one generate stage (one keyed
    shuffle), the pair arithmetic runs on the counts frame bounded by
    (dup groups × sources present), and the self-join is keyed on the
    window hash with bucket size ≤ |sources| — no row-level pair is
    ever materialized, so the plan is safe at any corpus scale.  The
    pair terms are exact-integer-valued doubles summed below 2^53 —
    order-independent, bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    w = _PASSAGE_W
    toks = xtext.tokens(F.col("text"))
    n_wins = F.floor(F.size(toks) / w).cast("int")
    windows = F.when(
        n_wins > 0,
        F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda i: F.sha2(
                F.array_join(F.slice(toks, i * w + 1, F.lit(w)), " "), 256
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # localCheckpoint: the counts frame feeds THREE consumers (the
    # dup-group filter and both join sides) — without materialization
    # each re-runs the corpus window+hash scan (measured: 10 exchanges /
    # 3 corpus scans -> 2 exchanges / 1 scan; warm wall flat at sf0.1
    # where the corpus is tiny, but at 100 TB the scan count IS the
    # cost). Joins stayed broadcast after the checkpoint (AQE re-plans
    # at runtime), so the erased-statistics hazard (the
    # hybrid_rrf_fusion lesson) does not bite here — measured, not
    # assumed.
    g = (
        docs.select("source", F.explode(windows).alias("h"))
        .groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    grp = (
        g.groupBy("h")
        .agg(F.sum("c").alias("tot"))
        .filter(F.col("tot") >= 2)
        .select("h")
    )
    a = g.join(grp, "h").select(
        "h", F.col("source").alias("source_a"), F.col("c").alias("ca")
    )
    b = g.select(
        "h", F.col("source").alias("source_b"), F.col("c").alias("cb")
    )
    pairs = a.join(b, "h").filter(
        (F.col("source_a") <= F.col("source_b"))
        & ~((F.col("source_a") == F.col("source_b")) & (F.col("ca") < 2))
    )
    n_pairs = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("ca") * (F.col("ca") - 1) / 2,
    ).otherwise(F.col("ca") * F.col("cb"))
    return pairs.groupBy("source_a", "source_b").agg(
        F.sum(n_pairs).cast("long").alias("n_dup_pairs"),
        F.count(F.lit(1)).alias("n_groups"),
    )


@register(
    "text_token_counts",
    sql=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_tokens_bpe
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] token counting: whitespace + BPE-ish regex tokenizers."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        xtext.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        xtext.token_count_bpe(F.col("text")).cast("int").alias("n_tokens_bpe"),
    )


_QUALITY_SQL = r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_words,
               CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) AS n_words_l,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
                    w -> list_contains(['the','a','and','of','to','in','is','that','for','with'], w)))
                    AS DOUBLE) AS sw,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words_out,
           CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
           (least(1.0, n_words / 50.0) * 0.4
            + (1.0 - least(1.0, (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0)) * 0.3
            + least(1.0, (CASE WHEN n_words > 0 THEN sw / n_words ELSE 0.0 END) * 5.0) * 0.3
           ) AS quality
    FROM t
"""


@register("text_quality", sql=_QUALITY_SQL)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] quality scoring: length/punctuation/stopword heuristics
    (C4/Gopher-style cheap filters), deterministic double arithmetic.
    Input-balanced (guide §2.5): the per-doc regex/stopword work is
    CPU-bound and the fixture's one-row-group parquet scans as ONE task;
    ensure_parallelism is a no-op on already-parallel layouts."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        xtext.token_count_ws(F.col("text")).alias("n_words_out"),
        xtext.punct_ratio(F.col("text")).alias("punct_ratio"),
        xtext.quality_score(F.col("text")).alias("quality"),
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in xtext.LANG_STOPWORDS[lang])
    return (
        rf"CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), "
        rf"w -> list_contains([{words}], w))) AS INT)"
    )


_LANG_SQL = f"""
    WITH h AS (
        SELECT doc_id,
               {_lang_hits_sql('de')} AS de_hits,
               {_lang_hits_sql('en')} AS en_hits,
               {_lang_hits_sql('es')} AS es_hits,
               {_lang_hits_sql('fr')} AS fr_hits
        FROM documents
    ), s1 AS (
        SELECT *, CASE WHEN en_hits > de_hits THEN 'en' ELSE 'de' END AS b1,
               CASE WHEN en_hits > de_hits THEN en_hits ELSE de_hits END AS s1v
        FROM h
    ), s2 AS (
        SELECT *, CASE WHEN es_hits > s1v THEN 'es' ELSE b1 END AS b2,
               CASE WHEN es_hits > s1v THEN es_hits ELSE s1v END AS s2v
        FROM s1
    )
    SELECT doc_id, de_hits, en_hits, es_hits, fr_hits,
           CASE WHEN fr_hits > s2v THEN 'fr' ELSE b2 END AS lang_pred
    FROM s2
"""


@register("text_lang_id", sql=_LANG_SQL)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] language-ID heuristic: per-language stopword hits, argmax with
    lexicographic tie-break.  Input-balanced (guide §2.5), same rationale
    as text_quality."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scores = xtext.lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        scores["de"].cast("int").alias("de_hits"),
        scores["en"].cast("int").alias("en_hits"),
        scores["es"].cast("int").alias("es_hits"),
        scores["fr"].cast("int").alias("fr_hits"),
        xtext.lang_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "text_repetition_stats",
    sql=r"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ), base AS (
        SELECT doc_id, wl,
               CASE WHEN len(wl) >= 2
                    THEN list_transform(range(1, len(wl)),
                                        i -> wl[i] || ' ' || wl[i+1])
                    ELSE [array_to_string(wl, ' ')] END AS bg
        FROM w
    ), cnt AS (
        SELECT doc_id, g, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(bg) AS g FROM base)
        GROUP BY doc_id, g
    ), top AS (
        SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY doc_id
    )
    SELECT base.doc_id,
           CAST(len(wl) AS BIGINT) AS n_tokens,
           CASE WHEN len(wl) > 0
                THEN 1.0 - CAST(len(list_distinct(wl)) AS DOUBLE) / len(wl)
                ELSE 0.0 END AS dup_token_fraction,
           CAST(top.top_c AS BIGINT) AS top_bigram_count,
           CAST(top.top_c AS DOUBLE) / greatest(1, len(wl) - 1)
               AS top_bigram_fraction
    FROM base JOIN top ON top.doc_id = base.doc_id
    """,
)
def text_repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Gopher-style repetition signals per document: duplicate-token
    fraction and top-bigram coverage — repetitious documents are low-value
    training data and these two integer-derived ratios are the standard
    cheap filters. The bigram array (interpreted-HOF construction) is
    built exactly once, on the explode side; the join carries only
    scalars — |bigrams| is ``greatest(1, n_tokens − 1)`` by construction,
    so it's recomputed arithmetically, not from a second array build.
    Input-balanced (guide §2.5): the token/bigram HOF construction is the
    per-row cost and the fixture scans as one task."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toksdf = docs.select("doc_id", xtext.tokens(F.col("text")).alias("__toks"))
    stats = toksdf.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        xtext.dup_token_fraction(F.col("__toks")).alias("dup_token_fraction"),
    )
    top = (
        toksdf.select(
            "doc_id",
            F.explode(xtext.word_ngrams_from_tokens(F.col("__toks"), 2)).alias("__g"),
        )
        .groupBy("doc_id", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(F.max("__c").alias("__top"))
    )
    return stats.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_token_fraction",
        F.col("__top").cast("long").alias("top_bigram_count"),
        (
            F.col("__top").cast("double")
            / F.greatest(F.lit(1), F.col("n_tokens") - 1)
        ).alias("top_bigram_fraction"),
    )


def _pii_salt_spark() -> Column:
    # Column exprs need a live session — build lazily, not at import.
    return F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +47 22 33 44 55"),
        ),
    ).otherwise(F.lit(""))


@register(
    "text_pii_redaction",
    sql=r"""
    WITH salted AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 5 = 0
                            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                 || '@example.com or +47 22 33 44 55'
                            ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(t,
               '\+[0-9]{2}( [0-9]{2}){4}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{2}( [0-9]{2}){4}', '<PHONE>', 'g') AS redacted
    FROM salted
    """,
)
def text_pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PII scrub pass: emails/phones replaced with placeholder
    tokens, with per-pattern audit counts. The corpus has no PII, so both
    engines salt every 5th document with a synthetic email + phone — real
    positives, deterministic, and the patterns use only constructs with
    identical Java-regex/RE2 semantics. Chained regexp_replace fuses into
    the scan (the same shape a 100 TB scrub runs), input-balanced per
    guide §2.5 (no-op on already-parallel layouts)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    salted = docs.select(
        "doc_id", F.concat(F.col("text"), _pii_salt_spark()).alias("__t")
    )
    counts = xtext.pii_counts(F.col("__t"))
    return salted.select(
        "doc_id",
        counts["<EMAIL>"].cast("int").alias("n_emails"),
        counts["<PHONE>"].cast("int").alias("n_phones"),
        xtext.redact_pii(F.col("__t")).alias("redacted"),
    )


@register(
    "doc_fingerprint",
    sql="""
    SELECT doc_id,
           sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] canonical content fingerprint (case/space/punct-insensitive)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", xtext.fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "ngram_jaccard_pairs",
    sql=r"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w
    ), inv AS (
        SELECT doc_id, unnest(s) AS g FROM sh
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jaccard
    FROM shared
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.2
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] exact 3-gram Jaccard near-dup pairs via inverted-index join.

    Registered with the scale-safe DF cap ACTIVE: ``max_doc_freq=50`` is
    above the fixture's max shingle DF (7 at sf0.01, 25 at sf0.1 —
    measured), so the oracle's exact-Jaccard answer is unchanged while
    the bench/driver path runs the same stop-shingle pruning plan that
    bounds bucket sizes at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    return xdedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.2, max_doc_freq=50
    )


def _translit_sql(expr: str) -> str:
    """DuckDB mirror of ``xtext.translit_casefold``: a nested replace()
    chain generated from the SAME ``TRANSLIT_MAP`` constant, innermost
    replacement first — identical application order."""
    out = f"lower({expr})"
    for a, b in xtext.TRANSLIT_MAP:
        out = f"replace({out}, '{a}', '{b}')"
    return out


@register(
    "crosslingual_translit_dedup",
    sql=f"""
    WITH n AS (
        SELECT doc_id, lang,
               sha256(regexp_replace({_translit_sql("text")},
                                     '[^a-z0-9]', '', 'g')) AS fp
        FROM documents
    )
    SELECT doc_id, lang, substr(fp, 1, 16) AS fp16,
           CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS group_n,
           doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_survivor
    FROM n
    """,
)
def crosslingual_translit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Cross-lingual exact dedup: documents are fingerprinted on
    their TRANSLITERATED casefold (``xtext.translit_casefold`` — the
    reference F2 Æ/Ø/Å mapping, src/transform.py:33-46, generalized to
    a curation normalizer), so alternate spellings of the same content
    across orthographies ("smørbrød" / "smoerbroed" / "smörbröd")
    collapse into one dup group before shingle-level dedup ever runs —
    the cheap first pass of multilingual corpus dedup.  Output: per-doc
    fingerprint prefix, dup-group size, and the min-doc_id survivor
    flag.  Plan: one zero-UDF normalization map + ONE fp-keyed shuffle
    (window count/min share a single partitioning) — no join, no
    all-pairs work; at 100 TB this is the same shape as
    ``dedup_exact_survivors``.  Transliteration law (spellings
    converge) is pinned on synthetic Norwegian/German strings in
    tests/test_dedup_quality.py; the driver oracle hash-verifies the
    full fingerprint→group→survivor pipeline on the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.sha2(
        F.regexp_replace(
            xtext.translit_casefold(F.col("text")), r"[^a-z0-9]", ""
        ),
        256,
    )
    w = Window.partitionBy("fp")
    return (
        docs.select("doc_id", "lang", fp.alias("fp"))
        .select(
            "doc_id",
            "lang",
            F.substring("fp", 1, 16).alias("fp16"),
            F.count(F.lit(1)).over(w).alias("group_n"),
            (F.col("doc_id") == F.min("doc_id").over(w)).alias(
                "is_survivor"
            ),
        )
    )


@register(
    "embedding_topk_cosine",
    sql="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    pairs AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(qe, e) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                     6) AS cosine
        FROM q, v c WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM pairs
    QUALIFY rank <= 5
    """,
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] brute-force exact top-5 cosine neighbours for query vectors
    (vec_id < 10) — the ANN correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return xsim.brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


@register(
    "embedding_near_dup_pairs",
    sql="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 200
      AND round(list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                6) >= 0.35
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding-cosine near-dup pairs (probe side bounded; the
    unbounded scale path is LSH candidate generation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") < 200)
    return xdedup.embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.35, probe_ids=probe
    )


_CURATION_SQL = r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_words,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
                    w -> list_contains(['the','a','and','of','to','in','is','that','for','with'], w)))
                    AS DOUBLE) AS sw,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE) AS n_punct,
               sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM documents
    ), scored AS (
        SELECT doc_id, fp, CAST(n_words AS BIGINT) AS n_words_out,
               (least(1.0, n_words / 50.0) * 0.4
                + (1.0 - least(1.0, (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0)) * 0.3
                + least(1.0, (CASE WHEN n_words > 0 THEN sw / n_words ELSE 0.0 END) * 5.0) * 0.3
               ) AS quality
        FROM t
    ), pass AS (
        SELECT * FROM scored WHERE quality >= 0.5
    )
    SELECT p.doc_id, p.n_words_out, p.quality
    FROM pass p
    JOIN (SELECT fp, min(doc_id) AS survivor FROM pass GROUP BY fp) s
      ON p.doc_id = s.survivor
    """


@register("corpus_curation_pipeline", sql=_CURATION_SQL)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] capstone training-data curation: cheap quality filter first
    (scan-fused Column arithmetic), then exact near-canonical dedup —
    min-id survivor per content fingerprint as a window-min over the
    fingerprint partition: ONE hash shuffle on fp, no join (a groupBy +
    semi-join would shuffle twice, and broadcasting the survivor set is
    wrong when survivors ~ |docs|). The order matters at 100 TB: the
    filter runs in the scan stage, so the shuffle only carries surviving
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        xtext.fingerprint(F.col("text")).alias("fp"),
        xtext.token_count_ws(F.col("text")).cast("long").alias("n_words_out"),
        xtext.quality_score(F.col("text")).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    w = Window.partitionBy("fp")
    return (
        scored.withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "n_words_out", "quality")
    )


_FACTORY_SQL = r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_words,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
                    w -> list_contains(['the','a','and','of','to','in','is','that','for','with'], w)))
                    AS DOUBLE) AS sw,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE) AS n_punct,
               sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        FROM documents
    ), scored AS (
        SELECT doc_id, fp, CAST(n_words AS BIGINT) AS size,
               (least(1.0, n_words / 50.0) * 0.4
                + (1.0 - least(1.0, (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0)) * 0.3
                + least(1.0, (CASE WHEN n_words > 0 THEN sw / n_words ELSE 0.0 END) * 5.0) * 0.3
               ) AS quality
        FROM t
    ), pass AS (
        SELECT * FROM scored WHERE quality >= 0.5
    ), surv AS (
        SELECT p.doc_id, p.size FROM pass p
        JOIN (SELECT fp, min(doc_id) AS survivor FROM pass GROUP BY fp) s
          ON p.doc_id = s.survivor
    ), labelled AS (
        SELECT doc_id, size,
               CASE WHEN {split_pred} THEN 'train' ELSE 'test' END AS split
        FROM surv
    ), packed AS (
        SELECT doc_id,
               SUM(size) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) - size AS before
        FROM labelled WHERE split = 'train'
    )
    SELECT l.doc_id, l.split, CAST(l.size AS BIGINT) AS size,
           CAST(p.before // 512 AS BIGINT) AS shard_id,
           CAST(p.before % 512 AS BIGINT) AS offset_in_shard
    FROM labelled l LEFT JOIN packed p ON p.doc_id = l.doc_id
    """


def _factory_sql() -> str:
    from dvh_airflow_kafka_spark.ext.sampling import sql_bucket_predicate

    return _FACTORY_SQL.format(split_pred=sql_bucket_predicate("doc_id", 0.8))


@register("training_data_factory", sql=_factory_sql())
def training_data_factory_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] capstone #2 — the full training-data factory in one plan:
    quality filter (scan-fused) → exact near-canonical dedup (one
    fingerprint shuffle, window-min survivor) → deterministic sha-bucket
    train/test split (no shuffle) → prefix-sum shard packing of the train
    side. Output: every surviving document with its split and, for train
    docs, its shard assignment. Deterministic end to end and oracled as
    one SQL CTE chain."""
    from dvh_airflow_kafka_spark.ext.sampling import hash_split, pack_into_shards

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        xtext.fingerprint(F.col("text")).alias("fp"),
        xtext.token_count_ws(F.col("text")).cast("long").alias("size"),
        xtext.quality_score(F.col("text")).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    w = Window.partitionBy("fp")
    surv = (
        scored.withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .select("doc_id", "size")
    )
    labelled = hash_split(surv, "doc_id", train_frac=0.8)
    packed = pack_into_shards(
        labelled.filter(F.col("split") == "train"), "doc_id", F.col("size"), 512
    ).select("doc_id", "shard_id", "offset_in_shard")
    return labelled.join(packed, "doc_id", "left").select(
        "doc_id",
        "split",
        "size",
        F.col("shard_id").cast("long").alias("shard_id"),
        F.col("offset_in_shard").cast("long").alias("offset_in_shard"),
    )


# --------------------------------------------------------------------------
# [EXT] Multimodal binary columns
# --------------------------------------------------------------------------

# Hex renderings of the magic prefixes + oracle-side blob construction:
# the oracle builds the identical synthetic blob (magic prefix by
# doc_id % 4 + utf-8 text bytes) and SNIFFS the mime from the bytes, just
# like the Spark side — both engines run real magic-byte detection.
_BLOB_CTE = r"""
    WITH b AS (
        SELECT doc_id,
               hex(CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN '\xFF\xD8\xFF'::BLOB
                     WHEN 1 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB
                     WHEN 2 THEN 'RIFF'::BLOB
                     ELSE ''::BLOB END || encode(text)) AS h
        FROM documents
    ), sniffed AS (
        SELECT doc_id, h,
               CASE WHEN left(h, 16) = '89504E470D0A1A0A' THEN 'image/png'
                    WHEN left(h, 8)  = '52494646'         THEN 'audio/wav'
                    WHEN left(h, 6)  = 'FFD8FF'           THEN 'image/jpeg'
                    ELSE 'application/octet-stream' END AS mime
        FROM b
    )
"""


@register(
    "blob_fingerprint",
    sql=_BLOB_CTE
    + """
    SELECT doc_id,
           sha256(h) AS fingerprint,
           CAST(length(h) / 2 AS BIGINT) AS size_bytes,
           mime
    FROM sniffed
    """,
)
def blob_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: per-blob sha-256 fingerprint + size + magic-byte
    MIME sniff over a synthetic binary column — one scan-fused projection."""
    docs = load_table(spark, sf_dir, "documents")
    return xmm.blob_fingerprint(xmm.synth_blob_frame(docs))


@register(
    "blob_mime_stats",
    sql=_BLOB_CTE
    + """
    SELECT mime,
           count(*) AS n_blobs,
           CAST(sum(length(h) / 2) AS BIGINT) AS total_bytes,
           CAST(sum(length(h) / 2) AS DOUBLE) / count(*) AS avg_bytes
    FROM sniffed
    GROUP BY mime
    """,
)
def blob_mime_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: corpus shape by modality (count/total/mean bytes
    per sniffed MIME). avg is double division of exact integers — IEEE
    division is correctly rounded, so both engines emit identical bits."""
    docs = load_table(spark, sf_dir, "documents")
    return xmm.blob_mime_stats(xmm.synth_blob_frame(docs))


@register(
    "blob_exact_dedup",
    sql=_BLOB_CTE
    + """
    SELECT sha256(h) AS fingerprint,
           min(doc_id) AS survivor_id,
           count(*) AS n_copies
    FROM sniffed
    GROUP BY sha256(h)
    """,
)
def blob_exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: exact blob dedup — hash-groupBy on the content
    fingerprint, min-id survivor."""
    docs = load_table(spark, sf_dir, "documents")
    return xmm.blob_exact_dedup(xmm.synth_blob_frame(docs))


@register(
    "avro_confluent_framing",
    sql="""
    SELECT event_id,
           CAST(event_id % 100 AS BIGINT) AS schema_id,
           props AS payload
    FROM events
    """,
)
def avro_confluent_framing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 Confluent wire format round-trip (reference
    src/kafka_source.py:129-135): frame each payload as magic 0x00 +
    4-byte big-endian schema id + bytes, then decode the id and strip the
    header back off — all JVM-side binary expressions. The oracle asserts
    decode(frame(x)) == x."""
    from dvh_airflow_kafka_spark.sources.kafka import (
        confluent_frame,
        confluent_schema_id,
        strip_confluent_header,
    )

    events = load_table(spark, sf_dir, "events")
    framed = events.select(
        "event_id",
        confluent_frame(F.col("event_id") % 100, F.col("props")).alias("value"),
    )
    return framed.select(
        "event_id",
        confluent_schema_id(F.col("value")).alias("schema_id"),
        strip_confluent_header(F.col("value")).cast("string").alias("payload"),
    )


_AVRO_EVENT_SCHEMA = """
{"type": "record", "name": "Event", "fields": [
  {"name": "event_type", "type": "string"},
  {"name": "user_id", "type": "long"},
  {"name": "value", "type": ["null", "double"]}
]}
"""


@register(
    "avro_binary_roundtrip",
    sql="""
    SELECT event_id,
           event_type,
           user_id,
           "value" AS event_value
    FROM events
    """,
)
def avro_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 end-to-end without the spark-avro jar: each event row is
    Avro-binary-encoded (zigzag varints, LE doubles, nullable union),
    Confluent-framed, then header-stripped and decoded back through the
    pure-Python codec (sources/avro_codec.py). The oracle asserts
    decode(frame(encode(x))) == x on real data.  Input-balanced (guide
    §2.5): the whole roundtrip is per-row Python/JVM codec work, the
    costliest single-task scan in the catalog at fixture layout."""
    from dvh_airflow_kafka_spark.sources.avro_codec import avro_encode_from_json_udf
    from dvh_airflow_kafka_spark.sources.kafka import (
        avro_payload_json,
        confluent_frame,
    )

    events = ensure_parallelism(load_table(spark, sf_dir, "events"))
    record_json = F.to_json(F.struct("event_type", "user_id", "value"))
    framed = events.select(
        "event_id",
        confluent_frame(
            F.lit(7), avro_encode_from_json_udf(_AVRO_EVENT_SCHEMA)(record_json)
        ).alias("value"),
    )
    decoded = framed.select(
        "event_id", avro_payload_json(F.col("value"), _AVRO_EVENT_SCHEMA).alias("j")
    )
    return decoded.select(
        "event_id",
        F.get_json_object(F.col("j"), "$.event_type").alias("event_type"),
        F.get_json_object(F.col("j"), "$.user_id").cast("long").alias("user_id"),
        F.get_json_object(F.col("j"), "$.value").cast("double").alias("event_value"),
    )


@register(
    "avro_envelope_schema_id",
    sql="""
    SELECT CAST(user_id AS VARCHAR) AS kafka_key,
           event_id AS kafka_offset,
           CAST(user_id % 2 AS INT) AS kafka_partition,
           'events' AS kafka_topic,
           CAST(event_id % 100 AS BIGINT) AS kafka_schema_id,
           props AS kafka_message
    FROM events
    """,
)
def avro_envelope_schema_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 envelope parity: the Avro-mode envelope carries
    ``kafka_schema_id`` decoded from the Confluent frame (the reference
    adds it to every Avro row, src/kafka_source.py:149). Each event is
    framed with id = event_id % 100, then the envelope decodes the id and
    the payload back — the oracle asserts both invert exactly."""
    from dvh_airflow_kafka_spark.sources.kafka import (
        confluent_frame,
        confluent_schema_id,
        strip_confluent_header,
    )

    events = load_table(spark, sf_dir, "events")
    framed = events_as_kafka_frame(events).withColumn(
        "value", confluent_frame(F.col("offset") % 100, F.col("value"))
    )
    env = with_envelope(
        framed,
        canonical_message=strip_confluent_header(F.col("value")).cast("string"),
        schema_id=confluent_schema_id(F.col("value")),
    )
    return env.select(
        "kafka_key",
        "kafka_offset",
        "kafka_partition",
        "kafka_topic",
        "kafka_schema_id",
        "kafka_message",
    )


@register(
    "wav_decode_metadata",
    sql="""
    SELECT doc_id,
           'audio/wav' AS mime,
           CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                ELSE 44100 END AS INT) AS sample_rate,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(length(text) AS INT) AS n_frames,
           CAST((CAST(length(text) AS BIGINT) * 1000) //
                (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                 ELSE 44100 END) AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def wav_decode_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: a REAL decode kernel — spec-exact WAV containers
    synthesized from the documents table are parsed back by the stdlib
    RIFF walk in ``decode_media``'s default decoder (chunk list → fmt →
    sample rate/channels/frames/duration). The oracle recomputes the
    expected metadata arithmetically from the synth parameters, so the
    byte-level parse is hash-verified end to end."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = xmm.decode_media(xmm.synth_wav_frame(docs))
    return decoded.select(
        "doc_id", "mime", "sample_rate", "channels", "n_frames", "duration_ms"
    )


@register(
    "png_decode_metadata",
    sql="""
    SELECT doc_id,
           'image/png' AS mime,
           CAST(8 + doc_id % 16 AS INT) AS width,
           CAST(8 + (doc_id * 7) % 16 AS INT) AS height,
           CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
                AS INT) AS channels,
           CAST((8 + doc_id % 16) * (8 + (doc_id * 7) % 16) AS BIGINT)
               AS n_pixels
    FROM documents
    """,
)
def png_decode_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: the SECOND real decode kernel — fully valid
    PNGs (signature, CRC-checked IHDR, zlib IDAT, IEND) synthesized
    from the documents ids are parsed back by the stdlib chunk walk in
    ``decode_media``'s default decoder, CRC verified. The oracle
    recomputes width/height/channels arithmetically from the synth
    parameters, hash-verifying the byte-level parse end to end — same
    contract as ``wav_decode_metadata`` for the image modality."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = xmm.decode_media(xmm.synth_png_frame(docs))
    return decoded.select(
        "doc_id",
        "mime",
        "width",
        "height",
        "channels",
        (F.col("width").cast("bigint") * F.col("height")).alias("n_pixels"),
    )


@register(
    "jpeg_decode_metadata",
    sql="""
    SELECT doc_id,
           'image/jpeg' AS mime,
           CAST(8 + doc_id % 24 AS INT) AS width,
           CAST(8 + (doc_id * 5) % 24 AS INT) AS height,
           CAST(CASE doc_id % 2 WHEN 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST((8 + doc_id % 24) * (8 + (doc_id * 5) % 24) AS BIGINT)
               AS n_pixels
    FROM documents
    """,
)
def jpeg_decode_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: the THIRD real decode kernel — minimal valid
    JFIF streams (SOI, APP0, SOF0 frame header, EOI) synthesized from
    the document ids are parsed back by the stdlib marker walk in
    ``decode_media``'s default decoder (ITU-T T.81 §B.2.2 segment
    structure). The oracle recomputes width/height/channels
    arithmetically from the synth parameters, hash-verifying the
    byte-level parse end to end — same contract as the WAV and PNG
    kernels; only video still requires an injected decoder."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = xmm.decode_media(xmm.synth_jpeg_frame(docs))
    return decoded.select(
        "doc_id",
        "mime",
        "width",
        "height",
        "channels",
        (F.col("width").cast("bigint") * F.col("height")).alias("n_pixels"),
    )


@register(
    "mp4_decode_metadata",
    sql="""
    SELECT doc_id,
           'video/mp4' AS mime,
           CAST(16 * (1 + doc_id % 8) AS INT) AS width,
           CAST(16 * (1 + (doc_id * 3) % 8) AS INT) AS height,
           CAST(1000 + (doc_id * 37) % 9000 AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def mp4_decode_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: the FOURTH real decode kernel — minimal valid
    ISO BMFF containers (ftyp, moov ⊃ mvhd + trak/tkhd) synthesized from
    the document ids are parsed back by the stdlib box walk in
    ``decode_media``'s default decoder (ISO/IEC 14496-12 §4.2 box
    structure; duration from mvhd, 16.16 fixed-point dimensions from
    tkhd). The oracle recomputes everything arithmetically from the
    synth parameters. With WAV, PNG, JPEG and MP4 all parsing for real,
    every fixture modality's METADATA path is hash-verified; only
    compressed frame/sample decode needs an injected library decoder."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = xmm.decode_media(xmm.synth_mp4_frame(docs))
    return decoded.select(
        "doc_id", "mime", "width", "height", "duration_ms"
    )


@register(
    "documents_pack_shards",
    sql=r"""
    WITH sized AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS sz
        FROM documents
    ), cum AS (
        SELECT doc_id, sz,
               SUM(sz) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - sz AS before
        FROM sized
    )
    SELECT doc_id,
           CAST(sz AS BIGINT) AS size,
           CAST(before // 512 AS BIGINT) AS shard_id,
           CAST(before % 512 AS BIGINT) AS offset_in_shard
    FROM cum
    """,
)
def documents_pack_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] training-shard packing: documents assigned (in doc_id order)
    to 512-token-capacity shards by cumulative token count — the standard
    prefix-sum approximation of bin packing used to build ~uniform
    pre-training shards. Deterministic layout, oracled via a window
    cumsum."""
    from dvh_airflow_kafka_spark.ext.sampling import pack_into_shards

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", xtext.token_count_ws(F.col("text")).alias("__sz"))
    return pack_into_shards(sized, "doc_id", F.col("__sz"), capacity=512)


_INT8_RECALL_SQL = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    m AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
    q8 AS (
        SELECT vec_id,
               CASE WHEN mx > 0 THEN
                   list_transform(e, x -> floor(abs(x) * 127.0 / mx + 0.5) *
                                           CASE WHEN x < 0 THEN -1 ELSE 1 END)
               ELSE list_transform(e, x -> 0.0) END AS qe
        FROM m),
    bf_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(q.e, c.e) /
                     (sqrt(list_dot_product(q.e, q.e)) *
                      sqrt(list_dot_product(c.e, c.e))), 6) AS cosine
        FROM v q JOIN v c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
    bf AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM bf_scored) WHERE rn <= 5),
    i_scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CASE WHEN list_dot_product(a.qe, a.qe) > 0
                     AND list_dot_product(b.qe, b.qe) > 0
                    THEN round(list_dot_product(a.qe, b.qe) /
                               (sqrt(list_dot_product(a.qe, a.qe)) *
                                sqrt(list_dot_product(b.qe, b.qe))), 6)
                    ELSE 0.0 END AS cosine
        FROM q8 a JOIN q8 b ON b.vec_id <> a.vec_id WHERE a.vec_id < 10),
    i8 AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM i_scored) WHERE rn <= 5),
    hits AS (
        SELECT i8.query_id, COUNT(*) AS n_overlap
        FROM i8 JOIN bf USING (query_id, neighbor_id)
        GROUP BY i8.query_id)
    SELECT q.query_id,
           CAST(5 AS BIGINT) AS k,
           CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(hits.n_overlap, 0) / 5.0 AS recall_at_k
    FROM (SELECT vec_id AS query_id FROM v WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """


@register("embedding_int8_recall", sql=_INT8_RECALL_SQL)
def embedding_int8_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] quantization quality as an ORACLED metric: per query, the
    overlap of int8-quantized brute-force top-5 with float brute-force
    top-5. The quantizer's half-away-from-zero floor form is replayed
    exactly in SQL, and int8 dot products are exact integers, so both
    engines rank identically — recall is hash-compared, not sampled."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = xsim.quantize_embeddings_int8(emb)
    as_vec = quant.select(
        "vec_id", F.col("q").cast("array<double>").alias("embedding")
    )
    q_queries = as_vec.filter(F.col("vec_id") < 10)
    i8 = xsim.brute_force_topk(as_vec, q_queries, k=5)
    bf = xsim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    hits = (
        i8.join(
            bf.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(5).cast("long").alias("k"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("__n"), F.lit(0)) / F.lit(5.0)).alias("recall_at_k"),
        )
    )


def _srp_planes_values(
    dim: int = 64, n_bits: int = 8, n_tables: int = 4, seed: int = 42
) -> str:
    """Seeded SRP hyperplanes as a DuckDB VALUES literal, so an ORACLE
    hashes vectors with the *same* planes as Spark and the whole LSH
    pipeline becomes SQL-expressible (defaults = the registered
    ``lsh_ann_topk`` configuration). ``repr`` round-trips every float64
    exactly."""
    planes = xsim._hyperplanes(dim=dim, n_bits=n_bits, n_tables=n_tables, seed=seed)
    rows = []
    for t in range(planes.shape[0]):
        for b in range(planes.shape[1]):
            vec = ", ".join(repr(float(x)) for x in planes[t, b])
            rows.append(f"({t}, {b}, [{vec}])")
    return ",\n    ".join(rows)


_ANN_RECALL_SQL = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes(tbl, bit, p) AS (VALUES
    {_srp_planes_values()}),
    b AS (
        SELECT v.vec_id, planes.tbl,
               CAST(SUM(CASE WHEN round(list_dot_product(v.e, planes.p), 6) > 0
                             THEN (1 << planes.bit) ELSE 0 END) AS BIGINT) AS bucket
        FROM v CROSS JOIN planes
        GROUP BY v.vec_id, planes.tbl),
    masks AS (SELECT m FROM range(256) AS t(m) WHERE bit_count(m) <= 2),
    qprobe AS (
        SELECT b.vec_id AS query_id, b.tbl, xor(b.bucket, masks.m) AS bucket
        FROM b CROSS JOIN masks WHERE b.vec_id < 10),
    cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM qprobe q JOIN b c ON c.tbl = q.tbl AND c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_dot_product(qe, e) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                     6) AS cosine
        FROM cand
        JOIN qv USING (query_id)
        JOIN v ON v.vec_id = cand.neighbor_id),
    lsh AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5),
    bf_scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(list_dot_product(qe, c.e) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.e, c.e))),
                     6) AS cosine
        FROM qv q JOIN v c ON c.vec_id <> q.query_id),
    bf AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM bf_scored) WHERE rn <= 5),
    hits AS (
        SELECT l.query_id, COUNT(*) AS n_overlap
        FROM lsh l JOIN bf USING (query_id, neighbor_id)
        GROUP BY l.query_id)
    SELECT q.query_id,
           CAST(5 AS BIGINT) AS k,
           CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(hits.n_overlap, 0) / 5.0 AS recall_at_k
    FROM qv q LEFT JOIN hits ON hits.query_id = q.query_id
    """


@register("ann_recall_at_k", sql=_ANN_RECALL_SQL)
def ann_recall_at_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ANN quality as an ORACLED metric: per query, the overlap of
    SRP-LSH top-5 (the registered ``lsh_ann_topk`` configuration) with
    exact brute-force top-5. The DuckDB oracle replays the ENTIRE LSH
    pipeline — same seeded hyperplanes (embedded as literals), same
    multi-probe masks (hamming ≤ 2), same rounded-cosine tie-break — so
    recall is hash-checked, not just eyeballed. IVF recall stays
    pytest-only (k-means is not SQL-expressible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    lsh = xsim.lsh_bucketed_topk(emb, queries, k=5, n_bits=8, n_tables=4)
    bf = xsim.brute_force_topk(emb, queries, k=5)
    hits = (
        lsh.join(
            bf.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.lit(5).cast("long").alias("k"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("__n"), F.lit(0)) / F.lit(5.0)).alias("recall_at_k"),
        )
    )


def _ddsketch_sql(src: str, group: str) -> str:
    """The ddsketch cumulative walk over ``src`` (``group``, value), the
    one SQL form of ``ext/sketch.ddsketch_buckets`` / ``ddsketch_report``
    shared by every ddsketch oracle: ``dd_bk`` buckets each value's
    micro-units, ``dd_cum`` walks the per-``group`` cumulative counts and
    ``dd_quantiles`` holds (``group``, q_pct, n, b, s, value_micro_hi,
    cum), the first bucket whose cumulative count reaches each
    percentile."""
    return f"""dd_v AS (
        SELECT {group},
               CAST(floor("value" * 1000000 + 0.5) AS BIGINT) AS vm
        FROM {src}
    ), dd_bk AS (
        SELECT {group},
               CAST(length(bin(vm)) - 1 AS BIGINT) AS b,
               CAST((vm >> greatest(length(bin(vm)) - 1 - 4, 0)) & 15
                    AS BIGINT) AS s
        FROM dd_v WHERE vm >= 1
    ), dd_c AS (
        SELECT {group}, b, s, CAST(COUNT(*) AS BIGINT) AS c
        FROM dd_bk GROUP BY {group}, b, s
    ), dd_cum AS (
        SELECT {group}, b, s, c,
               CAST(CASE WHEN b >= 4 THEN (s + 17) << (b - 4)
                         ELSE s + 1 END AS BIGINT) AS hi,
               CAST(SUM(c) OVER (PARTITION BY {group}
                                 ORDER BY b, s) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY {group}) AS BIGINT) AS n
        FROM dd_c
    ), dd_q AS (
        SELECT unnest([{", ".join(str(q) for q in _DDSKETCH_QS)}]) AS q_pct
    ), dd_hit AS (
        SELECT k.{group}, q.q_pct, k.n, k.b, k.s,
               k.hi AS value_micro_hi, k.cum,
               row_number() OVER (PARTITION BY k.{group}, q.q_pct
                                  ORDER BY k.b, k.s) AS rn
        FROM dd_cum k, dd_q q
        WHERE k.cum >= floor((q.q_pct * k.n + 99) / 100)
    ), dd_quantiles AS (
        SELECT {group}, q_pct, n, b, s, value_micro_hi, cum
        FROM dd_hit WHERE rn = 1
    )"""


_DDSKETCH_SQL = f"""
    WITH {_ddsketch_sql("events", "event_type")}
    SELECT * FROM dd_quantiles
    """


@register("ddsketch_value_quantiles", sql=_DDSKETCH_SQL)
def ddsketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] MERGEABLE log-bucketed quantile sketch (the DDSketch /
    HDR-histogram family, Masson et al. VLDB'19): values quantize to
    integer micro-units, bucket = (floor(log2 v) via binary-string
    length — no libm, exact on both engines; 16 linear sub-buckets per
    octave ≈ 3% relative error), and per-key bucket COUNTS are the
    sketch — a few hundred integers per key that merge by addition
    across partitions, shards, days, or clusters.  The readout walks
    the cumulative histogram to the smallest bucket covering rank
    ceil(q·n/100) and reports its exact upper boundary.

    The scale contrast this row exists to show: exact percentiles
    (``events_value_percentiles``) need a rank pass per readout, while
    this state is O(buckets) per key, streams through a single
    map-side-combinable aggregate, and yesterday's sketch + today's
    sketch = this week's sketch — the shape monitoring systems actually
    deploy at 100 TB.  Every step is integer arithmetic; the oracle
    replays it bit-for-bit.  The streaming twin
    (``streaming_ddsketch_quantiles``) maintains the same counts as
    state and shares this oracle verbatim.

    Plan: ONE (key, bucket) counts shuffle; the cumulative walk and the
    3-percentile readout run on the bounded bucket frame (≤ ~16·30
    rows per key)."""
    ev = load_table(spark, sf_dir, "events")
    c = _ddsketch_buckets(ev).groupBy("event_type", "b", "s").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _ddsketch_report(spark, c)


@register("streaming_ddsketch_quantiles", sql=_DDSKETCH_SQL)
def streaming_ddsketch_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] The DDSketch MAINTAINED AS STREAMING STATE: events drain
    through a file stream in 4 micro-batches and the sketch is an
    unwatermarked streaming groupBy over (event_type, bucket) — the
    state store holds exactly the bounded bucket-count grid, like
    ``streaming_countmin_sketch``'s counter grid.  Bucket counts merge
    by addition across micro-batches, so the complete-mode final
    snapshot equals the batch sketch EXACTLY and this query shares
    ``ddsketch_value_quantiles``'s DuckDB oracle verbatim — a
    cross-engine hash proof that streaming quantile-sketch state
    matches a batch engine.  At 100 TB ingest this is the permanently
    resident latency/size-distribution monitor: O(buckets) state
    forever, no watermark, no eviction."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches; bucket counts are a mergeable
        # elementwise sum, so batch composition is irrelevant
        _staged_range_write(ev, src, 4)

    src = _staged_stream_src("stream_dds", sf_dir, _write)
    counts = (
        _ddsketch_buckets(read_event_stream(spark, src))
        .groupBy("event_type", "b", "s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sketch = run_drain(counts, mode="complete", shuffle_partitions=8).table
    return _ddsketch_report(spark, sketch)


_WINNOW_K = 3  # tokens per gram
_WINNOW_W = 4  # winnowing window (consecutive grams)
_WINNOW_MIN_SHARED = 2  # pair threshold on shared fingerprints
_WINNOW_MAX_DF = 64  # stop-fingerprint cap (doc frequency)


@register(
    "winnowing_fingerprint_pairs",
    sql=f"""
    WITH d AS (
        SELECT doc_id, regexp_extract_all(text, '\\S+') AS wl FROM documents
    ), h AS (
        SELECT doc_id,
               CASE WHEN len(wl) >= {_WINNOW_K}
                    THEN list_transform(range(1, len(wl) - {_WINNOW_K} + 2),
                         i -> ('0x' || substr(sha256(
                                  wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]
                              ), 1, 8))::BIGINT)
                    ELSE [] END AS hs
        FROM d
    ), fp AS (
        SELECT doc_id,
               unnest(list_distinct(
                   CASE WHEN len(hs) >= {_WINNOW_W}
                        THEN list_transform(range(1, len(hs) - {_WINNOW_W} + 2),
                             j -> list_min(hs[j : j + {_WINNOW_W} - 1]))
                        ELSE [list_min(hs)] END)) AS f
        FROM h WHERE len(hs) > 0
    ), kept AS (
        SELECT f FROM fp GROUP BY f
        HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_WINNOW_MAX_DF}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN kept USING (f) JOIN fp b USING (f)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): 3-token grams are integer-hashed
    (sha-256 prefix, the engine-portable idiom of
    ``ml_fold_assignment``), every window of 4 consecutive gram hashes
    selects its MINIMUM, and the distinct selected values form the
    document's fingerprint sketch — winnowing guarantees any shared run
    of ≥ k+w−1 tokens yields at least one shared fingerprint, so
    partial plagiarism/boilerplate overlap is caught with ~2/(w+1) of
    the grams stored.  Pairs sharing ≥ 2 fingerprints are reported with
    their shared count.

    The min is taken by VALUE (position-free), so the sketch is a set
    and the whole pipeline is SQL-expressible; fingerprints appearing
    in > 64 documents are stop-fingerprints (dropped BEFORE the
    pair join — the same DF cap as ``ngram_jaccard_pairs``, part of the
    operator contract and mirrored in the oracle), which bounds every
    join bucket at corpus scale.

    Plan: gram-hash + window-min is one zero-UDF generate stage; the
    candidate join is inverted-index shaped (fingerprint-keyed shuffle,
    bucket size ≤ 64), never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    k, w = _WINNOW_K, _WINNOW_W
    # Build gram hashes on EXPLODED token rows with lead(), not inside
    # an array lambda: higher-order-function bodies run interpreted per
    # element (measured ~50µs/gram — 13s for 260k grams at sf0.1, twice
    # when the array is referenced twice), while the row form keeps
    # sha2/conv inside whole-stage codegen and runs in milliseconds.
    # All three window specs share (doc_id, pos) partitioning, so
    # Catalyst plans ONE exchange + sort for the lot.
    tok = docs.select(
        "doc_id",
        F.posexplode(xtext.tokens(F.col("text"))).alias("pos", "w1"),
    )
    wlead = Window.partitionBy("doc_id").orderBy("pos")
    grams = tok.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_tok"),
        F.concat_ws(
            " ",
            F.col("w1"),
            F.lead("w1", 1).over(wlead),
            F.lead("w1", 2).over(wlead),
        ).alias("gram"),
    ).filter(F.col("pos") <= F.col("n_tok") - k)
    h = F.conv(F.substring(F.sha2(F.col("gram"), 256), 1, 8), 16, 10).cast(
        "long"
    )
    grams = grams.select(
        "doc_id",
        "pos",
        (F.col("n_tok") - k + 1).alias("n"),
        h.alias("h"),
    )
    # winnowing: min over each window of w consecutive gram hashes; a
    # doc with fewer than w grams keeps pos 0 only — the frame truncates
    # at the array end, so its single window is the whole-gram min
    wspec = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    # localCheckpoint: the fingerprint frame feeds THREE consumers (the
    # DF-cap aggregate and both sides of the pair join); without it each
    # re-runs the corpus tokenize+hash+window scan. Same measured
    # pattern as dup_provenance_matrix — joins stay AQE-planned.
    fp = (
        grams.withColumn("minh", F.min("h").over(wspec))
        .filter(F.col("pos") <= F.greatest(F.lit(0), F.col("n") - w))
        .select("doc_id", F.col("minh").alias("f"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    kept = fp.groupBy("f").agg(
        F.countDistinct("doc_id").alias("df")
    ).filter(
        (F.col("df") >= 2) & (F.col("df") <= _WINNOW_MAX_DF)
    )
    a = fp.join(kept.select("f"), "f")
    b = fp.withColumnRenamed("doc_id", "doc_id_b")
    return (
        a.join(b, "f")
        .filter(F.col("doc_id") < F.col("doc_id_b"))
        .groupBy(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )



@register(
    "passage_window_dedup",
    sql=f"""
    WITH d AS (
        SELECT doc_id, regexp_extract_all(text, '\\S+') AS wl FROM documents
    ), w AS (
        SELECT doc_id,
               unnest(list_transform(range(0, len(wl) // {_PASSAGE_W}),
                      i -> sha256(array_to_string(
                          wl[i * {_PASSAGE_W} + 1 : i * {_PASSAGE_W} + {_PASSAGE_W}],
                          ' ')))) AS h
        FROM d
    ), hd AS (
        SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM w GROUP BY h
    ), per AS (
        SELECT w.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN hd.n_docs >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_windows
        FROM w JOIN hd USING (h) GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           COALESCE(per.n_windows, 0) AS n_windows,
           COALESCE(per.n_dup_windows, 0) AS n_dup_windows,
           CASE WHEN per.n_windows > 0
                THEN CAST(per.n_dup_windows AS DOUBLE) / per.n_windows
                ELSE 0.0 END AS dup_fraction
    FROM d LEFT JOIN per USING (doc_id)
    """,
)
def passage_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PASSAGE-level cross-document dedup readout (the CCNet /
    RefinedWeb sub-document pass that doc-level dedup misses): each
    document splits into non-overlapping ``_PASSAGE_W``(=10)-token
    passage windows, every window is content-hashed, and a window is
    "duplicated" when
    its hash occurs in ≥2 DISTINCT documents.  Per-doc output: window
    count, cross-doc duplicated window count, and the dup fraction a
    curation pipeline thresholds to strip boilerplate-heavy documents
    whose doc-level fingerprint is unique.

    Plan: tokenize+window+hash is one zero-UDF generate stage (~n/10
    rows per doc), then ONE hash-keyed shuffle for the distinct-doc
    counts and one hash-keyed join back — no pairwise comparison
    anywhere, so at 100 TB the cost is two keyed exchanges over the
    window table, same shape as exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    w = _PASSAGE_W
    toks = xtext.tokens(F.col("text"))
    n_wins = F.floor(F.size(toks) / w).cast("int")
    # guard: Spark's sequence(0, -1) DESCENDS instead of yielding empty,
    # so zero-window docs need an explicit empty array
    windows = F.when(
        n_wins > 0,
        F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda i: F.sha2(
                F.array_join(F.slice(toks, i * w + 1, F.lit(w)), " "), 256
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # localCheckpoint: the window table feeds both the doc-frequency
    # aggregate and the join back — one corpus tokenize+hash scan
    # instead of two (the dup_provenance_matrix measurement)
    wins = docs.select(
        "doc_id", F.explode(windows).alias("h")
    ).localCheckpoint(eager=False)
    hd = wins.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    per = (
        wins.join(hd, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.when(F.col("n_docs") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_windows"), F.lit(0))
            .cast("long")
            .alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows").cast("double") / F.col("n_windows"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


_DRIFT_COS = """round(list_dot_product(qe, e) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                     6)"""


@register(
    "embedding_drift_recall",
    sql=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id < 40 AND vec_id % 2 = 1),
    tp AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, {_DRIFT_COS} AS cosine
        FROM q, v c WHERE c.vec_id <> q.query_id
    ), truth AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM tp QUALIFY rnk <= 5
    ), sp AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, {_DRIFT_COS} AS cosine
        FROM q, v c WHERE c.vec_id % 2 = 0
    ), stale AS (
        SELECT query_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM sp QUALIFY rnk <= 5
    ), ov AS (
        SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM truth t JOIN stale s USING (query_id, neighbor_id)
        GROUP BY t.query_id
    ), tk AS (
        SELECT query_id, MIN(cosine) AS truth_kth_cosine
        FROM truth GROUP BY query_id
    ), sk AS (
        SELECT query_id, MIN(cosine) AS stale_kth_cosine
        FROM stale GROUP BY query_id
    )
    SELECT q.query_id, CAST(5 AS BIGINT) AS k,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           COALESCE(ov.n_overlap, 0) / 5.0 AS recall_at_k,
           tk.truth_kth_cosine, sk.stale_kth_cosine
    FROM q
    LEFT JOIN ov ON ov.query_id = q.query_id
    LEFT JOIN tk ON tk.query_id = q.query_id
    LEFT JOIN sk ON sk.query_id = q.query_id
    """,
)
def embedding_drift_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Embedding-index DRIFT audit — recall-over-time: new-arrival
    query vectors (odd ids, the post-snapshot generation) are answered
    from a STALE index snapshot (even ids, the pre-refresh corpus half)
    and from the full corpus; per query the audit reports how many of
    the true top-5 the stale index still finds (n_overlap / recall@5)
    and how far its serving radius degraded (the rank-5 cosine of each
    answer set, MIN over rounded values — order-independent, so
    bit-exact cross-engine).  This is the freshness probe a production
    vector store runs to decide WHEN re-indexing is worth the cost: a
    recall cliff or a widening kth-cosine gap says the un-indexed
    arrivals changed the neighborhood structure.

    Plan: two ``brute_force_topk`` linear scans (query matrix broadcast
    in the UDF closure, ONE corpus pass each, lossless per-batch
    prune), then joins over the tiny (queries × k) frames — the corpus
    is never collected or self-joined; at 100 TB the scans cost two
    reads and the audit frames stay driver-small."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") < 40) & (F.col("vec_id") % 2 == 1))
    stale_corpus = emb.filter(F.col("vec_id") % 2 == 0)
    truth = xsim.brute_force_topk(emb, queries, k=5)
    stale = xsim.brute_force_topk(stale_corpus, queries, k=5)
    ov = (
        truth.join(
            stale.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    tk = truth.groupBy("query_id").agg(
        F.min("cosine").alias("truth_kth_cosine")
    )
    sk = stale.groupBy("query_id").agg(
        F.min("cosine").alias("stale_kth_cosine")
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(ov, "query_id", "left")
        .join(tk, "query_id", "left")
        .join(sk, "query_id", "left")
        .select(
            "query_id",
            F.lit(5).cast("long").alias("k"),
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(5.0)).alias(
                "recall_at_k"
            ),
            "truth_kth_cosine",
            "stale_kth_cosine",
        )
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in xtext.LANG_STOPWORDS[lang])
    return (
        r"CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),"
        f" w -> list_contains([{words}], w))) AS BIGINT)"
    )


@register(
    "code_switch_audit",
    sql=f"""
    WITH h AS (
        SELECT doc_id,
               {", ".join(f"{_lang_hits_sql(lg)} AS h_{lg}" for lg in sorted(xtext.LANG_STOPWORDS))}
        FROM documents
    ), s AS (
        SELECT doc_id,
               list_sort([
                   {", ".join(f"{{'nh': -h_{lg}, 'lang': '{lg}', 'hits': h_{lg}}}" for lg in sorted(xtext.LANG_STOPWORDS))}
               ]) AS e
        FROM h
    )
    SELECT doc_id,
           e[1].lang AS top_lang, e[1].hits AS top_hits,
           e[2].lang AS second_lang, e[2].hits AS second_hits,
           (e[2].hits >= 2 AND 2 * e[2].hits >= e[1].hits) AS is_mixed
    FROM s
    """,
)
def code_switch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Code-switching / mixed-language detection: per document the
    top-2 languages by stopword hits (the ``lang_id`` evidence, kept
    instead of argmax-collapsed) and a mixed flag when the runner-up
    holds ≥2 hits and ≥half the leader's — the curation gate that
    routes mixed-language documents away from monolingual training
    buckets (single-label lang-id silently mislabels them).  Ordering
    is exact: languages sort by (hits desc, lang asc) via an integer
    struct sort, identical in both engines.

    Plan: a zero-UDF scan-fused projection (stopword filters + one
    4-element array sort per row) behind an input-balance repartition
    (guide §2.5 — no-op on already-parallel layouts)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    entries = [
        F.struct(
            (-xtext.stopword_hits(F.col("text"), words).cast("long")).alias(
                "nh"
            ),
            F.lit(lang).alias("lang"),
            xtext.stopword_hits(F.col("text"), words)
            .cast("long")
            .alias("hits"),
        )
        for lang, words in sorted(xtext.LANG_STOPWORDS.items())
    ]
    e = F.sort_array(F.array(*entries))
    return docs.select("doc_id", e.alias("e")).select(
        "doc_id",
        F.col("e")[0]["lang"].alias("top_lang"),
        F.col("e")[0]["hits"].alias("top_hits"),
        F.col("e")[1]["lang"].alias("second_lang"),
        F.col("e")[1]["hits"].alias("second_hits"),
        (
            (F.col("e")[1]["hits"] >= 2)
            & (F.lit(2) * F.col("e")[1]["hits"] >= F.col("e")[0]["hits"])
        ).alias("is_mixed"),
    )


@register(
    "embedding_sign_quant_recall",
    sql=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    bits AS (
        SELECT vec_id, i, e[i + 1] > 0 AS b
        FROM v, (SELECT unnest(range(64)) AS i)
    ), codes AS (
        SELECT vec_id,
               bit_or(CASE WHEN b AND i < 32
                           THEN (1::BIGINT << i) ELSE 0 END) AS lo,
               bit_or(CASE WHEN b AND i >= 32
                           THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS hi
        FROM bits GROUP BY vec_id
    ), qc AS (
        SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
        FROM codes WHERE vec_id < 10
    ), ham AS (
        SELECT qc.query_id, c.vec_id AS neighbor_id,
               bit_count(xor(qc.qlo, c.lo)) + bit_count(xor(qc.qhi, c.hi))
                   AS hamming
        FROM qc JOIN codes c ON c.vec_id <> qc.query_id
    ), hr AS (
        SELECT query_id, neighbor_id, hamming,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rnk
        FROM ham QUALIFY rnk <= 5
    ), q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
    tp AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, {_DRIFT_COS} AS cosine
        FROM q, v c WHERE c.vec_id <> q.query_id
    ), truth AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM tp QUALIFY rnk <= 5
    ), ov AS (
        SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM truth t JOIN hr USING (query_id, neighbor_id)
        GROUP BY t.query_id
    ), hk AS (
        SELECT query_id, CAST(MAX(hamming) AS BIGINT) AS hamming_kth
        FROM hr GROUP BY query_id
    )
    SELECT qc.query_id, CAST(5 AS BIGINT) AS k,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           COALESCE(ov.n_overlap, 0) / 5.0 AS recall_at_k,
           hk.hamming_kth
    FROM qc
    LEFT JOIN ov ON ov.query_id = qc.query_id
    LEFT JOIN hk ON hk.query_id = qc.query_id
    """,
)
def embedding_sign_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] 1-BIT embedding quantization recall — the extreme point of
    the compression/recall family (int8 → PQ/ADC → this): every vector
    collapses to its 64 sign bits (two int32-range words,
    ``xsim.sign_codes``), candidate ranking is pure popcount-of-XOR
    Hamming distance (``xsim.hamming_topk``), and the audit reports
    per-query overlap of Hamming top-5 with exact cosine top-5 plus the
    serving radius (rank-5 Hamming).  Unlike SRP-LSH the code is the
    DATA's own signs — no seeded hyperplanes — so the entire pipeline
    including tie-breaks is SQL-expressible and hash-certified.

    At 100 TB: codes are a 64× reduction built in a zero-UDF projection;
    the scan ranks 16 bytes/vector with two popcounts — memory-bandwidth
    bound, the reason binary quantization is the standard first-stage
    filter in production vector stores (rerank survivors with full
    vectors = the ``truth`` side here).

    Plan: sign-code projection (no shuffle) → ONE linear corpus scan
    with query codes in the closure → tiny per-query window; the exact
    side is ``brute_force_topk``'s identical shape; joins touch only
    (queries × k) frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = xsim.sign_codes(emb)
    qcodes = codes.filter(F.col("vec_id") < 10)
    ham = xsim.hamming_topk(codes, qcodes, k=5)
    truth = xsim.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    )
    ov = (
        truth.join(
            ham.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    hk = ham.groupBy("query_id").agg(
        F.max("hamming").cast("long").alias("hamming_kth")
    )
    return (
        qcodes.select(F.col("vec_id").alias("query_id"))
        .join(ov, "query_id", "left")
        .join(hk, "query_id", "left")
        .select(
            "query_id",
            F.lit(5).cast("long").alias("k"),
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(5.0)).alias(
                "recall_at_k"
            ),
            "hamming_kth",
        )
    )


@register(
    "multi_vector_maxsim",
    sql="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               vec_id // 8 AS grp
        FROM embeddings
    ), q AS (
        SELECT vec_id AS qid, grp AS qg, e AS qe FROM v WHERE vec_id < 16
    ), p AS (
        SELECT q.qg, q.qid, c.grp AS cg,
               -- zero-norm vectors score 0, not NaN: each norm factor is
               -- CASE-guarded to 1 exactly like the Spark kernel's
               -- np.where(norm == 0, 1, norm) on both sides
               MAX(CAST(floor(list_dot_product(qe, e)
                       / ((CASE WHEN sqrt(list_dot_product(qe, qe)) = 0
                                THEN 1 ELSE sqrt(list_dot_product(qe, qe))
                           END)
                          * (CASE WHEN sqrt(list_dot_product(e, e)) = 0
                                  THEN 1 ELSE sqrt(list_dot_product(e, e))
                             END))
                       * 1000000 + 0.5) AS BIGINT)) AS m
        FROM q JOIN v c ON c.grp <> q.qg
        GROUP BY q.qg, q.qid, c.grp
    ), sc AS (
        SELECT qg AS query_group, cg AS cand_group,
               CAST(SUM(m) AS BIGINT) AS score_micro
        FROM p GROUP BY qg, cg
    )
    SELECT query_group, cand_group, score_micro,
           CAST(row_number() OVER (PARTITION BY query_group
                                   ORDER BY score_micro DESC, cand_group)
                AS BIGINT) AS rank
    FROM sc QUALIFY rank <= 5
    """,
)
def multi_vector_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Late-interaction retrieval (ColBERT MaxSim, Khattab &
    Zaharia SIGIR'20): documents and queries are GROUPS of token
    vectors (8 consecutive vec_ids form one multi-vector doc), and the
    relevance of candidate D to query Q is Σ_{q∈Q} max_{d∈D} cos(q, d)
    — each query token finds its best-matching doc token, no pooling
    collapse.  Scores are exact integer micro-units (floor half-up of
    each max), so ranking and the oracle replay are bit-exact; top-5
    candidate groups per query group, ties by group id.

    Plan: the query token matrix rides in the kernel closure
    (``xsim.maxsim_token_maxes``); the corpus streams through ONE
    mapInPandas scan that reduces each Arrow batch to (group, token)
    partial maxima — a 16·N pair frame never exists — then one keyed
    max + one keyed sum + a tiny per-query window.  At 100 TB this is
    a single linear pass, the same shape production late-interaction
    engines use for first-stage scoring."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 16)
    maxes = xsim.maxsim_token_maxes(emb, queries, group_size=8)
    sc = (
        maxes.withColumn(
            "query_group", F.floor(F.col("q_id") / 8).cast("long")
        )
        .filter(F.col("cand_group") != F.col("query_group"))
        .groupBy("query_group", "cand_group")
        .agg(F.sum("m").cast("long").alias("score_micro"))
    )
    w = Window.partitionBy("query_group").orderBy(
        F.col("score_micro").desc(), F.col("cand_group").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_group", "cand_group", "score_micro", "rank")
    )


# Rows-only entries (non-SQL-expressible: seeded-hash LSH internals)


_BLOB_SIMHASH_SIGS_PATH = (
    f"/tmp/dvh_blob_simhash_sigs_{__import__('os').getpid()}.parquet"
)

_BLOB_SIMHASH_ORACLE_SQL = f"""
    WITH sigs AS (
        SELECT doc_id, simhash
        FROM read_parquet('{_BLOB_SIMHASH_SIGS_PATH}/*.parquet')
    ), chunks AS (
        SELECT doc_id, simhash, i,
               (simhash >> (i * 16)) & 65535 AS chunk
        FROM sigs, (SELECT unnest(range(0, 4)) AS i)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM chunks a JOIN chunks b
          ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """


@register("blob_simhash_near_dup", sql=_BLOB_SIMHASH_ORACLE_SQL)
def blob_simhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: perceptual-hash-style near-dup over byte 4-grams
    (SimHash + pigeonhole banding), PARTIAL oracle via the staged-bytes
    pattern: the numpy byte-gram vote kernel stays engine-side, the
    (doc_id, simhash) frame stages to parquet, and DuckDB replays
    chunking, candidate join and the bit_count(xor) hamming verify from
    the same bytes — exact integer arithmetic end to end (the text-path
    ``simhash_near_dup`` shares the identical replay). Planted-dup
    recall stays pytest-verified."""
    from dvh_airflow_kafka_spark.ext.dedup import simhash_band_pairs
    from dvh_airflow_kafka_spark.ext.multimodal import (
        blob_simhash_signature,
    )
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    sim = blob_simhash_signature(4, 4096)
    sigs = ensure_parallelism(xmm.synth_blob_frame(docs)).select(
        F.col("doc_id"), sim(F.col("content")).alias("simhash")
    )
    _stage_frame(sigs, _BLOB_SIMHASH_SIGS_PATH, sf_dir)
    staged = spark.read.parquet(_BLOB_SIMHASH_SIGS_PATH)
    return simhash_band_pairs(staged, "doc_id", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# Partial-oracle staging for minhash_near_dup (the bpe_piece_vocab
# pattern): the xxhash64+permutation signature kernel has no SQL form,
# but everything DOWNSTREAM of the signatures does — stage them to
# parquet at query-call time and let DuckDB replay banding (on slice
# VALUES), candidate generation and the exact-Jaccard verify.
_MINHASH_SIGS_PATH = (
    f"/tmp/dvh_minhash_sigs_{__import__('os').getpid()}.parquet"
)
_MINHASH_BANDS = 8
_MINHASH_ROWS = 8  # num_perm 64 / 8 bands


_MINHASH_ORACLE_SQL = rf"""
    WITH sigs AS (
        SELECT __id, __sig
        FROM read_parquet('{_MINHASH_SIGS_PATH}/*.parquet')
    ), bands AS (
        SELECT __id, i,
               __sig[i * {_MINHASH_ROWS} + 1 : i * {_MINHASH_ROWS}
                     + {_MINHASH_ROWS}] AS sl
        FROM sigs, (SELECT unnest(range(0, {_MINHASH_BANDS})) AS i)
    ), cand AS (
        SELECT DISTINCT a.__id AS id_a, b.__id AS id_b
        FROM bands a JOIN bands b
          ON a.i = b.i AND a.sl = b.sl AND a.__id < b.__id
    ), w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       j -> wl[j] || ' ' || wl[j+1] || ' '
                                            || wl[j+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w
    ), inv AS (
        SELECT doc_id, unnest(s) AS g FROM sh
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, len(s) AS n FROM sh)
    SELECT c.id_a, c.id_b,
           CAST(s.c AS DOUBLE) / (na.n + nb.n - s.c) AS jaccard
    FROM cand c
    JOIN shared s ON s.id_a = c.id_a AND s.id_b = c.id_b
    JOIN sizes na ON na.doc_id = c.id_a
    JOIN sizes nb ON nb.doc_id = c.id_b
    WHERE CAST(s.c AS DOUBLE) / (na.n + nb.n - s.c) >= 0.5
    """


@register("minhash_near_dup", sql=_MINHASH_ORACLE_SQL)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] MinHash-LSH near-dup (shingle → signature → band → bucket-join
    → exact-Jaccard verify), upgraded rows-only → PARTIAL oracle: the
    signature kernel (xxhash64 + 64 permutations) stays engine-side, but
    the signatures are staged to parquet at query-call time and DuckDB
    replays banding, candidate generation and the exact-Jaccard verify
    from the SAME bytes. The one semantic gap: Spark buckets on
    xxhash64(slice) (an 8-byte shuffle key — the 100 TB shape) while the
    oracle joins on slice VALUES; a 64-bit collision between different
    slices could only ADD a candidate, which then must also pass exact
    J ≥ 0.5 to diverge — P ≈ 2⁻⁶⁴·pairs, far below the documented float
    classes.

    Registered with the scale-safe DF cap ACTIVE (``max_doc_freq=50``,
    above the fixture's max shingle DF of 25 at sf0.1): stop-shingles
    are pruned from SIGNATURES (candidate generation) while the verify
    uses full shingle sets — which is why the oracle's banding reads
    the staged signatures rather than recomputing uncapped ones."""
    from dvh_airflow_kafka_spark.ext.dedup import (
        jaccard_sets,
        minhash_signatures,
    )
    from dvh_airflow_kafka_spark.ext.text import (
        tokens,
        word_ngrams_from_tokens,
    )
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    shingled = (
        ensure_parallelism(docs)
        .select(
            F.col("doc_id").alias("__id"),
            tokens(F.col("text")).alias("__toks"),
        )
        .select(
            "__id", word_ngrams_from_tokens(F.col("__toks"), 3).alias("__sh")
        )
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures(
        shingled, "__id", "__sh", num_perm=64, seed=42, max_doc_freq=50
    )
    _stage_frame(sigs, _MINHASH_SIGS_PATH, sf_dir)
    staged = spark.read.parquet(_MINHASH_SIGS_PATH)
    banded = staged.select(
        "__id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.slice(
                            F.col("__sig"),
                            i * _MINHASH_ROWS + 1,
                            _MINHASH_ROWS,
                        )
                    )
                    for i in range(_MINHASH_BANDS)
                ]
            )
        ).alias("__band", "__bucket"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    a = shingled.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = shingled.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard_sets(F.col("__sh_a"), F.col("__sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


_SIMHASH_SIGS_PATH = (
    f"/tmp/dvh_simhash_sigs_{__import__('os').getpid()}.parquet"
)

# Post-kernel SimHash is PURE bit arithmetic, so unlike MinHash there is
# no hashed-bucket caveat: chunks are joined on VALUES in both engines.
# DuckDB's >> on BIGINT is an arithmetic (sign-extending) shift while
# Spark uses shiftrightunsigned — masking the low 16 bits after the
# shift makes them identical for every chunk offset <= 48.
_SIMHASH_ORACLE_SQL = f"""
    WITH sigs AS (
        SELECT doc_id, simhash
        FROM read_parquet('{_SIMHASH_SIGS_PATH}/*.parquet')
    ), chunks AS (
        SELECT doc_id, simhash, i,
               (simhash >> (i * 16)) & 65535 AS chunk
        FROM sigs, (SELECT unnest(range(0, 4)) AS i)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sa, b.simhash AS sb
        FROM chunks a JOIN chunks b
          ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """


@register("simhash_near_dup", sql=_SIMHASH_ORACLE_SQL)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SimHash near-dup (64-bit signatures, pigeonhole banding),
    upgraded rows-only → PARTIAL oracle: the signature kernel (xxhash64
    token votes) stays engine-side, the (doc_id, simhash) frame stages
    to a per-process parquet path at query-call time, and DuckDB replays
    the ENTIRE downstream pipeline — pigeonhole chunking, candidate
    equi-join on chunk values, hamming verify via bit_count(xor) — from
    the same bytes, exactly (pure integer bit arithmetic, no float or
    hash-collision caveat at all)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = xdedup.simhash64(docs, "doc_id", "text").select(
        F.col("doc_id"), F.col("simhash")
    )
    _stage_frame(sigs, _SIMHASH_SIGS_PATH, sf_dir)
    staged = spark.read.parquet(_SIMHASH_SIGS_PATH)
    return xdedup.simhash_band_pairs(staged, "doc_id", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


_LSH_BUCKETS_PATH = (
    f"/tmp/dvh_lsh_buckets_{__import__('os').getpid()}.parquet"
)
# multi-probe perturbation set for the registered (n_bits=8, hamming<=2)
# configuration, baked into the oracle as literals — a pure function of
# the two ints, identical to what the Spark side expands at run time
_LSH_PROBE_MASKS = ", ".join(str(m) for m in xsim._probe_masks(8, 2))
_LSH_ANN_SQL = f"""
    WITH b AS (
        SELECT __id, __table, __bucket
        FROM read_parquet('{_LSH_BUCKETS_PATH}/*.parquet')
    ), probes AS (
        SELECT b.__id AS query_id, b.__table,
               xor(b.__bucket, m.mask) AS __bucket
        FROM b, (SELECT unnest([{_LSH_PROBE_MASKS}]) AS mask) m
        WHERE b.__id < 10
    ), cand AS (
        SELECT DISTINCT p.query_id, c.__id AS neighbor_id
        FROM probes p
        JOIN b c ON c.__table = p.__table AND c.__bucket = p.__bucket
        WHERE c.__id <> p.query_id
    ), v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_dot_product(q.e, n.e) /
                     (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(n.e, n.e))), 6) AS cosine
        FROM cand
        JOIN v q ON q.vec_id = cand.query_id
        JOIN v n ON n.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


@register("lsh_ann_topk", sql=_LSH_ANN_SQL)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SRP-LSH bucketed approximate top-k (the ANN scale path),
    upgraded rows-only → PARTIAL oracle: the SRP sign-fold kernel
    (seeded hyperplane matmul) stays engine-side, its
    ``(__id, __table, __bucket)`` frame stages to a per-process parquet
    path at query-call time, and DuckDB replays the ENTIRE downstream —
    multi-probe XOR expansion (masks baked as literals), candidate
    equi-join per (table, bucket), exact-cosine re-rank at the shared
    6-digit rounding, (cosine DESC, id) top-5 — from the same bytes.
    Recall vs brute force additionally pytest-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    buckets = xsim.srp_bucket_frame(emb, n_bits=8, n_tables=4)
    _stage_frame(buckets, _LSH_BUCKETS_PATH, sf_dir)
    staged = spark.read.parquet(_LSH_BUCKETS_PATH)
    return xsim.lsh_bucketed_topk(
        emb,
        queries,
        k=5,
        n_bits=8,
        n_tables=4,
        corpus_buckets=staged,
        query_buckets=staged.filter(F.col("__id") < 10),
    ).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


_IVF_ASSIGN_PATH = (
    f"/tmp/dvh_ivf_assign_{__import__('os').getpid()}.parquet"
)
_IVF_PROBES_PATH = (
    f"/tmp/dvh_ivf_probes_{__import__('os').getpid()}.parquet"
)
# no DISTINCT in cand: each corpus vector lives in exactly one inverted
# list and a query's probe set is distinct lists, so the probe join emits
# each (query, neighbor) pair at most once — mirroring the Spark side
_IVF_ANN_SQL = f"""
    WITH a AS (
        SELECT __id, __list FROM read_parquet('{_IVF_ASSIGN_PATH}/*.parquet')
    ), p AS (
        SELECT query_id, __list
        FROM read_parquet('{_IVF_PROBES_PATH}/*.parquet')
    ), cand AS (
        SELECT p.query_id, a.__id AS neighbor_id
        FROM p JOIN a ON a.__list = p.__list
        WHERE a.__id <> p.query_id
    ), v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round(list_dot_product(q.e, n.e) /
                     (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(n.e, n.e))), 6) AS cosine
        FROM cand
        JOIN v q ON q.vec_id = cand.query_id
        JOIN v n ON n.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


@register("ivf_ann_topk", sql=_IVF_ANN_SQL)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] IVF-Flat approximate top-k (coarse-quantizer k-means +
    multi-list probe) — the second ANN scale path, upgraded rows-only →
    PARTIAL oracle: the k-means quantizer + nearest-centroid argmax stay
    engine-side, their two output frames (corpus inverted-list assignment
    and per-query probe set) stage to per-process parquet paths, and
    DuckDB replays the downstream — the probe equi-join (the
    partition-pruning scale mechanism), self-filter, exact-cosine re-rank
    at the shared 6-digit rounding, (cosine DESC, id) top-5 — from the
    same bytes.  Recall vs brute force additionally pytest-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    assign_df, probe_df = xsim.ivf_partition(
        emb, queries, n_lists=16, n_probe=6
    )
    _stage_frame(assign_df, _IVF_ASSIGN_PATH, sf_dir)
    _stage_frame(probe_df, _IVF_PROBES_PATH, sf_dir)
    return xsim.ivf_topk_from_lists(
        spark.read.parquet(_IVF_ASSIGN_PATH),
        spark.read.parquet(_IVF_PROBES_PATH),
        emb,
        queries,
        k=5,
    ).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "streaming_sessionization",
    sql="""
    WITH t AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    s AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS sid
        FROM t)
    SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState session operator (ST-custom), driven as
    a real Structured-Streaming drain and oracled against the batch
    lag/cumsum sessionization.

    The events table streams through ``availableNow`` micro-batches; a
    far-future sentinel event appended as the last file pushes the final
    watermark past every real session's (last_event + gap) timeout, so
    the emitted append-mode result is the *complete* session set —
    byte-comparable to the batch answer. Session boundaries surface as
    epoch-µs longs (both engines floor ns→µs identically).
    """
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
        sessionize_with_state,
    )

    # watermarks require tz-aware TIMESTAMP; session tz is pinned UTC so
    # the cast is value-preserving
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )

    def _write(src: str) -> None:
        ev.coalesce(1).write.parquet(src)
        sentinel_ts = (ev.agg(F.max("ts")).collect()[0][0]) + dt.timedelta(days=10)
        spark.createDataFrame(
            [(-1, sentinel_ts, 0.0)], "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)

    src = _staged_stream_src("stream_sess", sf_dir, _write)
    sessions = sessionize_with_state(
        read_event_stream(spark, src), gap="30 minutes"
    )
    out = run_drain(sessions, shuffle_partitions=8).table
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("start_us"),
        F.unix_micros(F.col("session_end")).alias("end_us"),
        "n_events",
    )


@register(
    "user_retention_cohorts",
    sql="""
    WITH act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ), first AS (
        SELECT user_id, MIN(d) AS cohort FROM act GROUP BY user_id
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
           date_diff('day', f.cohort, a.d) AS day_offset,
           COUNT(*) AS n_users
    FROM act a JOIN first f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def user_retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention rollup: users grouped by first-active day, counted
    at each day offset they return — the standard growth-analytics shape.
    Two shuffles (distinct user-days; cohort join is broadcast-sized
    after the per-user MIN) and pure integer outputs."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort"))
    return (
        act.join(first, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("cohort")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "streaming_window_counts",
    sql="""
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_window_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation (the built-in stateful
    shape), driven as a REAL availableNow drain and oracled against the
    batch GROUP BY. A far-future sentinel event pushes the final
    watermark past every real window's end, so the append-mode emission
    is the complete window set. Sums accumulate in DECIMAL(18,6) —
    order-independent, hash-identical to the oracle's sum."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )

    def _write(src: str) -> None:
        ev.coalesce(1).write.parquet(src)
        sentinel_ts = (ev.agg(F.max("ts")).collect()[0][0]) + dt.timedelta(days=10)
        spark.createDataFrame(
            [(sentinel_ts, "__sentinel", 0.0)],
            "ts timestamp, event_type string, value double",
        ).coalesce(1).write.mode("append").parquet(src)

    src = _staged_stream_src("stream_win", sf_dir, _write)
    counts = windowed_event_counts(
        read_event_stream(spark, src), window="1 hour", exact_sum=True
    )
    out = run_drain(counts, shuffle_partitions=8).table
    return out.filter(F.col("event_type") != "__sentinel").select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "streaming_dedup_replay",
    sql="""
    SELECT event_id,
           epoch_us(ts) AS ts_us,
           user_id,
           event_type,
           "value" AS event_value
    FROM events
    """,
)
def streaming_dedup_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup in the state store (dropDuplicatesWithinWatermark)
    driven as a real drain: the event log is written TWICE (the second
    copy replays in a later micro-batch — an at-least-once redelivery),
    and keyed state admits each event_id exactly once. The oracle is the
    batch distinct — the original log."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        dedup_stream,
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    def _write(src: str) -> None:
        ev.coalesce(1).write.mode("append").parquet(src)  # original delivery
        ev.coalesce(1).write.mode("append").parquet(src)  # full replay

    src = _staged_stream_src("stream_dedup", sf_dir, _write)
    deduped = dedup_stream(
        read_event_stream(spark, src), ["event_id"], watermark="100 hours"
    )
    out = run_drain(deduped, shuffle_partitions=8).table
    return out.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        F.col("value").alias("event_value"),
    )


@register(
    "unicode_nfc_audit",
    sql="""
    WITH inj AS (
        SELECT doc_id, source, doc_id % 3 AS inject_class,
               CASE WHEN doc_id % 3 = 0
                    THEN replace(text, 'e', 'e' || chr(769))
                    WHEN doc_id % 3 = 1
                    THEN replace(text, 'f', chr(64257))
                    ELSE text END AS itext
        FROM documents
    ), n AS (
        SELECT source, inject_class, itext,
               nfc_normalize(itext) AS nfc_t,
               -- closed-world NFKC: the corpus is ASCII + the two
               -- injected codepoints, where NFKC = fold the U+FB01
               -- ligature to 'fi', then canonical-compose (= NFC)
               nfc_normalize(replace(itext, chr(64257), 'fi')) AS nfkc_t
        FROM inj
    )
    SELECT source, CAST(inject_class AS BIGINT) AS inject_class,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN nfc_t <> itext THEN 1 ELSE 0 END) AS BIGINT)
               AS nfc_drift_docs,
           CAST(SUM(length(itext) - length(nfc_t)) AS BIGINT)
               AS nfc_chars_saved,
           CAST(SUM(CASE WHEN nfkc_t <> itext THEN 1 ELSE 0 END) AS BIGINT)
               AS nfkc_drift_docs,
           CAST(SUM(length(nfkc_t) - length(itext)) AS BIGINT)
               AS nfkc_chars_delta
    FROM n GROUP BY source, inject_class
    """,
)
def unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Unicode normalization audit — the crawl-hygiene pass
    ``text_clean_normalize`` does NOT cover: per (source, injected
    class), how many documents change under NFC / NFKC and by how many
    codepoints.  Un-normalized crawl text makes codepoint-equivalent
    spellings fingerprint as distinct documents, silently deflating
    every hash-keyed dedup upstream.

    The synthetic corpus is pure ASCII (no drift to measure), so the
    query deterministically injects the two canonical offenders first:
    class 0 (doc_id%3==0) gets every 'e' decomposed to 'e'+U+0301
    (NFC-composable), class 1 gets every 'f' turned into the U+FB01
    ligature (NFKC-foldable, NFC-stable), class 2 stays clean.  Spark
    normalizes with the real ``unicodedata`` kernel
    (``ext/text.unicode_normalize_udf`` — Arrow-batched, linear scan);
    the oracle checks NFC against DuckDB's independent ``nfc_normalize``
    (utf8proc) and NFKC against the closed-world fold documented in the
    SQL.  All drift metrics are exact integers.

    Scale: injection + length arithmetic are codegen expressions; the
    normalization is one Arrow pass; the rollup is a map-side-combined
    aggregate on (source, class)."""
    nfc = xtext.unicode_normalize_udf("NFC")
    nfkc = xtext.unicode_normalize_udf("NFKC")
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cls = F.col("doc_id") % 3
    inj = docs.select(
        "source",
        cls.cast("bigint").alias("inject_class"),
        F.when(cls == 0, F.replace(F.col("text"), F.lit("e"), F.lit("é")))
        .when(cls == 1, F.replace(F.col("text"), F.lit("f"), F.lit("ﬁ")))
        .otherwise(F.col("text"))
        .alias("itext"),
    )
    n = inj.select(
        "source",
        "inject_class",
        "itext",
        nfc(F.col("itext")).alias("nfc_t"),
        nfkc(F.col("itext")).alias("nfkc_t"),
    )
    drift = lambda a, b: F.sum((F.col(a) != F.col(b)).cast("int")).cast("bigint")
    return n.groupBy("source", "inject_class").agg(
        F.count(F.lit(1)).alias("n_docs"),
        drift("nfc_t", "itext").alias("nfc_drift_docs"),
        F.sum(F.length("itext") - F.length("nfc_t"))
        .cast("bigint")
        .alias("nfc_chars_saved"),
        drift("nfkc_t", "itext").alias("nfkc_drift_docs"),
        F.sum(F.length("nfkc_t") - F.length("itext"))
        .cast("bigint")
        .alias("nfkc_chars_delta"),
    )


@register(
    "curation_funnel_attrition",
    sql=r"""
    WITH t AS (
        SELECT doc_id, source, text,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                   AS n_tokens,
               CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
                   AS n_words,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
                    w -> list_contains(['the','a','and','of','to','in','is',
                                        'that','for','with'], w)))
                    AS DOUBLE) AS sw,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\w\s]', '', 'g'))
                    AS DOUBLE) AS n_punct
        FROM documents
    ), qd AS (
        -- the quality expression is _QUALITY_SQL's, verbatim
        SELECT *,
               (least(1.0, n_words / 50.0) * 0.4
                + (1.0 - least(1.0, (CASE WHEN n_chars > 0
                       THEN n_punct / n_chars ELSE 0.0 END) * 4.0)) * 0.3
                + least(1.0, (CASE WHEN n_words > 0
                       THEN sw / n_words ELSE 0.0 END) * 5.0) * 0.3
               ) AS quality
        FROM t
    ), g1 AS (
        SELECT doc_id, text FROM qd WHERE quality >= 0.5
    ), ek AS (
        SELECT MIN(doc_id) AS doc_id FROM g1 GROUP BY sha256(text)
    ), g2 AS (
        SELECT g1.doc_id, g1.text FROM g1 JOIN ek USING (doc_id)
    ), w2 AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM g2
    ), sh2 AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       i -> wl[i] || ' ' || wl[i+1] || ' '
                                            || wl[i+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w2
    ), inv2 AS (
        SELECT doc_id, unnest(s) AS g FROM sh2
    ), shared2 AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM inv2 a JOIN inv2 b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes2 AS (
        SELECT doc_id, len(s) AS n FROM sh2
    ), dropped AS (
        SELECT DISTINCT id_b AS doc_id
        FROM shared2
        JOIN sizes2 na ON na.doc_id = id_a
        JOIN sizes2 nb ON nb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.2
    ), sm AS (
        SELECT qd.source, qd.n_tokens,
               CASE WHEN g2.doc_id IS NOT NULL AND dr.doc_id IS NULL THEN 3
                    WHEN g2.doc_id IS NOT NULL THEN 2
                    WHEN g1.doc_id IS NOT NULL THEN 1
                    ELSE 0 END AS stage_max
        FROM qd
        LEFT JOIN g1 ON g1.doc_id = qd.doc_id
        LEFT JOIN g2 ON g2.doc_id = qd.doc_id
        LEFT JOIN dropped dr ON dr.doc_id = qd.doc_id
    ), expl AS (
        SELECT source, n_tokens, unnest(range(0, stage_max + 1)) AS stage
        FROM sm
    )
    SELECT source, CAST(stage AS BIGINT) AS stage,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM expl GROUP BY source, stage
    """,
)
def curation_funnel_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone: the stage-by-stage ATTRITION REPORT a curation team
    reads before every training run — per (source, stage), how many
    documents and tokens survive into each gate of the standard funnel:

      stage 0  raw corpus
      stage 1  quality gate (the ``text_quality`` heuristic, score >= 0.5
               — same ``ext/text.quality_score`` kernel, same formula as
               the certified ``_QUALITY_SQL``)
      stage 2  exact dedup (min-doc_id survivor per sha256(text), the
               ``dedup_exact_survivors`` rule, applied among stage-1
               survivors)
      stage 3  near-dup drop (3-gram Jaccard >= 0.2 against any LOWER-id
               stage-2 survivor drops the higher id — the documented
               greedy pairwise rule; the transitive-cluster variant is
               ``neardup_survivor_pipeline``)

    One lazy plan, ONE report aggregate: each document gets its highest
    surviving stage, is exploded into one row per stage it reaches
    (≤ 4), and the rollup groups by (source, stage) — so n_docs/n_tokens
    are monotonically non-increasing in stage per source by
    construction.

    Scale: the quality gate is a codegen expression on the checkpointed
    base frame — NO join (only the exact-dedup keeper set and the
    near-dup drop set are joined back, both doc_id-keyed; neither is
    broadcast-hinted because both are corpus-proportional — AQE picks
    broadcast at fixture scale and a keyed shuffle at corpus scale);
    exact dedup is one
    map-side-combined (hash → min id) aggregate; the near-dup detector
    is the inverted-index join (``ext/dedup.ngram_jaccard_pairs``,
    shingle-keyed, never all-pairs) over the already-thinned stage-2
    survivors; the report explodes ≤ 4 rows per doc into one
    map-side-combined aggregate."""
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    # localCheckpoint: the bounded per-doc frame feeds the keeper
    # aggregate, the flagged join, the near-dup detector AND the final
    # rollup — without materialization each consumer re-scans +
    # re-scores the corpus (4 full passes at 100 TB)
    base = docs.select(
        "doc_id",
        "source",
        "text",
        xtext.token_count_ws(F.col("text")).cast("bigint").alias("n_tokens"),
        xtext.quality_score(F.col("text")).alias("quality"),
    ).localCheckpoint(eager=False)
    pass_q = F.col("quality") >= 0.5
    keep = (
        base.filter(pass_q)
        .groupBy(F.sha2(F.col("text"), 256).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("__k"))
    )
    # localCheckpoint: flagged feeds the pair detector and the rollup;
    # without it the keeper aggregate + join re-run per consumer
    flagged = (
        base.join(keep, "doc_id", "left")
        .withColumn("keep_exact", pass_q & F.col("__k").isNotNull())
        .localCheckpoint(eager=False)
    )
    pairs = xdedup.ngram_jaccard_pairs(
        flagged.filter(F.col("keep_exact")).select("doc_id", "text"),
        "doc_id",
        "text",
        ngram=3,
        threshold=0.2,
    )
    dropped = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__d", F.lit(1))
    )
    flags = flagged.join(dropped, "doc_id", "left")
    stage_max = (
        F.when(F.col("keep_exact") & F.col("__d").isNull(), F.lit(3))
        .when(F.col("keep_exact"), F.lit(2))
        .when(pass_q, F.lit(1))
        .otherwise(F.lit(0))
    )
    expl = flags.select(
        "source",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), stage_max)).alias("stage"),
    )
    return expl.groupBy("source", F.col("stage").cast("bigint").alias("stage")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# quality_drift_monitor
# --------------------------------------------------------------------------


@register(
    "quality_drift_monitor",
    sql=r"""
    WITH base AS (
        SELECT event_type,
               CAST(date_trunc('week', ts) AS DATE) AS wk,
               CAST(floor("value" * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ), contrib AS (
        SELECT event_type, strftime(wk, '%Y-%m-%d') AS week, c,
               FALSE AS early
        FROM base
        UNION ALL
        SELECT event_type, strftime(wk + INTERVAL 7 DAY, '%Y-%m-%d'), c,
               TRUE
        FROM base
    ), cnt AS (
        SELECT week, event_type, c,
               SUM(CASE WHEN early THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN early THEN 0 ELSE 1 END) AS b
        FROM contrib GROUP BY week, event_type, c
    ), cum AS (
        SELECT week, event_type,
               SUM(a) OVER w AS ca, SUM(b) OVER w AS cb
        FROM cnt
        WINDOW w AS (PARTITION BY week, event_type ORDER BY c)
    ), tot AS (
        SELECT week, event_type, SUM(a) AS na, SUM(b) AS nb
        FROM cnt GROUP BY week, event_type
    ), ks AS (
        SELECT m.week, m.event_type,
               CAST(MAX(t.na) AS BIGINT) AS n_prev,
               CAST(MAX(t.nb) AS BIGINT) AS n_cur,
               CAST(MAX(abs(m.ca * t.nb - m.cb * t.na)) AS BIGINT)
                   AS ks_num,
               ROUND(MAX(abs(m.ca * t.nb - m.cb * t.na))
                     / CAST(MAX(t.na) * MAX(t.nb) AS DOUBLE), 6) AS ks_stat
        FROM cum m JOIN tot t USING (week, event_type)
        GROUP BY m.week, m.event_type
        HAVING MAX(t.na) > 0 AND MAX(t.nb) > 0
    ), mcnt AS (
        SELECT week, early, event_type, CAST(COUNT(*) AS BIGINT) AS o
        FROM contrib GROUP BY week, early, event_type
    ), wtypes AS (SELECT DISTINCT week, event_type FROM mcnt),
    wsides AS (SELECT DISTINCT week, early FROM mcnt),
    cells AS (
        SELECT t.week, s.early, t.event_type,
               COALESCE(m.o, 0) AS o
        FROM wtypes t
        JOIN wsides s ON s.week = t.week
        LEFT JOIN mcnt m ON m.week = t.week AND m.early = s.early
                        AND m.event_type = t.event_type
    ), marg AS (
        SELECT week, early, SUM(o) AS r FROM cells GROUP BY week, early
    ), cmarg AS (
        SELECT week, event_type, SUM(o) AS col_n
        FROM cells GROUP BY week, event_type
    ), ntot AS (SELECT week, SUM(o) AS n FROM cells GROUP BY week),
    chi AS (
        SELECT c.week,
               CAST(SUM(CAST(floor(
                   (CAST(c.o AS DOUBLE)
                    - CAST(m.r AS DOUBLE) * CAST(g.col_n AS DOUBLE)
                      / CAST(t.n AS DOUBLE))
                   * (CAST(c.o AS DOUBLE)
                    - CAST(m.r AS DOUBLE) * CAST(g.col_n AS DOUBLE)
                      / CAST(t.n AS DOUBLE))
                   / (CAST(m.r AS DOUBLE) * CAST(g.col_n AS DOUBLE)
                      / CAST(t.n AS DOUBLE))
                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS mix_chi2_micro
        FROM cells c
        JOIN marg m ON m.week = c.week AND m.early = c.early
        JOIN cmarg g ON g.week = c.week AND g.event_type = c.event_type
        JOIN ntot t ON t.week = c.week
        GROUP BY c.week
    )
    SELECT ks.week, ks.event_type, ks.n_prev, ks.n_cur, ks.ks_num,
           ks.ks_stat, chi.mix_chi2_micro
    FROM ks JOIN chi ON chi.week = ks.week
    """,
)
def quality_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Week-over-week feed-health monitor (VERDICT r10 item 5c) —
    the drift pass a curation pipeline runs between weekly crawls,
    composing the catalog's two drift statistics over SLIDING week
    pairs in one plan:

    - per (week, event_type): the two-sample KS statistic between this
      week's and the previous week's value distributions
      (``ext/stats.keyed_ks_two_sample`` — integer numerator + rounded
      ratio, exactly ``source_drift_ks``'s kernel but keyed on the
      week pair instead of one fixed cut);
    - per week: Pearson chi-square homogeneity of the event-type MIX
      against the previous week — a densified 2×K contingency table
      (zero-observed cells included), each (o−e)²/e term micro-
      quantized BEFORE summation so the sum is order-independent
      (``event_mix_chi2_drift``'s cross-engine convention).

    Each event contributes to exactly two week pairs (its own week's
    "current" side, the next week's "previous" side) via a 2-element
    posexplode — ONE scan of the log, no self-join of raw rows.  Weeks
    missing either side (the first week, the trailing phantom pair)
    drop via the n>0 filter.  State after the first shuffle is
    O(weeks × types × quantized values) count rows, never raw events —
    at 100 TB the counts frame is the resident monitor state and the
    week pair readout is a bounded window walk, the same shape as the
    ddsketch/KS family."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    contrib = base.select(
        "event_type",
        "c",
        F.explode(
            F.array(
                F.struct(
                    F.date_format("wk", "yyyy-MM-dd").alias("week"),
                    F.lit(False).alias("early"),
                ),
                F.struct(
                    F.date_format(F.date_add("wk", 7), "yyyy-MM-dd").alias(
                        "week"
                    ),
                    F.lit(True).alias("early"),
                ),
            )
        ).alias("p"),
    ).select("event_type", "c", F.col("p.week").alias("week"), F.col("p.early").alias("early"))
    contrib = contrib.localCheckpoint(eager=False)
    ks = xstats.keyed_ks_two_sample(
        contrib,
        ["week", "event_type"],
        "c",
        "early",
        n_a="n_prev",
        n_b="n_cur",
        ks_num="ks_num",
        ks_stat="ks_stat",
    ).filter((F.col("n_prev") > 0) & (F.col("n_cur") > 0))
    # densified 2xK mix table per week: zero-observed cells included so
    # the chi-square is the real homogeneity statistic
    mcnt = contrib.groupBy("week", "early", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=False)
    wtypes = mcnt.select("week", "event_type").distinct()
    wsides = mcnt.select("week", "early").distinct()
    cells = (
        wtypes.join(wsides, "week")
        .join(mcnt, ["week", "early", "event_type"], "left")
        .select(
            "week",
            "early",
            "event_type",
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    marg = cells.groupBy("week", "early").agg(F.sum("o").alias("r"))
    cmarg = cells.groupBy("week", "event_type").agg(F.sum("o").alias("col_n"))
    ntot = cells.groupBy("week").agg(F.sum("o").alias("n"))
    e = (
        F.col("r").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    chi = (
        cells.join(marg, ["week", "early"])
        .join(cmarg, ["week", "event_type"])
        .join(ntot, "week")
        .select(
            "week",
            F.floor(term * 1000000 + F.lit(0.5)).cast("bigint").alias("tm"),
        )
        .groupBy("week")
        .agg(F.sum("tm").cast("long").alias("mix_chi2_micro"))
    )
    return ks.join(chi, "week").select(
        "week",
        "event_type",
        "n_prev",
        "n_cur",
        "ks_num",
        "ks_stat",
        "mix_chi2_micro",
    )
