"""Round-10 widening: end-to-end composition capstones + the Misra-Gries
streaming twin.

The primitives all exist elsewhere in the catalog; these queries compose
them the way a curation team actually runs them — whole recipes as ONE
lazy plan with one oracle, following ``pretraining_shard_recipe``'s
pattern:

- ``neardup_survivor_pipeline`` — the full Lee et al. (ACL'22) dedup
  recipe: near-dup clusters -> best-copy survivor per cluster -> exact
  duplicate-span removal among the survivors.
- ``unicode_nfc_audit`` — NFC/NFKC normalization drift by source over a
  deterministically injected non-ASCII corpus.
- ``decontamination_capstone`` — benchmark decontamination as a
  remove-and-report pass over the train split.
- ``streaming_frequent_tokens`` — the batch Misra-Gries heavy-hitter
  sketch maintained as per-shard streaming state
  (``applyInPandasWithState``), sharing the batch oracle verbatim.
- ``streaming_hll_registers`` — the HyperLogLog register grid as
  streaming groupBy-max state, sharing ``hll_register_distinct``'s
  oracle verbatim via the shared ``ext/sketch`` kernels.
- ``streaming_kmv_minima`` — the KMV/theta k-minimum-values sketch as
  per-group ``applyInPandasWithState`` streaming state, sharing
  ``theta_sketch_overlap``'s oracle verbatim via the shared
  ``ext/sketch.kmv_hash`` / ``theta_overlap_report`` kernels.
- ``curation_funnel_attrition`` — the stage-by-stage per-source
  attrition report (quality gate -> exact dedup -> near-dup drop) as
  ONE lazy plan with one aggregate.
- ``streaming_bloom_bits`` — the Bloom filter's set-bit frame as
  unwatermarked streaming groupBy state (union-merged), sharing
  ``bloom_dedup_insert``'s oracle verbatim via the shared
  ``ext/bloom.bloom_positions`` / ``bloom_dedup_with_bits`` kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext import dedup as xdedup
from dvh_airflow_kafka_spark.ext import text as xtext
from dvh_airflow_kafka_spark.ext.sampling import hash_split, sql_bucket_predicate
from dvh_airflow_kafka_spark.io import ensure_parallelism, load_table

from dvh_airflow_kafka_spark.catalog._core import (
    REGISTRY,
    _staged_range_write,
    _staged_stream_src,
    register,
)

# --------------------------------------------------------------------------
# Shared oracle fragments: the word list + distinct 3-gram shingle + exact
# Jaccard>=0.2 pair CTEs, verbatim the ``ngram_dedup_clusters`` /
# ``split_contamination_pairs`` convention (ext/dedup.ngram_jaccard_pairs).
# --------------------------------------------------------------------------
_SHINGLE_PAIR_CTES = r"""
    w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       i -> wl[i] || ' ' || wl[i+1] || ' '
                                            || wl[i+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w
    ), inv AS (
        SELECT doc_id, unnest(s) AS g FROM sh
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, len(s) AS n FROM sh
    ), pairs AS (
        SELECT id_a, id_b
        FROM shared
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.2
    )"""


@register(
    "neardup_survivor_pipeline",
    sql=rf"""
    WITH RECURSIVE {_SHINGLE_PAIR_CTES},
    edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), reach(node, lbl) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node
    ), clus AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node
    ), lab AS (
        SELECT w.doc_id, COALESCE(c.cluster_id, w.doc_id) AS cluster_id,
               len(w.wl) AS n_tokens
        FROM w LEFT JOIN clus c ON c.doc_id = w.doc_id
    ), ranked AS (
        SELECT doc_id, cluster_id, n_tokens,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_tokens DESC, doc_id ASC) AS rn
        FROM lab
    ), surv AS (
        SELECT doc_id, cluster_id, n_tokens FROM ranked WHERE rn = 1
    ), sw AS (
        SELECT w.doc_id, w.wl FROM w JOIN surv ON surv.doc_id = w.doc_id
    ), gi AS (
        SELECT doc_id, wl, unnest(range(1, len(wl) - 6)) AS i
        FROM sw WHERE len(wl) >= 8
    ), g AS (
        SELECT doc_id, i,
               wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' ' || wl[i+3]
               || ' ' || wl[i+4] || ' ' || wl[i+5] || ' ' || wl[i+6]
               || ' ' || wl[i+7] AS gram
        FROM gi
    ), dup AS (
        SELECT gram, MIN(doc_id) AS keeper
        FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), cov AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT g.doc_id, unnest(range(g.i, g.i + 8)) AS p
            FROM g JOIN dup USING (gram) WHERE g.doc_id <> dup.keeper) cv
    ), tp AS (
        SELECT doc_id, wl, unnest(range(1, len(wl) + 1)) AS p FROM sw
    ), toks AS (SELECT doc_id, p, wl[p] AS tok FROM tp
    ), kept AS (
        SELECT t.doc_id, t.p, t.tok
        FROM toks t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.p = cov.p
        WHERE cov.p IS NULL
    ), ka AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               sha256(array_to_string(list(tok ORDER BY p), ' '))
                   AS cleaned_sha
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, s.cluster_id, 1 AS survivor,
           CAST(s.n_tokens AS INT) AS n_tokens,
           CAST(s.n_tokens - COALESCE(ka.n_kept, 0) AS INT) AS n_removed,
           COALESCE(ka.cleaned_sha, sha256('')) AS cleaned_sha
    FROM surv s LEFT JOIN ka ON ka.doc_id = s.doc_id
    UNION ALL
    SELECT r.doc_id, r.cluster_id, 0 AS survivor,
           CAST(r.n_tokens AS INT) AS n_tokens,
           CAST(r.n_tokens AS INT) AS n_removed,
           sha256('') AS cleaned_sha
    FROM ranked r WHERE r.rn > 1
    """,
)
def neardup_survivor_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone: the COMPLETE Lee et al. (ACL'22) dedup recipe as
    one lazy plan — (1) exact 3-gram Jaccard>=0.2 near-dup pairs
    (inverted index, never all-pairs), (2) transitive clusters
    (distributed min-label components), (3) best-copy survivor per
    cluster by (most tokens, lowest id), (4) exact duplicate 8-gram SPAN
    removal among the survivors.  One row per original document: kept
    survivors carry their span-cleaned sha, dropped members record their
    full token count as removed.  This is the pipeline
    ``ngram_dedup_clusters`` + ``dedup_survivor_priority`` +
    ``duplicate_span_removal`` demonstrate piecewise, composed the way a
    curation run executes it; the oracle replays all four stages
    including the recursive-CTE closure.

    Scale: every exchange is keyed (shingle, pair, cluster, gram,
    (doc,pos)); the component loop is the only iteration and works on
    the label frame (eagerly checkpointed per round). The survivor
    window partitions by cluster_id — never global."""
    from dvh_airflow_kafka_spark.ext.components import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    base = ensure_parallelism(docs.select("doc_id", "text")).withColumn(
        "n_tokens", F.size(xtext.tokens(F.col("text")))
    )
    pairs = xdedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.2
    ).select("id_a", "id_b")
    # 8 partitions for the label loop: near-dup graphs are hundreds of
    # edges at any sf; see connected_components' docstring
    clusters = dedup_clusters(pairs, shuffle_partitions=8)
    lab = base.join(clusters, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    # localCheckpoint: `ranked` is one bounded row per document and
    # feeds three consumers (the span remover's internal gram/token
    # builds, the survivor join, the dropped branch); without
    # materialization each re-runs the tokenize+join+window upstream
    # (A/B at sf0.1, 3 runs each: ~8.9s warm -> ~6.4s).  Downstream
    # joins are gram- and doc-keyed merges between similar-sized frames
    # (no broadcast to lose), so the erased-statistics hazard does not
    # bite — measured, not assumed.
    ranked = lab.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    surv = ranked.filter(F.col("rn") == 1)
    cleaned = xdedup.remove_duplicate_spans(
        surv.select("doc_id", "text"), "doc_id", "text", ngram=8
    )
    surv_out = surv.select("doc_id", "cluster_id").join(cleaned, "doc_id").select(
        "doc_id",
        "cluster_id",
        F.lit(1).alias("survivor"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "cleaned_sha",
    )
    dropped = ranked.filter(F.col("rn") > 1).select(
        "doc_id",
        "cluster_id",
        F.lit(0).alias("survivor"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_tokens").cast("int").alias("n_removed"),
        F.sha2(F.lit(""), 256).alias("cleaned_sha"),
    )
    return surv_out.unionAll(dropped)


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
    "decontamination_capstone",
    sql=rf"""
    WITH {_SHINGLE_PAIR_CTES},
    split AS (
        SELECT doc_id,
               CASE WHEN {sql_bucket_predicate('doc_id', 0.8)}
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    ), xpair AS (
        SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b
        FROM pairs p
        JOIN split sa ON sa.doc_id = p.id_a
        JOIN split sb ON sb.doc_id = p.id_b
        WHERE sa.split <> sb.split
    ), contam AS (
        SELECT DISTINCT CASE WHEN split_a = 'train' THEN id_a ELSE id_b END
                   AS doc_id
        FROM xpair
    ), tr AS (
        SELECT d.source,
               len(regexp_extract_all(d.text, '\S+')) AS n_tokens,
               CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_contam
        FROM documents d
        JOIN split s ON s.doc_id = d.doc_id AND s.split = 'train'
        LEFT JOIN contam c ON c.doc_id = d.doc_id
    )
    SELECT source,
           COUNT(*) AS n_train,
           CAST(SUM(is_contam) AS BIGINT) AS n_removed,
           CAST(COUNT(*) - SUM(is_contam) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS train_tokens,
           CAST(SUM(CASE WHEN is_contam = 1 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_removed
    FROM tr GROUP BY source
    """,
)
def decontamination_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone: benchmark decontamination as the REMOVE-AND-REPORT
    pass eval owners actually run — every train-split document
    near-duplicating (3-gram Jaccard>=0.2) ANY test-split document is
    dropped from the training corpus, and the report shows the per-source
    cost: documents and tokens removed vs kept.  Composes
    ``split_contamination_pairs``'s detector (same split salt, same
    shingle convention) with the removal roll-up —
    ``cross_split_ngram_novelty`` is the after-the-fact coverage metric
    for what survives.

    Scale: the pair detector is the inverted-index join (shingle-keyed);
    the removal is one distinct contaminated-id set joined back into the
    train scan — id-keyed, NOT broadcast-hinted: the contaminated set is
    proportional to the cross-split near-dup rate (AQE picks broadcast
    at fixture scale, a keyed shuffle at corpus scale).  The split
    labels are a pure hash expression computed on each side rather than
    a corpus-sized join.  The report is a map-side-combined per-source
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = xdedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.2
    ).select("id_a", "id_b")
    # split labels are a pure hash expression of the id (hash_split) —
    # computed directly on the pair frame and on the train scan, never
    # materialized as a corpus-sized join side
    xp = hash_split(pairs, "id_a", train_frac=0.8).withColumnRenamed(
        "split", "split_a"
    )
    xp = hash_split(xp, "id_b", train_frac=0.8).withColumnRenamed(
        "split", "split_b"
    )
    contam = (
        xp.filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    tr = (
        hash_split(docs, "doc_id", train_frac=0.8)
        .filter(F.col("split") == "train")
        .join(contam, "doc_id", "left")
        .select(
            "source",
            F.size(xtext.tokens(F.col("text"))).alias("n_tokens"),
            F.coalesce(F.col("__c"), F.lit(0)).alias("is_contam"),
        )
    )
    return tr.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum("is_contam").cast("bigint").alias("n_removed"),
        (F.count(F.lit(1)) - F.sum("is_contam"))
        .cast("bigint")
        .alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("train_tokens"),
        F.sum(F.when(F.col("is_contam") == 1, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_removed"),
    )


_MG_K = 64
_MG_SHARDS = 8


@register(
    "streaming_frequent_tokens",
    # Shares the batch Misra-Gries oracle VERBATIM (same exact heavy-
    # hitter output, threshold N/64) — the ddsketch/countmin twin device.
    sql=REGISTRY["frequent_tokens_bounded_state"].sql,
)
def streaming_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The Misra-Gries heavy-hitter sketch MAINTAINED AS STREAMING
    STATE: documents drain through a file stream in 4 micro-batches,
    sharded by doc_id into 8 groups; each shard resumes its k=64-counter
    MG summary from the state store every batch
    (``streaming/stateful.mg_candidates_with_state`` — the SAME
    decrement-counter kernel as the batch pass, fed incrementally) and
    emits its current candidates.  The distinct union of emissions is a
    provable superset of every token with global frequency > N/64
    (per-shard pigeonhole, see the operator docstring), and the exact
    verify pass (``ext/sketch.verify_candidate_counts``) then matches
    the batch query bit-for-bit — so this query shares
    ``frequent_tokens_bounded_state``'s DuckDB oracle verbatim: a
    cross-engine hash proof that resumable streaming sketch state equals
    the batch sketch equals a full groupBy.

    At 100 TB ingest this is the resident vocabulary-drift monitor:
    state is O(k) per shard FOREVER (8x64 counters here), immune to the
    unbounded token domain that makes a streaming groupBy(token) state
    grow without bound.  The state-flatness CI probe pins this
    (``tests/test_scale_probe_stream.py``)."""
    from dvh_airflow_kafka_spark.ext.sketch import verify_candidate_counts
    from dvh_airflow_kafka_spark.streaming.stateful import (
        mg_candidates_with_state,
        read_event_stream,
        run_drain,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches; MG state resumes across batches and
        # the verify pass is batch-composition-free, so hash/round-robin
        # slicing is fine
        _staged_range_write(docs, src, 4)

    src = _staged_stream_src("stream_mg", sf_dir, _write)
    stream = read_event_stream(spark, src).select(
        (F.col("doc_id") % _MG_SHARDS).alias("shard"), "text"
    )
    emitted = run_drain(
        mg_candidates_with_state(stream, k=_MG_K),
        mode="update",
        shuffle_partitions=_MG_SHARDS,
    ).table
    candidates = emitted.select("token").distinct()
    slim = ensure_parallelism(docs.select(F.col("text").alias("__text")))
    return verify_candidate_counts(slim, candidates, k_state=_MG_K)


@register(
    "streaming_hll_registers",
    # Shares the hand-rolled HyperLogLog oracle VERBATIM — the fourth
    # batch/streaming twin family (quantile, frequency-grid,
    # heavy-hitter, now mergeable-distinct).
    sql=REGISTRY["hll_register_distinct"].sql,
)
def streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The HyperLogLog register grid MAINTAINED AS STREAMING STATE:
    events drain through a file stream in 4 micro-batches and the sketch
    is an unwatermarked streaming groupBy over (event_type, bucket)
    keeping MAX(rho) — register maxima merge by max across micro-batches
    (the same max-merge law ``hll_register_distinct`` proves across
    days), so the complete-mode final snapshot equals the batch register
    grid EXACTLY and the estimator readout reproduces the batch query
    bit-for-bit: this query shares its DuckDB oracle verbatim.  State is
    O(m=256) registers per event type FOREVER — the resident
    distinct-users monitor at 100 TB ingest, beside the ddsketch
    (quantiles), count-min (frequencies) and Misra-Gries (heavy-hitter)
    twins; flatness CI-pinned in tests/test_scale_probe_stream.py.

    The register projection and estimator are the shared
    ``ext/sketch.hll_bucket_rho`` / ``hll_estimate_report`` kernels the
    batch query also uses — twin equality is by construction, not by
    parallel maintenance of two codepaths."""
    from dvh_airflow_kafka_spark.ext.sketch import (
        hll_bucket_rho,
        hll_estimate_report,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches; register maxima are a mergeable
        # elementwise max, so batch composition is irrelevant
        _staged_range_write(ev, src, 4)

    src = _staged_stream_src("stream_hll", sf_dir, _write)
    regs = (
        hll_bucket_rho(
            read_event_stream(spark, src), "event_type", elem_col="user_id"
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_rho"))
    )
    snapshot = run_drain(regs, mode="complete", shuffle_partitions=8).table
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return hll_estimate_report(snapshot, exact)


@register(
    "streaming_kmv_minima",
    # Shares the theta/KMV sketch oracle VERBATIM — the fifth
    # batch/streaming twin family (quantile, frequency-grid,
    # heavy-hitter, mergeable-distinct, now mergeable-overlap).
    sql=REGISTRY["theta_sketch_overlap"].sql,
)
def streaming_kmv_minima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The KMV/theta k-minimum-values sketch MAINTAINED AS
    STREAMING STATE: events drain through a file stream in 4
    micro-batches; each event type's k=64 smallest distinct user hashes
    live in the state store across batches
    (``streaming/stateful.kmv_minima_with_state``), merged per batch by
    k-min-of-union — the textbook KMV merge, whose telescoping equals
    the batch ``ext/sketch.kmv_sketch`` output EXACTLY regardless of
    batch composition (minima only improve; a discarded hash is
    permanently outranked).  The final per-type snapshot feeds the SAME
    ``ext/sketch.theta_overlap_report`` readout the batch query uses, so
    this query shares ``theta_sketch_overlap``'s DuckDB oracle verbatim:
    a cross-engine hash proof that resumable streaming sketch state
    equals the batch sketch equals the replayed oracle.

    Hashing stays JVM-side (``kmv_hash`` sha256-prefix BEFORE the
    stateful operator); the Python merge truncates to the k smallest
    after every Arrow chunk, so its working set is O(k + chunk), never
    the micro-batch's distinct-hash count.  State
    is O(k)=64 longs per event type FOREVER — the resident
    audience-overlap monitor at 100 TB ingest, beside the ddsketch
    (quantiles), count-min (frequencies), Misra-Gries (heavy-hitter) and
    HLL (distinct) twins; flatness CI-pinned in
    tests/test_scale_probe_stream.py."""
    from dvh_airflow_kafka_spark.catalog.q09_scd_reach import _KMV_K
    from dvh_airflow_kafka_spark.ext.sketch import (
        kmv_hash,
        theta_overlap_report,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import (
        kmv_minima_with_state,
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches; k-min-of-union is a mergeable,
        # order-free reduction, so batch composition is irrelevant
        _staged_range_write(ev, src, 4)

    src = _staged_stream_src("stream_kmv", sf_dir, _write)
    stream = read_event_stream(spark, src).select(
        F.col("event_type").alias("g"),
        kmv_hash(F.col("user_id")).alias("h"),
    )
    emitted = run_drain(
        kmv_minima_with_state(stream, k=_KMV_K),
        mode="update",
        shuffle_partitions=8,
    ).table
    # update-mode emission history -> each group's LATEST snapshot (the
    # seq counter is monotone per group; the window partitions by group)
    w = Window.partitionBy("g").orderBy(F.col("seq").desc())
    km = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("g").alias("event_type"), "kmins")
    )
    du = ev.distinct().localCheckpoint(eager=False)
    return theta_overlap_report(km, du, _KMV_K)


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


def _bloom_bits_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of ``streaming_bloom_bits``, exposed as a seam
    so the pytest twin law can compare the DRAINED state snapshot
    bit-for-bit against the batch ``build_bloom`` frame: stage the sink
    keyset as 4 micro-batch files, stream each key's bit positions
    (JVM-side xxhash64), and drain the unwatermarked groupBy(pos) to its
    complete-mode snapshot.  Returns the one-column ``(pos)`` frame."""
    from dvh_airflow_kafka_spark.ext.bloom import bloom_positions
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    sink = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select("event_id")
    )

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches; set bits merge by union, so batch
        # composition is irrelevant
        _staged_range_write(sink, src, 4)

    src = _staged_stream_src("stream_bloom", sf_dir, _write)
    key = F.concat_ws("\x1f", F.col("event_id").cast("string"))
    regs = (
        read_event_stream(spark, src)
        .select(F.explode(F.array(*bloom_positions(key))).alias("pos"))
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    snapshot = run_drain(regs, mode="complete", shuffle_partitions=8).table
    return snapshot.select("pos")


@register(
    "streaming_bloom_bits",
    # Shares the Bloom-fast-path dedup oracle VERBATIM — the sixth
    # batch/streaming twin family (quantile, frequency-grid,
    # heavy-hitter, mergeable-distinct, mergeable-overlap, now
    # mergeable-membership).
    sql=REGISTRY["bloom_dedup_insert"].sql,
)
def streaming_bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The Bloom filter's set-bit frame MAINTAINED AS STREAMING
    STATE: the sink keyset (even event_ids) drains through a file
    stream in 4 micro-batches; each key's k=2 bit positions are
    computed JVM-side (``ext/bloom.bloom_positions`` — xxhash64
    codegen, no UDF) and the filter is an unwatermarked streaming
    groupBy over ``pos`` — set bits merge by UNION across micro-batches
    (the Bloom OR-merge law), so the complete-mode final snapshot
    equals the batch ``build_bloom`` frame EXACTLY (twin law pinned in
    pytest), and feeding it to the shared
    ``ext/bloom.bloom_dedup_with_bits`` readout reproduces
    ``bloom_dedup_insert`` bit-for-bit: this query shares its DuckDB
    ``NOT EXISTS`` oracle verbatim.

    State is one row per OCCUPIED bit — a function of the sink's
    distinct KEY SET (≤ min(k·|keys|, m=2^22) rows), never of row
    volume: replaying the same sink twice leaves the state byte-flat
    (CI-pinned in tests/test_scale_probe_stream.py with a same-id
    duplicated corpus — the membership-family analogue of the other
    five twins' flatness laws).  At 100 TB ingest this is the resident
    sink-key membership filter the J1 dedup insert probes before paying
    the exact anti-join."""
    from dvh_airflow_kafka_spark.ext.bloom import bloom_dedup_with_bits

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "props"
    )
    sink = events.filter(F.col("event_id") % 2 == 0).select("event_id")
    bits = _bloom_bits_snapshot(spark, sf_dir)
    batch = events.filter(F.col("event_id") < 2000)
    return bloom_dedup_with_bits(batch, sink, bits, ["event_id"])
