"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

from dvh_airflow_kafka_spark.ext import text as xtext
from dvh_airflow_kafka_spark.ext.sampling import (
    hash_split,
    sql_bucket_predicate,
    stratified_hash_sample,
)
from dvh_airflow_kafka_spark.ext.text import token_count_ws
from dvh_airflow_kafka_spark.io import load_table
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    _staged_range_write,
    _staged_stream_src,
    register,
)

# ==========================================================================
# [EXT] round-5 corpus-curation widening: deterministic global shuffle,
# mixture-controlled sampling, per-language stats, quality-priority dedup
# ==========================================================================


@register(
    "corpus_global_shuffle",
    sql="""
    SELECT doc_id,
           CAST((position - 1) % 64 AS INTEGER) AS shard,
           position
    FROM (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY substr(sha256('shuffle-v1' || CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id) AS position
        FROM documents)
    """,
)
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic global corpus shuffle — the pre-training rite:
    order documents by a salted content-hash (reproducible, partition-
    independent pseudo-randomness), take the exact global position via
    the distributed two-pass rank (``ext/ranking.py`` — range slices +
    broadcast offsets, NO single-partition window), and deal positions
    round-robin into 64 shards. Re-running with the same salt yields the
    identical order on any cluster; changing the salt re-shuffles."""
    from dvh_airflow_kafka_spark.ext.ranking import with_global_rank
    from dvh_airflow_kafka_spark.ext.sampling import split_bucket

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", split_bucket(F.col("doc_id"), "shuffle-v1").alias("__b")
    )
    ranked, _ = with_global_rank(keyed, ["__b", "doc_id"], rank_col="position")
    return ranked.select(
        "doc_id",
        ((F.col("position") - 1) % 64).cast("int").alias("shard"),
        "position",
    )


_MIX_FRACS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.75}
_MIX_DEFAULT = 0.1


def _mix_case_sql() -> str:
    from dvh_airflow_kafka_spark.ext.sampling import _hex_threshold

    cases = " ".join(
        f"WHEN '{s}' THEN '{_hex_threshold(f)}'" for s, f in _MIX_FRACS.items()
    )
    return f"CASE source {cases} ELSE '{_hex_threshold(_MIX_DEFAULT)}' END"


@register(
    "domain_mixture_sample",
    sql=f"""
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE substr(sha256('mix-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
          < {_mix_case_sql()}
    GROUP BY source
    """,
)
def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Mixture-controlled corpus sampling: each source keeps a
    configured fraction (the data-mixture knob of a pre-training recipe
    — upsample curated sources, downsample crawl). Same sha-prefix
    bucketing as the train/test split, so the kept set is deterministic,
    engine-independent, and stable as the corpus grows. Pure scan-fused
    predicate: no shuffle before the final per-source rollup."""
    from dvh_airflow_kafka_spark.ext.sampling import _hex_threshold, split_bucket

    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(_hex_threshold(_MIX_DEFAULT))
    for s, f in _MIX_FRACS.items():
        thr = F.when(F.col("source") == s, F.lit(_hex_threshold(f))).otherwise(thr)
    return (
        docs.filter(split_bucket(F.col("doc_id"), "mix-v1") < thr)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )


@register(
    "lang_token_stats",
    sql=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS total_tokens,
           CAST(MIN(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS min_tokens,
           CAST(MAX(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS max_tokens
    FROM documents
    GROUP BY lang
    """,
)
def lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-language corpus inventory (docs, sources, token mass,
    extremes) — the table a mixture plan is written against. One
    map-side-combined shuffle over |langs| groups; token counts are
    exact integers so every engine agrees bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(xtext.tokens(F.col("text")))
    return (
        docs.select("lang", "source", toks.alias("__t"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.sum("__t").cast("bigint").alias("total_tokens"),
            F.min("__t").cast("bigint").alias("min_tokens"),
            F.max("__t").cast("bigint").alias("max_tokens"),
        )
    )


@register(
    "dedup_survivor_priority",
    sql="""
    WITH pool AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || '  ' FROM documents
    ), fp AS (
        SELECT doc_id,
               sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS fingerprint,
               length(text) AS n_chars
        FROM pool
    ), ranked AS (
        SELECT doc_id, fingerprint, n_chars,
               row_number() OVER (PARTITION BY fingerprint
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
        FROM fp
    )
    SELECT doc_id AS survivor_id, fingerprint,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    """,
)
def dedup_survivor_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Quality-priority exact dedup: duplicates collapse on the
    normalized-content fingerprint and the KEPT copy is chosen by an
    explicit priority (longest text, then lowest id) — "keep the best
    copy", not "keep an arbitrary first row". The whitespace-variant
    self-union makes every document a 2-copy group, exercising the
    survivor rule end to end. One key-partitioned window (never global);
    at 100 TB this is a single shuffle on the fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    pool = docs.select("doc_id", "text").unionAll(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    fp = pool.select(
        "doc_id",
        xtext.fingerprint(F.col("text")).alias("fingerprint"),
        F.length("text").alias("n_chars"),
    )
    w = Window.partitionBy("fingerprint")
    ranked = fp.select(
        "doc_id",
        "fingerprint",
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("survivor_id"),
        "fingerprint",
        F.col("n_copies").cast("bigint").alias("n_copies"),
    )


_SHARD_RECIPE_SQL = (
    r"""
    WITH kept AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               substr(sha256('shuffle-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS b
        FROM documents
        WHERE substr(sha256('mix-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
              < """
    + _mix_case_sql()
    + r"""
          AND len(regexp_extract_all(text, '\S+')) >= 20
    ), ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY b, doc_id) AS position
        FROM kept
    ), cum AS (
        SELECT doc_id, position, n_tokens,
               SUM(n_tokens) OVER (ORDER BY position
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS before
        FROM ranked
    )
    SELECT doc_id, position,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(before // 2048 AS BIGINT) AS shard_id,
           CAST(before % 2048 AS BIGINT) AS offset_in_shard
    FROM cum
    """
)


@register("pretraining_shard_recipe", sql=_SHARD_RECIPE_SQL)
def pretraining_shard_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone #3 — the pre-training data recipe end to end, every
    stage the distributed round-5 machinery: (1) mixture-controlled
    per-source sampling (sha-bucket predicate, scan-fused), (2) quality
    gate (min token count), (3) deterministic global shuffle (salted-hash
    order via the two-pass distributed rank), (4) token-budget shard
    packing (two-pass distributed prefix sum, 2048-token shards). No
    global window, no driver collect beyond the O(partitions) offsets —
    the whole recipe survives a 100 TB corpus with two range shuffles as
    its only data-scale movements."""
    from dvh_airflow_kafka_spark.ext.ranking import with_global_rank
    from dvh_airflow_kafka_spark.ext.sampling import _hex_threshold, split_bucket
    from dvh_airflow_kafka_spark.ext.sampling import pack_into_shards

    docs = load_table(spark, sf_dir, "documents")
    thr = F.lit(_hex_threshold(_MIX_DEFAULT))
    for s, f in _MIX_FRACS.items():
        thr = F.when(F.col("source") == s, F.lit(_hex_threshold(f))).otherwise(thr)
    toks = F.size(xtext.tokens(F.col("text")))
    kept = (
        docs.filter(split_bucket(F.col("doc_id"), "mix-v1") < thr)
        .select(
            "doc_id",
            toks.alias("n_tokens"),
            split_bucket(F.col("doc_id"), "shuffle-v1").alias("__b"),
        )
        .filter(F.col("n_tokens") >= 20)
    )
    ranked, _ = with_global_rank(kept, ["__b", "doc_id"], rank_col="position")
    packed = pack_into_shards(
        ranked,
        "position",
        F.col("n_tokens"),
        capacity=2048,
        carry_cols=("doc_id",),
    )
    return packed.select(
        "doc_id",
        "position",
        F.col("size").alias("n_tokens"),
        "shard_id",
        "offset_in_shard",
    )


_CORPUS_YAML = """
table: documents
stages:
  - op: mixture_sample
    fracs: {src0: 1.0, src1: 0.5, src2: 0.25, src3: 0.75}
    default_frac: 0.1
    salt: mix-v1
  - op: quality_gate
    min_tokens: 20
  - op: global_shuffle
    salt: shuffle-v1
  - op: pack_shards
    capacity: 2048
"""


@register("corpus_pipeline_from_yaml", sql=_SHARD_RECIPE_SQL)
def corpus_pipeline_from_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The corpus-curation surface as a CONFIG product — the same
    'YAML becomes a pipeline' contract the reference ships for its ETL
    spine (``pipeline_from_yaml_config``), applied to the training-data
    domain: ``plans/corpus_dsl.py`` validates the stage list (pydantic,
    unknown keys rejected) and compiles it into ONE lazy plan. This
    config mirrors ``pretraining_shard_recipe``'s stages, so it must
    hash-match that query's oracle bit for bit — the DSL adds zero
    semantic drift over the hand-built chain."""
    from dvh_airflow_kafka_spark.plans.corpus_dsl import run_corpus_pipeline

    return run_corpus_pipeline(spark, _CORPUS_YAML, sf_dir)


@register(
    "duplicated_ngram_spans",
    sql=r"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ), grams AS (
        SELECT doc_id, unnest(
            CASE WHEN len(wl) >= 8
                 THEN list_transform(range(1, len(wl) - 6),
                      i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' ' ||
                           wl[i+3] || ' ' || wl[i+4] || ' ' || wl[i+5] || ' ' ||
                           wl[i+6] || ' ' || wl[i+7])
                 ELSE [array_to_string(wl, ' ')] END) AS g
        FROM w
    )
    SELECT g AS gram,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM grams
    GROUP BY g
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def duplicated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact duplicated-span detection — the word-level 8-gram form
    of the exact-substring dedup signal (Lee et al., 'Deduplicating
    Training Data Makes Language Models Better', ACL'22): every 8-token
    span occurring in two or more documents, with corpus-wide occurrence
    counts. Shape: positional shingles via higher-order functions (no
    UDF), explode, ONE map-side-combined aggregate keyed on the gram —
    the same inverted-index skeleton as the n-gram Jaccard dedup, so at
    100 TB the only data-scale movement is the keyed exchange, and a
    max-doc-freq cap (``ext/dedup.drop_hot_shingles``) bolts on
    unchanged when boilerplate spans get hot."""
    docs = load_table(spark, sf_dir, "documents")
    toksdf = docs.select("doc_id", xtext.tokens(F.col("text")).alias("__toks"))
    grams = toksdf.select(
        "doc_id",
        F.explode(xtext.word_ngrams_from_tokens(F.col("__toks"), 8)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ==========================================================================
# [EXT] training-data splits, stratified and class-balanced sampling
# ==========================================================================


@register(
    "documents_train_test_split",
    sql=f"""
    SELECT CASE WHEN {sql_bucket_predicate('doc_id', 0.8)}
                THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1
    """,
)
def documents_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic leakage-free train/test split: sha256-prefix
    bucketing on doc_id (lexicographic hex compare == 32-bit numeric
    compare, so Spark and the oracle agree bit-for-bit). No shuffle, no
    seed/order sensitivity; adding documents never moves old ones."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", train_frac=0.8)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@register(
    "events_stratified_sample",
    sql=f"""
    SELECT event_type, COUNT(*) AS n_kept
    FROM events
    WHERE {sql_bucket_predicate('event_id', 0.1, salt='sample-v1')}
    GROUP BY event_type
    """,
)
def events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic ~10% downsample, uniform within every stratum
    — the reproducible replacement for ``sampleBy`` (whose survivors
    depend on seed + partitioning). Scan-fused predicate, zero shuffle
    before the count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        stratified_hash_sample(ev, "event_id", frac=0.1, salt="sample-v1")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "lang_balanced_sample",
    sql=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY substr(sha256('balance-v1' ||
                                          CAST(doc_id AS VARCHAR)), 1, 8),
                            doc_id) AS rn
        FROM documents)
    SELECT doc_id, lang FROM ranked WHERE rn <= 40
    """,
)
def lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Class-balanced downsample: at most 40 documents per
    language, chosen by deterministic hash order (not arbitrary row
    order), so over-represented classes shrink while the selection stays
    reproducible across runs, partitionings, and engines. One shuffle on
    the class key; per-class state is a row counter."""
    docs = load_table(spark, sf_dir, "documents")
    from dvh_airflow_kafka_spark.ext.sampling import split_bucket

    w = Window.partitionBy("lang").orderBy(
        split_bucket(F.col("doc_id"), "balance-v1"), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 40)
        .select("doc_id", "lang")
    )

# ==========================================================================
# [EXT] incremental mixture rebalance over mergeable per-source partials
# (+ its streaming twin)
# ==========================================================================

# α=0.5 temperature mixture over the merged per-source token totals; the
# weekly token budget redistributed √-proportionally.
_REBALANCE_BUDGET = 50_000_000


_REBALANCE_SQL = rf"""
    WITH t AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
                   AS n_tokens,
               CAST(SUM(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS inc_docs,
               CAST(SUM(CASE WHEN doc_id % 4 = 1
                             THEN len(regexp_extract_all(text, '\S+'))
                             ELSE 0 END) AS BIGINT) AS inc_tokens
        FROM documents
        WHERE source IS NOT NULL
        GROUP BY source
    ), w AS (
        SELECT *,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                   AS w_sqrt
        FROM t
    ), tot AS (SELECT SUM(w_sqrt) AS tw FROM w)
    SELECT source, n_docs, n_tokens, inc_docs, inc_tokens, w_sqrt,
           CAST((1000000 * w_sqrt) // tw AS BIGINT) AS share_ppm,
           CAST(({_REBALANCE_BUDGET} * w_sqrt) // tw AS BIGINT)
               AS token_budget
    FROM w, tot
    """


@register("mixture_rebalance_incremental", sql=_REBALANCE_SQL)
def mixture_rebalance_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Incremental mixture rebalance — the weekly-recrawl capstone
    (VERDICT r10 item 5a): the per-source (doc, token) totals that drive
    temperature sampling are maintained as MERGEABLE PARTIALS, and the
    α = 0.5 mixture weights + token budgets are recomputed from the
    merged state each time a crawl increment lands.

    The fixture splits ``documents`` into an "already aggregated" corpus
    (doc_id % 4 ≠ 1) and a "new crawl" increment (doc_id % 4 = 1); each
    side aggregates independently and the totals merge by re-aggregating
    the unioned partials (COUNT/SUM monoids — bit-identical to the
    oracle's one-pass GROUP BY, the ``incremental_daily_revenue`` law).
    At 100 TB the state side is read from the rollup table, so a weekly
    rebalance is O(increment), not O(corpus).

    The mixture readout follows ``temperature_mixture_sample``'s
    cross-engine discipline, hardened further: the √-weight is
    ``floor(sqrt(n_tokens))`` — both engines evaluate the correctly-
    rounded IEEE sqrt of the SAME exactly-representable integer, so the
    floored weight is bit-identical — and everything downstream
    (Σ weights, ppm shares, budget split) is pure BIGINT arithmetic with
    no float summation order to disagree on.

    Plan: two map-side-combined partial aggregates over disjoint slices
    (one at scale), a |sources|-row merge, and a 1-row total
    crossJoined back broadcast — no corpus-sized shuffle anywhere."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_count_ws(F.col("text"))).cast("long").alias("n_tokens"),
        )

    state = partial(docs.filter(F.col("doc_id") % 4 != 1))
    inc = partial(docs.filter(F.col("doc_id") % 4 == 1)).select(
        "source",
        F.col("n_docs").alias("inc_docs"),
        F.col("n_tokens").alias("inc_tokens"),
    )
    merged = (
        state.unionByName(
            inc.select(
                "source",
                F.col("inc_docs").alias("n_docs"),
                F.col("inc_tokens").alias("n_tokens"),
            )
        )
        .groupBy("source")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    totals = merged.join(inc, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        F.coalesce(F.col("inc_docs"), F.lit(0)).cast("long").alias("inc_docs"),
        F.coalesce(F.col("inc_tokens"), F.lit(0))
        .cast("long")
        .alias("inc_tokens"),
    )
    return _rebalance_readout(totals)


def _rebalance_readout(totals: DataFrame) -> DataFrame:
    """The α = 0.5 mixture readout over a per-source totals frame
    ``(source, n_docs, n_tokens, inc_docs, inc_tokens)`` — shared by
    the batch partials query and its streaming twin so the BIGINT
    arithmetic can never drift between them.  floor(sqrt(BIGINT)) is
    the one float op (correctly-rounded IEEE sqrt of an exactly-
    representable integer — bit-identical cross-engine); everything
    after is integer division against the 1-row broadcast total."""
    weighted = totals.select(
        "source",
        "n_docs",
        "n_tokens",
        "inc_docs",
        "inc_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")))
        .cast("long")
        .alias("w_sqrt"),
    ).localCheckpoint(eager=False)
    total = weighted.agg(F.sum("w_sqrt").alias("__tw"))
    return weighted.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "inc_docs",
        "inc_tokens",
        "w_sqrt",
        F.expr("(1000000L * w_sqrt) div __tw").alias("share_ppm"),
        F.expr(f"({_REBALANCE_BUDGET}L * w_sqrt) div __tw").alias(
            "token_budget"
        ),
    )


@register(
    "streaming_mixture_rebalance",
    # Shares the batch rebalance oracle VERBATIM — the seventh
    # batch/streaming twin family (quantile, frequency-grid,
    # heavy-hitter, mergeable-distinct, mergeable-overlap, membership,
    # now mixture totals).
    sql=_REBALANCE_SQL,
)
def streaming_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The mixture-rebalance totals MAINTAINED AS STREAMING STATE:
    documents drain through a file stream in 4 micro-batches and the
    per-source (docs, tokens, increment-docs, increment-tokens) totals
    are an unwatermarked streaming groupBy — COUNT/SUM state merges by
    addition across micro-batches (the same monoid law the batch query
    proves against the one-pass oracle), so the complete-mode final
    snapshot equals the batch partials-merge EXACTLY and this query
    shares ``mixture_rebalance_incremental``'s DuckDB oracle verbatim.
    The α = 0.5 weight/budget readout is the SAME shared
    ``_rebalance_readout`` the batch query runs — twin equality by
    construction.

    This is the recrawl monitor kept RESIDENT: as crawl files land, the
    per-source token totals (state: O(|sources|) rows FOREVER,
    flatness CI-pinned in tests/test_scale_probe_stream.py) are always
    current and the weekly budget recomputation is a readout over the
    snapshot, not a corpus rescan."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    ).select("doc_id", "source", "text")

    def _write(src: str) -> None:
        # 4 hash slices — COUNT/SUM totals are order- and
        # composition-free, so any slicing drains to the same snapshot
        _staged_range_write(docs, src, 4)

    src = _staged_stream_src("stream_mix", sf_dir, _write)
    stream = read_event_stream(spark, src)
    is_inc = (F.col("doc_id") % 4 == 1).cast("long")
    n_tok = token_count_ws(F.col("text")).cast("long")
    totals = (
        stream.select("source", is_inc.alias("__inc"), n_tok.alias("__n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("n_tokens"),
            F.sum("__inc").cast("long").alias("inc_docs"),
            F.sum(F.col("__inc") * F.col("__n")).cast("long").alias(
                "inc_tokens"
            ),
        )
    )
    snap = run_drain(totals, mode="complete", shuffle_partitions=8).table
    return _rebalance_readout(snap)
