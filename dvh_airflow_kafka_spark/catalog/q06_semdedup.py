"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

from dvh_airflow_kafka_spark.ext import dedup as xdedup, text as xtext
from dvh_airflow_kafka_spark.ext.sampling import hash_split, sql_bucket_predicate
from dvh_airflow_kafka_spark.ext.text import token_count_ws
from dvh_airflow_kafka_spark.io import ensure_parallelism, load_table
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    _stage_frame,
    register,
)
from dvh_airflow_kafka_spark.catalog.q03_curation import (
    _srp_planes_values,
)
from dvh_airflow_kafka_spark.catalog.q04_sampling import (
    _REBALANCE_BUDGET,
)

# ==========================================================================
# [EXT] round-5c: semantic dedup, token-budget selection, inverted index,
# curriculum scheduling
# ==========================================================================

_SEMDEDUP_THRESHOLD = 0.3

_SEMDEDUP_SQL = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes(tbl, bit, p) AS (VALUES
    {{planes}}),
    b AS (
        SELECT v.vec_id, v.e,
               CAST(SUM(CASE WHEN round(list_dot_product(v.e, planes.p), 6) > 0
                             THEN (1 << planes.bit) ELSE 0 END) AS BIGINT)
                   AS semantic_bucket
        FROM v CROSS JOIN planes
        GROUP BY v.vec_id, v.e),
    dups AS (
        SELECT DISTINCT hi.vec_id
        FROM b lo JOIN b hi
          ON lo.semantic_bucket = hi.semantic_bucket
         AND lo.vec_id < hi.vec_id
        WHERE round(list_dot_product(lo.e, hi.e) /
                    (sqrt(list_dot_product(lo.e, lo.e)) *
                     sqrt(list_dot_product(hi.e, hi.e))), 6)
               >= {_SEMDEDUP_THRESHOLD})
    SELECT b.vec_id, b.semantic_bucket
    FROM b WHERE b.vec_id NOT IN (SELECT vec_id FROM dups)
    """


@register(
    "semantic_dedup_survivors",
    sql=_SEMDEDUP_SQL.format(planes=_srp_planes_values(n_tables=1, seed=1337)),
)
def semantic_dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Semantic deduplication (SemDeDup, Abbas et al. 2023): drop
    every vector within cosine ``0.3`` of a lower-id member of its
    semantic cluster; keep-lowest-id survivors + cluster id. Clusters are
    a seeded SRP sign-bit partition instead of the paper's k-means so the
    ENTIRE decision — bucketing included — replays in the DuckDB oracle
    (hyperplanes embedded as literals), and clustering costs one linear
    Arrow-batched matmul pass instead of iterative k-means over the
    corpus. Candidates are a bucket equi-join (expected bucket size
    |corpus|/2⁸ — never all-pairs); the duplicate set is id-distinct and
    anti-joined back. See ``ext/dedup.semantic_dedup_survivors``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return xdedup.semantic_dedup_survivors(
        emb, "vec_id", "embedding", threshold=_SEMDEDUP_THRESHOLD, seed=1337
    )


_SEMPROTO_SQL = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes(tbl, bit, p) AS (VALUES
    {{planes}}),
    b AS (
        SELECT v.vec_id, v.e,
               CAST(SUM(CASE WHEN round(list_dot_product(v.e, planes.p), 6) > 0
                             THEN (1 << planes.bit) ELSE 0 END) AS BIGINT)
                   AS semantic_bucket
        FROM v CROSS JOIN planes
        GROUP BY v.vec_id, v.e),
    cl AS (
        SELECT semantic_bucket, pos, ROUND(AVG(val), 6) AS c
        FROM (
            SELECT semantic_bucket,
                   CAST(generate_subscripts(e, 1) AS INT) AS pos,
                   CAST(unnest(e) AS DOUBLE) AS val
            FROM b)
        GROUP BY semantic_bucket, pos),
    cent AS (
        SELECT semantic_bucket, list(c ORDER BY pos) AS ce
        FROM cl GROUP BY semantic_bucket),
    scored AS (
        SELECT b.vec_id, b.semantic_bucket,
               round(list_dot_product(b.e, cent.ce) /
                     (sqrt(list_dot_product(b.e, b.e)) *
                      sqrt(list_dot_product(cent.ce, cent.ce))), 6)
                   AS centroid_cosine
        FROM b JOIN cent USING (semantic_bucket))
    SELECT semantic_bucket,
           vec_id AS prototype_id,
           centroid_cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY semantic_bucket
                                     ORDER BY centroid_cosine DESC, vec_id) AS rn
        FROM scored)
    WHERE rn = 1
    """


@register(
    "semantic_cluster_prototypes",
    sql=_SEMPROTO_SQL.format(planes=_srp_planes_values(n_tables=1, seed=1337)),
)
def semantic_cluster_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Cluster prototypes: for every semantic cluster (the same
    seeded SRP partition ``semantic_dedup_survivors`` uses), the member
    NEAREST the cluster's mean embedding — SemDeDup's representative
    selection (keep one exemplar per semantic neighborhood), also the
    shape of IVF list medoids and per-cluster visualization picks.

    Plan shape: bucket (Arrow matmul pass) → per-(bucket, dim) mean via
    posexplode + one map-side-combined aggregate (|buckets|·dim partial
    rows, pure codegen) → centroid arrays broadcast back onto members →
    rounded-cosine window top-1 per bucket. Means and cosines are
    rounded to 6 digits on BOTH engines before ranking, keeping the
    argmax engine-independent (the same discipline every embedding
    oracle here uses)."""
    from dvh_airflow_kafka_spark.ext.similarity import (
        _hyperplanes,
        pair_cosine,
        srp_buckets_udf,
    )
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = srp_buckets_udf(
        _hyperplanes(dim=64, n_bits=8, n_tables=1, seed=1337)
    )
    # materialize the assignment once (same caller-owned-lifetime cache
    # pattern as semantic_dedup_survivors): both the centroid reduction
    # and the scoring branch read it, and without the persist the
    # bucketing UDF re-runs per branch
    b = (
        ensure_parallelism(emb)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("__v"),
            buckets(F.col("embedding"))[0].alias("semantic_bucket"),
        )
        .persist()
    )
    expl = b.select(
        "semantic_bucket", F.posexplode(F.col("__v")).alias("pos0", "val")
    )
    cl = expl.groupBy(
        "semantic_bucket", (F.col("pos0") + 1).alias("pos")
    ).agg(F.round(F.avg("val"), 6).alias("c"))
    cent = cl.groupBy("semantic_bucket").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("__ce")
    )
    scored = b.join(F.broadcast(cent), "semantic_bucket").select(
        "semantic_bucket",
        "vec_id",
        pair_cosine(F.col("__v"), F.col("__ce")).alias("centroid_cosine"),
    )
    w = Window.partitionBy("semantic_bucket").orderBy(
        F.col("centroid_cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "semantic_bucket",
            F.col("vec_id").alias("prototype_id"),
            "centroid_cosine",
        )
    )


_TOKEN_BUDGET = 16384

# Shared CTE pair: the deterministic quality score + whitespace token
# count per document (same arithmetic as _QUALITY_SQL — bit-identical
# across engines), parameterized over the source relation so composed
# pipelines (data_selection_factory) reuse the ONE definition.
def _qscore_ctes(src: str) -> str:
    return rf"""t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_words,
               CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
                    w -> list_contains(['the','a','and','of','to','in','is','that','for','with'], w)))
                    AS DOUBLE) AS sw,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE) AS n_punct
        FROM {src}
    ), q AS (
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_tokens,
               (least(1.0, n_words / 50.0) * 0.4
                + (1.0 - least(1.0, (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 4.0)) * 0.3
                + least(1.0, (CASE WHEN n_words > 0 THEN sw / n_words ELSE 0.0 END) * 5.0) * 0.3
               ) AS quality
        FROM t
    )"""


_QSCORE_CTE = "\n    WITH " + _qscore_ctes("documents") + "\n"


_QUALITY_WEAK_THR = 0.75  # weak-label teacher threshold on the quality score


@register(
    "quality_classifier_auc",
    sql=f"""
    WITH {{QSCORE}}, s AS (
        SELECT d.source,
               CAST(t.n_words AS BIGINT) AS x,
               CASE WHEN q.quality >= {_QUALITY_WEAK_THR} THEN 1 ELSE 0 END AS y
        FROM t JOIN q USING (doc_id) JOIN documents d USING (doc_id)
    ), g AS (
        SELECT source, x, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM s GROUP BY source, x
    ), r AS (
        SELECT source, cnt, pos,
               SUM(cnt) OVER (PARTITION BY source ORDER BY x) AS hi
        FROM g
    ), a AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(pos * (2 * hi - cnt + 1)) AS BIGINT) AS r2
        FROM r GROUP BY source
    )
    SELECT source, n_pos, n - n_pos AS n_neg,
           r2 - n_pos * (n_pos + 1) AS auc_num2,
           CASE WHEN n_pos > 0 AND n - n_pos > 0
                THEN CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                     / (2.0 * n_pos * (n - n_pos))
           END AS auc
    FROM a
    """.replace("{QSCORE}", _qscore_ctes("documents")),
)
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] EXACT ROC-AUC of a quality scorer, per source — the eval
    half of the quality-filter loop (``quality_logreg_gd`` trains the
    student; this measures how well a candidate feature ranks the weak
    teacher label before you spend training on it).  AUC is computed by
    the tie-adjusted Mann–Whitney rank-sum identity: with per-(source,
    score) counts and the tie group's 1-based rank interval [lo, hi],
    2·Σ midranks over positives = Σ pos_g·(lo_g+hi_g) = Σ pos_g·(2·hi_g
    − cnt_g + 1), so auc_num2 = that sum − n_pos·(n_pos+1) and AUC =
    auc_num2 / (2·n_pos·n_neg) — every intermediate an exact BIGINT
    (the ``quality_length_spearman`` / ``token_frequency_profile`` rank
    identity family), the final division one exact-integer→double op.
    NULL (not 0.5) when a source has a degenerate class split.

    Score under audit: the token count. Label: quality ≥ 0.75.

    Plan: one combinable (source, score) counts shuffle, a keyed
    cumulative window over the tiny tie-group frame, one per-source
    aggregate — never a row-wise sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "source",
        xtext.token_count_ws(F.col("text")).cast("bigint").alias("x"),
        F.when(
            xtext.quality_score(F.col("text")) >= F.lit(_QUALITY_WEAK_THR),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("y"),
    )
    g = s.groupBy("source", "x").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    w = Window.partitionBy("source").orderBy("x")
    r = g.select(
        "source",
        "cnt",
        "pos",
        F.sum("cnt").over(w).alias("hi"),
    )
    a = r.groupBy("source").agg(
        F.sum("cnt").alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum(
            F.col("pos") * (F.lit(2) * F.col("hi") - F.col("cnt") + 1)
        ).alias("r2"),
    )
    num2 = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    n_neg = F.col("n") - F.col("n_pos")
    return a.select(
        "source",
        F.col("n_pos").cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        num2.cast("long").alias("auc_num2"),
        F.when(
            (F.col("n_pos") > 0) & (n_neg > 0),
            num2.cast("double") / (F.lit(2.0) * F.col("n_pos") * n_neg),
        ).alias("auc"),
    )



@register(
    "quality_token_budget",
    sql=_QSCORE_CTE
    + f"""
    , c AS (
        SELECT doc_id, quality, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS tokens_before
        FROM q
    )
    SELECT doc_id, quality, n_tokens, tokens_before
    FROM c WHERE tokens_before + n_tokens <= {_TOKEN_BUDGET}
    """,
)
def quality_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Token-budget corpus selection: greedily keep the
    highest-quality documents (quality desc, id tiebreak) until a fixed
    token budget is exhausted — the data-selection step that turns "rank
    by quality" into "here are the N tokens we can afford to train on".
    A document is kept iff it fits ENTIRELY within the budget at its
    position in the quality order.

    Plan shape: the cumulative token count is the DISTRIBUTED two-pass
    prefix sum (``ext/sampling.with_prefix_sum``) under the
    (-quality, id) total order — range slices, per-slice totals,
    broadcast offsets, within-slice window. No single-partition
    WindowExec; the oracle's global ``SUM() OVER (ORDER BY ...)`` is the
    semantic it reproduces at scale."""
    from dvh_airflow_kafka_spark.ext.sampling import with_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        xtext.quality_score(F.col("text")).alias("quality"),
        xtext.token_count_ws(F.col("text")).cast("long").alias("__n"),
    )
    pre = with_prefix_sum(
        scored,
        "doc_id",
        F.col("__n"),
        before_col="tokens_before",
        order_by=[-F.col("quality"), F.col("doc_id")],
        carry_cols=("quality",),
    )
    return pre.filter(
        F.col("tokens_before") + F.col("size") <= _TOKEN_BUDGET
    ).select(
        "doc_id", "quality", F.col("size").alias("n_tokens"), "tokens_before"
    )


_INVIDX_MIN_DF = 4


@register(
    "token_inverted_index",
    sql=rf"""
    WITH e AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS token
        FROM documents
    ), d AS (SELECT DISTINCT doc_id, token FROM e)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM d GROUP BY token HAVING COUNT(*) >= {_INVIDX_MIN_DF}
    """,
)
def token_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Inverted-index construction: token → (document frequency,
    sorted posting list), the search/retrieval building block. Per-doc
    token dedup happens INSIDE the row (``array_distinct`` before the
    explode — no extra shuffle), so the single keyed exchange carries one
    row per (doc, distinct token). Posting lists are ``sort_array``-ed for
    a deterministic, merge-friendly layout. At 100 TB hot tokens ("the")
    produce posting lists proportional to |docs| — production layouts cap
    or tier them exactly like ``ext/dedup.drop_hot_shingles`` caps hot
    shingles; the ``doc_freq >= {_INVIDX_MIN_DF}`` floor here bounds the
    opposite tail (hapax tokens that bloat the index without aiding
    recall). Postings are emitted as a comma-joined string (not an
    ``array<bigint>``): the value is identical and it keeps the result
    hashable for the driver's sorted-column compare (round-6 row failed
    on pandas lexsort of list cells, not on values)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(xtext.tokens(F.lower(F.col("text"))))
        ).alias("token"),
    )
    return (
        pairs.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(doc_id)),"
                    " x -> cast(x as string))"
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= _INVIDX_MIN_DF)
    )


_CURRICULUM_SALT = "curriculum-v1"


@register(
    "curriculum_schedule",
    sql=_QSCORE_CTE
    + f"""
    , r AS (
        SELECT doc_id, ntile(10) OVER (ORDER BY -quality, doc_id) AS decile
        FROM q
    ), h AS (
        SELECT doc_id, decile,
               substr(sha256('{_CURRICULUM_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8) AS hh
        FROM r
    )
    SELECT doc_id, CAST(decile AS INT) AS decile,
           CAST(row_number() OVER (ORDER BY decile, hh, doc_id) AS BIGINT)
               AS curriculum_pos
    FROM h
    """,
)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Curriculum ordering: documents binned into quality deciles
    (decile 1 = highest quality first), deterministically shuffled WITHIN
    each decile (salted sha-hash — reproducible across runs/engines,
    unlike ``rand(seed)`` which is partition-order sensitive), and
    assigned a global 1-based curriculum position. The training loader
    reads rows in ``curriculum_pos`` order to get easy→hard (or
    clean→noisy) progression with no intra-bin ordering bias.

    Plan shape: BOTH global total orders (the quality rank feeding the
    decile, and the final (decile, hash) position) run as the distributed
    two-pass rank (``ext/ranking.with_global_rank`` — range slices +
    broadcast offsets); the oracle's single-partition ``ntile``/
    ``row_number`` windows are what that decomposition reproduces
    exactly. No single-partition WindowExec at any step."""
    from dvh_airflow_kafka_spark.ext.ranking import ntile_from_rank, with_global_rank
    from dvh_airflow_kafka_spark.ext.sampling import split_bucket

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", (-xtext.quality_score(F.col("text"))).alias("__negq")
    )
    ranked, total = with_global_rank(scored, ["__negq", "doc_id"], rank_col="__qr")
    staged = ranked.select(
        "doc_id",
        ntile_from_rank(F.col("__qr"), total, 10).alias("decile"),
    ).withColumn("__h", split_bucket(F.col("doc_id"), _CURRICULUM_SALT))
    out, _ = with_global_rank(
        staged, ["decile", "__h", "doc_id"], rank_col="curriculum_pos"
    )
    return out.select("doc_id", "decile", "curriculum_pos")


_TEMP_MIX_SALT = "mix-temp-v1"
_TEMP_MIX_K = 2.0  # per-source budget coefficient: keep ≈ K·√count docs


@register(
    "temperature_mixture_sample",
    sql=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS DOUBLE) AS c
        FROM documents GROUP BY source
    ), thr AS (
        -- fraction 1.0 (a source smaller than its K·√count budget) keeps
        -- EVERYTHING: the sentinel 'g' sorts above any hex prefix,
        -- mirroring the Spark side's _hex_threshold
        SELECT source,
               CASE WHEN {_TEMP_MIX_K} / sqrt(c) >= 1.0 THEN 'g'
                    ELSE lower(lpad(to_hex(CAST(least(
                        floor({_TEMP_MIX_K} / sqrt(c) * 4294967296.0),
                        4294967295.0) AS BIGINT)), 8, '0'))
               END AS t
        FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE substr(sha256('{_TEMP_MIX_SALT}' || d.source || '|'
                        || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t
    """,
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Temperature-scaled domain mixture (the exponent-sampling
    knob of multilingual LM training — XLM-R/mBERT style α-sampling at
    α = 0.5): each source keeps a deterministic ~K·√count of its
    documents, so over-represented domains are down-weighted toward the
    √-proportional target distribution, and sources too small to meet
    their budget keep everything (fraction capped at 1). Unlike
    ``domain_mixture_sample``'s FIXED per-source fractions, the keep
    fractions here are DATA-DEPENDENT — computed from the actual counts
    at run time.

    α is pinned to 0.5 so the fraction arithmetic is
    division + ``sqrt`` — both correctly rounded under IEEE-754 in every
    engine (a general ``pow`` is only faithfully rounded and may differ
    in the last ulp across libms, which the hex-threshold comparison
    would amplify into a row diff).

    Plan shape: one tiny per-source count aggregate (collect bounded by
    |sources|) → fractions become 8-hex sha-prefix thresholds in a
    broadcast literal map → the keep predicate fuses into the corpus
    scan. Two passes total, the second embarrassingly parallel; the
    same salted-hash determinism as every split/sample op (survivors
    never change across runs, partitionings, or engines). NULL sources
    drop, matching the oracle's inner join. Logic shared with the
    factory/DSL via ``ext/sampling.temperature_mixture_filter``."""
    from dvh_airflow_kafka_spark.ext.sampling import temperature_mixture_filter

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mixture_filter(
        docs, k=_TEMP_MIX_K, salt=_TEMP_MIX_SALT
    ).select("doc_id", "source")


# epoch-millis origin for the trend regressor (2025-01-01T00:00:00Z) —
# offsetting x keeps every decimal partial well inside DECIMAL(38,0).
_TREND_X0 = 1735689600000


@register(
    "events_value_trend",
    sql=f"""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch_ms(ts) - {_TREND_X0} AS DECIMAL(19,0)) AS x,
               CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DECIMAL(19,0)) AS y
        FROM events
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DECIMAL(18,0)) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx
        FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           round(CAST(86400000 * (n * sxy - sx * sy) AS DOUBLE)
                 / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6)
               AS slope_cents_per_day
    FROM s
    """,
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-group OLS trend (cents/day drift of event values) via
    EXACT sufficient statistics: (n, Σx, Σy, Σxy, Σx²) accumulate in
    DECIMAL(38,0) over cent-quantized values and origin-offset
    epoch-millis, then the closed-form slope
    ``(nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`` divides two exact integers. The
    built-in ``regr_slope`` float aggregate is summation-ORDER dependent
    (different partitionings → different last-ulp results → different
    hashes); decimal partials are a commutative monoid, so the result is
    bit-identical at any parallelism and in any engine — the same
    partial-aggregation principle as ``incremental_daily_revenue``. One
    map-side-combined keyed aggregate; at 100 TB this is a single fact
    shuffle of 5-number partials per group."""
    ev = load_table(spark, sf_dir, "events")
    x = (
        F.unix_millis(F.col("ts").cast("timestamp")) - F.lit(_TREND_X0)
    ).cast("decimal(19,0)")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").cast(
        "decimal(19,0)"
    )
    pts = ev.select("event_type", x.alias("x"), y.alias("y"))
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
    )
    num = (F.lit(86400000).cast("decimal(18,0)") * (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    )).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # A single-point (or all-identical-x) group makes the denominator
    # exactly 0 — ANSI mode (Spark 4 default) would raise DIVIDE_BY_ZERO
    # where the oracle's NULLIF yields NULL; guard to NULL on both sides.
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.when(den != 0, F.round(num / den, 6)).alias("slope_cents_per_day"),
    )


_BATCH_SIZE = 32  # sequences per length-bucketed batch


@register(
    "length_bucketed_batches",
    sql=rf"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        FROM documents
    ), r AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens, doc_id) AS rn
        FROM t
    ), b AS (
        SELECT doc_id, n_tokens, (rn - 1) // {_BATCH_SIZE} AS batch_id FROM r
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste
    FROM b GROUP BY batch_id
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Length-bucketed batching: sort documents by token length,
    cut consecutive runs of {_BATCH_SIZE} into batches, and report each
    batch's padding waste (docs·max_len − Σlen) — the standard
    padding-minimization trick for transformer training/inference
    loaders (batching similar lengths together makes the pad-to-max
    overhead per batch tiny; a random batching wastes ~50% of compute on
    pad tokens for skewed corpora).

    Plan shape: the global length order is the distributed two-pass rank
    (``ext/ranking.with_global_rank`` under the unique
    (n_tokens, doc_id)); the batch cut and waste are plain arithmetic +
    one keyed aggregate. The oracle's single-partition ``row_number``
    is exactly what the decomposition reproduces. Logic shared with the
    factory/DSL via ``ext/ranking.length_batch_stats``."""
    from dvh_airflow_kafka_spark.ext.ranking import length_batch_stats

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        xtext.token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
    )
    return length_batch_stats(sized, batch_size=_BATCH_SIZE)


@register(
    "data_selection_factory",
    sql=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS DOUBLE) AS c
        FROM documents GROUP BY source
    ), thr AS (
        -- fraction 1.0 (a source smaller than its K·√count budget) keeps
        -- EVERYTHING: the sentinel 'g' sorts above any hex prefix,
        -- mirroring the Spark side's _hex_threshold
        SELECT source,
               CASE WHEN {_TEMP_MIX_K} / sqrt(c) >= 1.0 THEN 'g'
                    ELSE lower(lpad(to_hex(CAST(least(
                        floor({_TEMP_MIX_K} / sqrt(c) * 4294967296.0),
                        4294967295.0) AS BIGINT)), 8, '0'))
               END AS t
        FROM counts
    ), mixed AS (
        SELECT d.doc_id, d.text
        FROM documents d JOIN thr USING (source)
        WHERE substr(sha256('{_TEMP_MIX_SALT}' || d.source || '|'
                            || CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t
    ), {_qscore_ctes("mixed")}, kept AS (
        SELECT doc_id, n_tokens FROM (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                        ORDER BY quality DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS tokens_before
            FROM q)
        WHERE tokens_before + n_tokens <= {_TOKEN_BUDGET}
    ), b AS (
        SELECT doc_id, n_tokens,
               (row_number() OVER (ORDER BY n_tokens, doc_id) - 1)
                   // {_BATCH_SIZE} AS batch_id
        FROM kept
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste
    FROM b GROUP BY batch_id
    """,
)
def data_selection_factory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone #4 — the full data-selection path from raw corpus
    to loader batches in ONE lazy plan: temperature (α=0.5) domain
    mixture → greedy quality selection under the token budget →
    length-bucketed batches with padding-waste accounting. Every stage
    is the distributed machinery (scan-fused mixture predicate, two-pass
    prefix sum under (-quality, id), two-pass length rank), and the
    WHOLE chain is hash-checked against one DuckDB SQL — the
    end-to-end guarantee that stage composition doesn't change
    semantics. Driver-side cost: one |sources|-bounded count collect
    (mixture thresholds) + two O(partitions) offset collects. The
    stages are the SAME definitions the standalone queries and the
    corpus DSL use (``temperature_mixture_filter``, ``with_prefix_sum``,
    ``length_batch_stats``)."""
    from dvh_airflow_kafka_spark.ext.ranking import length_batch_stats
    from dvh_airflow_kafka_spark.ext.sampling import (
        temperature_mixture_filter,
        with_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    mixed = temperature_mixture_filter(docs, k=_TEMP_MIX_K, salt=_TEMP_MIX_SALT)
    scored = mixed.select(
        "doc_id",
        xtext.quality_score(F.col("text")).alias("__q"),
        xtext.token_count_ws(F.col("text")).cast("long").alias("__n"),
    )
    pre = with_prefix_sum(
        scored,
        "doc_id",
        F.col("__n"),
        before_col="__before",
        order_by=[-F.col("__q"), F.col("doc_id")],
    )
    kept = pre.filter(
        F.col("__before") + F.col("size") <= _TOKEN_BUDGET
    ).select("doc_id", F.col("size").alias("n_tokens"))
    return length_batch_stats(kept, batch_size=_BATCH_SIZE)


_BPE_COUNTS_PATH = (
    f"/tmp/dvh_bpe_counts_{__import__('os').getpid()}.parquet"
)
_BPE_SEQ_LEN = 256

_BPE_PACK_ORACLE_SQL = f"""
    WITH t AS (
        SELECT doc_id, n
        FROM read_parquet('{_BPE_COUNTS_PATH}/*.parquet')
    ), c AS (
        SELECT doc_id, n,
               CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                    - n AS BIGINT) AS before
        FROM t
    ), e AS (
        SELECT doc_id, n, before,
               unnest(range(before // {_BPE_SEQ_LEN},
                            (before + n - 1) // {_BPE_SEQ_LEN} + 1))
                   AS seq_id
        FROM c
    )
    SELECT doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(before, seq_id * {_BPE_SEQ_LEN}) - before
                AS BIGINT) AS tok_start,
           CAST(greatest(before, seq_id * {_BPE_SEQ_LEN})
                - seq_id * {_BPE_SEQ_LEN} AS BIGINT) AS offset_in_seq,
           CAST(least(before + n, (seq_id + 1) * {_BPE_SEQ_LEN})
                - greatest(before, seq_id * {_BPE_SEQ_LEN}) AS BIGINT)
               AS n_seq_tokens
    FROM e
    """


@register("bpe_tokenize_and_pack", sql=_BPE_PACK_ORACLE_SQL)
def bpe_tokenize_and_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone #5 — REAL tokenizer feeding the sequence packer:
    documents are BPE-encoded (the ``bpe_encode_udf`` kernel, merge
    ranks broadcast) and their PIECE counts drive the GPT-style
    concat-and-split into fixed 256-token training sequences (documents
    span boundaries). This is the actual "text in, packed token
    sequences out" step of a pre-training pipeline — the
    whitespace-token ``training_sequence_pack`` is its SQL-expressible
    twin. PARTIAL oracle via the staged-bytes pattern: the tokenizer
    has no SQL form, but the per-doc (doc_id, n_pieces) counts stage to
    parquet and DuckDB replays the ENTIRE distributed prefix-sum +
    span-explode packing arithmetic from the same bytes (the same SQL
    shape that oracles ``training_sequence_pack``); tiling/rejoin
    invariants stay pytest-pinned. Plan shape: one Arrow-batched
    tokenize pass → slim (id, n_pieces) range shuffle → scan-fused
    span explode."""
    from dvh_airflow_kafka_spark.ext.sampling import (
        explode_token_spans,
        with_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    enc = xtext.bpe_encode_udf()
    slim = docs.select(
        "doc_id",
        F.size(enc(F.lower(F.col("text")))).cast("long").alias("n"),
    ).filter(F.col("n") > 0)
    _stage_frame(slim, _BPE_COUNTS_PATH, sf_dir)
    staged = spark.read.parquet(_BPE_COUNTS_PATH)
    pre = with_prefix_sum(staged, "doc_id", F.col("n"))
    return explode_token_spans(pre, _BPE_SEQ_LEN)


# The tokenizer itself has no SQL form, but its AGGREGATION does: the
# query materializes the per-doc (doc_id, piece) stream to this parquet
# path (re-staged per sf_dir, eagerly, at query-call time — before any
# oracle can run) and returns the rollup over the staged copy, so DuckDB
# aggregates the exact same bytes.  Partial oracle per the round-5
# verdict: the vocabulary rollup is pinned cross-engine even though the
# BPE encode stays Python-only.  The path is PER-PROCESS (pid suffix,
# baked into this process's oracle SQL string at import): two concurrent
# runs at different scales would otherwise swap one shared link under
# each other mid-read.  Within the process the symlink swap keeps
# re-staging atomic.
_BPE_PIECES_PATH = f"/tmp/dvh_bpe_pieces_{__import__('os').getpid()}.parquet"


def _staged_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Arrow-batched BPE tokenize pass → staged (doc_id, piece)
    parquet, shared by every query that aggregates the piece stream
    (``bpe_piece_vocab``, ``bpe_encode_stats``) — staged once per
    (path, sf_dir), so the second query reuses the first's bytes."""
    docs = load_table(spark, sf_dir, "documents")
    enc = xtext.bpe_encode_udf()
    pieces = docs.select(
        "doc_id", F.explode(enc(F.lower(F.col("text")))).alias("piece")
    )
    _stage_frame(pieces, _BPE_PIECES_PATH, sf_dir)
    return spark.read.parquet(_BPE_PIECES_PATH)


@register(
    "bpe_piece_vocab",
    sql=f"""
    SELECT piece, COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM read_parquet('{_BPE_PIECES_PATH}/*.parquet')
    GROUP BY piece
    """,
)
def bpe_piece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Corpus-level BPE piece vocabulary: every subword piece the
    encoder emits, with occurrence and document frequencies — the
    vocabulary-coverage report a tokenizer owner reads before training
    (dead merges, piece distribution skew, OOV pressure). One
    Arrow-batched tokenize pass → staged (doc_id, piece) parquet → one
    map-side-combined keyed aggregate. PARTIAL oracle: the tokenizer is
    Python-only, but the staged pieces are re-aggregated by DuckDB from
    the same parquet, pinning the rollup cross-engine (the encode
    itself stays pinned by the ``tests/test_text_bpe.py`` laws)."""
    return (
        _staged_bpe_pieces(spark, sf_dir)
        .groupBy("piece")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
    )


@register(
    "bpe_encode_stats",
    sql=f"""
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pieces,
           CAST(COUNT(*) FILTER (WHERE length(piece) > 1) AS BIGINT)
               AS n_merged_pieces
    FROM read_parquet('{_BPE_PIECES_PATH}/*.parquet')
    GROUP BY doc_id
    """,
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Real BPE merge application (Sennrich et al. ACL'16) over the
    corpus: per document, the subword piece count and how many pieces are
    multi-character merges — the tokenizer-side numbers a pre-training
    data pipeline reports. Upgraded rows-only → PARTIAL oracle: the
    merge-loop kernel has no SQL form, but its per-doc piece stream is
    the SAME staged (doc_id, piece) parquet ``bpe_piece_vocab`` rolls
    up, so DuckDB re-aggregates the per-document counts from identical
    bytes (documents tokenizing to zero pieces drop from both engines
    identically). The ALGORITHM stays pytest-pinned against
    hand-computed merge sequences and the
    pieces-concatenate-back-to-the-word invariant
    (``tests/test_text_bpe.py``). One linear Arrow-batched pass; the
    merge table broadcasts in the UDF closure and per-batch cost is
    amortized over DISTINCT words via the word→pieces memo."""
    return (
        _staged_bpe_pieces(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pieces"),
            F.count(F.when(F.length("piece") > 1, 1)).alias(
                "n_merged_pieces"
            ),
        )
    )


@register(
    "doc_tfidf_top_terms",
    sql="""
    WITH toks AS (
        SELECT doc_id,
               lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS term
        FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, term),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, score
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf DESC, df ASC, term) <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Top-3 TF-IDF terms per document.

    Plan: tokenize (regexp, scan-fused) → explode → TF aggregate (one
    shuffle on (doc, term)) → DF aggregate reusing the same frame →
    broadcast the term-DF back → per-doc window top-k. Ranking is on
    integers (tf desc, df asc, term) so cross-engine float `ln` ulps
    cannot reorder rows; the score itself is rounded to 6 digits at the
    edge. ASCII-only token regex sidesteps locale-dependent unicode
    lowercasing differences between engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[A-Za-z]+"), 0)
        ).alias("tok"),
    ).select("doc_id", F.lower(F.col("tok")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # TF feeds both the DF aggregate and the score join; localCheckpoint
    # (not cache) so blocks release when the frame is collected
    tf = tf.localCheckpoint(eager=False)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # driver-side scalar: one tiny jobs, literal after
    scored = tf.join(F.broadcast(df_), on="term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ==========================================================================
# [EXT] n-gram near-dup family: clusters, split contamination, the
# survivor and decontamination capstones, the cross-snapshot gate.
# ==========================================================================

# Shared oracle fragment: the word list + distinct 3-gram shingle + exact
# Jaccard>=0.2 pair CTEs (the ext/dedup.ngram_jaccard_pairs convention),
# used by every n-gram pair oracle below.
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
    "ngram_dedup_clusters",
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
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def ngram_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The full dedup closure: exact n-gram Jaccard pairs →
    distributed connected components → (doc_id, cluster_id = min doc of
    the transitive cluster). The oracle recomputes the same pairs and
    closes them with a recursive CTE — Spark's iterative min-label
    propagation must land on the identical fixpoint."""
    from dvh_airflow_kafka_spark.ext import dedup as xdedup
    from dvh_airflow_kafka_spark.ext.components import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = xdedup.ngram_jaccard_pairs(docs, "doc_id", "text", ngram=3, threshold=0.2)
    return dedup_clusters(pairs.select("id_a", "id_b"), shuffle_partitions=8)


@register(
    "split_contamination_pairs",
    sql=rf"""
    WITH {_SHINGLE_PAIR_CTES},
    split AS (
        SELECT doc_id,
               CASE WHEN {sql_bucket_predicate('doc_id', 0.8)}
                    THEN 'train' ELSE 'test' END AS split
        FROM documents)
    SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN split sa ON sa.doc_id = p.id_a
    JOIN split sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    """,
)
def split_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Train/test decontamination: near-duplicate pairs that
    straddle the split boundary — the documents whose test-set membership
    leaks training signal. Composes the exact n-gram Jaccard detector
    with the deterministic hash split; at 100 TB the same composition
    runs with MinHash-LSH candidates in place of the exact detector.
    The fix is then one anti-join of the test split against ``id_b``."""
    from dvh_airflow_kafka_spark.ext import dedup as xdedup

    docs = load_table(spark, sf_dir, "documents")
    pairs = xdedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.2
    ).select("id_a", "id_b")
    split = hash_split(docs.select("doc_id"), "doc_id", train_frac=0.8)
    sa = split.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = split.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(F.broadcast(sa), on="id_a")
        .join(F.broadcast(sb), on="id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b")
    )


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


# --------------------------------------------------------------------------
# cross_snapshot_neardup
# --------------------------------------------------------------------------


def _snapshot_cdc_gate(docs: DataFrame, extra_cols: tuple = ()):
    """Shared by ``cross_snapshot_neardup`` and ``weekly_crawl_capstone``
    (ONE definition of the fixture + gate, so the capstone can never
    desynchronize from the standalone gate its test composes against):
    the ``corpus_snapshot_diff`` snapshot fixture (old = doc_id % 10 ≠ 7
    verbatim text; new = doc_id % 13 ≠ 5 with a " v2" edit on
    doc_id % 9 = 0), split into the increment (added/changed, with
    ``change_type``) and the retained corpus (present unchanged in both
    snapshots), plus the directional 3-gram Jaccard gate at threshold
    0.5 over exactly that split.  ``extra_cols`` (e.g. ``source``) are
    carried on both sides.  Returns ``(inc, exist, gate)``."""
    old = docs.select("doc_id", "text").filter(F.col("doc_id") % 10 != 7)
    new = docs.filter(F.col("doc_id") % 13 != 5).select(
        "doc_id",
        *extra_cols,
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    j = new.alias("n").join(
        old.select(
            F.col("doc_id").alias("o_id"), F.col("text").alias("o_text")
        ),
        F.col("n.doc_id") == F.col("o_id"),
        "left",
    )
    carried = [f"n.{c}" for c in extra_cols]
    inc = j.filter(
        F.col("o_id").isNull() | (F.col("o_text") != F.col("n.text"))
    ).select(
        "n.doc_id",
        *carried,
        "n.text",
        F.when(F.col("o_id").isNull(), F.lit("added"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )
    exist = j.filter(F.col("o_text") == F.col("n.text")).select(
        "n.doc_id", *carried, "n.text"
    )
    comb = inc.select(
        "doc_id", "text", F.lit(True).alias("is_new")
    ).unionByName(
        exist.select("doc_id", "text", F.lit(False).alias("is_new"))
    )
    gate = xdedup.jaccard_ingest_gate(
        comb,
        "doc_id",
        "text",
        incoming_pred=F.col("is_new"),
        ngram=3,
        threshold=0.5,
    )
    return inc, exist, gate


@register(
    "cross_snapshot_neardup",
    sql=r"""
    WITH oldd AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7
    ), newd AS (
        SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 13 <> 5
    ), inc AS (
        SELECT n.doc_id, n.text,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    ELSE 'changed' END AS change_type
        FROM newd n LEFT JOIN oldd o ON o.doc_id = n.doc_id
        WHERE o.doc_id IS NULL OR o.text <> n.text
    ), exist AS (
        SELECT n.doc_id, n.text
        FROM newd n JOIN oldd o ON o.doc_id = n.doc_id AND o.text = n.text
    ), comb AS (
        SELECT doc_id, text, TRUE AS is_new FROM inc
        UNION ALL
        SELECT doc_id, text, FALSE FROM exist
    ), w AS (
        SELECT doc_id, is_new, regexp_extract_all(text, '\S+') AS wl
        FROM comb
    ), sh AS (
        SELECT doc_id, is_new,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       i -> wl[i] || ' ' || wl[i+1] || ' '
                                            || wl[i+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w
    ), inv AS (
        SELECT doc_id, is_new, unnest(s) AS g FROM sh
    ), i AS (SELECT doc_id, g FROM inv WHERE is_new),
    e AS (SELECT doc_id, g FROM inv WHERE NOT is_new),
    shared AS (
        SELECT i.doc_id AS in_id, e.doc_id AS ex_id, count(*) AS c
        FROM i JOIN e ON i.g = e.g
        GROUP BY i.doc_id, e.doc_id
    ), sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    best AS (
        SELECT in_id, MAX(CAST(c AS DOUBLE) / (na.n + nb.n - c)) AS mx
        FROM shared
        JOIN sizes na ON na.doc_id = in_id
        JOIN sizes nb ON nb.doc_id = ex_id
        GROUP BY in_id
    )
    SELECT inc.doc_id, inc.change_type,
           COALESCE(b.mx, 0.0) AS max_jaccard,
           CAST(COALESCE(b.mx, 0.0) < 0.5 AS INT) AS kept
    FROM inc LEFT JOIN best b ON b.in_id = inc.doc_id
    """,
)
def cross_snapshot_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Cross-snapshot near-dup gate — dedup the new crawl against
    the PREVIOUS corpus, not itself (VERDICT r10 item 5b): snapshot CDC
    classifies the increment, then the directional Jaccard gate admits
    it doc-by-doc.

    Composes two certified stages as one lazy plan: the
    ``corpus_snapshot_diff`` fixture (old = doc_id % 10 ≠ 7 verbatim
    text; new = doc_id % 13 ≠ 5 with a " v2" edit on doc_id % 9 = 0)
    yields the increment = added + changed docs, the retained corpus =
    docs present unchanged in both snapshots; then
    ``ext/dedup.jaccard_ingest_gate`` (the ``incremental_near_dup_
    ingest`` kernel) computes each increment doc's max 3-gram Jaccard
    against the retained corpus only — incoming×incoming and
    retained×retained pairs are never generated, so a weekly crawl
    against a 100 TB corpus pays |increment-shingles| bucket probes,
    never corpus pairs.  Output: (doc_id, change_type, max_jaccard,
    kept) — kept = admit at threshold 0.5.

    Plan: one id-keyed sort-merge join for the CDC split, then the
    gate's keyed shingle shuffles; the change_type join-back is id-keyed
    with no broadcast hint (AQE broadcasts at fixture scale, shuffles at
    corpus scale — the r10 review rule)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inc, _exist, gate = _snapshot_cdc_gate(docs)
    return gate.join(inc.select("doc_id", "change_type"), "doc_id").select(
        "doc_id", "change_type", "max_jaccard", "kept"
    )


# --------------------------------------------------------------------------
# weekly_crawl_capstone
# --------------------------------------------------------------------------


@register(
    "weekly_crawl_capstone",
    sql=rf"""
    WITH oldd AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 7
    ), newd AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END
                   AS text
        FROM documents WHERE doc_id % 13 <> 5
    ), inc AS (
        SELECT n.doc_id, n.source, n.text
        FROM newd n LEFT JOIN oldd o ON o.doc_id = n.doc_id
        WHERE o.doc_id IS NULL OR o.text <> n.text
    ), exist AS (
        SELECT n.doc_id, n.source, n.text
        FROM newd n JOIN oldd o ON o.doc_id = n.doc_id AND o.text = n.text
    ), comb AS (
        SELECT doc_id, text, TRUE AS is_new FROM inc
        UNION ALL
        SELECT doc_id, text, FALSE FROM exist
    ), w AS (
        SELECT doc_id, is_new, regexp_extract_all(text, '\S+') AS wl
        FROM comb
    ), sh AS (
        SELECT doc_id, is_new,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       i -> wl[i] || ' ' || wl[i+1] || ' '
                                            || wl[i+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w
    ), inv AS (
        SELECT doc_id, is_new, unnest(s) AS g FROM sh
    ), i AS (SELECT doc_id, g FROM inv WHERE is_new),
    e AS (SELECT doc_id, g FROM inv WHERE NOT is_new),
    shared AS (
        SELECT i.doc_id AS in_id, e.doc_id AS ex_id, count(*) AS c
        FROM i JOIN e ON i.g = e.g
        GROUP BY i.doc_id, e.doc_id
    ), sizes AS (SELECT doc_id, len(s) AS n FROM sh),
    best AS (
        SELECT in_id, MAX(CAST(c AS DOUBLE) / (na.n + nb.n - c)) AS mx
        FROM shared
        JOIN sizes na ON na.doc_id = in_id
        JOIN sizes nb ON nb.doc_id = ex_id
        GROUP BY in_id
    ), adm AS (
        SELECT inc.doc_id FROM inc
        LEFT JOIN best b ON b.in_id = inc.doc_id
        WHERE COALESCE(b.mx, 0.0) < 0.5
    ), updated AS (
        SELECT source, text, FALSE AS admitted FROM exist
        UNION ALL
        SELECT i.source, i.text, TRUE FROM inc i JOIN adm USING (doc_id)
    ), t AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
                   AS n_tokens,
               CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
                   AS adm_docs,
               CAST(SUM(CASE WHEN admitted
                             THEN len(regexp_extract_all(text, '\S+'))
                             ELSE 0 END) AS BIGINT) AS adm_tokens
        FROM updated
        WHERE source IS NOT NULL
        GROUP BY source
    ), wt AS (
        SELECT *,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                   AS w_sqrt
        FROM t
    ), tot AS (SELECT SUM(w_sqrt) AS tw FROM wt)
    SELECT source, n_docs, n_tokens, adm_docs, adm_tokens, w_sqrt,
           CAST((1000000 * w_sqrt) // tw AS BIGINT) AS share_ppm,
           CAST(({_REBALANCE_BUDGET} * w_sqrt) // tw AS BIGINT)
               AS token_budget
    FROM wt, tot
    """,
)
def weekly_crawl_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The whole weekly-recrawl duty as ONE lazy plan — the
    round-11 compositions composed: snapshot CDC classifies the new
    crawl, the DIRECTIONAL near-dup gate admits its added/changed docs
    against the retained corpus, and the temperature mixture budgets
    are recomputed over the post-ingest corpus (retained + admitted) —
    what a curation team actually runs when a crawl lands, end to end.

    Each stage keeps its certified shape: the CDC split is one
    id-keyed join (``cross_snapshot_neardup``), the gate never
    generates incoming×incoming or retained×retained pairs
    (``ext/dedup.jaccard_ingest_gate``), and the rebalance readout is
    the ``mixture_rebalance_incremental`` BIGINT arithmetic, with the
    admitted contribution reported per source (``adm_docs`` /
    ``adm_tokens``) so the weekly budget delta is auditable.  At scale
    the retained-side totals come from the standing rollup corrected by
    the diff's retractions (COUNT/SUM are abelian groups — deleted and
    changed docs subtract exactly), so the weekly rebalance stays
    O(increment + diff), never O(corpus).

    Plan: the CDC sort-merge join + the gate's keyed shingle shuffles +
    two map-side-combined aggregates and a 1-row broadcast total — no
    corpus-sized shuffle, no forced broadcast of a data-sized frame."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    inc, exist, gate = _snapshot_cdc_gate(docs, extra_cols=("source",))
    admitted = inc.join(
        gate.filter(F.col("kept") == 1).select("doc_id"), "doc_id"
    )
    updated = exist.select(
        "source", "text", F.lit(False).alias("admitted")
    ).unionByName(
        admitted.select("source", "text", F.lit(True).alias("admitted"))
    ).filter(F.col("source").isNotNull())
    t = updated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count_ws(F.col("text"))).cast("long").alias("n_tokens"),
        F.sum(F.col("admitted").cast("long")).cast("long").alias("adm_docs"),
        F.sum(
            F.when(F.col("admitted"), token_count_ws(F.col("text"))).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("adm_tokens"),
    )
    wt = t.withColumn(
        "w_sqrt",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long"),
    ).localCheckpoint(eager=False)
    total = wt.agg(F.sum("w_sqrt").alias("__tw"))
    return wt.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        "adm_docs",
        "adm_tokens",
        "w_sqrt",
        F.expr("(1000000L * w_sqrt) div __tw").alias("share_ppm"),
        F.expr(f"({_REBALANCE_BUDGET}L * w_sqrt) div __tw").alias(
            "token_budget"
        ),
    )
