"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

import datetime as dt
import os

from dvh_airflow_kafka_spark.ext import dedup as xdedup, multimodal as xmm, similarity as xsim, text as xtext
from dvh_airflow_kafka_spark.io import load_table
from dvh_airflow_kafka_spark.sources import events_as_kafka_frame, with_envelope
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    _ntz,
    _scratch_dir,
    _stage_frame,
    _staged_range_write,
    _staged_stream_src,
    register,
)

# ==========================================================================
# Round-6d: retrieval scoring (BM25), batch range join, contrastive
# hard-negative mining, statistical char-LM quality filtering
# ==========================================================================

_BURST_US = 300_000_000  # 5-minute lookback window, in microseconds


@register(
    "error_burst_range_join",
    sql="""
    WITH e AS (
        SELECT event_id, ts, event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    )
    SELECT p.event_id, p.ts,
           CAST(COUNT(c.event_id) AS BIGINT) AS n_preceding,
           round(CAST(COALESCE(SUM(c.cents), 0) AS DOUBLE) / 100, 2)
               AS value_preceding
    FROM e p
    LEFT JOIN e c
      ON c.ts < p.ts AND c.ts >= p.ts - INTERVAL 5 MINUTE
    WHERE p.event_type = 'error'
    GROUP BY p.event_id, p.ts
    """,
)
def error_burst_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Batch RANGE join with NO equi key: for every 'error' event,
    count and sum (cents-exact) ALL events in the preceding 5 minutes,
    across all users. The naive plan is a BroadcastNestedLoopJoin
    (quadratic); this implementation BINS the time axis at the window
    width and turns the range predicate into an equi-join on the bin —
    each probe explodes to its two covering bins, each candidate carries
    exactly one bin, so every qualifying (probe, candidate) pair meets on
    exactly one bin row and the residual range filter is evaluated inside
    the hash/sort-merge join. Candidate volume per probe is bounded by
    the events in two 5-minute bins, independent of corpus size — the
    standard interval-join binning (same trick as Flink's interval join
    and `streaming_interval_join`'s watermark state, here in batch form).
    At 100 TB: two bin-keyed exchanges + one keyed aggregate; a hot bin
    (event burst) is exactly what AQE skew-join splitting handles.
    Timestamps compare at FULL microsecond precision (``unix_micros``) —
    millisecond truncation would diverge from the oracle's native
    timestamp comparison on same-millisecond events."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    base = ev.select(
        "event_id",
        _ntz(F.col("ts")).alias("ts"),
        "event_type",
        us.alias("__us"),
        cents.alias("__cents"),
    )
    bin_ = F.floor(F.col("__us") / F.lit(_BURST_US)).cast("bigint")
    probe = (
        base.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "ts",
            F.col("__us").alias("__pus"),
            F.explode(F.array(bin_ - 1, bin_)).alias("__bin"),
        )
        .alias("p")
    )
    cand = base.select(
        F.col("__us").alias("__cus"),
        "__cents",
        bin_.alias("__bin"),
    ).alias("c")
    joined = probe.join(
        cand,
        (F.col("p.__bin") == F.col("c.__bin"))
        & (F.col("c.__cus") < F.col("p.__pus"))
        & (F.col("c.__cus") >= F.col("p.__pus") - F.lit(_BURST_US)),
        "left",
    )
    return joined.groupBy("event_id", "ts").agg(
        F.count(F.col("c.__cents")).alias("n_preceding"),
        F.round(
            F.coalesce(F.sum("c.__cents"), F.lit(0)).cast("double") / 100, 2
        ).alias("value_preceding"),
    )


_BM25_TERMS = ("spark", "join", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


def _bm25_sql() -> str:
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"ln(((n - df{i} + 0.5) / (df{i} + 0.5)) + 1)"
        f" * (tf{i} * ({_BM25_K1} + 1))"
        f" / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B}"
        f" * (CAST(dl AS DOUBLE) / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    any_tf = " + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    return rf"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
        FROM documents
    ), d AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               {tf_cols}
        FROM t
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {df_cols}
        FROM d
    )
    SELECT doc_id, dl AS n_tokens, round({score}, 6) AS bm25
    FROM d, s
    WHERE {any_tf} > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """


def _term_eq(term: str):
    # single-parameter lambda factory: a `lambda x, t=t:` default-arg
    # capture makes F.filter see TWO parameters and bind the second to
    # the element INDEX, silently comparing tokens against integers
    return lambda x: x == F.lit(term)


@register("bm25_topk_docs", sql=_bm25_sql())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BM25 ranked retrieval (Robertson/Sparck Jones; k1=1.2,
    b=0.75) of the top-{k} documents for a fixed bag-of-terms query —
    the lexical-retrieval complement to `doc_tfidf_top_terms` and the
    embedding ANN family. Per-document term frequencies come from
    ``size(filter(tokens))`` INSIDE the row (pure codegen, no token
    explode, no shuffle); corpus statistics (N, avgdl, per-term df) are
    ONE map-side-combined aggregate reduced to a single row and
    broadcast back with a cross join, so scoring is a second stateless
    scan ending in a distributed TakeOrderedAndProject top-k — no global
    window, no full sort. At 100 TB this is two corpus scans (stats +
    score) of exactly the projected columns; a production system
    persists the (doc, tf, dl) profile once and reuses it across
    queries. IDF uses the ln(((N-df+0.5)/(df+0.5))+1) form (always
    positive); floats are mirrored operation-for-operation in the oracle
    and rounded to 6 digits before the rank/limit tie-break on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(lower(text), '\\S+', 0)")
    d = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _term_eq(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).localCheckpoint(eager=False)
    # (localCheckpoint: the per-doc tf frame feeds both the corpus-stats
    # aggregate and the scoring scan — without it each consumer
    # re-tokenizes every document)
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("long").alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            ((F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5))) + F.lit(1)
        )
        term = (
            idf
            * (tf * F.lit(_BM25_K1 + 1))
            / (
                tf
                + F.lit(_BM25_K1)
                * (
                    F.lit(1 - _BM25_B)
                    + F.lit(_BM25_B)
                    * (F.col("dl").cast("double") / F.col("avgdl"))
                )
            )
        )
        score = term if score is None else score + term
    any_tf = sum(
        (F.col(f"tf{i}") for i in range(1, len(_BM25_TERMS))),
        F.col("tf0"),
    )
    return (
        scored.filter(any_tf > 0)
        .select(
            "doc_id",
            F.col("dl").alias("n_tokens"),
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
    )


@register(
    "hard_negative_mining",
    sql="""
    WITH v AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, label AS query_label, e AS qe
        FROM v WHERE vec_id < 50
    ), pairs AS (
        SELECT q.query_id, q.query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label,
               round(list_dot_product(qe, e) /
                     (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                     6) AS cosine
        FROM q JOIN v c
          ON c.vec_id <> q.query_id AND c.label <> q.query_label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM pairs QUALIFY rank <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Contrastive-learning hard-NEGATIVE mining: for each query
    vector (vec_id < 50), the 3 nearest neighbours whose class ``label``
    DIFFERS — the near-boundary impostors that make the most informative
    negatives for embedding/finetune training batches (the in-batch
    negatives literature's "hard" sampling). Rides the exact
    `brute_force_topk` kernel with its label-mask option: query matrix +
    labels broadcast in the UDF closure, ONE linear corpus scan, numpy
    matmul per Arrow batch, per-batch lossless top-k prune under the
    final (cosine desc, id asc) order, tiny final window per query. The
    label filter happens BEFORE the prune, so a query surrounded by
    same-label vectors still gets true different-label top-3 (a plain
    top-k-then-filter would not). At 100 TB the scan shape is identical
    to `embedding_topk_cosine` — linear, no join, no quadratic shuffle;
    the IVF/PQ family covers the sublinear path."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    res = xsim.brute_force_topk(
        emb, queries, k=3, label_col="label", same_label=False
    )
    qlab = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").cast("long").alias("query_label"),
        )
    )
    return res.join(qlab, "query_id").select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


_CHARLM_WORST = 20

# Shared char-LM machinery lives in ext/text (the corpus DSL's
# `charlm_gate` stage uses it too and must not import this module).
_charlm_model = xtext.charlm_model
_charlm_sum = xtext.charlm_score_sum


@register(
    "charlm_doc_quality",
    sql=f"""
    WITH t AS (
        SELECT doc_id, lang, lower(text) AS s
        FROM documents WHERE length(text) >= 2
    ), bg AS (
        SELECT doc_id, substr(s, i, 2) AS b
        FROM t, unnest(generate_series(1, length(s) - 1)) AS u(i)
    ), m AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY b
    ), pre AS (
        SELECT substr(b, 1, 1) AS c1, CAST(SUM(c) AS BIGINT) AS n1
        FROM m GROUP BY c1
    ), voc AS (
        SELECT CAST(COUNT(DISTINCT substr(b, 2, 1)) AS BIGINT) AS v FROM m
    ), lp AS (
        SELECT m.b,
               CAST(floor(ln((m.c + 1.0) / (pre.n1 + voc.v)) * 1000000 + 0.5)
                    AS BIGINT) AS micronats
        FROM m JOIN pre ON substr(m.b, 1, 1) = pre.c1, voc
    ), sc AS (
        SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(lp.micronats) AS BIGINT) AS sl
        FROM bg JOIN lp ON bg.b = lp.b GROUP BY bg.doc_id
    )
    SELECT t.doc_id, t.lang, sc.n_bigrams,
           round(CAST(sc.sl AS DOUBLE) / 1000000.0 / sc.n_bigrams, 6)
               AS avg_logprob
    FROM sc JOIN t ON t.doc_id = sc.doc_id
    ORDER BY avg_logprob ASC, t.doc_id
    LIMIT {_CHARLM_WORST}
    """,
)
def charlm_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Statistical language-model quality filter (the CCNet/KenLM
    pattern, Wenzek et al. 2020, at char-bigram order): train an add-one
    conditional bigram model p(c2|c1) ON THE CORPUS ITSELF, score every
    document by its average per-bigram log-probability, and surface the
    {_CHARLM_WORST} worst (lowest-likelihood = most gibberish-like)
    documents. Two passes: (1) model training — ONE exploded map-side-
    combined bigram count (the model domain is |charset|², a few
    thousand entries at any corpus size, so it COLLECTS to the driver by
    construction — the same bounded-model argument as
    `temperature_mixture_sample`'s per-source counts); (2) scoring — the
    log-probs ship back as a literal map and each document folds over
    its own bigram array IN-ROW (`F.aggregate`), so the scoring pass is
    a stateless scan with NO explode, NO join and NO shuffle, ending in
    a distributed TakeOrderedAndProject. Float discipline: log-probs are
    quantized to integer MICRONATS (floor(ln(p)·1e6 + 0.5)) before
    summation — integer sums are order-free, so the result is
    bit-identical at any parallelism and in any engine; only the final
    average divides doubles, identically on both sides."""
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    t = docs.filter(F.length("text") >= 2).select(
        "doc_id", "lang", F.lower(F.col("text")).alias("s")
    )
    # the in-row fold is an interpreted higher-order function — spread it
    # across cores (small single-file inputs otherwise scan as ONE task)
    scored = ensure_parallelism(t).select(
        "doc_id",
        "lang",
        (F.char_length("s") - 1).cast("long").alias("n_bigrams"),
        _charlm_sum(_charlm_model(t)).alias("sl"),
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.round(
                F.col("sl").cast("double") / F.lit(1000000.0) / F.col("n_bigrams"),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy(F.asc("avg_logprob"), "doc_id")
        .limit(_CHARLM_WORST)
    )


@register(
    "streaming_static_enrichment",
    sql="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment,
           e.event_type,
           CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Stream-static broadcast enrichment — the single most common
    production streaming shape (dimension lookup on a flowing fact
    stream), driven as a REAL 4-micro-batch file drain: the event stream
    joins the BATCH customer dimension per micro-batch with a broadcast
    hash join, so the stream side never shuffles and the dimension is
    read fresh each batch (slowly-changing dims pick up updates between
    batches — the semantics Structured Streaming documents for
    stream-static joins). Append-mode, no state store, no watermark:
    enrichment is stateless, which is exactly why it scales to any
    stream rate. The oracle is the plain batch equi-join — streaming
    drain ≡ batch join, hash-checked cross-engine."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches, one job; a stream-static join's
        # result set is invariant under batch composition
        _staged_range_write(ev, src, 4)

    src = _staged_stream_src("stream_enrich", sf_dir, _write)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    stream = read_event_stream(spark, src)
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    ).select(
        "event_id",
        "user_id",
        "c_name",
        "c_mktsegment",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    return run_drain(enriched, shuffle_partitions=8).table


@register(
    "multi_topic_fan_in",
    sql="""
    SELECT 'purchases' AS kafka_topic, event_id AS kafka_offset,
           CAST(user_id AS VARCHAR) AS kafka_key,
           epoch_ms(ts) AS kafka_timestamp, sha256(props) AS kafka_hash
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'clicks', event_id, CAST(user_id AS VARCHAR),
           epoch_ms(ts), sha256(props)
    FROM events WHERE event_type = 'click'
    """,
)
def multi_topic_fan_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Multi-topic fan-in — the surface SURVEY §2.9 records the
    reference as NOT having (one source, one target per run,
    src/mapping.py:10-47): two Kafka-shaped sources ('purchases' and
    'clicks' topics) each get their own envelope (S3/S6/F9) and conform
    to one shared schema in a single lazy plan via unionByName — the
    N-mappings-one-app shape a consolidation of reference deployments
    would need. Both branches stay scan-fused narrow projections; Spark
    plans the union as parallel branches with no shuffle, so at 100 TB
    this costs exactly the sum of the source scans."""
    events = load_table(spark, sf_dir, "events")

    def branch(evtype: str, topic: str) -> DataFrame:
        env = with_envelope(
            events_as_kafka_frame(
                events.filter(F.col("event_type") == evtype), topic=topic
            )
        )
        return env.select(
            "kafka_topic",
            "kafka_offset",
            "kafka_key",
            "kafka_timestamp",
            "kafka_hash",
        )

    return branch("purchase", "purchases").unionByName(
        branch("click", "clicks")
    )


_AB_SALT = "exp1-v1"


@register(
    "ab_experiment_lift",
    sql=f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN substr(sha256('{_AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 8)
                         < '80000000' THEN 'A' ELSE 'B' END AS arm,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS converted
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM u
    )
    SELECT n_a, conv_a, n_b, conv_b,
           round(CAST(conv_a AS DOUBLE) / n_a, 6) AS cvr_a,
           round(CAST(conv_b AS DOUBLE) / n_b, 6) AS cvr_b,
           round(CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a, 6)
               AS lift
    FROM s
    """,
)
def ab_experiment_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic A/B experiment analysis: users hash-assign to
    arms by the SAME stable sha-prefix machinery as the train/test split
    (`ext/sampling.split_bucket` — assignment is a pure function of
    (salt, user_id): reproducible across runs, engines and reshuffles,
    exactly how production experiment frameworks bucket), conversion =
    any 'purchase' event, and the report is per-arm user counts,
    conversion rates and the absolute lift. Plan: ONE keyed aggregate to
    per-user conversion flags, then a scalar rollup — a single
    fact-table pass at 100 TB; no joins, no Python."""
    from dvh_airflow_kafka_spark.ext.sampling import split_bucket

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        split_bucket(F.col("user_id"), _AB_SALT) < "80000000", "A"
    ).otherwise("B")
    u = ev.groupBy(F.col("user_id"), arm.alias("arm")).agg(
        F.max((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("converted")
    )
    s = u.agg(
        F.sum((F.col("arm") == "A").cast("int")).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum((F.col("arm") == "B").cast("int")).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    cvr_a = F.col("conv_a").cast("double") / F.col("n_a")
    cvr_b = F.col("conv_b").cast("double") / F.col("n_b")
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(cvr_a, 6).alias("cvr_a"),
        F.round(cvr_b, 6).alias("cvr_b"),
        F.round(cvr_b - cvr_a, 6).alias("lift"),
    )


_DECAY_T0_US = 1706745600000000  # 2024-02-01 00:00:00 UTC, just past the fixture
_DECAY_HALFLIFE_DAYS = 7.0


@register(
    "time_decay_engagement",
    sql=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST(SUM(CAST(floor(
               CAST(floor(value * 100 + 0.5) AS BIGINT)
               * exp(-(ln(2) / {_DECAY_HALFLIFE_DAYS})
                     * (({_DECAY_T0_US} - epoch_us(ts)) / 86400000000.0))
               * 1000 + 0.5) AS BIGINT)) AS DOUBLE) / 100000.0, 6)
               AS engagement
    FROM events
    GROUP BY user_id
    """,
)
def time_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exponentially time-decayed engagement score per user
    (half-life {h} days at a fixed as-of instant) — the recency
    weighting behind freshness-weighted sampling and engagement ranking.
    Float discipline: each event's decayed contribution
    cents·exp(−λ·age) is quantized to an INTEGER (millicent units)
    BEFORE aggregation, so the per-user sum is order-free and
    bit-identical at any parallelism and in any engine — the same
    micronat trick as the char-LM family; `exp`/`ln` evaluate per event
    identically in both engines' libm, and only the final display
    division touches doubles. ONE map-side-combined keyed aggregate —
    a single fact-table pass at 100 TB."""
    import math

    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    age_days = (
        F.lit(_DECAY_T0_US) - F.unix_micros(F.col("ts").cast("timestamp"))
    ) / F.lit(86400000000.0)
    lam = math.log(2) / _DECAY_HALFLIFE_DAYS
    contrib = F.floor(
        cents * F.exp(-F.lit(lam) * age_days) * 1000 + F.lit(0.5)
    ).cast("bigint")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum(contrib).cast("double") / F.lit(100000.0), 6).alias(
            "engagement"
        ),
    )


time_decay_engagement.__doc__ = time_decay_engagement.__doc__.format(
    h=int(_DECAY_HALFLIFE_DAYS)
)


@register(
    "privacy_erasure_cascade",
    sql="""
    WITH flagged AS (
        SELECT c_custkey AS fid FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(SUM(CASE WHEN f.fid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round(CAST(SUM(CASE WHEN f.fid IS NULL AND e.event_type = 'purchase'
                     THEN CAST(floor(e.value * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS DOUBLE) / 100, 2) AS revenue_kept,
           CAST(SUM(CASE WHEN f.fid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_erased
    FROM events e LEFT JOIN flagged f ON e.user_id = f.fid
    GROUP BY 1
    """,
)
def privacy_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Right-to-be-forgotten CASCADE — the reference's kode-6/7
    duty (src/oracle_target.py:46-93) taken to full erasure: every event
    belonging to a flagged person is REMOVED (not just payload-nulled,
    the `privacy_scrub_k6` semantics) and the derived daily-revenue
    aggregate is recomputed in the same pass, with a per-day audit count
    of what was erased — the consistency proof that derived data and
    raw data forget together (`operators/maintenance.delete_where` is
    the storage-side twin that rewrites the files). ONE broadcast
    left-join (the flagged set is dimension-sized) + one
    map-side-combined keyed aggregate over cents-exact DECIMAL
    arithmetic; at 100 TB this is a single fact-table pass, the same
    plan as `incremental_daily_revenue`'s direct branch."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    flagged = customer.filter((F.col("c_custkey") % 10) == 0).select(
        F.col("c_custkey").alias("fid")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    j = events.join(
        F.broadcast(flagged), events["user_id"] == flagged["fid"], "left"
    )
    kept = F.col("fid").isNull()
    return j.groupBy(F.to_date(F.col("ts")).alias("day")).agg(
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.round(
            F.sum(
                F.when(
                    kept & (F.col("event_type") == "purchase"), cents
                ).otherwise(F.lit(0))
            ).cast("double")
            / 100,
            2,
        ).alias("revenue_kept"),
        F.sum((~kept).cast("int")).cast("long").alias("n_erased"),
    )


_MRL_DIMS = 16
_MRL_K = 5
_MRL_QUERIES = 20


@register(
    "matryoshka_recall",
    sql=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), vt AS (
        SELECT vec_id, e[1:{_MRL_DIMS}] AS e FROM v
    ), q AS (
        SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {_MRL_QUERIES}
    ), qt AS (
        SELECT vec_id AS query_id, e AS qe FROM vt WHERE vec_id < {_MRL_QUERIES}
    ), fr AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(qe, e) /
                       (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6)
                       DESC, c.vec_id) AS BIGINT) AS rk
        FROM q, v c WHERE c.vec_id <> q.query_id
        QUALIFY rk <= {_MRL_K}
    ), tr AS (
        SELECT qt.query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                   PARTITION BY qt.query_id
                   ORDER BY round(list_dot_product(qe, e) /
                       (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6)
                       DESC, c.vec_id) AS BIGINT) AS rk
        FROM qt, vt c WHERE c.vec_id <> qt.query_id
        QUALIFY rk <= {_MRL_K}
    )
    SELECT fr.query_id,
           CAST(COUNT(tr.neighbor_id) AS BIGINT) AS n_kept,
           CAST(COUNT(tr.neighbor_id) AS DOUBLE) / {_MRL_K} AS recall_at_k
    FROM fr
    LEFT JOIN tr ON tr.query_id = fr.query_id
                AND tr.neighbor_id = fr.neighbor_id
    GROUP BY fr.query_id
    """,
)
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Matryoshka truncation recall (Kusupati et al. NeurIPS'22):
    how much of the exact top-{k} survives when vectors are truncated to
    their first {d} of 64 dimensions — the storage/latency knob MRL
    embeddings are trained for (coarse search on a prefix, full-dim
    re-rank). Both sides ride the exact `brute_force_topk` linear-scan
    kernel (one corpus pass each, rounded cosine, id tie-break); the
    truncated side just slices the array column before the scan, so at
    100 TB the prefix search reads {d}/64 of the vector bytes — the
    same bytes-touched argument as PQ's codes-only hot loop. Per-query
    recall is an exact integer count over the (query, neighbor) join of
    the two top-{k} sets, cross-engine hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = xsim.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _MRL_QUERIES), k=_MRL_K
    ).select("query_id", "neighbor_id")
    t_emb = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    trunc = xsim.brute_force_topk(
        t_emb, t_emb.filter(F.col("vec_id") < _MRL_QUERIES), k=_MRL_K
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    return (
        full.join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").alias("n_kept"),
            (F.count("__hit").cast("double") / F.lit(_MRL_K)).alias(
                "recall_at_k"
            ),
        )
    )


matryoshka_recall.__doc__ = matryoshka_recall.__doc__.format(
    k=_MRL_K, d=_MRL_DIMS
)


@register(
    "jaccard_prefix_filter_pairs",
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
    WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5
    """,
)
def jaccard_prefix_filter_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PPJoin-style prefix-filtered exact Jaccard join at t=0.5 —
    see `ext/dedup.jaccard_prefix_filter_pairs`. The oracle is the FULL
    brute-force inverted-index SQL (the same shape `ngram_jaccard_pairs`
    oracles against): a hash-match here PROVES the prefix filter is
    lossless — every qualifying pair survives candidate pruning, nothing
    extra appears. The optimization indexes only each document's
    rarest-first prefix (|A| − ⌈t·|A|⌉ + 1 shingles), so hot shingles
    fall out of the index entirely and candidate volume is bounded by
    rare-shingle buckets."""
    docs = load_table(spark, sf_dir, "documents")
    return xdedup.jaccard_prefix_filter_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.5
    )


_DSIR_TARGET_LANG = "en"
_DSIR_TOPK = 20


@register(
    "dsir_domain_selection",
    sql=f"""
    WITH t AS (
        SELECT doc_id, lang, lower(text) AS s
        FROM documents WHERE length(text) >= 2
    ), bg AS (
        SELECT doc_id, lang, substr(s, i, 2) AS b
        FROM t, unnest(generate_series(1, length(s) - 1)) AS u(i)
    ), m AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY b
    ), pre AS (
        SELECT substr(b, 1, 1) AS c1, CAST(SUM(c) AS BIGINT) AS n1
        FROM m GROUP BY c1
    ), voc AS (
        SELECT CAST(COUNT(DISTINCT substr(b, 2, 1)) AS BIGINT) AS v FROM m
    ), lp AS (
        SELECT m.b,
               CAST(floor(ln((m.c + 1.0) / (pre.n1 + voc.v)) * 1000000 + 0.5)
                    AS BIGINT) AS mn
        FROM m JOIN pre ON substr(m.b, 1, 1) = pre.c1, voc
    ), mt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c
        FROM bg WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
    ), pret AS (
        SELECT substr(b, 1, 1) AS c1, CAST(SUM(c) AS BIGINT) AS n1
        FROM mt GROUP BY c1
    ), voct AS (
        SELECT CAST(COUNT(DISTINCT substr(b, 2, 1)) AS BIGINT) AS v FROM mt
    ), lpt AS (
        SELECT mt.b,
               CAST(floor(ln((mt.c + 1.0) / (pret.n1 + voct.v)) * 1000000 + 0.5)
                    AS BIGINT) AS mn
        FROM mt JOIN pret ON substr(mt.b, 1, 1) = pret.c1, voct
    ), pft AS (
        SELECT pret.c1,
               CAST(floor(ln(1.0 / (pret.n1 + voct.v)) * 1000000 + 0.5)
                    AS BIGINT) AS fb
        FROM pret, voct
    ), gfb AS (
        SELECT CAST(floor(ln(1.0 / voct.v) * 1000000 + 0.5) AS BIGINT) AS fb
        FROM voct
    ), sc AS (
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(lp.mn) AS BIGINT) AS sl_b,
               CAST(SUM(COALESCE(lpt.mn, pft.fb, gfb.fb)) AS BIGINT) AS sl_t
        FROM bg
        JOIN lp ON bg.b = lp.b
        LEFT JOIN lpt ON bg.b = lpt.b
        LEFT JOIN pft ON substr(bg.b, 1, 1) = pft.c1
        CROSS JOIN gfb
        GROUP BY bg.doc_id
    )
    SELECT t.doc_id, t.lang, sc.n_bigrams,
           round(CAST(sc.sl_t - sc.sl_b AS DOUBLE) / 1000000.0 / sc.n_bigrams, 6)
               AS importance
    FROM sc JOIN t ON t.doc_id = sc.doc_id
    ORDER BY importance DESC, t.doc_id
    LIMIT {_DSIR_TOPK}
    """,
)
def dsir_domain_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DSIR-style data selection with importance resampling (Xie
    et al., NeurIPS'23): score every document by the log importance
    weight ln p_target(x) − ln p_base(x) between a char-bigram model
    trained on the TARGET domain (lang='{t}') and one trained on the
    whole corpus, and keep the top-{k} — the hashed-n-gram importance
    weighting that selects pretraining data "like the target domain"
    without a neural scorer. Rides the shared `_charlm_model`/
    `_charlm_sum` machinery: both models are bounded (|charset|²)
    driver-collected maps, scoring folds each document's bigram array
    IN-ROW against two literal maps in one stateless scan (no explode,
    no join, no shuffle) ending in a distributed TakeOrderedAndProject.
    Bigrams unseen by the target model take the add-one smoothing
    fallback 1/(n1+V) (or 1/V for an unseen prefix char) — mirrored as
    COALESCE joins in the oracle. All sums are integer micronats; only
    the final average divides doubles, identically on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.filter(F.length("text") >= 2).select(
        "doc_id", "lang", F.lower(F.col("text")).alias("s")
    )
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    # ONE corpus pass trains both models (the conditional count rides
    # the same bigram aggregation) — the second full explode + shuffle +
    # collect of separate charlm_model calls is O(corpus) at scale;
    # models are bit-identical (shared _charlm_from_counts)
    base, target = xtext.charlm_two_models(
        t, F.col("lang") == _DSIR_TARGET_LANG
    )
    scored = ensure_parallelism(t).select(
        "doc_id",
        "lang",
        (F.char_length("s") - 1).cast("long").alias("n_bigrams"),
        _charlm_sum(base).alias("sl_b"),
        _charlm_sum(target).alias("sl_t"),
    )
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.round(
                (F.col("sl_t") - F.col("sl_b")).cast("double")
                / F.lit(1000000.0)
                / F.col("n_bigrams"),
                6,
            ).alias("importance"),
        )
        .orderBy(F.desc("importance"), "doc_id")
        .limit(_DSIR_TOPK)
    )


dsir_domain_selection.__doc__ = dsir_domain_selection.__doc__.format(
    t=_DSIR_TARGET_LANG, k=_DSIR_TOPK
)


_CM_PROBES = ("the", "spark", "data", "window", "zzznotintext")

_COUNTMIN_SQL = rf"""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(text, '\S+')) AS token FROM documents
    ), seeds AS (SELECT unnest([0, 1, 2, 3]) AS i),
    sk AS (
        SELECT i,
               substr(sha256('cm' || CAST(i AS VARCHAR) || '|' || token), 1, 2)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM tok, seeds GROUP BY 1, 2
    ), probes(token) AS (
        VALUES {", ".join(f"('{t}')" for t in _CM_PROBES)}
    ), grid AS (
        SELECT p.token, s.i,
               substr(sha256('cm' || CAST(s.i AS VARCHAR) || '|' || p.token), 1, 2)
                   AS bucket
        FROM probes p, seeds s
    ), est AS (
        SELECT g.token, CAST(MIN(COALESCE(sk.c, 0)) AS BIGINT) AS cm_estimate
        FROM grid g LEFT JOIN sk ON sk.i = g.i AND sk.bucket = g.bucket
        GROUP BY g.token
    ), ex AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok
        WHERE token IN ({", ".join(f"'{t}'" for t in _CM_PROBES)})
        GROUP BY token
    )
    SELECT p.token, CAST(COALESCE(ex.exact_n, 0) AS BIGINT) AS exact_n,
           est.cm_estimate
    FROM probes p LEFT JOIN ex USING (token) JOIN est USING (token)
    """


def _countmin_report(spark: SparkSession, sketch: DataFrame, toks: DataFrame) -> DataFrame:
    """(token, exact_n, cm_estimate) for the fixed probes — shared by the
    batch and streaming Count-Min queries (identical oracle)."""
    from dvh_airflow_kafka_spark.ext import sketch as xsketch

    est = xsketch.countmin_estimate(spark, sketch, list(_CM_PROBES))
    exact = (
        toks.filter(F.col("token").isin(*_CM_PROBES))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    probes_df = spark.createDataFrame(
        [(t,) for t in _CM_PROBES], "token string"
    )
    return (
        probes_df.join(F.broadcast(exact), "token", "left")
        .join(F.broadcast(est), "token")
        .select(
            "token",
            F.coalesce(F.col("exact_n"), F.lit(0)).cast("long").alias("exact_n"),
            "cm_estimate",
        )
    )


@register("countmin_token_freq", sql=_COUNTMIN_SQL)
def countmin_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Count-Min sketch frequency estimation (Cormode &
    Muthukrishnan) over document tokens, with the exact counts alongside
    so the one-sided error (estimate ≥ truth, never under) is visible in
    the output — including a deliberately absent probe token whose truth
    is 0. Completes the bounded-state sketch family next to Misra-Gries
    (`frequent_tokens_bounded_state`), HLL (`hll_mergeable_distinct`)
    and Bloom (`bloom_dedup_insert`): where those answer "who is heavy",
    "how many distinct", "seen before?", CM answers "how often is X"
    with depth·256 counters of state regardless of vocabulary size.
    Buckets are 2-hex sha256 prefixes, so unlike the xxhash64-seeded
    LSH internals the ENTIRE sketch — build, point query, error —
    replays in the DuckDB oracle. Plan: one posexplode (depth rows per
    occurrence) into a map-side-combined (i, bucket) count whose
    partial-agg state is bounded by the sketch size — the property that
    lets this run where a vocabulary groupBy would spill; the ≤1024-row
    sketch frame is then broadcast against the probe grid."""
    from dvh_airflow_kafka_spark.ext import sketch as xsketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(xtext.tokens(F.col("text"))).alias("token"))
    sketch = xsketch.countmin_build(toks)
    return _countmin_report(spark, sketch, toks)


@register("streaming_countmin_sketch", sql=_COUNTMIN_SQL)
def streaming_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The Count-Min sketch MAINTAINED AS STREAMING STATE: the
    documents table drains through a file stream in 4 micro-batches and
    the sketch is nothing but an unwatermarked streaming groupBy over
    (row, bucket) — the state store holds exactly the depth·256
    counters, the minimal possible streaming-aggregation state for an
    unbounded token domain. The complete-mode drain reads the FINAL
    state snapshot, which by CM mergeability across micro-batches (the
    pytest-pinned elementwise-sum law) equals the batch sketch exactly
    — so this streaming query shares `countmin_token_freq`'s DuckDB
    oracle verbatim: a cross-engine hash check that streaming state
    arithmetic matches a batch engine's. At 100 TB ingest this is the
    sketch shape you keep PERMANENTLY resident: O(sketch) state forever,
    no watermark, no eviction needed."""
    from dvh_airflow_kafka_spark.ext import sketch as xsketch
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _write(src: str) -> None:
        # 4 files -> 4 micro-batches, one job; the sketch is a mergeable
        # elementwise sum, so WHICH docs share a batch is irrelevant
        _staged_range_write(docs, src, 4)

    src = _staged_stream_src("stream_cm", sf_dir, _write)
    stream_toks = read_event_stream(spark, src).select(
        F.explode(xtext.tokens(F.col("text"))).alias("token")
    )
    sketch = run_drain(
        xsketch.countmin_build(stream_toks),
        mode="complete",
        shuffle_partitions=8,
    ).table
    toks = docs.select(F.explode(xtext.tokens(F.col("text"))).alias("token"))
    return _countmin_report(spark, sketch, toks)


_CDC_CHUNKS_PATH = (
    f"/tmp/dvh_cdc_chunks_{__import__('os').getpid()}.parquet"
)

_CDC_ORACLE_SQL = f"""
    WITH chunks AS (
        SELECT doc_id, chunk_hash, size
        FROM read_parquet('{_CDC_CHUNKS_PATH}/*.parquet')
    ), t AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_blobs,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(size) AS BIGINT) AS total_bytes
        FROM chunks
    ), u AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
               CAST(SUM(msz) AS BIGINT) AS unique_bytes
        FROM (SELECT chunk_hash, MIN(size) AS msz
              FROM chunks GROUP BY chunk_hash)
    )
    SELECT t.n_blobs, t.n_chunks, u.n_distinct_chunks, t.total_bytes,
           u.unique_bytes,
           ROUND(CAST(u.unique_bytes AS DOUBLE) / t.total_bytes, 6)
               AS dedup_ratio
    FROM t, u
    """


@register("blob_cdc_chunk_dedup", sql=_CDC_ORACLE_SQL)
def blob_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Content-defined chunking dedup report — the storage-dedup
    primitive (Gear-hash CDC, the FastCDC/LBFS family): every synthetic
    blob splits at positions chosen by a rolling hash of the content
    itself, so identical regions chunk identically at ANY byte offset,
    and the corpus-level dedup ratio falls out of a distinct-hash
    aggregate. Fixed-size chunking loses all alignment after one
    inserted byte; CDC boundaries re-synchronize within one hash window
    (the shift-invariance pytest pins this). Plan: ONE linear mapInPandas scan
    emits (hash, size) fingerprints; the only exchange carries those
    fingerprints, never content — the ingest shape of a dedup store at
    100 TB.

    PARTIAL oracle via the staged-bytes pattern: the rolling-hash
    chunker itself has no SQL form (pytest-pinned: vectorized window ≡
    sequential fold, reassembly, min/max bounds, shift-invariance), but
    its (doc_id, chunk_hash, size) fingerprint stream stages to parquet
    and DuckDB re-runs the whole dedup-ratio rollup from the same
    bytes — the distributed aggregate is pinned cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    chunks_all = xmm.cdc_chunk_blobs(xmm.synth_blob_frame(docs))
    _stage_frame(
        chunks_all.select("doc_id", "chunk_hash", "size"),
        _CDC_CHUNKS_PATH,
        sf_dir,
    )
    chunks = spark.read.parquet(_CDC_CHUNKS_PATH)
    totals = chunks.agg(
        F.countDistinct("doc_id").cast("long").alias("n_blobs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("size").cast("long").alias("total_bytes"),
    )
    uniq = (
        chunks.groupBy("chunk_hash")
        .agg(F.min("size").alias("__sz"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
            F.sum("__sz").cast("long").alias("unique_bytes"),
        )
    )
    return totals.crossJoin(F.broadcast(uniq)).select(
        "n_blobs",
        "n_chunks",
        "n_distinct_chunks",
        "total_bytes",
        "unique_bytes",
        F.round(
            F.col("unique_bytes").cast("double") / F.col("total_bytes"), 6
        ).alias("dedup_ratio"),
    )


# ==========================================================================
# [EXT] file-format round trips: JSONL and CSV with malformed-record
# capture, ORC, parquet schema evolution.  Each writes the events slice
# to a scratch dir, reads it back and collects the rollup before the dir
# is removed.
# ==========================================================================

_CORRUPT_ROLLUP_SQL = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT '__corrupt__', 1, NULL
    """


def _corrupt_rollup(
    spark: SparkSession, fmt: str, src: str, **options
) -> DataFrame:
    """Read ``src`` back as ``fmt`` under an EXPLICIT events schema in
    PERMISSIVE mode with ``columnNameOfCorruptRecord`` and roll it up
    per event_type in one aggregate, every malformed line counted in
    one ``__corrupt__`` row.  Collected here, so the caller may remove
    ``src`` afterwards."""
    back = (
        spark.read.schema(
            "event_id long, event_type string, value double, _corrupt string"
        )
        .options(
            mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt", **options
        )
        .format(fmt)
        .load(src)
    )
    good = F.col("_corrupt").isNull()
    rows = (
        back.groupBy(
            F.when(good, F.col("event_type"))
            .otherwise(F.lit("__corrupt__"))
            .alias("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(good, F.col("value").cast("decimal(18,2)")))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    )
    return spark.createDataFrame(
        rows, "event_type string, n_events long, total_value double"
    )


@register("jsonl_roundtrip_decode", sql=_CORRUPT_ROLLUP_SQL)
def jsonl_roundtrip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] JSONL source with malformed-record capture: the events slice
    round-trips through newline-delimited JSON on disk (the corpus
    interchange format), is read back under an EXPLICIT schema in
    PERMISSIVE mode with ``columnNameOfCorruptRecord``, and a planted
    malformed line must surface in the corrupt bucket instead of
    failing the scan or silently vanishing — the file-source analogue
    of the Avro malformed-frame check (``runner.py``). Doubles survive
    the round-trip exactly (Spark writes shortest-round-trip reprs);
    the rollup is DECIMAL-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    with _scratch_dir("jsonl_") as tmp:
        src = os.path.join(tmp, "events_jsonl")
        ev.coalesce(4).write.mode("overwrite").json(src)
        with open(os.path.join(src, "part-corrupt.json"), "w") as f:
            f.write(
                '{"event_id": 1, "event_type": "purchase", "value": oops}\n'
            )
        return _corrupt_rollup(spark, "json", src)


@register("csv_roundtrip_decode", sql=_CORRUPT_ROLLUP_SQL)
def csv_roundtrip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CSV source with malformed-record capture — the third file
    interchange format next to parquet and JSONL
    (`jsonl_roundtrip_decode`): the events slice round-trips through
    headered CSV, is read back under an EXPLICIT schema in PERMISSIVE
    mode with ``columnNameOfCorruptRecord``, and a planted
    unparseable-value line must surface in the corrupt bucket instead of
    failing the scan or silently vanishing. Doubles survive the
    round-trip exactly (Spark writes shortest-round-trip reprs); the
    rollup is DECIMAL-exact. The planted file carries its own header
    line because ``header=true`` drops the first line of EVERY file."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    with _scratch_dir("csv_") as tmp:
        src = os.path.join(tmp, "events_csv")
        ev.coalesce(4).write.mode("overwrite").option("header", True).csv(src)
        with open(os.path.join(src, "part-corrupt.csv"), "w") as f:
            f.write(
                "event_id,event_type,value\n9999999,purchase,not_a_number\n"
            )
        return _corrupt_rollup(spark, "csv", src, header=True)


@register(
    "orc_roundtrip_decode",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def orc_roundtrip_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ORC source/sink — the fourth file interchange format beside
    parquet, JSONL and CSV: the events slice round-trips through ORC
    (written with a bloom-filter index on ``event_type`` and dictionary
    encoding, the knobs a 100 TB lake actually sets) and the read-back
    rollup must be DECIMAL-exact against the parquet original.  ORC is
    a first-class Spark source with the same predicate-pushdown /
    column-pruning path as parquet, so the scan stays pruned at scale;
    doubles survive the round-trip bit-exactly (ORC stores IEEE 754)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    with _scratch_dir("orc_") as tmp:
        src = os.path.join(tmp, "events_orc")
        (
            ev.coalesce(4)
            .write.mode("overwrite")
            .option("orc.bloom.filter.columns", "event_type")
            .option("orc.dictionary.key.threshold", "1.0")
            .orc(src)
        )
        rows = (
            spark.read.orc(src)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .collect()
        )
    return spark.createDataFrame(
        rows, "event_type string, n_events long, n_users long, total_value double"
    )


@register(
    "parquet_schema_evolution",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_user,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Schema-evolution read: two parquet batches written under
    DIFFERENT schemas (an early batch without ``user_id``, a later one
    with it — the additive-column drift every long-lived feed
    accumulates) unified by ``mergeSchema=true``.  Rows from the old
    batch must surface with ``user_id`` NULL rather than failing the
    scan or silently dropping the column; the oracle states the
    expectation arithmetically (exactly the odd-``event_id`` rows carry
    a user).  This is the batch-file analogue of the Kafka path's
    multi-schema-id Avro decode — scan-level tolerance to additive
    schema change, with the footer-merge cost paid once at planning."""
    ev = load_table(spark, sf_dir, "events")
    with _scratch_dir("pqevo_") as tmp:
        src = os.path.join(tmp, "events_evo")
        ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type", "value"
        ).coalesce(2).write.parquet(os.path.join(src, "batch=1"))
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "value", "user_id"
        ).coalesce(2).write.parquet(os.path.join(src, "batch=2"))
        rows = (
            spark.read.option("mergeSchema", True)
            .parquet(src)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count("user_id").alias("n_with_user"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_value"),
            )
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "event_type string, n_events long, n_with_user long, total_value double",
    )


@register(
    "events_anomaly_mad",
    sql="""
    WITH cents AS (
        SELECT event_id, event_type, value,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ), med AS (
        SELECT event_type, quantile_cont(c, 0.5) AS m
        FROM cents GROUP BY event_type
    ), mad AS (
        SELECT c.event_type, quantile_cont(abs(c.c - m.m), 0.5) AS d
        FROM cents c JOIN med m USING (event_type)
        GROUP BY c.event_type
    )
    SELECT c.event_id, c.event_type, c.value,
           m.m AS median_cents, d.d AS mad_cents
    FROM cents c
    JOIN med m USING (event_type)
    JOIN mad d ON d.event_type = c.event_type
    WHERE d.d > 0 AND abs(c.c - m.m) > 6 * d.d
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Robust outlier flagging on median/MAD instead of mean/σ:
    an event is anomalous when its cent-quantized value deviates from
    its event type's median by more than 6× the median absolute
    deviation.  Complements ``events_anomaly_zscore`` (rolling
    per-user z-score) with the 50%-breakdown-point estimator a heavy-
    tailed metric needs — one planted whale order shifts a mean/σ gate,
    but not this one.

    Scale shape (``ext/stats.keyed_median_mad``): exact per-group
    medians WITHOUT Spark's value-buffering ``percentile`` aggregate —
    two map-side-combinable counting shuffles over the quantized domain
    (bounded by |event types| × |distinct cents|, independent of corpus
    rows), a window over that small counts frame, then one broadcast-
    sized stats join back onto the events.  Every quantity is a dyadic
    rational (medians are halves, MADs quarters), so the DuckDB
    ``quantile_cont`` replay is bit-identical."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    st = xstats.keyed_median_mad(
        cents.select("event_type", "c"),
        "event_type",
        "c",
        "median_cents",
        "mad_cents",
    )
    j = cents.join(st, "event_type")
    return j.filter(
        (F.col("mad_cents") > 0)
        & (F.abs(F.col("c") - F.col("median_cents")) > 6 * F.col("mad_cents"))
    ).select("event_id", "event_type", "value", "median_cents", "mad_cents")


@register(
    "winsorized_value_stats",
    sql="""
    WITH cents AS (
        SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ), ranked AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type ORDER BY c) AS r,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM cents
    ), caps AS (
        SELECT event_type,
               MAX(CASE WHEN r = (5 * n + 99) // 100 THEN c END) AS p05_cents,
               MAX(CASE WHEN r = n - (5 * n + 99) // 100 + 1 THEN c END)
                   AS p95_cents,
               MAX(n) AS n_events
        FROM ranked GROUP BY event_type
    )
    SELECT c.event_type, caps.n_events, caps.p05_cents, caps.p95_cents,
           ROUND(AVG(LEAST(GREATEST(c.c, caps.p05_cents), caps.p95_cents)), 6)
               AS winsor_mean_cents,
           CAST(SUM(CASE WHEN c.c BETWEEN caps.p05_cents AND caps.p95_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN c.c BETWEEN caps.p05_cents AND caps.p95_cents
                               THEN c.c END) AS DOUBLE)
                 / SUM(CASE WHEN c.c BETWEEN caps.p05_cents AND caps.p95_cents
                            THEN 1 ELSE 0 END), 6) AS trimmed_mean_cents
    FROM cents c JOIN caps USING (event_type)
    GROUP BY c.event_type, caps.n_events, caps.p05_cents, caps.p95_cents
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Winsorized + trimmed KPI rollup: per event type, the mean
    with values clamped to the nearest-rank [p05, p95] caps, and the
    mean with values outside the caps dropped — the two standard
    tail-robust aggregates for revenue metrics where a single whale or
    a refund glitch distorts a plain AVG.

    Cap ranks are pure integer arithmetic (``ceil(0.05·n)`` as
    ``(5n+99) div 100`` — no float quantile positions), cap VALUES come
    from the ``ext/stats`` counting kernel (no per-group value
    buffering), and the trim predicate is value-based (``BETWEEN`` the
    caps) so ties at the cap are deterministic in any engine.  Means
    divide exact integer sums (< 2⁵³) — bit-identical cross-engine."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
    )
    caps = xstats.keyed_values_at_ranks(
        cents,
        "event_type",
        "c",
        {
            "p05_cents": "(5 * __n + 99) div 100",
            "p95_cents": "__n - (5 * __n + 99) div 100 + 1",
        },
        with_total="n_events",
    )
    j = cents.join(caps, "event_type")
    clamped = F.least(F.greatest(F.col("c"), F.col("p05_cents")), F.col("p95_cents"))
    kept = F.col("c").between(F.col("p05_cents"), F.col("p95_cents"))
    return j.groupBy("event_type", "n_events", "p05_cents", "p95_cents").agg(
        F.round(F.avg(clamped), 6).alias("winsor_mean_cents"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(kept, F.col("c"))).cast("double")
            / F.sum(F.when(kept, 1).otherwise(0)),
            6,
        ).alias("trimmed_mean_cents"),
    ).select(
        "event_type",
        "n_events",
        "p05_cents",
        "p95_cents",
        "winsor_mean_cents",
        "n_kept",
        "trimmed_mean_cents",
    )


@register(
    "source_drift_ks",
    sql="""
    WITH cents AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END AS s
        FROM events
    ), cnt AS (
        SELECT event_type, c,
               CAST(SUM(s) AS BIGINT) AS a,
               CAST(SUM(1 - s) AS BIGINT) AS b
        FROM cents GROUP BY event_type, c
    ), cum AS (
        SELECT event_type,
               SUM(a) OVER (PARTITION BY event_type ORDER BY c) AS ca,
               SUM(b) OVER (PARTITION BY event_type ORDER BY c) AS cb
        FROM cnt
    ), tot AS (
        SELECT event_type,
               CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
        FROM cnt GROUP BY event_type
    )
    SELECT cum.event_type, tot.na AS n_early, tot.nb AS n_late,
           CAST(MAX(ABS(cum.ca * tot.nb - cum.cb * tot.na)) AS BIGINT)
               AS ks_num,
           ROUND(CAST(MAX(ABS(cum.ca * tot.nb - cum.cb * tot.na)) AS DOUBLE)
                 / CAST(tot.na * tot.nb AS DOUBLE), 6) AS ks_stat
    FROM cum JOIN tot USING (event_type)
    GROUP BY cum.event_type, tot.na, tot.nb
    """,
)
def source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distribution-drift monitor: per event type, the two-sample
    Kolmogorov–Smirnov statistic between the value distributions of the
    first and second half of the ingest window (cut at a fixed
    mid-month timestamp).  The canonical "did this feed change under
    me" check a curation pipeline runs between snapshots before
    retraining — PSI-style binned approximations need bin tuning; KS on
    the quantized domain is exact.

    ``ext/stats.keyed_ks_two_sample``: one combinable counts shuffle
    keyed on (event_type, cents) — never a sort of raw rows — then a
    CDF window over the bounded counts frame.  ``D`` is emitted as the
    integer numerator ``max|cumA·n_B − cumB·n_A|`` (engine-independent)
    plus the rounded ratio."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    sides = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("c"),
        (F.col("ts") < cut).alias("__early"),
    )
    return xstats.keyed_ks_two_sample(
        sides,
        "event_type",
        "c",
        "__early",
        n_a="n_early",
        n_b="n_late",
        ks_num="ks_num",
        ks_stat="ks_stat",
    )


@register(
    "ngram_containment_pairs",
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
           CAST(c AS DOUBLE) / na.n AS containment_a,
           CAST(c AS DOUBLE) / nb.n AS containment_b
    FROM shared
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE GREATEST(CAST(c AS DOUBLE) / na.n, CAST(c AS DOUBLE) / nb.n) >= 0.5
    """,
)
def ngram_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] exact 3-gram CONTAINMENT pairs (Broder's asymmetric
    near-dup measure): documents ≥50% contained in another — the
    quote/excerpt/boilerplate duplication class that symmetric Jaccard
    under-scores when lengths differ.  Same inverted-index join and
    stop-shingle DF cap as ``ngram_jaccard_pairs`` (cap 50 is above the
    fixture's max shingle DF, so the exact-oracle answer is unchanged
    while the registered plan is the bucket-bounded one)."""
    docs = load_table(spark, sf_dir, "documents")
    return xdedup.ngram_containment_pairs(
        docs, "doc_id", "text", ngram=3, threshold=0.5, max_doc_freq=50
    )


@register(
    "token_frequency_profile",
    sql=r"""
    WITH w AS (
        SELECT source, unnest(regexp_extract_all(text, '\S+')) AS tok
        FROM documents
    ), freq AS (
        SELECT source, tok, COUNT(*) AS c FROM w GROUP BY source, tok
    ), fm AS (
        SELECT source, c, COUNT(*) AS m FROM freq GROUP BY source, c
    ), b AS (
        SELECT source, c, m,
               SUM(m) OVER (PARTITION BY source ORDER BY c) AS hi
        FROM fm
    ), agg AS (
        SELECT source,
               CAST(SUM(m) AS BIGINT) AS vocab,
               CAST(SUM(c * m) AS BIGINT) AS total,
               CAST(SUM(c * m * (2 * hi - m + 1)) AS BIGINT) AS g2,
               CAST(SUM(m * c * c) AS BIGINT) AS coll
        FROM b GROUP BY source
    )
    SELECT source, vocab AS vocab_size, total AS total_tokens,
           ROUND(CAST(g2 - (vocab + 1) * total AS DOUBLE)
                 / CAST(vocab * total AS DOUBLE), 6) AS gini,
           coll AS collision_sum,
           CAST(coll AS DOUBLE) / (CAST(total AS DOUBLE) * total)
               AS simpson_index,
           ROUND(CAST(vocab AS DOUBLE) / total, 6) AS type_token_ratio
    FROM agg
    """,
)
def token_frequency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-source vocabulary concentration profile: Gini
    coefficient of the token-frequency distribution (how head-heavy the
    vocabulary is — template/boilerplate sources score high), the
    collision/Simpson index (Rényi-2 diversity: Σ(c/total)² — the
    corpus-diversity measure mixture recipes balance on; Rényi-2
    entropy in nats is ``-ln(simpson_index)``, left to the consumer),
    and type-token ratio.  The trio a curation pipeline reads before
    weighting a source into a pretraining mix.

    Exactness: bit-exact BY CONSTRUCTION — every compared column is
    either an exact BIGINT (vocab, total, collision_sum = Σ m·c²) or
    correctly-rounded IEEE arithmetic over those exact integers in the
    same association order in both engines (gini, simpson_index,
    type_token_ratio).  The rank sum uses the tie-safe identity
    ``Σ 2i·x = Σ_f f·m_f·(lo_f+hi_f)`` over the counts-OF-counts frame
    (tokens sharing a frequency share a rank interval —
    ``ext/stats.keyed_rank_bounds``), so nothing is ever sorted
    row-wise.  This replaced the earlier micronat-quantized Shannon
    entropy whose cross-engine equality relied on libm ``ln`` and was
    only probabilistic.
    The heavy passes are two combinable shuffles (token counts,
    counts-of-counts) whose outputs are bounded by vocabulary size,
    not corpus rows.

    Exactness preconditions: Spark sums BIGINT with silent int64
    wraparound while DuckDB aggregates in HUGEINT, so the engines agree
    only while Σ m·c² < 2^63 (collision_sum) — per source, that allows
    e.g. a trillion-token vocabulary with max token frequency ~3e9 —
    and the simpson/type-token doubles are bit-exact only while
    total < 2^53 (exact integer→double conversion).  Far beyond any
    per-source corpus this pipeline targets, but a >2^63 Σ m·c² needs
    the sum lifted to decimal(38,0) in both engines."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(xtext.tokens(F.col("text"))).alias("tok")
    )
    freq = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    bounds = xstats.keyed_rank_bounds(
        freq.select("source", "c"), "source", "c"
    )
    m = F.col("__cnt")
    agg = bounds.groupBy("source").agg(
        F.sum(m).alias("vocab"),
        F.sum(F.col("c") * m).alias("total"),
        F.sum(F.col("c") * m * (F.col("__lo") + F.col("__hi"))).alias("g2"),
        F.sum(m * F.col("c") * F.col("c")).alias("coll"),
    )
    return agg.select(
        "source",
        F.col("vocab").alias("vocab_size"),
        F.col("total").alias("total_tokens"),
        F.round(
            (F.col("g2") - (F.col("vocab") + 1) * F.col("total")).cast("double")
            / (F.col("vocab") * F.col("total")).cast("double"),
            6,
        ).alias("gini"),
        F.col("coll").alias("collision_sum"),
        (
            F.col("coll").cast("double")
            / (F.col("total").cast("double") * F.col("total"))
        ).alias("simpson_index"),
        F.round(F.col("vocab").cast("double") / F.col("total"), 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "quality_length_spearman",
    sql=r"""
    WITH base AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS x,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS y
        FROM documents
    ), r AS (
        SELECT lang,
               2 * rank() OVER (PARTITION BY lang ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY lang, x) AS ax0,
               2 * rank() OVER (PARTITION BY lang ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY lang, y) AS by0,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM base
    ), c AS (
        SELECT lang, n,
               CAST(ax0 - n - 2 AS BIGINT) AS a,
               CAST(by0 - n - 2 AS BIGINT) AS b
        FROM r
    )
    SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
           CASE WHEN SUM(a * a) > 0 AND SUM(b * b) > 0 THEN
               ROUND(CAST(SUM(a * b) AS DOUBLE)
                     / (sqrt(CAST(SUM(a * a) AS DOUBLE))
                        * sqrt(CAST(SUM(b * b) AS DOUBLE))), 6)
           END AS spearman_rho
    FROM c GROUP BY lang
    """,
)
def quality_length_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-language Spearman rank correlation between document
    length in characters and whitespace token count — the monotone-
    association check (rank-based, outlier-immune) a pipeline runs
    between any two quality signals before using one to gate on the
    other.  Near +1 here (longer docs have more tokens) — the point is
    the operator: any two integral doc signals plug in.

    Tie-averaged ranks come from ``ext/stats.keyed_rank_bounds``
    intervals ((lo+hi)/2, kept doubled = lo+hi to stay integral) and
    are CENTERED (a = lo+hi−(n+1)), which zeroes the rank means exactly
    (Σa = 0), so ρ = Σab / (√Σa²·√Σb²) over pure BIGINT sums — no float
    means, both engines' IEEE sqrt/divide agree bit-for-bit.  Exact
    while per-key counts stay under ~2M rows (n³ < 2⁶³); the two rank
    frames are domain-bounded, never a row-wise sort."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint: the (lang, x, y) signal frame feeds both rank
    # passes, the count and the final join — four consumers, each of
    # which would otherwise re-tokenize every document; the frame itself
    # is three narrow columns
    base = docs.select(
        "lang",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(xtext.tokens(F.col("text"))).cast("bigint").alias("y"),
    ).localCheckpoint(eager=False)
    bx = xstats.keyed_rank_bounds(base.select("lang", "x"), "lang", "x").select(
        "lang", "x", (F.col("__lo") + F.col("__hi")).alias("a2")
    )
    by = xstats.keyed_rank_bounds(base.select("lang", "y"), "lang", "y").select(
        "lang", "y", (F.col("__lo") + F.col("__hi")).alias("b2")
    )
    tot = base.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    j = (
        base.join(bx, ["lang", "x"])
        .join(by, ["lang", "y"])
        .join(tot, "lang")
        .select(
            "lang",
            "n",
            (F.col("a2") - F.col("n") - 1).alias("a"),
            (F.col("b2") - F.col("n") - 1).alias("b"),
        )
    )
    agg = j.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    rho = F.round(
        F.col("sab").cast("double")
        / (
            F.sqrt(F.col("saa").cast("double"))
            * F.sqrt(F.col("sbb").cast("double"))
        ),
        6,
    )
    return agg.select(
        "lang",
        "n_docs",
        F.when((F.col("saa") > 0) & (F.col("sbb") > 0), rho).alias(
            "spearman_rho"
        ),
    )


@register(
    "link_graph_triangles",
    sql="""
    WITH nn AS (SELECT COUNT(*) AS ni FROM documents),
    gg AS (SELECT unnest([1, 2, 3]) AS g),
    e AS (
        SELECT DISTINCT d.doc_id AS src, (d.doc_id * 31 + gg.g) % nn.ni AS dst
        FROM documents d, nn, gg
        WHERE (d.doc_id * 31 + gg.g) % nn.ni <> d.doc_id
    ),
    und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
            FROM e),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1
        JOIN und e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    tn AS (SELECT node, COUNT(*) AS t
           FROM (SELECT unnest([a, b, c]) AS node FROM tri) q GROUP BY node),
    deg AS (SELECT node, COUNT(*) AS d
            FROM (SELECT u AS node FROM und
                  UNION ALL SELECT v AS node FROM und) q
            GROUP BY node)
    SELECT deg.node AS doc_id,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN ROUND(2.0 * COALESCE(tn.t, 0) / (deg.d * (deg.d - 1)), 6)
           END AS clustering_coeff
    FROM deg LEFT JOIN tn ON tn.node = deg.node
    """,
)
def link_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-node exact triangle counts + local clustering
    coefficient over the same deterministic synthesized link graph as
    ``link_graph_pagerank`` — the second graph-centrality signal
    web-corpus curation reads (link-farm / spam-cluster detection keys
    on abnormal clustering; community density guides domain grouping).

    ``ext/graph.triangle_counts`` runs the degree-ordered node-iterator
    (Suri & Vassilvitskii WWW'11): undirected edges oriented
    low→high (degree, id), wedges from a source-keyed self-join, one
    closure semi-join against the canonical edge set.  The ordering
    bounds every oriented out-degree at O(√m) so wedge volume is
    O(m^{3/2}) with no hot key — a naive shared-neighbor join on a
    100 TB-scale web graph dies on its celebrity nodes; this shape is
    the standard fix.  The oracle enumerates each triangle once as
    u<v<w over the same edge set."""
    from dvh_airflow_kafka_spark.ext import graph as xgraph

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("g"),
        )
        .withColumn("dst", (F.col("src") * 31 + F.col("g")) % F.lit(n))
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
    )
    t = xgraph.triangle_counts(edges, out_node="doc_id")
    return t.select(
        "doc_id",
        F.col("degree").cast("bigint").alias("degree"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0)
                * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).alias("clustering_coeff"),
    )


@register(
    "l_diversity_audit",
    sql="""
    SELECT event_type,
           strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           COUNT(*) AS group_size,
           COUNT(DISTINCT CAST(floor(value / 100) AS BIGINT)) AS n_sensitive
    FROM events
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT CAST(floor(value / 100) AS BIGINT)) < 3
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] l-diversity audit — k-anonymity's complement (Machanavajjhala
    et al., 'l-diversity: privacy beyond k-anonymity', ICDE'06): a
    quasi-identifier group can be large (k-anonymous) yet still leak if
    everyone in it shares the same SENSITIVE value — here the spend band
    ``floor(value/100)``.  Groups on (event_type, day, hour) backed by
    fewer than l=3 distinct bands are homogeneity-attack risks the
    release must generalise.  Same O(|QI|) map-side-combined aggregate
    shape as ``k_anonymity_audit``; together they form the release
    gate the reference's kode-6/7 duty implies."""
    ev = load_table(spark, sf_dir, "events")
    band = F.floor(F.col("value") / 100).cast("bigint")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
            F.hour(F.col("ts")).cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.count_distinct(band).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < 3)
    )


@register(
    "token_pmi_collocations",
    sql=r"""
    WITH w AS (SELECT regexp_extract_all(text, '\S+') AS wl FROM documents),
    w2 AS (SELECT wl FROM w WHERE len(wl) >= 2),
    uni AS (SELECT unnest(wl) AS tok FROM w2),
    uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    ut AS (SELECT CAST(COUNT(*) AS BIGINT) AS u FROM uni),
    big AS (SELECT unnest(list_transform(range(1, len(wl)),
                                         i -> wl[i] || ' ' || wl[i+1]))
                AS bigram
            FROM w2),
    bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cab
           FROM big GROUP BY bigram),
    bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM big),
    j AS (SELECT bc.bigram, bc.cab, ua.c AS ca, ub.c AS cb
          FROM bc
          JOIN uc ua ON ua.tok = split_part(bc.bigram, ' ', 1)
          JOIN uc ub ON ub.tok = split_part(bc.bigram, ' ', 2)
          WHERE bc.cab >= 5)
    SELECT bigram, cab AS n_occurrences, ca AS left_count, cb AS right_count,
           (CAST(cab AS DOUBLE) * u * u) / (CAST(b AS DOUBLE) * ca * cb)
               AS pmi_ratio
    FROM j, ut, bt
    ORDER BY pmi_ratio DESC, bigram
    LIMIT 50
    """,
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Collocation mining: top-50 adjacent-token bigrams by
    pointwise mutual information (Church & Hanks, 'Word association
    norms, mutual information, and lexicography', CL 1990) with a
    min-count floor of 5 — the multi-word-expression detector tokenizer
    vocab construction and boilerplate analysis both read.  ADJACENT
    bigrams only, so candidate volume is linear in corpus tokens (never
    the quadratic all-pairs co-occurrence matrix).

    Plan: two combinable counting shuffles (unigrams, bigrams) bounded
    by vocabulary, two vocabulary-keyed joins to attach marginals, and
    a top-k that runs as per-partition heads + one merge
    (TakeOrderedAndProject — no global sort).

    Exactness: bit-exact BY CONSTRUCTION.  ``ln`` is monotone, so
    ranking by the PMI *ratio* ``cab·u²/(b·ca·cb)`` is the same order
    as ranking by PMI itself — and the ratio is correctly-rounded IEEE
    mul/div over exact integers evaluated in the same association order
    in both engines, hence identical to the last bit (ties at the cut
    rank break on the bigram string).  The emitted columns are the
    integer spine (counts, marginals) plus that bit-exact ratio;
    display PMI is ``ln(pmi_ratio)``, left to the consumer so no libm
    call participates in the correctness gate.  This replaced the
    earlier rounded-``ln`` output whose cross-engine equality was only
    probabilistic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(xtext.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    uni = toks.select(F.explode(F.col("toks")).alias("tok"))
    # localCheckpoint: the unigram-marginal frame joins twice (one per
    # bigram side) — materialize it once instead of relying on
    # session-state-sensitive exchange reuse
    uc = (
        uni.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    big = toks.select(
        F.explode(xtext.word_ngrams_from_tokens(F.col("toks"), 2)).alias(
            "bigram"
        )
    )
    bc = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("cab"))
    u_total, b_total = (
        uni.count(),
        big.count(),
    )  # bounded scalar aggregates (two longs)
    j = (
        bc.filter(F.col("cab") >= 5)
        .join(
            uc.select(F.col("tok").alias("__t1"), F.col("c").alias("ca")),
            F.split(F.col("bigram"), " ")[0] == F.col("__t1"),
        )
        .join(
            uc.select(F.col("tok").alias("__t2"), F.col("c").alias("cb")),
            F.split(F.col("bigram"), " ")[1] == F.col("__t2"),
        )
    )
    pmi_ratio = (
        F.col("cab").cast("double") * F.lit(u_total) * F.lit(u_total)
    ) / (F.lit(float(b_total)) * F.col("ca") * F.col("cb"))
    return (
        j.select(
            "bigram",
            F.col("cab").alias("n_occurrences"),
            F.col("ca").alias("left_count"),
            F.col("cb").alias("right_count"),
            pmi_ratio.alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "bigram")
        .limit(50)
    )


@register(
    "fixed_k_per_group_sample",
    sql="""
    WITH h AS (
        SELECT doc_id, lang, source, n_chars,
               substr(sha256('evalk1' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS hk
        FROM documents
    ), r AS (
        SELECT doc_id, lang, source, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
                   AS rn
        FROM h
    )
    SELECT doc_id, lang, source, n_chars
    FROM r WHERE rn <= 20
    """,
)
def fixed_k_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact-k stratified sample: exactly 20 documents per
    language, chosen by ranking a salted sha256 of the id within each
    stratum — the eval-set construction shape ("k examples per
    language/domain, reproducibly") where fraction-based Bernoulli
    sampling (``events_stratified_sample``) can't guarantee the count.
    Seeded, data-independent, engine-replayable: same corpus → same
    sample anywhere, and adding documents only perturbs the sample by
    the hash order (bounded churn), unlike rand()-based takes.

    One window keyed on the stratum — strata are languages (balanced,
    low-skew), and rank state is O(1) per task.  At extreme per-stratum
    skew the two-pass rank (``ext/ranking``) substitutes."""
    docs = load_table(spark, sf_dir, "documents")
    hk = F.substring(
        F.sha2(F.concat(F.lit("evalk1"), F.col("doc_id").cast("string")), 256),
        1,
        8,
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        docs.select("doc_id", "lang", "source", "n_chars", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "events_cusum_drift",
    sql="""
    WITH c AS (
        SELECT user_id, event_id, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) - 25000 AS d
        FROM events WHERE event_type = 'purchase'
    ), p AS (
        SELECT user_id, event_id, ts,
               CAST(SUM(d) OVER w AS BIGINT) AS ps,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM c
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ), s AS (
        SELECT user_id, event_id, rn,
               ps - LEAST(0, CAST(MIN(ps) OVER w AS BIGINT)) AS cusum
        FROM p
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum_cents,
           CAST(SUM(CASE WHEN cusum > 5000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms,
           arg_min(event_id, rn) FILTER (WHERE cusum > 5000)
               AS first_alarm_event
    FROM s GROUP BY user_id
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user CUSUM drift detection on purchase spend (Page,
    'Continuous inspection schemes', Biometrika 1954): the sequential
    change-point statistic ``S_i = max(0, S_{i-1} + (x_i − k))`` with
    reference k = 250.00 and alarm threshold h = 50.00 — flags users
    whose spend RUNS persistently above reference (a fraud/abuse burst)
    where a per-event z-score only sees isolated spikes.

    The recurrence looks inherently sequential, but the reflection
    identity ``S_i = P_i − min(0, min_{j≤i} P_j)`` (P = running sum of
    deviations) turns it into two stacked running windows over ONE
    user-keyed partition — a single exchange, state O(1) per task, all
    integer cents.  The oracle replays the identical identity.
    ``first_alarm_event`` is the arg-min of event_id under the window's
    own (ts, event_id) total order — the TEMPORALLY first alarm, correct
    even when event ids are not monotone in time."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint") - 25000).alias(
            "d"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = c.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("d").over(w).alias("ps"),
        F.row_number().over(wo).alias("rn"),
    )
    s = p.select(
        "user_id",
        "event_id",
        "rn",
        (
            F.col("ps") - F.least(F.lit(0).cast("bigint"), F.min("ps").over(w))
        ).alias("cusum"),
    )
    alarm = F.col("cusum") > 5000
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("cusum").alias("max_cusum_cents"),
        F.sum(F.when(alarm, 1).otherwise(0)).alias("n_alarms"),
        F.min_by(
            F.col("event_id"), F.when(alarm, F.col("rn"))
        ).alias("first_alarm_event"),
    )


@register(
    "session_association_rules",
    sql="""
    WITH b AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day, event_type
        FROM events
    ), n AS (
        SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n_baskets
        FROM b
    ), m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM b GROUP BY event_type
    ), pairs AS (
        SELECT a.event_type AS item_a, bb.event_type AS item_b,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM b a
        JOIN b bb ON a.user_id = bb.user_id AND a.day = bb.day
                  AND a.event_type < bb.event_type
        GROUP BY a.event_type, bb.event_type
    )
    SELECT item_a, item_b, c_ab AS n_baskets_both,
           ROUND(CAST(c_ab AS DOUBLE) / n.n_baskets, 6) AS support,
           ROUND(CAST(c_ab AS DOUBLE) / ma.c, 6) AS confidence_a_to_b,
           ROUND(CAST(c_ab AS DOUBLE) * n.n_baskets / (ma.c * mb.c), 6)
               AS lift
    FROM pairs
    JOIN m ma ON ma.event_type = item_a
    JOIN m mb ON mb.event_type = item_b
    CROSS JOIN n
    """,
)
def session_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Market-basket association rules over daily user activity
    baskets: for every event-type pair, support, confidence(a→b) and
    lift (Agrawal & Srikant's frequent-itemset metrics, VLDB'94) —
    which behaviours co-occur in a user-day beyond chance.

    The basket self-join is per-(user, day) with ≤|event types| items
    per basket, so pair generation is bounded at C(|types|, 2) per
    basket — linear in baskets, never a global cross join; marginals
    and the basket count attach by broadcast-sized joins.  Every metric
    divides exact BIGINT counts, rounded identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint: the distinct basket frame feeds the basket count,
    # the marginals and BOTH sides of the self-join — four consumers,
    # each otherwise re-running the events scan + distinct shuffle
    b = (
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type",
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_baskets = b.select("user_id", "day").distinct().count()
    m = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    l, r = b.alias("l"), b.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("l.day") == F.col("r.day"))
            & (F.col("l.event_type") < F.col("r.event_type")),
        )
        .groupBy(
            F.col("l.event_type").alias("item_a"),
            F.col("r.event_type").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    j = pairs.join(
        m.select(F.col("event_type").alias("item_a"), F.col("c").alias("ca")),
        "item_a",
    ).join(
        m.select(F.col("event_type").alias("item_b"), F.col("c").alias("cb")),
        "item_b",
    )
    return j.select(
        "item_a",
        "item_b",
        F.col("c_ab").alias("n_baskets_both"),
        F.round(F.col("c_ab").cast("double") / F.lit(n_baskets), 6).alias(
            "support"
        ),
        F.round(F.col("c_ab").cast("double") / F.col("ca"), 6).alias(
            "confidence_a_to_b"
        ),
        F.round(
            F.col("c_ab").cast("double")
            * F.lit(n_baskets)
            / (F.col("ca") * F.col("cb")),
            6,
        ).alias("lift"),
    )


@register(
    "streaming_left_outer_join",
    sql="""
    SELECT p.event_id AS purchase_id,
           e.event_id AS error_id,
           p.user_id,
           CASE WHEN e.event_id IS NOT NULL
                THEN epoch_us(p.ts) - epoch_us(e.ts) END AS lag_us
    FROM events p
    LEFT JOIN events e
      ON p.user_id = e.user_id
     AND e.event_type = 'error'
     AND e.ts <= p.ts
     AND e.ts > p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
    """,
)
def streaming_left_outer_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] LEFT OUTER stream-stream interval join, drained for real:
    every purchase attributed to the same user's errors in the
    preceding 30 minutes — AND purchases with no such error emitted
    with NULLs, which is the semantically hard half: an unmatched row
    may only emit once the watermark proves no match can still arrive,
    and since batch N's watermark comes from batches < N, the tail of
    the stream only flushes when LATER batches advance the watermark
    past it.  The drain stages the events ts-ordered (so nothing is
    late-dropped) plus two far-future sentinel batches that push the
    watermark past all real data and give the engine the extra
    micro-batches outer emission needs; sentinels are filtered from
    the result.  Batch order is pinned by ``_staged_stream_src``'s
    strictly-increasing whole-second mtime re-stamp, so a ms-granularity
    mtime tie can never let a sentinel batch precede a data batch and
    late-drop real purchases.  Oracled by the batch LEFT JOIN — an exact
    match certifies both the matched pairs AND the complete, exactly-once
    emission of the unmatched tail."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        interval_join_streams_left_outer,
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )

    def _write(src: str) -> None:
        # one-job ts-ranged staging: disjoint increasing ts ranges,
        # mtime-ordered — nothing arrives behind the watermark.  The
        # batch COUNT scales with volume (>=3, ~50k rows per batch) so
        # per-batch state stays bounded by the 30-minute watermark
        # window over a bounded slice, never by corpus size — the
        # micro-batch-sizing knob (maxFilesPerTrigger) a production
        # stream turns; evidenced by tools/scaling_probe.py stream mode
        # (loj max_state_rows flat as events replicate 4x).  At sf<=0.1
        # this stays exactly 3 batches, the certified drain shape.
        stats = ev.agg(
            F.count(F.lit(1)).alias("n"), F.max("ts").alias("mx")
        ).collect()[0]
        n_batches = max(3, -(-int(stats["n"]) // 50_000))
        _staged_range_write(ev, src, n_batches, "ts")
        # Sentinels must reach BOTH input streams: the join's effective
        # watermark is the MINIMUM across its watermarked inputs
        # (multipleWatermarkPolicy=min), so advancing only one side
        # would never flush the other's outer tail.  TWO sentinel batches
        # suffice deterministically: after batch s1 the watermark sits at
        # max+1d−30min > every real ts, and processing batch s2 under
        # that watermark evicts all real-data state, emitting the outer
        # tail; s2's own unmatched rows are the filtered sentinels.
        max_ts = stats["mx"]
        for i in range(1, 3):
            sent = spark.createDataFrame(
                [
                    (-2 * i, -1, "purchase", max_ts + dt.timedelta(days=i)),
                    (-2 * i - 1, -1, "error", max_ts + dt.timedelta(days=i)),
                ],
                "event_id long, user_id long, event_type string, ts timestamp",
            )
            sent.coalesce(1).write.mode("append").parquet(src)

    src = _staged_stream_src("stream_loj", sf_dir, _write)
    purchases = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    errors = read_event_stream(spark, src).filter(
        F.col("event_type") == "error"
    )
    joined = interval_join_streams_left_outer(
        purchases, errors, key="user_id", max_lag="30 minutes"
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("error_id"),
        F.col("l.user_id").alias("user_id"),
        (F.unix_micros(F.col("l.ts")) - F.unix_micros(F.col("r.ts"))).alias(
            "lag_us"
        ),
    )
    out = run_drain(joined, shuffle_partitions=4).table
    return out.filter(F.col("user_id") >= 0)


