"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

from dvh_airflow_kafka_spark.ext import text as xtext
from dvh_airflow_kafka_spark.io import load_table
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    _staged_range_write,
    _staged_stream_src,
    register,
)

# ==========================================================================
# Round-7: bounded reachability (recursive-CTE parity), point-in-time
# SCD2 join, per-source boilerplate detection, URL canonicalization
# dedup, marketing attribution, integer classifier vote, chi-square
# drift, KMV/theta-sketch set overlap
# ==========================================================================

_REACH_HOPS = 4
_REACH_SEED_MOD = 97


def _reachability_oracle_sql(hops: int) -> str:
    """Unrolled per-hop frontier CTEs over the synthesized link graph —
    the SQL mirror of ``ext/graph.bfs_min_hops`` (what an engine with
    WITH RECURSIVE would iterate, written out so each hop is exact)."""
    parts = [
        f"""
    WITH nn AS (SELECT COUNT(*) AS ni FROM documents),
    gg AS (SELECT unnest([1, 2, 3]) AS g),
    e AS (
        SELECT DISTINCT d.doc_id AS src,
               (d.doc_id * 31 + gg.g) % nn.ni AS dst
        FROM documents d, nn, gg
        WHERE (d.doc_id * 31 + gg.g) % nn.ni <> d.doc_id
    ),
    f0 AS (SELECT doc_id AS id FROM documents
           WHERE doc_id % {_REACH_SEED_MOD} = 0),
    v0 AS (SELECT id FROM f0)"""
    ]
    for h in range(1, hops + 1):
        parts.append(
            f"""
    , f{h} AS (
        SELECT DISTINCT e.dst AS id
        FROM e JOIN f{h - 1} ON e.src = f{h - 1}.id
        WHERE e.dst NOT IN (SELECT id FROM v{h - 1})
    ), v{h} AS (SELECT id FROM v{h - 1} UNION SELECT id FROM f{h})"""
        )
    selects = ["SELECT id AS doc_id, CAST(0 AS INT) AS hops FROM f0"]
    for h in range(1, hops + 1):
        selects.append(f"SELECT id, CAST({h} AS INT) FROM f{h}")
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@register(
    "link_graph_reachability", sql=_reachability_oracle_sql(_REACH_HOPS)
)
def link_graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Bounded multi-source reachability: minimum hop count (<= 4)
    from the seed set (doc_id % 97 == 0) over the synthesized link graph
    — the contamination blast-radius / crawl-frontier audit ("every doc
    within k link hops of a flagged doc"), and the Spark answer to a
    ``WITH RECURSIVE`` reachability query.  ``ext/graph.bfs_min_hops``
    runs frontier-style iteration: per hop ONE src-keyed join + distinct
    + anti-join vs visited, lineage checkpoint-truncated; the oracle
    unrolls the identical frontier algebra as per-hop CTEs."""
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
        .localCheckpoint(eager=False)
    )
    seeds = docs.filter(
        F.col("doc_id") % _REACH_SEED_MOD == 0
    ).select(F.col("doc_id").alias("id"))
    out = xgraph.bfs_min_hops(seeds, edges, max_hops=_REACH_HOPS)
    return out.select(
        F.col("id").alias("doc_id"), F.col("hops").cast("int").alias("hops")
    )


@register(
    "scd2_point_in_time_join",
    sql="""
    WITH np AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE event_type <> 'purchase'
    ), ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev
        FROM np WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
        SELECT user_id, event_type AS state, epoch_us(ts) AS from_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version
        FROM ordered WHERE prev IS NULL OR event_type <> prev
    ), dim AS (
        SELECT user_id, state,
               CAST(version AS BIGINT) AS state_version, from_us,
               lead(from_us) OVER (PARTITION BY user_id ORDER BY version)
                   AS to_us
        FROM changes
    ), f AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
        FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id AS purchase_event_id, f.user_id,
           d.state, d.state_version, f.value_cents
    FROM f LEFT JOIN dim d
      ON d.user_id = f.user_id AND f.ts_us >= d.from_us
     AND (d.to_us IS NULL OR f.ts_us < d.to_us)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Point-in-time (PIT) join of a fact stream against a
    historized type-2 dimension: each purchase picks the SCD2 state row
    (built from the user's non-purchase events, ``events_to_scd2``'s
    exact recipe) whose ``[from, to)`` validity interval contains the
    purchase timestamp — the correctness-critical datavarehus join that
    prevents feature leakage in training-data extraction (only state
    known AT the fact's time attaches).

    Plan shape: the dimension build is one user-keyed window pass; the
    PIT join is an EQUI-join on user_id with the interval bounds as a
    residual filter — one co-partitionable exchange, never the O(n·m)
    pure-theta range join, and each fact matches at most one interval
    by construction (intervals partition the user's timeline).  At
    100 TB both sides bucket by user_id and the join is exchange-free."""
    ev = load_table(spark, sf_dir, "events")
    np_ = ev.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = np_.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("from_us"),
        F.lag("event_type").over(w).alias("prev"),
    )
    changes = ordered.filter(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "from_us",
        F.row_number().over(w).alias("version"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        "state",
        F.col("version").cast("bigint").alias("state_version"),
        "from_us",
        F.lead("from_us").over(
            Window.partitionBy("user_id").orderBy("version")
        ).alias("to_us"),
    )
    f = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_cents"),
    )
    j = f.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts_us") >= F.col("from_us"))
        & (F.col("to_us").isNull() | (F.col("ts_us") < F.col("to_us"))),
        "left",
    )
    return j.select(
        "purchase_event_id",
        "user_id",
        "state",
        "state_version",
        "value_cents",
    )


_BP_N = 5  # boilerplate shingle width (tokens)


@register(
    "source_boilerplate_fraction",
    sql=r"""
    WITH w AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS wl
               FROM documents),
    gi AS (SELECT doc_id, source, wl, unnest(range(1, len(wl) - 3)) AS i
           FROM w WHERE len(wl) >= 5),
    g AS (SELECT DISTINCT doc_id, source,
                 wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] || ' '
                 || wl[i+3] || ' ' || wl[i+4] AS gram
          FROM gi),
    sd AS (SELECT source, COUNT(*) AS nd FROM w
           WHERE len(wl) >= 5 GROUP BY source),
    dfreq AS (SELECT source, gram, COUNT(*) AS d FROM g
              GROUP BY source, gram),
    flag AS (SELECT dfreq.source, dfreq.gram
             FROM dfreq JOIN sd USING (source)
             WHERE d * 10 >= 3 * nd),
    per AS (SELECT g.doc_id, g.source,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN flag.gram IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
            FROM g LEFT JOIN flag
              ON g.source = flag.source AND g.gram = flag.gram
            GROUP BY g.doc_id, g.source)
    SELECT doc_id, source, n_shingles, n_boilerplate,
           ROUND(CAST(n_boilerplate AS DOUBLE) / n_shingles, 6)
               AS boilerplate_frac
    FROM per
    """,
)
def source_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-source boilerplate detection, the shingle form of
    CCNet's per-domain repeated-line removal (Wenzek et al., LREC'20):
    a 5-gram occurring in >= 30% of a source's documents is template
    text (headers, nav, legal footers), and each document reports what
    fraction of its distinct shingles is boilerplate — the signal a
    curation pipeline thresholds before a source poisons the mix.

    The 30% threshold is EXACT integer arithmetic (``d*10 >= 3*nd``).
    Plan: distinct shingles stay per-doc (``array_distinct`` inside the
    row), then two keyed exchanges (source+gram doc-frequency, per-doc
    rollup) and one broadcastable source-size join — document frequency
    output is bounded by shingle vocabulary, the flag set by the
    threshold, never corpus rows.  Same scale shape as
    ``doc_tfidf_top_terms``."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", xtext.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= _BP_N)
    g = t.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                xtext.word_ngrams_from_tokens(F.col("toks"), _BP_N)
            )
        ).alias("gram"),
    )
    sd = t.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    dfreq = g.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("d"))
    flag = (
        dfreq.join(F.broadcast(sd), "source")
        .filter(F.col("d") * 10 >= 3 * F.col("nd"))
        .select("source", "gram", F.lit(1).alias("__b"))
    )
    per = (
        g.join(flag, ["source", "gram"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__b"), F.lit(0))).alias("n_boilerplate"),
        )
    )
    return per.select(
        "doc_id",
        "source",
        "n_shingles",
        "n_boilerplate",
        F.round(
            F.col("n_boilerplate").cast("double") / F.col("n_shingles"), 6
        ).alias("boilerplate_frac"),
    )

_URL_CANON_SQL = r"""
    WITH u AS (
        SELECT doc_id,
               'https://'
               || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source)
                       ELSE 'www.' || source END || '.Example.com'
               || '/p/' || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
               || '?'
               || CASE WHEN doc_id % 2 = 0
                       THEN 'utm_source=feed&lang=' || lang || '&id='
                            || CAST(doc_id % 25 AS VARCHAR)
                       ELSE 'id=' || CAST(doc_id % 25 AS VARCHAR)
                            || '&lang=' || lang END
               || CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
                   AS url
        FROM documents
    ), c AS (
        SELECT doc_id, url,
               regexp_replace(lower(regexp_extract(url, 'https://([^/]+)', 1)),
                              '^www\.', '') AS host,
               regexp_replace(regexp_extract(url, 'https://[^/]+([^?#]*)', 1),
                              '/+$', '') AS path0,
               array_to_string(
                   list_sort(list_filter(
                       str_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                       p -> p <> '' AND NOT starts_with(p, 'utm_')
                            AND NOT starts_with(p, 'ref='))),
                   '&') AS canon_q
        FROM u
    ), k AS (
        SELECT doc_id, url,
               'https://' || host
               || CASE WHEN path0 = '' THEN '/' ELSE path0 END
               || CASE WHEN canon_q <> '' THEN '?' || canon_q ELSE '' END
                   AS canonical_url
        FROM c
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_raw,
           MIN(doc_id) AS survivor_doc_id
    FROM k GROUP BY canonical_url
    """


@register("url_canonical_dedup", sql=_URL_CANON_SQL)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] URL canonicalization + dedup, the first dedup pass of every
    web-corpus pipeline (CommonCrawl-style): lowercase the host, strip
    ``www.``, drop tracking params (``utm_*``, ``ref``), sort the
    remaining query params, strip fragments and trailing slashes — then
    crawl variants of the same resource collapse onto one canonical key
    and the min-id fetch survives.  URLs are synthesized
    deterministically from (doc_id, source, lang) with mixed case,
    shuffled param order, tracking junk and fragments, so the
    canonicalizer provably collapses them (``n_distinct_raw >
    n_variants``-free check rides in the output).

    Everything is scan-fused string expressions (regexp extract/replace,
    split → filter → sort → join) + ONE canonical-key exchange — codegen
    end-to-end, no UDF, linear at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(
            did % 3 == 0, F.concat(F.lit("WWW."), F.upper(F.col("source")))
        ).otherwise(F.concat(F.lit("www."), F.col("source"))),
        F.lit(".Example.com"),
        F.lit("/p/"),
        (did % 50).cast("string"),
        F.when(did % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit("utm_source=feed&lang="),
                F.col("lang"),
                F.lit("&id="),
                (did % 25).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("id="),
                (did % 25).cast("string"),
                F.lit("&lang="),
                F.col("lang"),
            )
        ),
        F.when(did % 5 == 0, F.lit("&ref=tw")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", url.alias("url"))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col("url"), r"https://([^/]+)", 1)),
        r"^www\.",
        "",
    )
    path0 = F.regexp_replace(
        F.regexp_extract(F.col("url"), r"https://[^/]+([^?#]*)", 1),
        r"/+$",
        "",
    )
    canon_q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(F.col("url"), r"\?([^#]*)", 1), "&"),
                lambda p: (p != "")
                & ~p.startswith("utm_")
                & ~p.startswith("ref="),
            )
        ),
        "&",
    )
    k = u.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("https://"),
            host,
            F.when(path0 == "", F.lit("/")).otherwise(path0),
            F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
                F.lit("")
            ),
        ).alias("canonical_url"),
    )
    return k.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("url").alias("n_distinct_raw"),
        F.min("doc_id").alias("survivor_doc_id"),
    )


_ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window


@register(
    "purchase_attribution_touch",
    sql=f"""
    WITH t AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
               CASE WHEN event_type IN ('click', 'view')
                    THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0')
                         || event_type END AS tkey,
               value
        FROM events WHERE event_type IN ('purchase', 'click', 'view')
    ), m AS (
        SELECT user_id, ts_us, event_id, is_p, value,
               MIN(tkey) OVER w AS fk,
               MAX(tkey) OVER w AS lk
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING
                           AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_event_id, user_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
           CAST(substr(fk, 21, 12) AS BIGINT) AS first_touch_event,
           substr(fk, 33, 16) AS first_touch_type,
           CAST(substr(lk, 21, 12) AS BIGINT) AS last_touch_event,
           substr(lk, 33, 16) AS last_touch_type
    FROM m WHERE is_p = 1
    """,
)
def purchase_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] First-/last-touch marketing attribution: every purchase
    finds the first and last click/view by the same user in the strictly
    preceding 7 days — the position-based attribution primitive revenue
    reporting builds on.

    One user-keyed RANGE window over the merged event stream — no
    purchase×touch self-join fan-out, one exchange.  Determinism trick:
    ``FIRST_VALUE``/``LAST_VALUE`` over a RANGE frame tie-break
    arbitrarily among equal-timestamp peers, so instead the touch is
    encoded as a zero-padded sortable string key (ts || event_id ||
    type) and the frame takes plain MIN/MAX — order-independent
    aggregates, bit-identical on both engines, decoded by substring
    afterwards.  NULL keys (purchase rows inside the frame, empty
    frames) propagate to NULL touch columns — purchases with no prior
    touch keep left semantics."""
    ev = load_table(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    t = ev.filter(
        F.col("event_type").isin("purchase", "click", "view")
    ).select(
        "user_id",
        ts_us.alias("ts_us"),
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(
            is_touch,
            F.concat(
                F.lpad(ts_us.cast("string"), 20, "0"),
                F.lpad(F.col("event_id").cast("string"), 12, "0"),
                F.col("event_type"),
            ),
        ).alias("tkey"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_ATTR_LOOKBACK_US, -1)
    )
    m = t.select(
        "user_id",
        "event_id",
        "is_p",
        "value",
        F.min("tkey").over(w).alias("fk"),
        F.max("tkey").over(w).alias("lk"),
    )
    return m.filter(F.col("is_p") == 1).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_cents"),
        F.substring(F.col("fk"), 21, 12).cast("bigint").alias(
            "first_touch_event"
        ),
        F.substring(F.col("fk"), 33, 16).alias("first_touch_type"),
        F.substring(F.col("lk"), 21, 12).cast("bigint").alias(
            "last_touch_event"
        ),
        F.substring(F.col("lk"), 33, 16).alias("last_touch_type"),
    )


@register(
    "quality_classifier_vote",
    sql=r"""
    WITH b AS (
        SELECT doc_id, n_chars, regexp_extract_all(text, '\S+') AS wl
        FROM documents
    ), base AS (
        SELECT doc_id, n_chars, CAST(len(wl) AS BIGINT) AS n_tok
        FROM b WHERE len(wl) >= 1
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(wl) AS tok FROM b) t
        GROUP BY doc_id, tok
    ), ty AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(MAX(c) AS BIGINT) AS max_freq
        FROM tf GROUP BY doc_id
    ), feat AS (
        SELECT base.doc_id,
               n_types * 1000 // n_tok AS ttr_milli,
               n_chars * 1000 // n_tok AS awl_milli,
               max_freq * 1000 // n_tok AS rep_milli
        FROM base JOIN ty ON base.doc_id = ty.doc_id
    ), v AS (
        SELECT doc_id, ttr_milli, awl_milli, rep_milli,
               CAST(CASE WHEN ttr_milli >= 350 THEN 1 ELSE 0 END
                    + CASE WHEN awl_milli BETWEEN 3000 AND 7000
                           THEN 1 ELSE 0 END
                    + CASE WHEN rep_milli <= 150 THEN 1 ELSE 0 END
                    AS INT) AS votes
        FROM feat
    )
    SELECT doc_id, ttr_milli, awl_milli, rep_milli, votes,
           CAST(CASE WHEN votes >= 2 THEN 1 ELSE 0 END AS INT) AS predicted
    FROM v
    """,
)
def quality_classifier_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Ensemble quality classifier as a majority vote of three
    integer-threshold weak classifiers — type-token ratio (vocabulary
    diversity), average word length band, max-token repetition cap —
    the Gopher-rules-style (Rae et al. '21) fast quality gate a
    curation pipeline runs before any model-based scorer.  ALL
    arithmetic is integer milli-units (``x * 1000 DIV n``), so the
    features, votes and prediction are bit-identical across engines —
    the whole classifier is exact, no float anywhere.

    Plan: one doc-keyed exchange for per-doc token frequencies
    (n_types, max_freq), features fused into the scan side — two
    shuffles total, output one row per non-empty doc."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "n_chars", xtext.tokens(F.col("text")).alias("wl")
    )
    base = b.filter(F.size("wl") >= 1).select(
        "doc_id", "n_chars", F.size("wl").cast("bigint").alias("n_tok")
    )
    tf = (
        b.select("doc_id", F.explode("wl").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ty = tf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.max("c").cast("bigint").alias("max_freq"),
    )
    feat = base.join(ty, "doc_id").select(
        "doc_id",
        F.expr("n_types * 1000 DIV n_tok").alias("ttr_milli"),
        F.expr("n_chars * 1000 DIV n_tok").alias("awl_milli"),
        F.expr("max_freq * 1000 DIV n_tok").alias("rep_milli"),
    )
    votes = (
        (F.col("ttr_milli") >= 350).cast("int")
        + (
            (F.col("awl_milli") >= 3000) & (F.col("awl_milli") <= 7000)
        ).cast("int")
        + (F.col("rep_milli") <= 150).cast("int")
    ).cast("int")
    v = feat.select(
        "doc_id", "ttr_milli", "awl_milli", "rep_milli", votes.alias("votes")
    )
    return v.select(
        "doc_id",
        "ttr_milli",
        "awl_milli",
        "rep_milli",
        "votes",
        (F.col("votes") >= 2).cast("int").alias("predicted"),
    )


@register(
    "event_mix_chi2_drift",
    sql="""
    WITH o AS (
        SELECT user_id % 10 AS cohort, event_type,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), rt AS (SELECT cohort, SUM(o) AS r FROM o GROUP BY cohort),
    ct AS (SELECT event_type, SUM(o) AS c FROM o GROUP BY event_type),
    n AS (SELECT SUM(o) AS n FROM o),
    terms AS (
        SELECT o.cohort, rt.r,
               CAST(floor(
                   ((CAST(o.o AS DOUBLE)
                     - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                       / CAST(n.n AS DOUBLE))
                    * (CAST(o.o AS DOUBLE)
                       - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                         / CAST(n.n AS DOUBLE))
                    / (CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
                       / CAST(n.n AS DOUBLE)))
                   * 1000000 + 0.5) AS BIGINT) AS term_micro
        FROM o JOIN rt ON o.cohort = rt.cohort
        JOIN ct ON o.event_type = ct.event_type
        CROSS JOIN n
    )
    SELECT cohort, CAST(MAX(r) AS BIGINT) AS n_events,
           CAST(SUM(term_micro) AS BIGINT) AS chi2_micro,
           CAST(SUM(term_micro) AS DOUBLE) / 1000000 AS chi2
    FROM terms GROUP BY cohort
    """,
)
def event_mix_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Chi-square homogeneity drift: is a user cohort's event-type
    mix (cohort = user_id % 10, standing in for an ingest shard / AB
    arm) consistent with the global mix?  Pearson's X² per cohort
    against expected counts e = row_total x col_total / N — the
    categorical-drift companion to ``source_drift_ks`` (continuous) and
    ``events_anomaly_*`` (pointwise).

    Cross-engine exactness: each term (o-e)^2/e uses only IEEE *,-,/
    on exactly-representable integer inputs — correctly rounded,
    bit-identical — and terms are quantized to integer micro-units
    BEFORE summation, so the sum is order-independent (the same
    convention as the entropy/char-LM family).  The contingency table
    is one map-side-combined shuffle; marginals are broadcast-sized."""
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint: the contingency table feeds BOTH marginals, the
    # scalar total and the term join — without materialization each
    # consumer re-scans events and re-runs the counting shuffle (4 full
    # passes; measured 12 exchanges in the executed plan, 3 of them this
    # recomputation). The table itself is |cohorts|x|types| rows.
    o = (
        ev.select(
            (F.col("user_id") % 10).alias("cohort"), "event_type"
        )
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    rt = o.groupBy("cohort").agg(F.sum("o").alias("r"))
    ct = o.groupBy("event_type").agg(F.sum("o").alias("c"))
    n_total = o.agg(F.sum("o")).collect()[0][0]  # scalar aggregate
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.lit(float(n_total))
    )
    term = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    terms = (
        o.join(F.broadcast(rt), "cohort")
        .join(F.broadcast(ct), "event_type")
        .select(
            "cohort",
            "r",
            F.floor(term * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("term_micro"),
        )
    )
    return terms.groupBy("cohort").agg(
        F.max("r").cast("bigint").alias("n_events"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
        (F.sum("term_micro").cast("double") / F.lit(1000000.0)).alias(
            "chi2"
        ),
    )


_KMV_K = 64


_THETA_SQL = f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(sha256('kmv1|' || CAST(user_id AS VARCHAR)),
                               1, 15))::BIGINT AS hv
        FROM du
    ),
    km AS (
        SELECT event_type, (list(hv ORDER BY hv))[1:{_KMV_K}] AS kmins
        FROM h GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS event_a, b.event_type AS event_b,
               a.kmins AS ka, b.kmins AS kb,
               LEAST(COALESCE(a.kmins[{_KMV_K}], {16**15}),
                     COALESCE(b.kmins[{_KMV_K}], {16**15})) AS theta
        FROM km a JOIN km b ON a.event_type < b.event_type
    ),
    est AS (
        SELECT event_a, event_b, theta,
               CAST(len(list_filter(list_intersect(ka, kb),
                                    x -> x < theta)) AS BIGINT)
                   AS n_common_below
        FROM pairs
    ),
    ex AS (
        SELECT a.event_type AS event_a, b.event_type AS event_b,
               CAST(COUNT(*) AS BIGINT) AS exact_common
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT est.event_a, est.event_b, est.n_common_below,
           ROUND((CAST(n_common_below AS DOUBLE) * {float(16**15)})
                 / CAST(theta AS DOUBLE), 4) AS est_common,
           COALESCE(ex.exact_common, 0) AS exact_common
    FROM est LEFT JOIN ex
      ON est.event_a = ex.event_a AND est.event_b = ex.event_b
    """


@register("theta_sketch_overlap", sql=_THETA_SQL)
def theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Theta/KMV sketch set-overlap estimation (Bar-Yossef et al.
    RANDOM'02; the Datasketches theta framework): per event type, a
    64-minimum-values sketch of the user set; per type pair, the
    intersection estimate |common hashes < theta| x U / theta with
    theta = min of the two k-th minima — the mergeable, O(k)-state way
    to answer "how much do these audiences overlap" without ever
    co-shuffling the raw sets.  The exact intersection rides along as
    the audit column (the pytest pins the relative-error envelope).

    Scale: ``ext/sketch.kmv_sketch`` is a hand-rolled map-side combine
    — per-partition k-mins (k values per group per partition), then a
    k·P-bounded merge — NOT a per-group window sort, so a
    billion-member group moves k values per partition, never its rows.
    sha256-prefix hashing makes build, merge and estimate replay
    bit-identically in the oracle; the one double division is the
    documented probabilistic class, rounded to 4.

    Build and readout are the shared ``ext/sketch.kmv_sketch`` /
    ``theta_overlap_report`` kernels the streaming twin
    (``streaming_kmv_minima``) also uses — twin equality is by
    construction, not by parallel maintenance of two codepaths."""
    from dvh_airflow_kafka_spark.ext import sketch as xsketch

    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    km = xsketch.kmv_sketch(du, "event_type", "user_id", _KMV_K)
    return xsketch.theta_overlap_report(km, du, _KMV_K)


@register(
    "streaming_kmv_minima",
    # Shares the theta/KMV sketch oracle VERBATIM — the fifth
    # batch/streaming twin family (quantile, frequency-grid,
    # heavy-hitter, mergeable-distinct, now mergeable-overlap).
    sql=_THETA_SQL,
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
