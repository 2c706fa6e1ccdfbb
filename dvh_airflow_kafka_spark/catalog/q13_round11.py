"""Round-11 widening: the curation-team compositions the round-10
verdict asked for (VERDICT.md "Next round" items 3-5).

- ``mixture_rebalance_incremental`` — the weekly-recrawl shape:
  per-source token partials maintained incrementally (old rollup +
  new-crawl increment merged by re-aggregation), then the temperature
  (α = 0.5) mixture weights and token budgets recomputed from the
  MERGED partials — never rescanning the old corpus.
- ``cross_snapshot_neardup`` — dedup the NEW crawl against the
  PREVIOUS corpus, not itself: snapshot CDC (``corpus_snapshot_diff``
  semantics) classifies the increment, then the DIRECTIONAL n-gram
  Jaccard gate (``ext/dedup.jaccard_ingest_gate``) admits each
  added/changed doc only if it stays dissimilar from every retained
  document.
- ``quality_drift_monitor`` — the week-over-week feed-health monitor:
  per (week, event_type) two-sample KS drift of the value distribution
  against the previous week (``ext/stats.keyed_ks_two_sample``) joined
  with a per-week 2×K chi-square homogeneity test of the event-type
  mix against the previous week (``event_mix_chi2_drift``'s integer
  micro-quantization conventions).
- ``weekly_crawl_capstone`` — the three stages above composed as ONE
  lazy plan: CDC split → directional gate → mixture rebalance over the
  post-ingest corpus.
- ``streaming_neardup_gate`` — the directional Jaccard ingest gate as
  streaming state (shares ``incremental_near_dup_ingest``'s oracle).
- ``streaming_mixture_rebalance`` — the rebalance totals as resident
  streaming state (shares ``mixture_rebalance_incremental``'s oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvh_airflow_kafka_spark.ext import dedup as xdedup
from dvh_airflow_kafka_spark.ext import stats as xstats
from dvh_airflow_kafka_spark.ext.text import token_count_ws
from dvh_airflow_kafka_spark.io import load_table

from dvh_airflow_kafka_spark.catalog._core import (
    REGISTRY,
    _staged_range_write,
    _staged_stream_src,
    register,
)

# --------------------------------------------------------------------------
# mixture_rebalance_incremental
# --------------------------------------------------------------------------

# α=0.5 temperature mixture over the merged per-source token totals; the
# weekly token budget redistributed √-proportionally.
_REBALANCE_BUDGET = 50_000_000


@register(
    "mixture_rebalance_incremental",
    sql=rf"""
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
    """,
)
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
    sql=REGISTRY["mixture_rebalance_incremental"].sql,
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


# --------------------------------------------------------------------------
# streaming_neardup_gate
# --------------------------------------------------------------------------


@register(
    "streaming_neardup_gate",
    # Shares the batch directional ingest gate's oracle VERBATIM — the
    # near-dup completion of the ST3 dedup story (VERDICT r10 item 4).
    sql=REGISTRY["incremental_near_dup_ingest"].sql,
)
def streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The DIRECTIONAL near-dup ingest gate MAINTAINED AS
    STREAMING STATE: the existing corpus (doc_id % 5 ≠ 0) drains first
    and builds the resident inverted shingle index in the state store
    (``streaming/stateful.shingle_index_probe_with_state``); the
    incoming crawl (doc_id % 5 = 0) then arrives in later micro-batches
    and PROBES it, emitting candidate (incoming, existing) pairs whose
    shared-shingle counts the post-drain readout aggregates into exact
    3-gram Jaccard — the identical admit/reject verdict as the batch
    kernel, so this query shares ``incremental_near_dup_ingest``'s
    DuckDB oracle verbatim: a cross-engine hash proof that a resident
    streaming similarity index equals the batch gate equals the
    replayed SQL.

    This is the real 100 TB ingest shape: the corpus-side index is
    built ONCE and lives in the state store; each arriving batch pays
    |batch-shingles| bucket probes and writes NOTHING to state
    (flatness under 2× incoming replay is CI-pinned in
    tests/test_scale_probe_stream.py) — never corpus pairs, never an
    index rebuild.  Shingling stays JVM-side (tokens → n-grams →
    array_distinct → explode BEFORE the stateful op); Python only
    appends to / scans per-shingle id arrays."""
    from dvh_airflow_kafka_spark.ext.text import (
        tokens,
        word_ngrams_from_tokens,
    )
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
        shingle_index_probe_with_state,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _write(src: str) -> None:
        # existing corpus in file-groups 1-2 (arrives first, builds the
        # index), incoming crawl in groups 3-4 (probes it) — the
        # directional "as of now" order; _staged_stream_src re-stamps
        # in this write order.  Each logical batch is EIGHT files (and
        # the reader takes 8 per trigger): a single staged file arrives
        # as ONE input partition and the n-gram shingle build then runs
        # single-threaded (measured 8-10s/batch at sf0.1 — a driver-side
        # .repartition() cannot fix it because Catalyst pushes the
        # projection below the exchange).  Were a group to spill a file
        # into the next trigger the updater's existing-first two-pass
        # still keeps the directional semantics exact.
        ex = docs.filter(F.col("doc_id") % 5 != 0)
        inc = docs.filter(F.col("doc_id") % 5 == 0)
        for sl in (
            ex.filter(F.col("doc_id") % 2 == 0),
            ex.filter(F.col("doc_id") % 2 != 0),
            inc.filter(F.col("doc_id") % 2 == 0),
            inc.filter(F.col("doc_id") % 2 != 0),
        ):
            sl.repartition(8).write.mode("append").parquet(src)

    src = _staged_stream_src("stream_gate", sf_dir, _write)
    stream = read_event_stream(spark, src, max_files_per_trigger=8)
    # project tokens to an ATTRIBUTE before the n-gram lambda — passing
    # tokens(text) inline re-evaluates the regex split per array element
    # (O(w²) per row — the pitfall ext/text.word_ngrams_from_tokens
    # documents)
    shing = (
        stream.select(
            "doc_id",
            (F.col("doc_id") % 5 == 0).alias("is_new"),
            tokens(F.col("text")).alias("__toks"),
        )
        .select(
            "doc_id",
            "is_new",
            F.array_distinct(
                word_ngrams_from_tokens(F.col("__toks"), 3)
            ).alias("sh"),
        )
        .select(
            "doc_id",
            "is_new",
            F.size("sh").cast("long").alias("n"),
            F.explode("sh").alias("g"),
        )
    )
    emitted = run_drain(
        shingle_index_probe_with_state(shing), shuffle_partitions=8
    ).table
    pairs = emitted.groupBy("in_id", "ex_id", "n_in", "n_ex").agg(
        F.sum("c").alias("c")
    )
    jac = F.col("c").cast("double") / (
        F.col("n_in") + F.col("n_ex") - F.col("c")
    ).cast("double")
    best = (
        pairs.select("in_id", jac.alias("j"))
        .groupBy("in_id")
        .agg(F.max("j").alias("mx"))
    )
    incoming = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    return incoming.join(
        best, incoming["doc_id"] == best["in_id"], "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("mx"), F.lit(0.0)).alias("max_jaccard"),
        (F.coalesce(F.col("mx"), F.lit(0.0)) < 0.4).cast("int").alias("kept"),
    )
