"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

import datetime as dt

from dvh_airflow_kafka_spark.ext import text as xtext
from dvh_airflow_kafka_spark.io import load_table
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    _stage_frame,
    _staged_range_write,
    _staged_stream_src,
    register,
)

# ==========================================================================
# [EXT] round-5b: chunking, sequence packing, Bloom-probed dedup, per-source
# frequency capping, snapshot CDC, windowed anomaly detection
# ==========================================================================

_CHUNK_LEN = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # tokens between chunk starts (overlap = 8)


@register(
    "documents_chunk_windows",
    sql=rf"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ), c AS (
        SELECT doc_id, wl, len(wl) AS n,
               CASE WHEN len(wl) <= {_CHUNK_LEN} THEN 1
                    ELSE CAST(ceil((len(wl) - {_CHUNK_LEN}) / {_CHUNK_STRIDE}.0)
                              AS INT) + 1 END AS n_chunks
        FROM w
    ), e AS (
        SELECT doc_id, wl, n,
               unnest(range(0, n_chunks)) AS i
        FROM c
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(i * {_CHUNK_STRIDE} AS BIGINT) AS start_token,
           CAST(least({_CHUNK_LEN}, n - i * {_CHUNK_STRIDE}) AS INT)
               AS n_chunk_tokens,
           sha256(array_to_string(
               wl[i * {_CHUNK_STRIDE} + 1 :
                  least(i * {_CHUNK_STRIDE} + {_CHUNK_LEN}, n)], ' '))
               AS chunk_sha
    FROM e
    """,
)
def documents_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Overlapping token-window chunking — the retrieval/embedding
    prep step: each document becomes ceil((n-C)/S)+1 chunks of C=32
    tokens at stride S=24 (8-token overlap), identified by (doc_id,
    chunk_idx) with the chunk content pinned by its sha256. Pure
    higher-order-function plan — ``sequence`` → ``explode`` →
    ``slice``/``array_join`` — no UDF, fuses into the scan, and the only
    movement at 100 TB is the explode's row growth (~n/S per doc),
    which is embarrassingly parallel."""
    C, S = _CHUNK_LEN, _CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", xtext.tokens(F.col("text")).alias("wl"))
    n = F.size("wl")
    n_chunks = (
        F.when(n <= C, F.lit(1))
        .otherwise(F.ceil((n - C) / F.lit(float(S))) + 1)
        .cast("int")
    )
    e = toks.select(
        "doc_id",
        "wl",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    )
    chunk = F.slice(F.col("wl"), F.col("i") * S + 1, C)
    return e.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        (F.col("i").cast("bigint") * S).alias("start_token"),
        F.least(F.lit(C), F.col("n") - F.col("i") * S)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.sha2(F.array_join(chunk, " ").cast("binary"), 256).alias("chunk_sha"),
    )


_SEQ_LEN = 512  # tokens per packed training sequence


@register(
    "training_sequence_pack",
    sql=rf"""
    WITH t AS (
        SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n
        FROM documents
        WHERE len(regexp_extract_all(text, '\S+')) > 0
    ), c AS (
        SELECT doc_id, n,
               CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                    AS BIGINT) AS before
        FROM t
    ), e AS (
        SELECT doc_id, n, before,
               unnest(range(before // {_SEQ_LEN},
                            (before + n - 1) // {_SEQ_LEN} + 1)) AS seq_id
        FROM c
    )
    SELECT doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(before, seq_id * {_SEQ_LEN}) - before AS BIGINT)
               AS tok_start,
           CAST(greatest(before, seq_id * {_SEQ_LEN}) - seq_id * {_SEQ_LEN}
                AS BIGINT) AS offset_in_seq,
           CAST(least(before + n, (seq_id + 1) * {_SEQ_LEN})
                - greatest(before, seq_id * {_SEQ_LEN}) AS BIGINT)
               AS n_seq_tokens
    FROM e
    """,
)
def training_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Token-level concat-and-split sequence packing — the GPT-style
    pre-training layout: documents are concatenated in a deterministic
    global order and cut into fixed L=512-token sequences, documents
    SPANNING sequence boundaries (unlike ``pack_into_shards``, which
    keeps documents whole). Emits one row per (doc, sequence) span with
    the in-doc start token, in-sequence offset, and span length — enough
    to materialise every training sequence without re-tokenizing.

    Plan shape: the shared two-pass distributed prefix sum
    (``ext/sampling.with_prefix_sum`` — range slices + broadcast offsets,
    NO single-partition window) gives each doc its exact global token
    offset; the spanned sequence ids come from ``sequence``/``explode``
    and integer ``div`` arithmetic (exact at any corpus size — no double
    division). At 100 TB: one range shuffle of the slim (id, n_tokens)
    pair, everything else scan-fused. Span arithmetic shared via
    ``ext/sampling.explode_token_spans``."""
    from dvh_airflow_kafka_spark.ext.sampling import (
        explode_token_spans,
        with_prefix_sum,
    )

    docs = load_table(spark, sf_dir, "documents")
    slim = docs.select(
        "doc_id", F.size(xtext.tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    pre = with_prefix_sum(slim, "doc_id", F.col("n_tokens"))
    return explode_token_spans(pre, _SEQ_LEN)


@register(
    "bloom_dedup_insert",
    sql="""
    WITH batch AS (
        SELECT event_id, user_id, event_type, props
        FROM events WHERE event_id < 2000
    ),
    sink AS (SELECT event_id FROM events WHERE event_id % 2 = 0)
    SELECT b.event_id, b.user_id, b.event_type, b.props
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM sink s WHERE s.event_id = b.event_id)
    """,
)
def bloom_dedup_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] J1 dedup with a Bloom fast path (``ext/bloom.py``): the
    sink keyset is folded into a broadcastable DataFrame of set bit
    positions; batch rows failing the filter are DEFINITELY new and
    skip the sink entirely, only the bloom-positive sliver pays the
    exact anti-join. Output is bit-identical to the reference's
    ``NOT EXISTS`` (src/oracle_target.py:97-104) — the filter prunes
    work, never changes the answer. At 100 TB the bits frame is
    constant-size (m bits ≫ sink rows decouple), the probe is map-side,
    and the residual anti-join touches ~fp·|batch| rows instead of
    |batch|."""
    from dvh_airflow_kafka_spark.ext.bloom import bloom_dedup

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "props"
    )
    batch = events.filter(F.col("event_id") < 2000)
    sink = events.filter(F.col("event_id") % 2 == 0).select("event_id")
    return bloom_dedup(batch, sink, ["event_id"])


_FREQ_CAP = 15  # max docs kept per source


@register(
    "source_frequency_cap",
    sql=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM documents
    )
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rn AS INT) AS source_rank
    FROM ranked
    WHERE rn <= {_FREQ_CAP}
    """,
)
def source_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-source frequency capping — the crawl-curation knob that
    stops one domain from dominating the mixture: keep at most K=15
    documents per source, chosen by an explicit priority (longest text
    first, doc_id tiebreak). One window PARTITIONED BY source — the key
    is the parallelism unit, so at 100 TB this is a single keyed
    shuffle; a skewed mega-source degrades to one fat task and would be
    salted via two-level top-K (per-salt top-K then merge) — the same
    recipe as ``operators/skew.py``."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.row_number().over(w).alias("source_rank"),
        )
        .filter(F.col("source_rank") <= _FREQ_CAP)
        .withColumn("source_rank", F.col("source_rank").cast("int"))
    )


@register(
    "corpus_snapshot_diff",
    sql="""
    WITH old AS (
        SELECT doc_id, sha256(text) AS h
        FROM documents WHERE doc_id % 10 <> 7
    ), new AS (
        SELECT doc_id,
               sha256(CASE WHEN doc_id % 9 = 0 THEN text || ' v2'
                           ELSE text END) AS h
        FROM documents WHERE doc_id % 13 <> 5
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'deleted'
                ELSE 'changed' END AS change_type,
           o.h AS old_sha,
           n.h AS new_sha
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Snapshot CDC: classify documents as added / deleted /
    changed between two corpus snapshots by full-outer-joining on the
    stable id and comparing content hashes (unchanged rows drop out).
    The snapshots are deterministic views of the fixture (id-modulus
    membership, a marker suffix for "edited" docs) so both engines see
    identical inputs. One sort-merge join on the id — at 100 TB both
    sides shuffle once on doc_id; with id-bucketed snapshot layouts
    (``io.py``) even that exchange disappears."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("old_sha")
    )
    new = docs.filter(F.col("doc_id") % 13 != 5).select(
        "doc_id",
        F.sha2(
            F.when(
                F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .cast("binary"),
            256,
        ).alias("new_sha"),
    )
    j = old.withColumnRenamed("doc_id", "o_id").join(
        new.withColumnRenamed("doc_id", "n_id"),
        F.col("o_id") == F.col("n_id"),
        "full_outer",
    )
    return j.filter(
        F.col("o_id").isNull()
        | F.col("n_id").isNull()
        | (F.col("old_sha") != F.col("new_sha"))
    ).select(
        F.coalesce(F.col("o_id"), F.col("n_id")).alias("doc_id"),
        F.when(F.col("o_id").isNull(), F.lit("added"))
        .when(F.col("n_id").isNull(), F.lit("deleted"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        "old_sha",
        "new_sha",
    )


_ANOMALY_SQL = """
    WITH cents AS (
        SELECT event_id, user_id, ts, value,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ), stats AS (
        SELECT event_id, user_id, value, c,
               COUNT(c) OVER w AS n,
               SUM(c) OVER w AS s,
               SUM(c * c) OVER w AS ss
        FROM cents
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           CAST(n AS BIGINT) AS n_prior
    FROM stats
    WHERE n >= 8
      AND (n * c - s) * (n * c - s) * (n - 1) > 9 * n * (n * ss - s * s)
    """


@register("events_anomaly_zscore", sql=_ANOMALY_SQL)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Rolling z-score anomaly detection: an event is anomalous
    when its value sits more than 3 sample standard deviations from the
    mean of the user's previous ≤20 events (≥8 required). The test
    ``(x−s/n)² > 9·(n·ss−s²)/(n(n−1))`` is cleared of divisions into
    pure integer arithmetic over cent-quantized values
    (``floor(value·100+0.5)`` — the same IEEE double in every engine),
    so the flag is bit-exact cross-engine: no float summation order, no
    stddev ulp drift. One window PARTITIONED BY user_id — a single
    keyed shuffle at any scale, and the 21-row frame keeps state O(1)
    per task."""
    events = load_table(spark, sf_dir, "events")
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    stats = events.select(
        "event_id",
        "user_id",
        "value",
        c.alias("c"),
        F.count("value").over(w).alias("n"),
        F.sum(c).over(w).alias("s"),
        F.sum(c * c).over(w).alias("ss"),
    )
    dev = F.col("n") * F.col("c") - F.col("s")
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return stats.filter(
        (F.col("n") >= 8)
        & (dev * dev * (F.col("n") - 1) > 9 * F.col("n") * var_num)
    ).select(
        "event_id", "user_id", "value", F.col("n").cast("bigint").alias("n_prior")
    )


@register(
    "pivot_unpivot_roundtrip",
    sql="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events
    GROUP BY user_id, event_type
    """,
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Pivot/unpivot closure: the wide per-user event-type matrix
    (``pivot``) melted back to long form (``unpivot``) must equal the
    plain GROUP BY — the algebraic round-trip that proves the two
    reshape operators are exact inverses over the observed cells. Zero
    cells materialised by the pivot drop out on the NULL filter; the
    oracle is the direct rollup."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        ids=["user_id"],
        values=types,
        variableColumnName="event_type",
        valueColumnName="n",
    )
    return long.filter(F.col("n").isNotNull()).select(
        "user_id", "event_type", F.col("n").cast("long").alias("n")
    )


_HLL_EST_PATH = f"/tmp/dvh_hll_estimates_{__import__('os').getpid()}.parquet"


@register(
    "hll_mergeable_distinct",
    sql=f"""
    WITH staged AS (
        SELECT grain, estimated_users
        FROM read_parquet('{_HLL_EST_PATH}/*.parquet')
    ), exact AS (
        SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d')
                   AS grain,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events GROUP BY 1
    )
    SELECT e.grain, e.exact_users, s.estimated_users
    FROM exact e JOIN staged s USING (grain)
    UNION ALL
    SELECT s.grain, CAST(NULL AS BIGINT) AS exact_users, s.estimated_users
    FROM staged s WHERE s.grain = '__all_days__'
    """,
)
def hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Mergeable distinct-count sketches. STAGED PARTIAL oracle
    (same class as the minhash/BPE kernels): the HLL binary is
    Apache-DataSketches-specific, so the estimates themselves cannot be
    recomputed in DuckDB — the query stages its per-grain estimates at
    call time, and the oracle independently recomputes every
    ``exact_users`` with COUNT(DISTINCT), joins the staged estimates by
    grain, and rebuilds the merged row. The hash gate therefore proves
    the grain set, the exact counts, and the estimate column's stable
    replay; the estimate↔exact error bound and the merge law
    (merge-of-sketches == sketch-of-union EXACTLY) stay pytest-pinned
    (tests/test_sketch_zorder.py). This is the re-aggregatable-state
    pattern exact COUNT(DISTINCT) cannot give: per-day user sketches
    are tiny fixed-size states that roll up to any coarser grain
    WITHOUT rescanning the log — the shape incremental dashboards run
    at 100 TB. Output: per-day exact vs estimate plus the merged-week
    row."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = (
        ev.select(day.alias("d"), "user_id")
        .groupBy("d")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    per_day = daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("grain"),
        "exact_users",
        F.hll_sketch_estimate("sk").alias("estimated_users"),
    )
    merged = daily.agg(
        F.lit("__all_days__").alias("grain"),
        F.lit(None).cast("bigint").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("estimated_users"),
    )
    out = per_day.unionByName(merged)
    _stage_frame(
        out.select("grain", "estimated_users"), _HLL_EST_PATH, sf_dir
    )
    return out


@register(
    "customer_order_momentum",
    sql="""
    SELECT o_orderkey, o_custkey,
           CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT) AS order_day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT)
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d_value,
           CAST(COUNT(*) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT)
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_30d_orders
    FROM orders
    """,
)
def customer_order_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] VALUE-range window frames (``RANGE BETWEEN 30 PRECEDING``)
    — the window variant nothing else in the catalog exercises: each
    order carries its customer's trailing-30-DAY order value and count,
    where the frame is bounded by the ORDER KEY'S VALUE (days since
    epoch), not a row count — same-day peer rows enter the frame
    together in both engines by the SQL standard. Sum is DECIMAL-exact;
    one keyed shuffle on the customer."""
    orders = load_table(spark, sf_dir, "orders")
    # integer `div`, not double `/`: exact at any epoch, like the oracle's `//`
    day = F.expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        day.alias("order_day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("__p"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("order_day")
        .rangeBetween(-30, 0)
    )
    return base.select(
        "o_orderkey",
        "o_custkey",
        "order_day",
        F.sum("__p").over(w).cast("double").alias("trailing_30d_value"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("trailing_30d_orders"),
    )


@register(
    "chunk_shard_factory",
    sql=rf"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
        WHERE len(regexp_extract_all(text, '\S+')) >= 20
    ), c AS (
        SELECT doc_id, len(wl) AS n,
               CASE WHEN len(wl) <= {_CHUNK_LEN} THEN 1
                    ELSE CAST(ceil((len(wl) - {_CHUNK_LEN}) / {_CHUNK_STRIDE}.0)
                              AS INT) + 1 END AS n_chunks
        FROM w
    ), e AS (
        SELECT doc_id, n, unnest(range(0, n_chunks)) AS i FROM c
    ), chunks AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
               CAST(least({_CHUNK_LEN}, n - i * {_CHUNK_STRIDE}) AS BIGINT)
                   AS n_chunk_tokens,
               substr(sha256('cshuf-v1' || CAST(doc_id AS VARCHAR) || ':'
                             || CAST(i AS VARCHAR)), 1, 8) AS b
        FROM e
    ), ranked AS (
        SELECT doc_id, chunk_idx, n_chunk_tokens,
               row_number() OVER (ORDER BY b, doc_id, chunk_idx) AS position
        FROM chunks
    ), cum AS (
        SELECT doc_id, chunk_idx, n_chunk_tokens, position,
               CAST(SUM(n_chunk_tokens) OVER (ORDER BY position
                    ROWS UNBOUNDED PRECEDING) - n_chunk_tokens AS BIGINT)
                   AS before
        FROM ranked
    )
    SELECT doc_id, chunk_idx, position, n_chunk_tokens,
           CAST(before // 512 AS BIGINT) AS shard_id,
           CAST(before % 512 AS BIGINT) AS offset_in_shard
    FROM cum
    """,
)
def chunk_shard_factory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capstone #4 — retrieval-corpus ingestion at the CHUNK
    granularity: quality-gated documents are cut into overlapping
    32-token windows, the chunks (not the docs) are dealt into a
    deterministic salted-hash global order, and packed whole into
    512-token shards — the layout an embedding/RAG pipeline feeds its
    encoder. Every stage is the distributed machinery: scan-fused
    chunking (sequence/explode/slice, no shuffle), two-pass global rank,
    two-pass prefix-sum packing — two range shuffles total over the slim
    (id, size) chunk frame, regardless of corpus size."""
    from dvh_airflow_kafka_spark.ext.ranking import with_global_rank
    from dvh_airflow_kafka_spark.ext.sampling import pack_into_shards, split_bucket

    C, S = _CHUNK_LEN, _CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", xtext.tokens(F.col("text")).alias("wl")).filter(
        F.size("wl") >= 20
    )
    n = F.size("wl")
    n_chunks = (
        F.when(n <= C, F.lit(1))
        .otherwise(F.ceil((n - C) / F.lit(float(S))) + 1)
        .cast("int")
    )
    chunks = toks.select(
        "doc_id",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(C), F.col("n") - F.col("chunk_idx") * S)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        split_bucket(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("chunk_idx").cast("string"),
            ),
            "cshuf-v1",
        ).alias("__b"),
    )
    ranked, _ = with_global_rank(
        chunks, ["__b", "doc_id", "chunk_idx"], rank_col="position"
    )
    packed = pack_into_shards(
        ranked.select("position", "n_chunk_tokens", "doc_id", "chunk_idx"),
        "position",
        F.col("n_chunk_tokens"),
        capacity=512,
        carry_cols=("doc_id", "chunk_idx"),
    )
    return packed.select(
        "doc_id",
        "chunk_idx",
        "position",
        F.col("size").alias("n_chunk_tokens"),
        "shard_id",
        "offset_in_shard",
    )


@register(
    "doc_rarity_score",
    sql=r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
        FROM documents
    ), freq AS (
        SELECT token, COUNT(*) AS f FROM toks GROUP BY token
    ), tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM((SELECT n FROM tot) // f.f) AS BIGINT) AS rarity,
           CAST(MAX((SELECT n FROM tot) // f.f) AS BIGINT) AS max_token_rarity
    FROM toks t JOIN freq f ON f.token = t.token
    GROUP BY t.doc_id
    """,
)
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Surprisal-proxy document scoring WITHOUT floating logs: a
    token's rarity is ``N div freq`` (integer inverse frequency — the
    harmonic analogue of -log p that stays bit-exact across engines,
    where ``ln`` would drift in the last ulp between libm and the JVM),
    summed per document. High-rarity docs carry unusual vocabulary —
    the cheap end of the perplexity-filter family. Shape: one token
    rollup (map-side combined), one keyed join of tokens to their
    corpus frequency (at 100 TB the vocabulary is the small-but-
    unbounded side — it stays a shuffle join keyed on the token, never
    a driver collect), one per-doc aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(xtext.tokens(F.col("text"))).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("f"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.expr("n div f")).cast("bigint").alias("rarity"),
            F.max(F.expr("n div f")).cast("bigint").alias("max_token_rarity"),
        )
    )


@register(
    "events_to_scd2",
    sql="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), changes AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS from_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version
        FROM ordered
        WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type AS state,
           CAST(version AS BIGINT) AS version,
           from_us,
           lead(from_us) OVER (PARTITION BY user_id ORDER BY version)
               AS to_us,
           CAST(CASE WHEN lead(from_us) OVER (PARTITION BY user_id
                                              ORDER BY version) IS NULL
                THEN 1 ELSE 0 END AS INT) AS is_current
    FROM changes
    """,
)
def events_to_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Event log → type-2 slowly-changing dimension: each user's
    state-change events (consecutive-dedup via one lag comparison)
    become versioned validity intervals — ``[from, to)`` with an open
    current row — the transformation a datavarehus loader performs when
    a change stream feeds a historized dimension (the reference loads
    the raw stream and leaves historization to downstream SQL; here it
    is one plan). Shape: two passes over ONE keyed window partition —
    lag to detect changes, lead to close intervals — a single shuffle
    on the dimension key, map-side combinable, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("from_us"),
        F.lag("event_type").over(w).alias("prev"),
        F.col("ts"),
        F.col("event_id"),
    )
    changes = ordered.filter(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    ).select(
        "user_id",
        "event_type",
        "from_us",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("version"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("version").cast("bigint").alias("version"),
        "from_us",
        F.lead("from_us").over(wv).alias("to_us"),
        F.lead("from_us")
        .over(wv)
        .isNull()
        .cast("int")
        .alias("is_current"),
    )


@register(
    "user_conversion_paths",
    sql="""
    WITH ordered AS (
        SELECT user_id, event_type,
               row_number() OVER w AS rn,
               lag(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), steps AS (
        SELECT user_id, event_type, rn,
               row_number() OVER (PARTITION BY user_id ORDER BY rn) AS step
        FROM ordered
        WHERE prev IS NULL OR event_type <> prev
    ), paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY step) AS path
        FROM steps
        WHERE step <= 8
        GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths
    GROUP BY path
    """,
)
def user_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Conversion-path analysis (the product-analytics staple a
    MATCH_RECOGNIZE engine sells): each user's event stream collapses
    to its consecutive-deduplicated type sequence, truncated to the
    first 8 steps, and identical paths are counted across users. Shape:
    one keyed window (lag + running step number) — consecutive dedup
    falls out of a single ``lag`` comparison, no self-join — then an
    ordered in-group concatenation and a path rollup. Two keyed
    shuffles total (user window, path count), both
    map-side-combinable; path strings are bounded by the step cap, so
    the rollup key set cannot explode."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev"),
    )
    steps = (
        ordered.filter(
            F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
        )
        .withColumn(
            "step",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("rn")
            ),
        )
        .filter(F.col("step") <= 8)
    )
    paths = steps.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("step", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))


# One SQL text, two engines: the Spark side executes THIS EXACT STRING
# via spark.sql() over registered views, and the oracle is the same
# string — the portability statement that the SQL surface is ANSI, not a
# dialect.
_SHARED_ANSI_SQL = """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY c.c_mktsegment
    HAVING COUNT(*) > 10
    """


@register("sql_interface_shared_text", sql=_SHARED_ANSI_SQL)
def sql_interface_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL front door: users point ``spark.sql`` at the
    registered views and run ANSI SQL directly — no DataFrame API
    required. This query's Spark text and its DuckDB oracle are the
    SAME STRING (``_SHARED_ANSI_SQL``), hash-matched end to end, which
    pins the SQL surface to the portable subset (exact-decimal
    aggregation, standard joins/HAVING) rather than a dialect."""
    from dvh_airflow_kafka_spark.io import register_views

    register_views(spark, sf_dir, tables=("orders", "customer"))
    return spark.sql(_SHARED_ANSI_SQL)


@register(
    "jsonl_roundtrip_decode",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    UNION ALL
    SELECT '__corrupt__', 1, NULL
    """,
)
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
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="jsonl_")
    src = os.path.join(tmp, "events_jsonl")
    ev.coalesce(4).write.mode("overwrite").json(src)
    with open(os.path.join(src, "part-corrupt.json"), "w") as f:
        f.write('{"event_id": 1, "event_type": "purchase", "value": oops}\n')
    back = spark.read.schema(
        "event_id long, event_type string, value double, _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).json(src)
    # Spark refuses a query that touches ONLY the corrupt column of a raw
    # JSON scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    # pinning the parsed frame is the documented workaround.
    back = back.persist()
    good = back.filter(F.col("_corrupt").isNull())
    bad = back.filter(F.col("_corrupt").isNotNull())
    out = good.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    ).unionByName(
        bad.agg(
            F.lit("__corrupt__").alias("event_type"),
            F.count(F.lit(1)).alias("n_events"),
            F.lit(None).cast("double").alias("total_value"),
        )
    )
    rows = out.collect()
    back.unpersist()
    shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n_events long, total_value double"
    )


@register(
    "pseudonymize_users",
    sql="""
    SELECT event_id,
           substr(sha256('pseud-v1' || CAST(user_id AS VARCHAR)), 1, 16)
               AS user_token,
           event_type,
           value
    FROM events
    """,
)
def pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic pseudonymization — the fourth privacy
    primitive beside the kode-6/7 scrub, the k-anonymity audit and
    ``delete_where`` erasure: the direct identifier is replaced by a
    salted-hash surrogate that is stable across runs and tables (joins
    on the token still work) but only reversible through a separately
    held salt. Pure scan-fused Column expression — zero shuffle, and
    rotating the salt re-keys the whole corpus in one pass."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.substring(
            F.sha2(
                F.concat(F.lit("pseud-v1"), F.col("user_id").cast("string")),
                256,
            ),
            1,
            16,
        ).alias("user_token"),
        "event_type",
        "value",
    )


@register(
    "props_variant_rollup",
    sql="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def props_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Semi-structured analytics on the Spark 4 VARIANT type:
    ``parse_json`` shreds the payload once into the binary variant
    encoding and ``variant_get`` extracts typed paths without
    re-parsing — the engine-native path for JSON-heavy event streams
    (vs per-expression ``get_json_object`` string re-parses, which cost
    O(fields × parse) on wide extractions). One parse, one
    map-side-combined rollup; the oracle reads the same paths through
    DuckDB's JSON extraction."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.variant_get(F.parse_json(F.col("props")), "$.k", "int").alias("k"),
            F.col("value"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "fuzzy_match_blocked",
    sql="""
    WITH pool AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000,
               substr(text, 1, 29) || 'qqq' || substr(text, 33)
        FROM documents WHERE length(text) >= 40 AND doc_id % 4 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
    FROM pool a JOIN pool b
      ON substr(a.text, 1, 24) = substr(b.text, 1, 24)
     AND length(a.text) = length(b.text)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 5
    """,
)
def fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Entity-resolution fuzzy join: blocking (shared 24-char
    prefix + exact length — the planted mutation is substitution-only,
    so length survives; indel tolerance would add a second blocking
    pass on a shifted key) cuts the candidate space from O(n²) to
    per-block pairs, then the built-in ``levenshtein`` verifies real
    matches — with Spark's THRESHOLDED form (banded O(threshold·n)
    early-exit instead of the full O(n²) DP) since only distances ≤ 5
    matter; surviving pairs report the exact distance, identical to
    DuckDB's unbounded computation. The fixture plants a 3-char
    mutation at offset 30 in every long document, so each
    original↔mutant pair must surface with distance ≤ 3. At 100 TB the
    block key is the shuffle key — blocking quality, not the engine,
    bounds the join; a hot block salts like any skewed key. Dialect
    note: Spark's levenshtein is codepoint-level, DuckDB's is UTF-8
    BYTE-level (divergence pinned in test_cross_engine_properties) —
    the oracle equivalence holds because the fixture text is ASCII;
    on unicode corpora Spark's codepoint semantics is the right one."""
    docs = load_table(spark, sf_dir, "documents")
    mutant = docs.filter(
        (F.length("text") >= 40) & (F.col("doc_id") % 4 == 0)
    ).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, 29),
            F.lit("qqq"),
            F.expr("substr(text, 33)"),
        ).alias("text"),
    )
    # one keyed pool, pinned: the self-join's two sides would otherwise
    # each re-derive docs + mutants (4 parquet scans for a 10k-row frame)
    pool = (
        docs.select("doc_id", "text")
        .unionAll(mutant)
        .select(
            "doc_id",
            "text",
            F.substring("text", 1, 24).alias("__blk"),
            F.length("text").alias("__len"),
        )
        .persist()
    )
    a = pool.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("__ta"),
        "__blk",
        "__len",
    )
    b = pool.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("__tb"),
        "__blk",
        "__len",
    )
    bounded = F.expr("levenshtein(__ta, __tb, 5)")
    return (
        a.join(b, ["__blk", "__len"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", bounded.alias("edit_distance"))
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= 5))
        .withColumn("edit_distance", F.col("edit_distance").cast("int"))
    )


@register(
    "k_anonymity_audit",
    sql="""
    SELECT event_type,
           strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           COUNT(*) AS group_size,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT user_id) < 5
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] k-anonymity audit — the quantitative face of the
    reference's kode-6/7 screening duty (src/transform.py privacy
    scrub): every quasi-identifier combination (event_type, day, hour)
    backed by fewer than k=5 distinct people is a re-identification
    risk and must be suppressed or generalised before release. One
    map-side-combined aggregate over the QI tuple; the report is
    O(|QI combinations|) rows regardless of input size."""
    ev = load_table(spark, sf_dir, "events")
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
            F.count_distinct("user_id").alias("n_users"),
        )
        .filter(F.col("n_users") < 5)
    )


@register(
    "frequent_tokens_bounded_state",
    sql=r"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text, '\S+')) AS token
        FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, COUNT(*) AS n_occurrences
    FROM toks
    GROUP BY token
    HAVING COUNT(*) * 64 > (SELECT n FROM tot)
    """,
)
def frequent_tokens_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact heavy hitters with O(k) executor state
    (``ext/sketch.py``): a per-partition Misra-Gries candidate pass
    (mapInPandas — the decrement-counter loop is the rare genuinely
    imperative kernel) whose union provably covers every token with
    global frequency > N/64, then an exact verify pass counting ONLY the
    candidates (broadcast semi-join on the explode). Output is identical
    to the full groupBy the oracle runs — the sketch bounds memory,
    never changes the answer. This is the shape that survives unbounded
    key domains (n-grams, URLs) where plain map-side combine state grows
    with distinct-per-partition and spills."""
    from dvh_airflow_kafka_spark.ext.sketch import frequent_tokens

    docs = load_table(spark, sf_dir, "documents")
    return frequent_tokens(docs, F.col("text"), k_state=64)


@register(
    "streaming_corpus_dedup",
    sql="""
    WITH pool AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || '  ' FROM documents
    ), fp AS (
        SELECT doc_id,
               sha256(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS fingerprint,
               len(regexp_extract_all(text, '\\S+')) AS n_tokens
        FROM pool
        WHERE len(regexp_extract_all(text, '\\S+')) >= 5
    ), ranked AS (
        SELECT doc_id, fingerprint, n_tokens,
               row_number() OVER (PARTITION BY fingerprint
                                  ORDER BY doc_id) AS rn
        FROM fp
    )
    SELECT doc_id, fingerprint, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM ranked WHERE rn = 1
    """,
)
def streaming_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Streaming corpus INGESTION: documents (plus whitespace-
    variant replays, simulating re-crawls) arrive as a file stream in
    doc_id order, pass a quality gate, and are deduplicated ON INGEST by
    content fingerprint in the state store
    (``dropDuplicatesWithinWatermark`` is for event-time keys; content
    dedup has no event time, so plain streaming ``dropDuplicates`` keyed
    on the fingerprint holds the keyset — the bounded-state variant at
    100 TB is the Bloom/key-index probe, ``ext/bloom.py`` /
    ``streaming/keyindex.py``). Because batches arrive in doc_id order,
    first-seen == min(doc_id), which is exactly the batch window oracle —
    the streaming drain must hash-match it."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pool = docs.unionAll(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    def _write(src: str) -> None:
        # two ordered slices: originals first, replay variants second — the
        # dedup state built in batch 1 must absorb batch 2's replays
        pool.filter(F.col("doc_id") < 100000).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        pool.filter(F.col("doc_id") >= 100000).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    src = _staged_stream_src("stream_corpus", sf_dir, _write)
    stream = read_event_stream(spark, src)
    gated = stream.filter(F.size(xtext.tokens(F.col("text"))) >= 5).select(
        "doc_id",
        xtext.fingerprint(F.col("text")).alias("fingerprint"),
        F.size(xtext.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    deduped = gated.dropDuplicates(["fingerprint"])
    out = run_drain(deduped, shuffle_partitions=8).table
    return out.select("doc_id", "fingerprint", "n_tokens")


@register("streaming_anomaly_zscore", sql=_ANOMALY_SQL)
def streaming_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling z-score anomaly operator (ST-custom #2), driven as a
    real availableNow drain and oracled by the SAME batch SQL as
    ``events_anomaly_zscore`` — the strongest parity statement available:
    a custom ``applyInPandasWithState`` operator whose multi-micro-batch
    streaming output hash-matches a batch window query.

    The event log is staged into three ts-range files written
    sequentially, so micro-batches arrive in event-time order and the
    per-user value ring GENUINELY carries across batch boundaries (a
    single-file drain would reduce to batch). No sentinel/timeout is
    needed: an event's verdict depends only on prior events, so each
    batch emits its anomalies immediately."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        detect_anomalies_with_state,
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    def _write(src: str) -> None:
        # one-job ts-ranged staging: disjoint increasing ts ranges in
        # mtime order, so the drain sees batches in global event-time
        # order (equal-ts rows are co-located by repartitionByRange, and
        # the detector re-sorts each batch by (ts, event_id), so within-
        # file row order is immaterial).
        _staged_range_write(ev, src, 3, "ts")

    src = _staged_stream_src("stream_anom", sf_dir, _write)
    anomalies = detect_anomalies_with_state(read_event_stream(spark, src))
    out = run_drain(anomalies, shuffle_partitions=8).table
    return out.select("event_id", "user_id", "value", "n_prior")


@register(
    "streaming_interval_join",
    sql="""
    SELECT p.event_id AS purchase_id,
           e.event_id AS error_id,
           p.user_id,
           epoch_us(p.ts) - epoch_us(e.ts) AS lag_us
    FROM events p
    JOIN events e
      ON p.user_id = e.user_id
     AND p.event_type = 'purchase'
     AND e.event_type = 'error'
     AND e.ts <= p.ts
     AND e.ts > p.ts - INTERVAL 30 MINUTE
    """,
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (the third built-in stateful shape,
    beside windowed aggregation and dropDuplicatesWithinWatermark):
    every purchase attributed to the same user's errors in the
    preceding 30 minutes, both sides REAL file streams drained with
    availableNow across ts-ordered micro-batches, oracled by the batch
    interval join. Watermarks one tick past the lag bound let Spark
    evict join state, so state is the trailing 30-minute window per
    user — bounded at any stream length. Matches spanning micro-batch
    boundaries prove the state store is doing the work."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        interval_join_streams,
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
        # one-job ts-ranged staging (disjoint increasing ts ranges) — the
        # watermark-native batch order, so no row can arrive late
        _staged_range_write(ev, src, 3, "ts")

    src = _staged_stream_src("stream_ij", sf_dir, _write)
    purchases = read_event_stream(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    errors = read_event_stream(spark, src).filter(
        F.col("event_type") == "error"
    )
    joined = interval_join_streams(
        purchases, errors, key="user_id", max_lag="30 minutes"
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("error_id"),
        F.col("l.user_id").alias("user_id"),
        (F.unix_micros(F.col("l.ts")) - F.unix_micros(F.col("r.ts"))).alias(
            "lag_us"
        ),
    )
    return run_drain(joined, shuffle_partitions=4).table


@register(
    "incremental_daily_revenue",
    sql="""
    SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def incremental_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Incremental aggregate maintenance: a daily-revenue state
    table is maintained by MERGING re-aggregatable partials — the
    pattern that turns a 100 TB daily rollup into an O(new data) job.
    The fixture splits the log into an "already aggregated" half and a
    "new batch" half, aggregates each independently, and merges by
    re-aggregating the unioned partials (COUNT and DECIMAL SUM are both
    commutative monoids, so merge order is irrelevant and the result is
    bit-identical to the direct one-pass GROUP BY — which is exactly
    what the oracle computes). Plan: two scans of disjoint slices + one
    tiny merge shuffle on |days| rows; at scale the state side is read
    from the rollup table, not recomputed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    mid = dt.datetime(2024, 1, 15)

    def partial(df):
        return df.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            )
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"),
        )

    state = partial(ev.filter(F.col("ts") < F.lit(mid)))
    batch = partial(ev.filter(F.col("ts") >= F.lit(mid)))
    merged = (
        state.unionByName(batch)
        .groupBy("day")
        .agg(F.sum("n_events").alias("n_events"), F.sum("rev").alias("rev"))
    )
    return merged.select(
        "day", "n_events", F.col("rev").cast("double").alias("revenue")
    )


@register(
    "table_quality_report",
    sql="""
    SELECT 'orders_custkey_fk' AS check_name,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
               AS n_violations,
           (SELECT COUNT(*) FROM orders) AS n_checked
    UNION ALL
    SELECT 'lineitem_pk_unique',
           (SELECT COUNT(*) - COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
            FROM lineitem),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'events_value_valid',
           (SELECT COUNT(*) FROM events
            WHERE value IS NULL OR value < 0 OR value > 100000),
           (SELECT COUNT(*) FROM events)
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'events_type_nonnull',
           (SELECT COUNT(*) FROM events WHERE event_type IS NULL),
           (SELECT COUNT(*) FROM events)
    """,
)
def table_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Declarative data-quality audit (the Deequ-style constraint
    report a pipeline gates on before training): FK integrity via
    anti-join count, composite-PK uniqueness, value-range, domain and
    null checks — each a single aggregate over its table, unioned into
    one (check_name, n_violations, n_checked) report. Violation counts
    are conditional sums fused into ONE scan per table (no per-check
    rescans); the FK check's anti-join broadcasts the key side. At
    100 TB this is a handful of map-side-combined aggregates — the
    report is O(#checks) rows."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    fk_viol = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders["o_custkey"] == customer["c_custkey"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("fk_v"))
    ord_stats = orders.agg(
        F.count(F.lit(1)).alias("ord_n"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("status_v"),
    )
    li_stats = lineitem.agg(
        F.count(F.lit(1)).alias("li_n"),
        (
            F.count(F.lit(1))
            - F.count_distinct(
                F.col("l_orderkey") * 16 + F.col("l_linenumber")
            )
        ).alias("pk_v"),
    )
    ev_stats = events.agg(
        F.count(F.lit(1)).alias("ev_n"),
        F.sum(
            (
                F.col("value").isNull()
                | (F.col("value") < 0)
                | (F.col("value") > 100000)
            ).cast("long")
        ).alias("value_v"),
        F.sum(F.col("event_type").isNull().cast("long")).alias("type_v"),
    )

    def row(name, viol, checked):
        return F.struct(
            F.lit(name).alias("check_name"),
            viol.cast("long").alias("n_violations"),
            checked.cast("long").alias("n_checked"),
        )

    report = (
        fk_viol.crossJoin(F.broadcast(ord_stats))
        .crossJoin(F.broadcast(li_stats))
        .crossJoin(F.broadcast(ev_stats))
        .select(
            F.explode(
                F.array(
                    row("orders_custkey_fk", F.col("fk_v"), F.col("ord_n")),
                    row("lineitem_pk_unique", F.col("pk_v"), F.col("li_n")),
                    row("events_value_valid", F.col("value_v"), F.col("ev_n")),
                    row(
                        "orders_status_domain",
                        F.col("status_v"),
                        F.col("ord_n"),
                    ),
                    row("events_type_nonnull", F.col("type_v"), F.col("ev_n")),
                )
            ).alias("r")
        )
        .select("r.check_name", "r.n_violations", "r.n_checked")
    )
    return report


@register(
    "events_rolling_dau",
    sql="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ), days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           (SELECT COUNT(*) FROM ud WHERE ud.d = days.d) AS dau,
           (SELECT COUNT(DISTINCT user_id) FROM ud
            WHERE ud.d BETWEEN days.d - 6 AND days.d) AS rolling_7d_users
    FROM days
    """,
)
def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Daily + rolling-7-day distinct active users. Rolling
    DISTINCT does not decompose into window partials, so the scalable
    exact form is: dedup to (user, day) pairs once (one shuffle), then
    a bounded range join — each pair lands in at most 7 day buckets
    (explode of a 7-element sequence, no theta-join) — and one
    count-distinct per bucket. Row growth is a fixed 7x on the ALREADY
    deduplicated pairs, not on the raw log; at 100 TB the raw-event
    dedup dominates and everything downstream is |users|·|days|-sized."""
    ev = load_table(spark, sf_dir, "events")
    # localCheckpoint: the deduplicated (user, day) frame feeds both the
    # contribution explode and the calendar-day semi-join side — without
    # it the raw-log scan + dedup shuffle runs twice
    ud = (
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # each (user, day) pair contributes to buckets d .. d+6; the pair's
    # own day (bucket == d) doubles as the DAU membership, so ONE
    # aggregate yields both measures — no second scan, no dau⋈rolling
    # join.
    contrib = ud.select(
        "user_id",
        "d",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("bucket"),
    )
    days = ud.select(F.col("d").alias("__day")).distinct()
    both = (
        contrib.join(
            F.broadcast(days),
            contrib["bucket"] == days["__day"],
            "left_semi",
        )
        .groupBy("bucket")
        .agg(
            F.count_distinct(
                F.when(F.col("d") == F.col("bucket"), F.col("user_id"))
            ).alias("dau"),
            F.count_distinct("user_id").alias("rolling_7d_users"),
        )
    )
    return both.select(
        F.date_format(F.col("bucket"), "yyyy-MM-dd").alias("day"),
        "dau",
        "rolling_7d_users",
    )


