"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

from typing import Optional
from dvh_airflow_kafka_spark.ext import multimodal as xmm, text as xtext
from dvh_airflow_kafka_spark.io import ensure_parallelism, load_table
from pyspark.sql import DataFrame, SparkSession, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    register,
)
from dvh_airflow_kafka_spark.catalog.q06_semdedup import (
    _QUALITY_WEAK_THR,
    _qscore_ctes,
)

# ==========================================================================
# Round-7 (this session): data-layout planning (compaction bin-packing,
# Z-order clustering audit, column-encoding profile), exact dyadic EWMA,
# shuffle-skew salting planner, PCM frame-energy DSP kernel.
# ROUND-8 NOTE: registered after the 50-query driver window — rotate
# these (plus any other window misses) to the front of _CERTIFY_FIRST
# next round.  All verified locally vs their oracles at sf0.01.
# ==========================================================================

_COMPACT_TARGET = 4096


@register(
    "small_file_compaction_plan",
    sql=f"""
    WITH f AS (
        SELECT source, doc_id,
               CAST(strlen(text) AS BIGINT) AS bytes
        FROM documents
    ), b AS (
        SELECT source, doc_id, bytes,
               COALESCE(SUM(bytes) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before
        FROM f
    )
    SELECT source, CAST(before // {_COMPACT_TARGET} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
    FROM b GROUP BY 1, 2
    """,
)
def small_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Small-file compaction planning — the bin-packing step of
    Delta/Iceberg ``OPTIMIZE``, run as a distributed window instead of a
    driver-side greedy loop.  The file inventory is simulated from the
    documents table (partition group = source, file = doc_id, bytes =
    utf-8 length); ``ext/layout.plan_compaction_bins`` assigns ``bin =
    floor(exclusive_prefix_bytes / target)`` per group and rolls up each
    bin's file count/bytes/id-range — the work list a compaction job
    fans out over.  The spec is closed-form, so the oracle replays it
    exactly.

    Scale: the input is table METADATA (a million rows for 100 TB, one
    per file), the plan is one keyed window + one aggregate, and every
    partition group plans in parallel."""
    from dvh_airflow_kafka_spark.ext import layout as xlayout

    docs = load_table(spark, sf_dir, "documents")
    files = docs.select(
        "source",
        "doc_id",
        F.octet_length("text").cast("bigint").alias("bytes"),
    )
    return xlayout.plan_compaction_bins(
        files, "source", "doc_id", "bytes", _COMPACT_TARGET
    )


def _zorder_oracle_sql(bits: int = 8, n_files: int = 16) -> str:
    """SQL mirror of ``ext/layout.bit_interleave2`` + the span audit —
    the interleave unrolled as explicit shift/mask terms."""
    terms = []
    for i in range(bits):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    zspan = (1 << (2 * bits)) // n_files
    lspan = (1 << bits) // n_files
    return f"""
    WITH k AS (
        SELECT user_id & 255 AS x,
               CAST(floor(value * 10) AS BIGINT) & 255 AS y
        FROM events
    ), z AS (
        SELECT x, y, ({z}) // {zspan} AS zfile, x // {lspan} AS lfile
        FROM k
    ), za AS (
        SELECT 'zorder' AS layout, zfile AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max
        FROM z GROUP BY 2
    ), la AS (
        SELECT 'linear' AS layout, lfile AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max
        FROM z GROUP BY 2
    )
    SELECT * FROM za UNION ALL SELECT * FROM la
    """


@register("zorder_layout_audit", sql=_zorder_oracle_sql())
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Z-order clustering audit: interleave the bit planes of two
    event dimensions (user band, value band) into a Morton key, assign
    rows to 16 fixed key-range files, and emit each file's per-dimension
    (min, max) — exactly the parquet row-group stats a reader prunes on
    — side by side with a linear sort-by-x layout.  The z-ordered files
    bound BOTH spans (~sqrt of domain); the linear layout leaves y at
    full width: the measurable reason ``Z-ORDER BY`` exists.  The
    interleave (``ext/layout.bit_interleave2``) is a closed-form
    shift/mask expression — whole-stage codegen on Spark, the identical
    unrolled arithmetic in the oracle, so the audit is bit-exact.

    Scale: one projection + two aggregations; the audit a maintenance
    loop runs AFTER rewriting 100 TB to prove the new layout actually
    tightened the stats data-skipping reads."""
    from dvh_airflow_kafka_spark.ext import layout as xlayout

    ev = load_table(spark, sf_dir, "events")
    return xlayout.layout_span_audit(
        ev,
        F.col("user_id"),
        F.floor(F.col("value") * 10),
        bits=8,
        n_files=16,
    )


@register(
    "column_encoding_stats",
    sql="""
    WITH v AS (
        SELECT source, doc_id, CAST(length(text) AS BIGINT) AS v
        FROM documents
    ), d AS (
        SELECT source, v,
               v - lag(v) OVER (PARTITION BY source ORDER BY doc_id) AS dd
        FROM v
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN dd <> 0 THEN 1 ELSE 0 END) + 1 AS BIGINT)
               AS n_runs,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(CASE WHEN MAX(ABS(dd)) IS NULL THEN 0
                ELSE length(bin(MAX(ABS(dd)))) END AS INT) AS delta_bits,
           CAST(SUM(CASE WHEN dd >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonneg_deltas,
           CAST(COUNT(dd) AS BIGINT) AS n_deltas
    FROM d GROUP BY source
    """,
)
def column_encoding_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Column-encoding profile in write order: per source, the RLE
    run count, dictionary cardinality, delta bit-width (integer-exact
    via binary-string length — never a float log2), and ascending-delta
    counts for the document-length column — the numbers a writer
    consults to pick parquet encodings per column chunk, and a
    drift-audit for whether a table's write order still compresses.
    ``ext/layout.encoding_stats`` is one keyed window + one aggregate;
    all integer arithmetic, so the oracle replay is bit-exact."""
    from dvh_airflow_kafka_spark.ext import layout as xlayout

    docs = load_table(spark, sf_dir, "documents")
    return xlayout.encoding_stats(
        docs, "source", "doc_id", F.length("text")
    )


@register(
    "events_ewma_forecast",
    sql="""
    WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), r AS (
        SELECT user_id, event_id, ts_us, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us DESC, event_id DESC)
                   AS rnd
        FROM p
    ), k AS (
        SELECT user_id, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS j
        FROM r WHERE rnd <= 30
    )
    SELECT user_id, CAST(MAX(j) AS INT) AS n_taps,
           CAST(SUM(cents * (CASE WHEN j = 1 THEN 1
                ELSE (CAST(1 AS BIGINT) << (j - 2)) END)) AS BIGINT)
               AS ewma_scaled,
           CAST(MAX(j) - 1 AS INT) AS denom_log2,
           SUM(cents * (CASE WHEN j = 1 THEN 1
                ELSE (CAST(1 AS BIGINT) << (j - 2)) END))
               / (CAST(1 AS BIGINT) << (MAX(j) - 1)) AS ewma
    FROM k GROUP BY user_id
    """,
)
def events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user spend forecast: 30-tap exponentially-weighted
    moving average (α = 1/2) over each user's purchase history in cents
    — the smoothing baseline burst/anomaly monitors compare the next
    observation against.  ``ext/stats.keyed_dyadic_ewma`` unrolls the
    recurrence into the dyadic-rational identity ``S·2^{s-1} = x_1 +
    Σ x_j·2^{j-2}``: pure bigint arithmetic plus one power-of-two
    division that is EXACT in doubles, so the cross-engine check is
    bit-for-bit, not tolerance-based.  No sequential recurrence
    anywhere: two same-key windows (one exchange) + one aggregate,
    O(taps) rows per key past the first window."""
    from dvh_airflow_kafka_spark.ext import stats as xstats

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return xstats.keyed_dyadic_ewma(
        p, "user_id", ["ts", "event_id"], F.col("cents"), taps=30
    )


_SKEW_TARGET_ROWS = 50


@register(
    "partition_skew_planner",
    sql=f"""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY user_id
    ), s AS (
        SELECT user_id, n_rows,
               (n_rows + {_SKEW_TARGET_ROWS - 1}) // {_SKEW_TARGET_ROWS}
                   AS salt_factor
        FROM c
    )
    SELECT user_id, n_rows,
           CAST(salt_factor AS BIGINT) AS salt_factor,
           CAST((n_rows + salt_factor - 1) // salt_factor AS BIGINT)
               AS max_slice_rows
    FROM s
    ORDER BY n_rows DESC, user_id
    LIMIT 20
    """,
)
def partition_skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Shuffle-skew salting planner: per join/aggregation key, the
    salt factor ``ceil(rows / target)`` that splits a hot key into
    near-target-size slices, for the top-20 heaviest keys — the plan you
    compute BEFORE shuffling a skewed 100 TB join (the execution side is
    ``salted_segment_revenue``; AQE's skew-join does this at runtime,
    salting does it when the skew must also survive a downstream
    window/aggregate).  The target is scaled to the fixture (50 rows);
    production targets are per-task row budgets.  One map-side-combined
    count + closed-form integer arithmetic + a top-k
    (TakeOrderedAndProject, no global sort)."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    salt = F.floor(
        (F.col("n_rows") + F.lit(_SKEW_TARGET_ROWS - 1))
        / F.lit(_SKEW_TARGET_ROWS)
    ).cast("bigint")
    plan = cnt.select(
        "user_id",
        "n_rows",
        salt.alias("salt_factor"),
    ).select(
        "user_id",
        "n_rows",
        "salt_factor",
        F.floor(
            (F.col("n_rows") + F.col("salt_factor") - 1)
            / F.col("salt_factor")
        )
        .cast("bigint")
        .alias("max_slice_rows"),
    )
    return plan.orderBy(F.desc("n_rows"), "user_id").limit(20)


@register(
    "audio_frame_energy",
    sql="""
    WITH n AS (
        SELECT doc_id, 64 + doc_id % 193 AS n FROM documents
    ), s AS (
        SELECT doc_id, unnest(range(n)) AS i FROM n
    ), v AS (
        SELECT doc_id, i,
               ((doc_id * 131 + i * 17) % 4001 - 2000) AS v
        FROM s
    )
    SELECT doc_id, CAST(i // 64 AS INT) AS block_idx,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS energy
    FROM v GROUP BY 1, 2
    """,
)
def audio_frame_energy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: a REAL audio DSP kernel over binary blobs —
    spec-exact 16-bit PCM WAVs with deterministic sample data
    (``ext/multimodal.synth_wav_pcm_frame``) are parsed back by the
    stdlib RIFF walk, their samples reinterpreted as int16 and reduced
    to per-64-sample-block energies ``Σ s²`` as exact int64
    (``ext/multimodal.wav_frame_energy``) — the silence-trim / clipping
    / loudness pre-filter an audio-curation pipeline runs before any
    model sees a clip.  The synth waveform is arithmetic in the id, so
    the oracle recomputes every block energy WITHOUT touching bytes:
    the byte-level decode + DSP is hash-verified end to end, the same
    contract as ``wav_decode_metadata`` but over sample DATA, not
    headers.  Arrow-batched ``mapInPandas`` with numpy inside — a
    map-only pass over the blob scan at any scale, input-balanced per
    guide §2.5 (the decode kernel is CPU-bound; no-op on parallel
    layouts)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    blobs = xmm.synth_wav_pcm_frame(docs)
    return xmm.wav_frame_energy(blobs)


@register(
    "embedding_gram_matrix",
    sql="""
    WITH q AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000)
                    AS BIGINT) AS q
        FROM embeddings
    ), g AS (
        SELECT a.d AS i, b.d AS j,
               CAST(SUM(a.q * b.q) AS BIGINT) AS gram
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.d <= b.d
        GROUP BY 1, 2
    ), s AS (
        SELECT d, CAST(SUM(q) AS BIGINT) AS dim_sum,
               CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM q GROUP BY d
    )
    SELECT g.i, g.j, g.gram,
           CAST(CASE WHEN g.i = g.j THEN s.dim_sum ELSE 0 END AS BIGINT)
               AS dim_sum,
           CAST(CASE WHEN g.i = g.j THEN s.n_vecs ELSE 0 END AS BIGINT)
               AS n_vecs
    FROM g LEFT JOIN s ON s.d = g.i
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact Gram/co-moment matrix of the quantized embedding
    corpus — the distributed heavy pass of PCA, whitening, and
    covariance drift checks.  ``ext/similarity.quantized_gram_matrix``
    computes ONE d×d int64 outer-product partial per partition (a
    single numpy matmul per Arrow batch) and reduces d(d+1)/2 partial
    rows — the shuffle payload is independent of corpus size, vs the
    naive posexplode self-join's n·d² shuffled rows (what the oracle
    runs, feasible only at fixture scale).  Quantization makes every
    sum integer-exact, so the cross-engine check is bit-for-bit; the
    diagonal rows carry per-dimension sums + count for driver-side
    centering (the d×d eigensolve is trivial once the corpus pass is
    done)."""
    from dvh_airflow_kafka_spark.ext import similarity as xsimilarity

    emb = load_table(spark, sf_dir, "embeddings")
    return xsimilarity.quantized_gram_matrix(emb, "embedding", scale=1000)


@register(
    "join_cardinality_estimator",
    sql="""
    WITH lc AS (
        SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1
    ), t AS (
        SELECT (SELECT COUNT(*) FROM lineitem) AS tl,
               (SELECT COUNT(*) FROM orders) AS torders
    ), p AS (
        SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(COALESCE(lc.c, 0)) AS BIGINT) AS actual_lines
        FROM orders o LEFT JOIN lc ON lc.l_orderkey = o.o_orderkey
        GROUP BY 1
    )
    SELECT p.o_orderpriority, p.n_orders, p.actual_lines,
           CAST((p.n_orders * t.tl) // t.torders AS BIGINT) AS est_lines,
           CASE WHEN p.actual_lines > 0 THEN
               CAST(abs(p.actual_lines - (p.n_orders * t.tl) // t.torders)
                    * 1000000 // p.actual_lines AS BIGINT)
           END AS err_ppm
    FROM p, t
    """,
)
def join_cardinality_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Join-cardinality estimation audit: per order priority, the
    ACTUAL orders⋈lineitem output rows next to the uniform-fanout
    ESTIMATE ``n_orders · |lineitem| / |orders|`` (what a cost model
    assumes without a correlated-column histogram), with the error in
    exact ppm — the planner-calibration readout that tells you which
    predicate's join needs real stats before you trust broadcast/shuffle
    decisions on it at 100 TB.  Integer arithmetic throughout (floor
    division), so the audit is bit-exact cross-engine.  Plan: one
    map-side-combined per-key count, one foreign-key join, two scalar
    counts broadcast into the projection — no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lc = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    tot = orders.agg(F.count(F.lit(1)).alias("torders")).crossJoin(
        li.agg(F.count(F.lit(1)).alias("tl"))
    )
    p = (
        orders.join(
            lc, orders["o_orderkey"] == lc["l_orderkey"], "left"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).alias("actual_lines"),
        )
    )
    est = F.floor(
        (F.col("n_orders") * F.col("tl")) / F.col("torders")
    ).cast("bigint")
    return p.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n_orders",
        "actual_lines",
        est.alias("est_lines"),
        # NULL (not a 0-division artifact) when a priority group's orders
        # have no lineitems — mirrored CASE in the oracle
        F.when(
            F.col("actual_lines") > 0,
            F.floor(
                F.abs(F.col("actual_lines") - est)
                * F.lit(1000000)
                / F.col("actual_lines")
            ).cast("bigint"),
        ).alias("err_ppm"),
    )


@register(
    "image_tile_checksum",
    sql="""
    WITH dims AS (
        SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id * 7) % 16 AS h
        FROM documents
    ), pr AS (
        SELECT doc_id, w, unnest(range(h)) AS r FROM dims
    ), pc AS (
        SELECT doc_id, r, unnest(range(w)) AS c FROM pr
    ), v AS (
        SELECT doc_id, r, c, (doc_id * 31 + r * 17 + c * 7) % 251 AS v
        FROM pc
    )
    SELECT doc_id, CAST(r // 8 AS INT) AS tile_row,
           CAST(c // 8 AS INT) AS tile_col,
           CAST(COUNT(*) AS INT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MAX(v) AS INT) AS px_max
    FROM v GROUP BY 1, 2, 3
    """,
)
def image_tile_checksum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] multimodal: a REAL image decode kernel over pixel DATA —
    valid grayscale PNGs with deterministic pixels
    (``ext/multimodal.synth_png_pixels_frame``) are chunk-walked, their
    IDAT zlib-DECOMPRESSED (a real codec), filter bytes stripped, and
    the pixel grid reduced to per-8×8-tile integer sums/maxima
    (``ext/multimodal.png_tile_checksum``) — the blank-region /
    brightness pre-filter an image-curation pipeline runs before any
    vision model sees a frame, and the decode→tile→reduce access
    pattern of patch feature extraction.  The synth pixels are
    arithmetic in the id, so the oracle recomputes every tile without
    touching bytes: the container walk + inflate + tiling is
    hash-verified end to end — ``wav_decode_metadata`` verified header
    parsing, ``audio_frame_energy`` verified sample DSP, this verifies
    a full compressed-image decode.  Map-only at any scale,
    input-balanced per guide §2.5 (zlib inflate is CPU-bound; no-op on
    parallel layouts)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    blobs = xmm.synth_png_pixels_frame(docs)
    return xmm.png_tile_checksum(blobs, tile=8)


_GD_ITERS = 3
_GD_SHIFT = 34  # learning rate 2^-34: stable for X^T X spectra to ~1.7e10


def _gd_oracle_sql(iters: int, shift: int) -> str:
    """Unrolled gradient-descent iterations as nested CTEs — the SQL
    mirror of the driver loop in ``linear_probe_gd`` (what an engine
    with iterative DML would loop; written out so every iteration's
    integer weights are exact)."""
    feat = f"""
    WITH {_qscore_ctes("documents")}, f AS (
        SELECT t.doc_id,
               CAST(least(t.n_words, 255) AS BIGINT) AS x1,
               CAST(least(floor(t.n_chars / 16), 255) AS BIGINT) AS x2,
               CAST(least(t.n_punct, 255) AS BIGINT) AS x3,
               CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS y
        FROM t JOIN q USING (doc_id)
    ), w0 AS (
        SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
               CAST(0 AS BIGINT) AS b2, CAST(0 AS BIGINT) AS b3
    )"""
    parts = [feat]
    for t in range(1, iters + 1):
        pred = f"(w.b0 + w.b1 * f.x1 + w.b2 * f.x2 + w.b3 * f.x3)"
        parts.append(
            f"""
    , g{t} AS (
        SELECT CAST(SUM({pred} - f.y) AS BIGINT) AS g0,
               CAST(SUM(({pred} - f.y) * f.x1) AS BIGINT) AS g1,
               CAST(SUM(({pred} - f.y) * f.x2) AS BIGINT) AS g2,
               CAST(SUM(({pred} - f.y) * f.x3) AS BIGINT) AS g3,
               CAST(SUM(({pred} - f.y) * ({pred} - f.y)) AS BIGINT) AS sse
        FROM f, w{t - 1} w
    ), w{t} AS (
        SELECT w.b0 - (g.g0 >> {shift}) AS b0,
               w.b1 - (g.g1 >> {shift}) AS b1,
               w.b2 - (g.g2 >> {shift}) AS b2,
               w.b3 - (g.g3 >> {shift}) AS b3
        FROM w{t - 1} w, g{t} g
    )"""
        )
    selects = [
        f"SELECT CAST({t} AS INT) AS iter, w{t}.b0, w{t}.b1, w{t}.b2,"
        f" w{t}.b3, g{t}.sse FROM w{t}, g{t}"
        for t in range(1, iters + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@register("linear_probe_gd", sql=_gd_oracle_sql(_GD_ITERS, _GD_SHIFT))
def linear_probe_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed model training, bit-exact: a linear probe
    (quality score in ppm ~ capped token/char/punct features) fit by
    full-batch gradient descent — the canonical data-parallel training
    loop, where each iteration is ONE map-side-combined aggregate
    producing the d+1 gradient/loss sums and the driver holds only the
    d=4 weight scalars (the same O(model) driver state as
    ``embedding_kmeans_assign``'s Lloyd's loop).

    Everything is integer: features are capped bigints, the target is
    ppm, the learning rate is an ARITHMETIC SHIFT (``g >> 34`` — floor
    division by 2³⁴, identical on both engines; DuckDB's ``//``
    truncates toward zero and would disagree on negative gradients),
    so the weight trajectory is bit-reproducible and the oracle unrolls
    the identical iterations as CTEs.  Magnitude proof: |resid| ≤
    ~1.3e6, |grad| ≤ 1.3e6·255·N — int64-safe past sf1.0, sse ≤
    1.7e12·N likewise.  Output: per-iteration post-update weights and
    the pre-update SSE that produced them (strictly decreasing — the
    pytest law).

    Scale: at 100 TB the features frame is cached once across
    iterations; each step shuffles only |partitions|·(d+2) partial
    sums.  Divergence-proof step size: 2^-34 < 2/λ_max for any
    X^T X spectrum below 1.7e10 (N·4·255² at N≈6×10⁷ docs)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = xtext.token_count_ws(F.col("text")).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    n_punct = F.length(
        F.regexp_replace(F.col("text"), r"[\w\s]", "")
    ).cast("bigint")
    feats = docs.select(
        F.least(n_tokens, F.lit(255)).alias("x1"),
        F.least(F.floor(n_chars / 16).cast("bigint"), F.lit(255)).alias(
            "x2"
        ),
        F.least(n_punct, F.lit(255)).alias("x3"),
        F.floor(xtext.quality_score(F.col("text")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    ).persist()
    try:
        w = [0, 0, 0, 0]
        out = []
        for t in range(1, _GD_ITERS + 1):
            pred = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                + F.lit(w[3]) * F.col("x3")
            )
            resid = pred - F.col("y")
            row = feats.agg(
                F.sum(resid).alias("g0"),
                F.sum(resid * F.col("x1")).alias("g1"),
                F.sum(resid * F.col("x2")).alias("g2"),
                F.sum(resid * F.col("x3")).alias("g3"),
                F.sum(resid * resid).alias("sse"),
            ).first()
            w = [w[j] - (int(row[j]) >> _GD_SHIFT) for j in range(4)]
            out.append((t, w[0], w[1], w[2], w[3], int(row["sse"])))
    finally:
        feats.unpersist()
    return spark.createDataFrame(
        out, "iter int, b0 long, b1 long, b2 long, b3 long, sse long"
    )


_LOGREG_ITERS = 3
_LOGREG_SHIFT = 26  # learning rate 2^-26 (sim-checked stable at sf0.01..0.1)
_LOGREG_K = 20  # probability fixed point: 1.0 == 2^20
_LOGREG_THR = _QUALITY_WEAK_THR  # shared weak-label teacher threshold


def _logreg_oracle_sql(iters: int, shift: int) -> str:
    """Unrolled hard-sigmoid logistic-regression iterations as nested
    CTEs — the SQL mirror of the driver loop in ``quality_logreg_gd``
    (same unroll style as ``_gd_oracle_sql``; every iteration's integer
    weights are exact)."""
    full = 1 << _LOGREG_K
    half = full >> 1
    feat = f"""
    WITH {_qscore_ctes("documents")}, f AS (
        SELECT t.doc_id,
               CAST(least(t.n_words, 255) AS BIGINT) AS x1,
               CAST(least(t.sw, 255) AS BIGINT) AS x2,
               CAST(least(floor(t.n_chars / 16), 255) AS BIGINT) AS x3,
               CASE WHEN q.quality >= {_LOGREG_THR}
                    THEN CAST({full} AS BIGINT) ELSE CAST(0 AS BIGINT)
               END AS yfull
        FROM t JOIN q USING (doc_id)
    ), w0 AS (
        SELECT CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1,
               CAST(0 AS BIGINT) AS b2, CAST(0 AS BIGINT) AS b3
    )"""
    parts = [feat]
    for t in range(1, iters + 1):
        margin = "(w.b0 + w.b1 * f.x1 + w.b2 * f.x2 + w.b3 * f.x3)"
        p = f"greatest(0, least({full}, {half} + ({margin} >> 2)))"
        r = f"({p} - f.yfull)"
        parts.append(
            f"""
    , g{t} AS (
        SELECT CAST(SUM({r}) AS BIGINT) AS g0,
               CAST(SUM({r} * f.x1) AS BIGINT) AS g1,
               CAST(SUM({r} * f.x2) AS BIGINT) AS g2,
               CAST(SUM({r} * f.x3) AS BIGINT) AS g3,
               CAST(SUM({r} * {r}) AS BIGINT) AS brier,
               CAST(SUM(CASE WHEN {p} >= {half} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos_pred
        FROM f, w{t - 1} w
    ), w{t} AS (
        SELECT w.b0 - (g.g0 >> {shift}) AS b0,
               w.b1 - (g.g1 >> {shift}) AS b1,
               w.b2 - (g.g2 >> {shift}) AS b2,
               w.b3 - (g.g3 >> {shift}) AS b3
        FROM w{t - 1} w, g{t} g
    )"""
        )
    selects = [
        f"SELECT CAST({t} AS INT) AS iter, w{t}.b0, w{t}.b1, w{t}.b2,"
        f" w{t}.b3, g{t}.brier, g{t}.n_pos_pred FROM w{t}, g{t}"
        for t in range(1, iters + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@register("quality_logreg_gd", sql=_logreg_oracle_sql(_LOGREG_ITERS, _LOGREG_SHIFT))
def quality_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed quality-CLASSIFIER training, bit-exact: the
    fastText-quality-filter shape — a binary linear classifier fit by
    full-batch gradient descent against a weak teacher label (quality
    score ≥ 0.75, the cheap-heuristic rule a curation pipeline
    distills into a fast student model; fastText's wiki-vs-crawl weak
    labels play the same role).  The logistic sigmoid is the HARD
    sigmoid ``clamp(0.5 + m/4, 0, 1)`` — the standard quantized-training
    surrogate — in 2^-20 fixed point, so each iteration is pure integer
    arithmetic: margin = w·x, p = clamp(2^19 + (m >> 2), 0, 2^20),
    residual r = p − y·2^20, gradient = Σ r·x, update w −= g >> 26
    (arithmetic shift, floor semantics identical on both engines).
    Extends ``linear_probe_gd`` (regression) to classification on the
    same "one map-side-combined aggregate per iteration, O(d) driver
    state" machinery; the oracle unrolls identical iterations as CTEs.

    Output per iteration: post-update weights, pre-update Brier loss
    (Σ r² — strictly decreasing, the pytest law) and the positive
    prediction count.

    Exactness preconditions (same family as ``token_frequency_profile``):
    |r| ≤ 2^20 and x ≤ 255 keep every gradient sum < 2^63 up to ~3e13
    docs, but Σ r² < 2^63 needs N < 2^23 ≈ 8.4M rows — far above any
    per-run training sample (a 100 TB pipeline trains its quality
    student on a bounded sample), noted here because Spark's BIGINT SUM
    wraps silently while DuckDB lifts to HUGEINT.

    Scale: features cached once; each iteration shuffles only
    |partitions|·(d+3) partial sums; hard-sigmoid saturation bounds
    every residual, so the trajectory cannot diverge regardless of
    corpus size."""
    full = 1 << _LOGREG_K
    half = full >> 1
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = xtext.token_count_ws(F.col("text")).cast("bigint")
    sw = xtext.stopword_hits(
        F.col("text"), xtext.LANG_STOPWORDS["en"]
    ).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    feats = docs.select(
        F.least(n_tokens, F.lit(255)).alias("x1"),
        F.least(sw, F.lit(255)).alias("x2"),
        F.least(F.floor(n_chars / 16).cast("bigint"), F.lit(255)).alias(
            "x3"
        ),
        F.when(
            xtext.quality_score(F.col("text")) >= F.lit(_LOGREG_THR),
            F.lit(full).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("yfull"),
    ).persist()
    try:
        w = [0, 0, 0, 0]
        out = []
        for t in range(1, _LOGREG_ITERS + 1):
            margin = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                + F.lit(w[3]) * F.col("x3")
            )
            p = F.greatest(
                F.lit(0).cast("bigint"),
                F.least(
                    F.lit(full).cast("bigint"),
                    F.lit(half) + F.shiftright(margin, 2),
                ),
            )
            r = p - F.col("yfull")
            row = feats.agg(
                F.sum(r).alias("g0"),
                F.sum(r * F.col("x1")).alias("g1"),
                F.sum(r * F.col("x2")).alias("g2"),
                F.sum(r * F.col("x3")).alias("g3"),
                F.sum(r * r).alias("brier"),
                F.sum(
                    F.when(p >= F.lit(half), F.lit(1)).otherwise(F.lit(0))
                ).alias("n_pos_pred"),
            ).first()
            w = [w[j] - (int(row[j]) >> _LOGREG_SHIFT) for j in range(4)]
            out.append(
                (
                    t,
                    w[0],
                    w[1],
                    w[2],
                    w[3],
                    int(row["brier"]),
                    int(row["n_pos_pred"]),
                )
            )
    finally:
        feats.unpersist()
    return spark.createDataFrame(
        out,
        "iter int, b0 long, b1 long, b2 long, b3 long, brier long,"
        " n_pos_pred long",
    )


_KN_DISCOUNT = 0.75  # exactly representable in binary; c−D is exact
_KN_MIN_COUNT = 5
_KN_TOPN = 200


@register(
    "kneser_ney_bigram_lm",
    sql=rf"""
    WITH w AS (SELECT regexp_extract_all(text, '\S+') AS wl FROM documents),
    w2 AS (SELECT wl FROM w WHERE len(wl) >= 2),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(wl)), i -> wl[i])) AS a,
               unnest(list_transform(range(1, len(wl)), i -> wl[i+1])) AS b
        FROM w2
    ),
    bc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
           FROM pairs GROUP BY a, b),
    ca AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a,
                  CAST(COUNT(*) AS BIGINT) AS n_follow_a
           FROM bc GROUP BY a),
    cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_prec_b
           FROM bc GROUP BY b),
    bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS btypes FROM bc)
    SELECT bc.a || ' ' || bc.b AS bigram, c_ab, c_a, n_follow_a, n_prec_b,
           ROUND((CAST(c_ab AS DOUBLE) - {_KN_DISCOUNT}) / c_a
                 + (({_KN_DISCOUNT} * n_follow_a) / c_a)
                   * (CAST(n_prec_b AS DOUBLE) / btypes), 6) AS p_kn
    FROM bc JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN bt
    WHERE c_ab >= {_KN_MIN_COUNT}
    ORDER BY c_ab DESC, bigram
    LIMIT {_KN_TOPN}
    """,
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed interpolated Kneser–Ney bigram LM estimation
    (Kneser & Ney, ICASSP'95; Chen & Goodman, CL'99) with a fixed
    discount D=0.75 — the count-based language model CCNet-style
    corpus curation scores documents with (perplexity filtering à la
    KenLM), built the way Brants et al., 'Large language models in
    machine translation' (EMNLP'07) established n-gram LM training as
    a canonical distributed-counting workload.

    P_KN(b|a) = max(c(a,b)−D, 0)/c(a) + (D·N1+(a·)/c(a)) · N1+(·b)/B
    where N1+(a·)/N1+(·b) are follow/precede TYPE counts and B is the
    number of distinct bigram types — the continuation-probability
    insight that makes KN the strongest count-based smoother.

    Everything derives from ONE corpus-token shuffle: the adjacent-pair
    count c(a,b) (map-side combined, vocabulary-bounded output); c(a),
    N1+(a·), N1+(·b) and B are then aggregates OVER the bigram-type
    frame, never over the corpus again — at 100 TB the heavy exchange
    happens once and the smoothing statistics ride on frames bounded by
    |vocab²∩corpus|.  Bit-exactness: every input to the probability is
    an exact BIGINT, D=0.75 is a dyadic rational (c−D exact in double),
    and both engines evaluate the identical association order of
    correctly-rounded IEEE ops, so ROUND(·, 6) agrees exactly — no libm
    call anywhere.  Top-200 by raw count, floor 5, ties on the bigram
    string."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(xtext.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = F.split(F.col("bg"), " ")
    pairs = toks.select(
        F.explode(xtext.word_ngrams_from_tokens(F.col("toks"), 2)).alias("bg")
    ).select(bg[0].alias("a"), bg[1].alias("b"))
    # the bigram-type frame feeds four consumers (ca, cb, B, the output
    # join) — materialize it once
    bc = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    ca = bc.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"),
        F.count(F.lit(1)).alias("n_follow_a"),
    )
    cb = bc.groupBy("b").agg(F.count(F.lit(1)).alias("n_prec_b"))
    btypes = bc.count()  # bounded scalar aggregate (one long)
    p_kn = F.round(
        (F.col("c_ab").cast("double") - F.lit(_KN_DISCOUNT)) / F.col("c_a")
        + ((F.lit(_KN_DISCOUNT) * F.col("n_follow_a")) / F.col("c_a"))
        * (F.col("n_prec_b").cast("double") / F.lit(btypes)),
        6,
    )
    return (
        bc.filter(F.col("c_ab") >= _KN_MIN_COUNT)
        .join(ca, "a")
        .join(cb, "b")
        .select(
            F.concat_ws(" ", F.col("a"), F.col("b")).alias("bigram"),
            "c_ab",
            "c_a",
            "n_follow_a",
            "n_prec_b",
            p_kn.alias("p_kn"),
        )
        .orderBy(F.desc("c_ab"), "bigram")
        .limit(_KN_TOPN)
    )


@register(
    "phrase_match_positional",
    sql=r"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl FROM documents
    ),
    tri AS (
        SELECT unnest(list_transform(
                   range(1, len(wl) - 1),
                   i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])) AS t
        FROM w WHERE len(wl) >= 3
    ),
    top AS (
        SELECT t FROM tri GROUP BY t
        ORDER BY COUNT(*) DESC, t LIMIT 1
    ),
    occ AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(wl) - 1),
                   i -> struct_pack(
                       t := wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2],
                       pos := i))) AS o
        FROM w WHERE len(wl) >= 3
    )
    SELECT occ.doc_id, CAST(o.pos AS BIGINT) AS start_pos,
           o.t AS phrase
    FROM occ, top WHERE o.t = top.t
    ORDER BY doc_id, start_pos
    """,
)
def phrase_match_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact phrase lookup via a POSITIONAL inverted index — the
    benchmark-string / contamination probe primitive: find every
    occurrence of a phrase across the corpus WITHOUT re-scanning text,
    by chaining postings on (doc, position), the classic IR phrase
    query (Manning, Raghavan & Schütze, 'Introduction to Information
    Retrieval' §2.4, positional postings).

    The probe phrase is the corpus's most frequent trigram (ties on the
    string — deterministic, SF-independent choice); resolution is three
    postings lookups equi-joined on (doc_id, pos), (doc_id, pos−1),
    (doc_id, pos−2).  The word filter lands in the parquet scan, so the
    joined frames carry only the three query terms' postings — at
    100 TB the phrase query touches the index partitions for its terms,
    never the corpus.  The oracle resolves the same phrase by direct
    occurrence enumeration over the token lists — a different algorithm
    reaching the same rows, so a hash match certifies the index-join
    path against the scan path, not one implementation against itself.
    The 1-row top-trigram pick is the documented bounded scalar
    collect."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"), xtext.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    top = (
        toks.select(
            F.explode(
                xtext.word_ngrams_from_tokens(F.col("toks"), 3)
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(1)
        .first()["t"]
    )
    w1, w2, w3 = top.split(" ")
    post = toks.select(
        "doc_id", F.posexplode(F.col("toks")).alias("pos0", "tok")
    ).filter(F.col("tok").isin(w1, w2, w3))
    p1 = post.filter(F.col("tok") == w1).select(
        "doc_id", (F.col("pos0") + 1).alias("pos")
    )
    p2 = post.filter(F.col("tok") == w2).select(
        "doc_id", (F.col("pos0")).alias("pos")
    )
    p3 = post.filter(F.col("tok") == w3).select(
        "doc_id", (F.col("pos0") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .join(p3, ["doc_id", "pos"])
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("start_pos"),
            F.lit(top).alias("phrase"),
        )
        .orderBy("doc_id", "start_pos")
    )


_SAX_LEVEL_PPM = 100_000  # equi-width discretization of the share simplex
_SAX_SIM_D2 = 2_500_000_000  # flag pairs with L2 <= 50k ppm rms


@register(
    "timeseries_sax_pairs",
    sql=f"""
    WITH c AS (
        SELECT user_id, (isodow(ts) - 1) AS d,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    s AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN d = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
               CAST(SUM(CASE WHEN d = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN d = 2 THEN cents ELSE 0 END) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN d = 3 THEN cents ELSE 0 END) AS BIGINT) AS s3,
               CAST(SUM(CASE WHEN d = 4 THEN cents ELSE 0 END) AS BIGINT) AS s4,
               CAST(SUM(CASE WHEN d = 5 THEN cents ELSE 0 END) AS BIGINT) AS s5,
               CAST(SUM(CASE WHEN d = 6 THEN cents ELSE 0 END) AS BIGINT) AS s6,
               CAST(SUM(cents) AS BIGINT) AS tot
        FROM c GROUP BY user_id
    ),
    p AS (
        SELECT user_id,
               (1000000 * s0) // tot AS p0, (1000000 * s1) // tot AS p1,
               (1000000 * s2) // tot AS p2, (1000000 * s3) // tot AS p3,
               (1000000 * s4) // tot AS p4, (1000000 * s5) // tot AS p5,
               (1000000 * s6) // tot AS p6
        FROM s WHERE tot > 0
    ),
    w AS (
        SELECT *,
               (p0 // {_SAX_LEVEL_PPM}) || '-' || (p1 // {_SAX_LEVEL_PPM})
               || '-' || (p2 // {_SAX_LEVEL_PPM}) || '-' ||
               (p3 // {_SAX_LEVEL_PPM}) || '-' || (p4 // {_SAX_LEVEL_PPM})
               || '-' || (p5 // {_SAX_LEVEL_PPM}) || '-' ||
               (p6 // {_SAX_LEVEL_PPM}) AS word
        FROM p
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.word AS sax_word,
           CAST((a.p0-b.p0)*(a.p0-b.p0) + (a.p1-b.p1)*(a.p1-b.p1)
              + (a.p2-b.p2)*(a.p2-b.p2) + (a.p3-b.p3)*(a.p3-b.p3)
              + (a.p4-b.p4)*(a.p4-b.p4) + (a.p5-b.p5)*(a.p5-b.p5)
              + (a.p6-b.p6)*(a.p6-b.p6) AS BIGINT) AS dist2_ppm2,
           ((a.p0-b.p0)*(a.p0-b.p0) + (a.p1-b.p1)*(a.p1-b.p1)
              + (a.p2-b.p2)*(a.p2-b.p2) + (a.p3-b.p3)*(a.p3-b.p3)
              + (a.p4-b.p4)*(a.p4-b.p4) + (a.p5-b.p5)*(a.p5-b.p5)
              + (a.p6-b.p6)*(a.p6-b.p6)) <= {_SAX_SIM_D2} AS similar
    FROM w a JOIN w b ON a.word = b.word AND a.user_id < b.user_id
    ORDER BY user_a, user_b
    """,
)
def timeseries_sax_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed time-series similarity search via SAX-style
    discretization (Lin, Keogh et al., 'A symbolic representation of
    time series', DMKD'03; the iSAX indexing idea behind distributed
    series search engines): each user's activity collapses to a 7-point
    PAA profile (day-of-week spend shares in exact integer ppm), the
    profile quantizes into a SAX word on fixed equi-width breakpoints,
    and CANDIDATE pairs are users sharing a word — an equi-join on the
    word, never all-pairs — verified in-row by exact integer squared
    L2.  Equi-width integer breakpoints replace SAX's Gaussian ones so
    every step (shares, word, distance) is exact BIGINT arithmetic and
    the oracle replays bit-identically.

    Scale: ONE map-side-combined aggregate keyed on user builds all
    profiles (7 conditional sums — no pivot, no second pass); the word
    join is the dedup-family bucket shape, and a hot-word cap
    (``drop_hot_shingles`` on the word column) bolts on unchanged if a
    share profile dominates a 100 TB user base.  Output: every
    same-word pair with its exact distance and a ``similar`` flag at
    50k-ppm rms — the flag's threshold is the knob a curation pipeline
    tunes."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    c = ev.select(
        "user_id", F.weekday(F.col("ts")).alias("d"), cents.alias("cents")
    )
    sums = [
        F.sum(F.when(F.col("d") == i, F.col("cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias(f"s{i}")
        for i in range(7)
    ]
    s = c.groupBy("user_id").agg(*sums, F.sum("cents").cast("long").alias("tot"))
    shares = [
        F.expr(f"(1000000 * s{i}) div tot").alias(f"p{i}") for i in range(7)
    ]
    p = s.filter(F.col("tot") > 0).select("user_id", *shares)
    word = F.concat_ws(
        "-", *[F.expr(f"p{i} div {_SAX_LEVEL_PPM}") for i in range(7)]
    )
    w = p.withColumn("word", word)
    a, b = w.alias("a"), w.alias("b")
    d2 = None
    for i in range(7):
        t = (F.col(f"a.p{i}") - F.col(f"b.p{i}")) * (
            F.col(f"a.p{i}") - F.col(f"b.p{i}")
        )
        d2 = t if d2 is None else d2 + t
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.word").alias("sax_word"),
            d2.cast("long").alias("dist2_ppm2"),
            (d2 <= F.lit(_SAX_SIM_D2)).alias("similar"),
        )
        .orderBy("user_a", "user_b")
    )


# fixed valence lexicon over the corpus vocabulary — the deterministic
# stand-in for AFINN/VADER-style resources (integer valences)
_SENTIMENT_LEXICON = [
    ("fast", 2),
    ("good", 2),
    ("best", 3),
    ("easy", 1),
    ("cache", 1),
    ("hit", 1),
    ("slow", -2),
    ("bad", -2),
    ("worst", -3),
    ("error", -3),
    ("fail", -2),
    ("miss", -1),
]


@register(
    "doc_sentiment_lexicon",
    sql=f"""
    WITH lex(tok, valence) AS (VALUES {", ".join(
        f"('{w}', {v})" for w, v in _SENTIMENT_LEXICON
    )}),
    t AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
        FROM documents
    ),
    m AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(lex.tok) AS BIGINT) AS n_matched,
               CAST(COALESCE(SUM(lex.valence), 0) AS BIGINT) AS sentiment
        FROM t LEFT JOIN lex ON t.tok = lex.tok
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(m.n_tokens, 0) AS n_tokens,
           COALESCE(m.n_matched, 0) AS n_matched,
           COALESCE(m.sentiment, 0) AS sentiment,
           CASE WHEN COALESCE(m.sentiment, 0) > 0 THEN 'positive'
                WHEN COALESCE(m.sentiment, 0) < 0 THEN 'negative'
                ELSE 'neutral' END AS polarity
    FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
    """,
)
def doc_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Lexicon-based sentiment scoring (the AFINN/SentiWordNet
    valence-sum method; the workload shape of 'Large Scale Sentiment
    Analysis on Twitter with Spark', EDBT'16): per document, the sum of
    integer valences of matched lexicon tokens plus match/token counts
    and a sign polarity — the label-free affect signal corpus curation
    and A/B readout pipelines both consume.

    Shape: token explode → BROADCAST lexicon join (the lexicon is a
    constant-size dimension — at 100 TB this stays one corpus scan with
    a map-side hash probe, no shuffle for the join itself) → one
    map-side-combined per-doc sum.  All valences are integers and the
    polarity is a sign test, so the oracle is bit-exact; ratios are
    deliberately omitted (integer division of NEGATIVE sums truncates
    toward zero in Spark but floors in DuckDB — the one integer op the
    cross-engine exactness playbook must avoid)."""
    docs = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        _SENTIMENT_LEXICON, "tok string, valence int"
    )
    t = docs.select(
        "doc_id", F.explode(xtext.tokens(F.col("text"))).alias("tok")
    )
    m = (
        t.join(F.broadcast(lex), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count("valence").alias("n_matched"),
            F.coalesce(F.sum("valence"), F.lit(0))
            .cast("long")
            .alias("sentiment"),
        )
    )
    sent = F.coalesce(F.col("sentiment"), F.lit(0)).cast("long")
    # one corpus tokenization: counts fold into the same aggregate; the
    # docs-side left join only restores zero-token documents
    return (
        docs.select("doc_id")
        .join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("long")
            .alias("n_matched"),
            sent.alias("sentiment"),
            F.when(sent > 0, F.lit("positive"))
            .when(sent < 0, F.lit("negative"))
            .otherwise(F.lit("neutral"))
            .alias("polarity"),
        )
    )


_ATTR_CHANNELS = ("click", "error", "signup", "view")
_ATTR_ITERS = 20


def _attribution_oracle_sql(iters: int) -> str:
    """Unrolled integer value iteration over the absorbing Markov chain —
    the SQL mirror of the driver-side solve in
    ``markov_attribution_removal`` (same // floor division on the same
    nonnegative BIGINTs, bit-exact).  CTEs are MATERIALIZED: DuckDB
    would otherwise re-inline the shared transition frame into all
    ``iters`` chained steps and optimization time explodes."""
    head = """
    WITH tc AS MATERIALIZED (
      SELECT p.src AS src, p.dst AS dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT unnest(list_transform(range(1, len(seq)),
                      i -> struct_pack(src := seq[i], dst := seq[i+1]))) AS p
        FROM (
          SELECT ['START'] ||
                 (CASE WHEN pidx > 0 THEN wl[1:pidx-1] ELSE wl END) ||
                 [CASE WHEN pidx > 0 THEN 'CONV' ELSE 'NULL' END] AS seq
          FROM (
            SELECT COALESCE(list_position(wl, 'purchase'), 0) AS pidx, wl
            FROM (SELECT list(event_type ORDER BY ts, event_id) AS wl
                  FROM events GROUP BY user_id)
          )
        )
      )
      GROUP BY 1, 2
    ),
    tra AS MATERIALIZED (
      SELECT scen, src, dst, CAST(SUM(c) AS BIGINT) AS c
      FROM (
        SELECT 'base' AS scen, src, dst, c FROM tc
"""
    for ch in _ATTR_CHANNELS:
        head += f"""        UNION ALL
        SELECT '{ch}', src,
               CASE WHEN dst = '{ch}' THEN 'NULL' ELSE dst END, c
        FROM tc
"""
    head += """      ) GROUP BY 1, 2, 3
    ),
    tot AS MATERIALIZED (
      SELECT scen, src, CAST(SUM(c) AS BIGINT) AS tot FROM tra GROUP BY 1, 2
    ),
    v0 AS MATERIALIZED (
      SELECT scen, state,
             CAST(CASE WHEN state = 'CONV' THEN 1000000 ELSE 0 END
                  AS BIGINT) AS v
      FROM (SELECT DISTINCT scen, src AS state FROM tra
            UNION SELECT DISTINCT scen, dst FROM tra)
    )"""
    for t in range(1, iters + 1):
        head += f""",
    v{t} AS MATERIALIZED (
      SELECT tra.scen, tra.src AS state,
             CAST(CAST(SUM(tra.c * p.v) AS BIGINT) // MIN(tot.tot)
                  AS BIGINT) AS v
      FROM tra
      JOIN v{t - 1} p ON p.scen = tra.scen AND p.state = tra.dst
      JOIN tot ON tot.scen = tra.scen AND tot.src = tra.src
      GROUP BY tra.scen, tra.src
      UNION ALL
      SELECT scen, state, v FROM v0 WHERE state IN ('CONV', 'NULL')
    )"""
    head += f""",
    base AS (SELECT v FROM v{iters} WHERE scen = 'base' AND state = 'START'),
    wo AS (SELECT scen AS channel, v FROM v{iters}
           WHERE scen <> 'base' AND state = 'START'),
    eff AS (
      SELECT channel, base.v AS base_conv_ppm, wo.v AS conv_without_ppm,
             base.v - wo.v AS removal_effect_ppm
      FROM wo, base
    ),
    teff AS (SELECT CAST(SUM(removal_effect_ppm) AS BIGINT) AS te FROM eff)
    SELECT channel, base_conv_ppm, conv_without_ppm, removal_effect_ppm,
           CAST(CASE WHEN te > 0
                     THEN (1000000 * removal_effect_ppm) // te
                     ELSE 0 END AS BIGINT) AS attribution_ppm
    FROM eff, teff ORDER BY channel
    """
    return head


@register(
    "markov_attribution_removal",
    sql=_attribution_oracle_sql(_ATTR_ITERS),
)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Data-driven marketing attribution via Markov removal
    effects (Anderl et al., 'Mapping the customer journey', IJRM 2016;
    the standard upgrade from first/last-touch —
    ``purchase_attribution_touch`` is the heuristic sibling): model each
    user's journey as an absorbing Markov chain (START → channels →
    CONV on first purchase, NULL otherwise), estimate conversion
    probability by value iteration, and credit each channel by how much
    conversion drops when every transition into it is redirected to
    NULL.

    What's distributed vs. what's not, stated honestly: journey
    construction + transition counting is the corpus-scale work — one
    user-keyed shuffle with per-user bounded state (the
    ``collect_list``/``array_sort`` per-key reassembly pattern).  The
    chain itself is a ≤(|channels|+3)² integer count matrix — bounded
    by the TYPE vocabulary, not the corpus — so it collects to the
    driver (the charlm/DSIR "model collected" precedent) and the value
    iteration runs in exact Python ints: v(s) ← Σ c(s,s')·v(s') //
    tot(s), 20 steps, ppm scale.  Every quantity is a nonnegative
    BIGINT and // is floor on both engines, so the unrolled-CTE oracle
    replays the solve bit-exactly.  Removal is monotone (mass only
    redirects to the 0-valued absorber), so effects are provably
    nonnegative despite the per-step flooring."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    types = F.transform(F.col("evs"), lambda x: x["event_type"])
    s = seqs.select(types.alias("tl"), F.array_position(types, "purchase").alias("pidx"))
    prefix = F.when(
        F.col("pidx") > 0,
        F.slice(F.col("tl"), 1, (F.col("pidx") - 1).cast("int")),
    ).otherwise(F.col("tl"))
    tail = F.when(F.col("pidx") > 0, F.lit("CONV")).otherwise(F.lit("NULL"))
    seq = F.concat(F.array(F.lit("START")), prefix, F.array(tail))
    pairs = s.select(seq.alias("seq")).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("seq") - 1),
                lambda i: F.struct(
                    F.element_at("seq", i).alias("src"),
                    F.element_at("seq", i + 1).alias("dst"),
                ),
            )
        ).alias("p")
    )
    # the transition matrix is bounded by the event-type vocabulary
    # (≤ (|channels|+3)² rows) — a documented bounded scalar collect
    tc = [
        (r["src"], r["dst"], r["c"])
        for r in pairs.select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]

    def _solve(remove: Optional[str]) -> int:
        tra: dict[tuple[str, str], int] = {}
        for src, dst, c in tc:
            if remove is not None and dst == remove:
                dst = "NULL"
            tra[(src, dst)] = tra.get((src, dst), 0) + c
        tot: dict[str, int] = {}
        states: set[str] = set()
        for (src, dst), c in tra.items():
            tot[src] = tot.get(src, 0) + c
            states.add(src)
            states.add(dst)
        v = {st: (1_000_000 if st == "CONV" else 0) for st in states}
        for _ in range(_ATTR_ITERS):
            nv = {
                src: sum(c * v[d] for (s2, d), c in tra.items() if s2 == src)
                // tot[src]
                for src in tot
            }
            for st in states:
                if st not in nv:
                    nv[st] = 1_000_000 if st == "CONV" else 0
            v = nv
        return v["START"]

    base = _solve(None)
    effs = {ch: base - _solve(ch) for ch in _ATTR_CHANNELS}
    te = sum(effs.values())
    rows = [
        (
            ch,
            base,
            base - effs[ch],
            effs[ch],
            (1_000_000 * effs[ch]) // te if te > 0 else 0,
        )
        for ch in sorted(_ATTR_CHANNELS)
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_conv_ppm long, conv_without_ppm long, "
        "removal_effect_ppm long, attribution_ppm long",
    )


@register(
    "shapley_attribution",
    sql="""
    WITH seqs AS MATERIALIZED (
      SELECT list(event_type ORDER BY ts, event_id) AS wl
      FROM events GROUP BY user_id
    ),
    pre AS (
      SELECT CASE WHEN pidx > 0 THEN wl[1:pidx-1] ELSE wl END AS pr,
             (pidx > 0) AS conv
      FROM (SELECT COALESCE(list_position(wl, 'purchase'), 0) AS pidx, wl
            FROM seqs)
    ),
    um AS (
      SELECT (CASE WHEN list_contains(pr, 'click') THEN 1 ELSE 0 END)
           + (CASE WHEN list_contains(pr, 'error') THEN 2 ELSE 0 END)
           + (CASE WHEN list_contains(pr, 'signup') THEN 4 ELSE 0 END)
           + (CASE WHEN list_contains(pr, 'view') THEN 8 ELSE 0 END)
               AS mask,
             conv
      FROM pre
    ),
    masks AS MATERIALIZED (
      SELECT mask,
             CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS convs
      FROM um GROUP BY mask
    ),
    vs AS MATERIALIZED (
      SELECT s.S, CAST(COALESCE(SUM(m.convs), 0) AS BIGINT) AS v
      FROM range(0, 16) s(S) LEFT JOIN masks m ON (m.mask | s.S) = s.S
      GROUP BY s.S
    ),
    wt(k, w) AS (VALUES (0, 6), (1, 2), (2, 2), (3, 6)),
    ch(name, b) AS (VALUES ('click', 1), ('error', 2), ('signup', 4),
                           ('view', 8)),
    sh AS (
      SELECT ch.name AS channel,
             CAST(SUM(wt.w * (va.v - vb.v)) AS BIGINT) AS phi24
      FROM ch
      JOIN range(0, 16) s(S) ON (s.S & ch.b) = 0
      JOIN wt ON wt.k = ((s.S & 1) + ((s.S >> 1) & 1) + ((s.S >> 2) & 1)
                         + ((s.S >> 3) & 1))
      JOIN vs va ON va.S = (s.S | ch.b)
      JOIN vs vb ON vb.S = s.S
      GROUP BY ch.name
    ),
    tots AS (SELECT CAST(SUM(phi24) AS BIGINT) AS tp FROM sh),
    vf AS (SELECT v AS v_full FROM vs WHERE S = 15),
    ve AS (SELECT v AS v_none FROM vs WHERE S = 0)
    SELECT channel, phi24, v_full, v_none,
           CAST(CASE WHEN tp > 0 THEN (1000000 * phi24) // tp ELSE 0 END
                AS BIGINT) AS attribution_ppm
    FROM sh, tots, vf, ve ORDER BY channel
    """,
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact Shapley-value attribution (Shapley 1953; Zhao et
    al., 'Shapley Value Methods for Attribution Modeling in Online
    Advertising', 2018) — the game-theoretic sibling of
    ``markov_attribution_removal``: coalition value v(S) = conversions
    among users whose pre-purchase channel set ⊆ S, and each channel's
    credit is its average marginal contribution over all coalition
    orders.  φ is published ×4! (``phi24``) so every quantity stays an
    exact BIGINT — no factorial division — and the efficiency axiom
    becomes an exact integer law: Σ phi24 = 24·(v(full) − v(∅)).

    Distributed/model split (the attribution-family pattern): the
    corpus-scale work is ONE user-keyed aggregate building each user's
    touched-channel bitmask + conversion flag; the coalition table is
    2^|channels| = 16 integers, so the subset sums and the 32-term
    Shapley sum run driver-side in exact Python ints and the oracle
    replays them with integer bit arithmetic.  ``v_none`` (conversions
    with no prior channel touch) is the direct-conversion base no
    channel may claim."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    types = F.transform(F.col("evs"), lambda x: x["event_type"])
    s = seqs.select(
        types.alias("tl"), F.array_position(types, "purchase").alias("pidx")
    )
    prefix = F.when(
        F.col("pidx") > 0,
        F.slice(F.col("tl"), 1, (F.col("pidx") - 1).cast("int")),
    ).otherwise(F.col("tl"))
    mask = None
    for i, ch in enumerate(_ATTR_CHANNELS):
        bit = F.when(F.array_contains(prefix, ch), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        mask = bit if mask is None else mask + bit
    um = s.select(
        mask.alias("mask"), (F.col("pidx") > 0).alias("conv")
    )
    # coalition table: <= 16 rows, bounded by 2^|channels|
    counts = {
        r["mask"]: r["convs"]
        for r in um.groupBy("mask")
        .agg(F.sum(F.when(F.col("conv"), 1).otherwise(0)).alias("convs"))
        .collect()
    }
    n = len(_ATTR_CHANNELS)
    v = [
        sum(c for m, c in counts.items() if (m | S) == S)
        for S in range(1 << n)
    ]
    wt = {0: 6, 1: 2, 2: 2, 3: 6}  # k!(n-1-k)! for n=4
    phi = {}
    for i, ch in enumerate(_ATTR_CHANNELS):
        b = 1 << i
        phi[ch] = sum(
            wt[bin(S).count("1")] * (v[S | b] - v[S])
            for S in range(1 << n)
            if (S & b) == 0
        )
    tp = sum(phi.values())
    rows = [
        (
            ch,
            phi[ch],
            v[(1 << n) - 1],
            v[0],
            (1_000_000 * phi[ch]) // tp if tp > 0 else 0,
        )
        for ch in sorted(_ATTR_CHANNELS)
    ]
    return spark.createDataFrame(
        rows,
        "channel string, phi24 long, v_full long, v_none long, "
        "attribution_ppm long",
    )


_KM_CENSOR_US = 24 * 3600 * 1_000_000  # active in the final 24h = censored
_KM_HOUR_US = 3600 * 1_000_000


@register(
    "user_churn_kaplan_meier",
    sql=f"""
    WITH RECURSIVE life AS MATERIALIZED (
      SELECT (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // {_KM_HOUR_US} AS t,
             (epoch_us(MAX(ts))
              >= (SELECT epoch_us(MAX(ts)) FROM events)
                 - {_KM_CENSOR_US}) AS censored
      FROM events GROUP BY user_id
    ),
    dt AS MATERIALIZED (
      SELECT t,
             CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
                 AS d,
             CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM life GROUP BY t
    ),
    risk AS MATERIALIZED (
      SELECT dt.t, dt.d, dt.c,
             CAST((SELECT COUNT(*) FROM life WHERE life.t >= dt.t)
                  AS BIGINT) AS n
      FROM dt WHERE dt.d > 0
    ),
    rk AS MATERIALIZED (
      SELECT t, d, c, n,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS r
      FROM risk
    ),
    km AS (
      SELECT r, t, d, c, n,
             CAST((1000000 * (n - d)) // n AS BIGINT) AS s
      FROM rk WHERE r = 1
      UNION ALL
      SELECT rk.r, rk.t, rk.d, rk.c, rk.n,
             CAST((km.s * (rk.n - rk.d)) // rk.n AS BIGINT) AS s
      FROM rk JOIN km ON rk.r = km.r + 1
    )
    SELECT t AS t_hours, n AS n_at_risk, d AS d_churned, c AS c_censored,
           s AS survival_ppm
    FROM km ORDER BY t_hours
    """,
)
def user_churn_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Kaplan–Meier survival estimation of user churn (Kaplan &
    Meier, JASA 1958) — the retention curve with CORRECT censoring: a
    user's lifetime is hours between first and last event, users still
    active in the window's final 24h are right-censored (they didn't
    churn — we just stopped watching), and S(t) multiplies the per-
    event-time survival fractions (1 − d/n) over the risk set n of
    users whose lifetime reached t.  Naive retention curves that treat
    censored users as churned understate survival; KM is the standard
    correction every churn/retention readout should use.

    Exactness: lifetimes are integer-microsecond arithmetic floored to
    hours (NOT ``datediff('hour')``, which counts boundary crossings
    and diverges from a floored duration), and the survival product is
    an integer ppm flooring recurrence — sequential by nature, but over
    a frame bounded by the OBSERVATION CALENDAR (≤ hours in the
    window), never the corpus.  So: one user-keyed aggregate at corpus
    scale, a calendar-bounded collect (the attribution-family split),
    the exact product in Python ints, and a recursive-CTE oracle that
    replays the same flooring recurrence bit-exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    mx = ev.agg(F.max("us").alias("__gmax"))
    life = (
        ev.groupBy("user_id")
        .agg(F.min("us").alias("__lo"), F.max("us").alias("__hi"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor((F.col("__hi") - F.col("__lo")) / F.lit(_KM_HOUR_US))
            .cast("long")
            .alias("t"),
            (
                F.col("__hi") >= F.col("__gmax") - F.lit(_KM_CENSOR_US)
            ).alias("censored"),
        )
    )
    # (t, d, c) histogram is bounded by the observation calendar
    # (<= hours in the window) — a documented bounded collect
    hist = {
        r["t"]: (r["d"], r["c"])
        for r in life.groupBy("t")
        .agg(
            F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("d"),
            F.sum(F.when(F.col("censored"), 1).otherwise(0)).alias("c"),
        )
        .collect()
    }
    total = sum(d + c for d, c in hist.values())
    times = sorted(t for t, (d, _) in hist.items() if d > 0)
    assert total > 0
    rows = []
    s = 1_000_000
    for t in times:
        # n = users whose lifetime reached t (suffix count over the
        # histogram — exact, no float)
        n = sum(dc + cc for tt, (dc, cc) in hist.items() if tt >= t)
        d, c = hist[t]
        s = (s * (n - d)) // n
        rows.append((t, n, d, c, s))
    return spark.createDataFrame(
        rows,
        "t_hours long, n_at_risk long, d_churned long, c_censored long, "
        "survival_ppm long",
    )


_XCORR_MAX_LAG = 6


@register(
    "event_lag_correlation",
    sql=f"""
    WITH hc AS MATERIALIZED (
      SELECT epoch_us(ts) // 3600000000 AS h,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM events GROUP BY 1
    )
    SELECT l.lag AS lag_hours,
           CAST(COALESCE(SUM(x.a * y.b), 0) AS BIGINT) AS xcorr,
           CAST((SELECT COUNT(*) FROM hc) AS BIGINT) AS n_hours,
           CAST((SELECT SUM(a) FROM hc) AS BIGINT) AS total_a,
           CAST((SELECT SUM(b) FROM hc) AS BIGINT) AS total_b
    FROM range({-_XCORR_MAX_LAG}, {_XCORR_MAX_LAG + 1}) l(lag)
    LEFT JOIN hc x ON TRUE
    LEFT JOIN hc y ON y.h = x.h + l.lag
    GROUP BY l.lag ORDER BY l.lag
    """,
)
def event_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Lead–lag cross-correlation between two event-type time
    series (the ops-analytics lead-indicator probe: does the error rate
    lead purchase changes by k hours?): raw cross-products
    xcorr(lag) = Σ_h a(h)·b(h+lag) over hourly counts of errors (a)
    and purchases (b), for lags −6..6, published with the marginals
    (n_hours, totals) an analyst needs to normalize into Pearson terms
    downstream — kept as raw exact BIGSums here so the oracle is
    bit-exact with no float covariance anywhere.

    Scale shape: the ONLY corpus-scale work is one hour-keyed counting
    aggregate (map-side combined); the lag products ride the
    calendar-bounded hourly frame (|hours| rows regardless of corpus
    size) exploded ×13 lags and self-joined on the shifted hour — a
    keyed equi-join of two tiny frames.  Hour ids are integer-µs floor
    division, identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    hc = (
        ev.select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3_600_000_000)
            )
            .cast("long")
            .alias("h"),
            "event_type",
        )
        .groupBy("h")
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
        .persist()
    )
    stats = F.broadcast(
        hc.agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("a").alias("total_a"),
            F.sum("b").alias("total_b"),
        )
    )
    lags = spark.range(
        -_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1
    ).select(F.col("id").cast("long").alias("lag_hours"))
    x = hc.select(F.col("h").alias("xh"), F.col("a"))
    y = hc.select(F.col("h").alias("yh"), F.col("b"))
    return (
        lags.crossJoin(x)
        .join(y, F.col("yh") == F.col("xh") + F.col("lag_hours"), "left")
        .groupBy("lag_hours")
        .agg(
            F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0))
            .cast("long")
            .alias("xcorr")
        )
        .crossJoin(stats)
        .select(
            "lag_hours",
            "xcorr",
            F.col("n_hours").cast("long").alias("n_hours"),
            F.col("total_a").cast("long").alias("total_a"),
            F.col("total_b").cast("long").alias("total_b"),
        )
        .orderBy("lag_hours")
    )


# Poisson(1) CDF quantized to 2^32, as lexicographic 8-hex thresholds:
# hash-prefix < t_k  <=>  u < CDF(k), so weights replay exactly on any
# engine that can sha256 and compare strings. Weight capped at 4
# (P(X>=5) ~ 3.7e-3 folds into the cap; same constant both engines).
_BOOT_T = ("5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797")
_BOOT_B = 32


def _boot_weight_sql(b: int) -> str:
    hx = (
        f"substr(sha256('boot{b}:' || CAST(event_id AS VARCHAR)), 1, 8)"
    )
    return (
        f"(CASE WHEN {hx} < '{_BOOT_T[0]}' THEN 0"
        f" WHEN {hx} < '{_BOOT_T[1]}' THEN 1"
        f" WHEN {hx} < '{_BOOT_T[2]}' THEN 2"
        f" WHEN {hx} < '{_BOOT_T[3]}' THEN 3 ELSE 4 END)"
    )


def _boot_oracle_sql(n_reps: int) -> str:
    union = " UNION ALL ".join(
        f"SELECT * FROM b{b}" for b in range(n_reps)
    )
    withs = ", ".join(
        f"b{b} AS (SELECT {b} AS replicate,"
        f" CAST(SUM({_boot_weight_sql(b)}) AS BIGINT) AS n_eff,"
        f" CAST(SUM({_boot_weight_sql(b)}"
        f"          * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        f" AS sum_cents FROM events)"
        for b in range(n_reps)
    )
    return f"""
    WITH {withs}
    SELECT replicate, n_eff, sum_cents,
           CAST((1000000 * sum_cents) // n_eff AS BIGINT) AS mean_ppm
    FROM ({union}) ORDER BY replicate
    """


@register("poisson_bootstrap_means", sql=_boot_oracle_sql(_BOOT_B))
def poisson_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Poisson bootstrap over the event value (Chamandy, Muralidharan
    et al., 'Estimating uncertainty for massive data streams', Google
    2012): uncertainty for a corpus-scale mean WITHOUT resampling the
    data — each row contributes to replicate b with a Poisson(1) weight
    derived from a sha256 hash of (b, event_id), so all 32 replicates
    compute in ONE scan with 2·B conditional sums (map-side combined,
    no explode, no shuffle growth), and the replicate spread estimates
    the sampling distribution of the mean.

    Exactness: weights come from lexicographic hash-prefix comparison
    against the Poisson(1) CDF quantized to 2^32 (fixed hex constants —
    no float RNG, no libm at query time; weight capped at 4, folding
    P(X≥5)≈3.7e-3 into the cap identically on both engines); sums are
    integer cents and the replicate mean is one floor division of
    nonnegative BIGINTs.  Deterministic: same replicates every run, on
    any engine.  At 100 TB a production run would materialize the
    weight columns once next to the data; here they fold into the scan.
    Input-balanced (guide §2.5): 64 sha256 evaluations per row are pure
    CPU and the fixture layout scans as ONE task; the repartition moves
    only (event_id, value) and is a no-op on parallel layouts; all sums
    are exact integers, so partition order cannot change any value."""
    ev = ensure_parallelism(
        load_table(spark, sf_dir, "events").select("event_id", "value")
    )
    # The 64 replicate aggregates are built as SQL strings parsed by ONE
    # F.expr each instead of ~20 nested py4j Column constructions per
    # replicate: the analyzed expressions are identical (same hash CASE,
    # same integer-cents sums), but the driver-side plan construction
    # drops from ~2.0s (measured: ~640 reflective py4j calls) to ~0.1s —
    # a per-invocation driver cost with zero executor-side change.
    cents_sql = "CAST(FLOOR(value * 100 + 0.5D) AS BIGINT)"
    aggs = []
    for b in range(_BOOT_B):
        hx = (
            "substring(sha2(concat('boot"
            f"{b}:', CAST(event_id AS STRING)), 256), 1, 8)"
        )
        w = (
            f"(CASE WHEN {hx} < '{_BOOT_T[0]}' THEN 0"
            f" WHEN {hx} < '{_BOOT_T[1]}' THEN 1"
            f" WHEN {hx} < '{_BOOT_T[2]}' THEN 2"
            f" WHEN {hx} < '{_BOOT_T[3]}' THEN 3 ELSE 4 END)"
        )
        aggs.append(F.expr(f"CAST(SUM({w}) AS BIGINT) AS n{b}"))
        aggs.append(
            F.expr(f"CAST(SUM({w} * {cents_sql}) AS BIGINT) AS s{b}")
        )
    wide = ev.agg(*aggs)
    stack = ", ".join(f"{b}L, n{b}, s{b}" for b in range(_BOOT_B))
    return (
        wide.selectExpr(
            f"stack({_BOOT_B}, {stack}) AS (replicate, n_eff, sum_cents)"
        )
        .selectExpr(
            "replicate",
            "n_eff",
            "sum_cents",
            "CAST((1000000 * sum_cents) div n_eff AS BIGINT) AS mean_ppm",
        )
        .orderBy("replicate")
    )


# Benford P(d) = log10(1 + 1/d) as shared double literals: both engines
# parse the same decimal into the same IEEE double, so n·p, the residual
# and the chi-square contribution are chains of correctly-rounded ops on
# identical inputs — deterministic cross-engine without libm at query time
_BENFORD_P = (
    "0.3010299956639812",
    "0.17609125905568124",
    "0.12493873660829992",
    "0.09691001300805642",
    "0.079181246047624818",
    "0.066946789630613221",
    "0.057991946977686733",
    "0.051152522447381291",
    "0.045757490560675143",
)
# leading digit of the integer cents via a magnitude CASE chain (cents
# fits in 5 digits at every SF; extend the chain if values grow)
_BENFORD_DIGIT_SQL = """(CASE WHEN c < 10 THEN c
          WHEN c < 100 THEN c // 10
          WHEN c < 1000 THEN c // 100
          WHEN c < 10000 THEN c // 1000
          WHEN c < 100000 THEN c // 10000
          ELSE c // 100000 END)"""


@register(
    "benford_first_digit_audit",
    sql=f"""
    WITH c AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
        WHERE value > 0
    ),
    obs AS (
        SELECT {_BENFORD_DIGIT_SQL} AS digit,
               CAST(COUNT(*) AS BIGINT) AS observed
        FROM c GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM obs),
    exp AS (
        SELECT * FROM (VALUES
            {", ".join(
                f"({d + 1}, CAST({p} AS DOUBLE))"
                for d, p in enumerate(_BENFORD_P)
            )}
        ) t(digit, p)
    )
    SELECT exp.digit, COALESCE(obs.observed, 0) AS observed,
           ROUND(n.n * exp.p, 6) AS expected,
           ROUND(((COALESCE(obs.observed, 0) - (n.n * exp.p))
                  * (COALESCE(obs.observed, 0) - (n.n * exp.p)))
                 / (n.n * exp.p), 6) AS chi2_contrib
    FROM exp LEFT JOIN obs ON obs.digit = exp.digit CROSS JOIN n
    ORDER BY exp.digit
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Benford's-law first-digit audit (Benford 1938; Nigrini's
    forensic-accounting test): observed leading-digit counts of the
    event value against log10(1+1/d) expectations, with per-digit
    chi-square contributions — the standard screen for fabricated or
    truncated numeric columns in data-quality pipelines.

    Exactness: the leading digit comes from INTEGER cents via a
    magnitude CASE chain (no string formatting, no log10 at query
    time); the nine Benford probabilities are shared decimal literals
    that parse to identical IEEE doubles on both engines, so
    n·p → residual → square → divide is a chain of correctly-rounded
    ops on identical inputs and ROUND(·, 6) agrees exactly.  One
    map-side-combined 9-group aggregate — a single scan at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    # the leading digit via the same magnitude CASE/div chain as the oracle
    c = ev.select(cents.alias("c"))
    d = (
        F.when(F.col("c") < 10, F.col("c"))
        .when(F.col("c") < 100, F.expr("c div 10"))
        .when(F.col("c") < 1000, F.expr("c div 100"))
        .when(F.col("c") < 10000, F.expr("c div 1000"))
        .when(F.col("c") < 100000, F.expr("c div 10000"))
        .otherwise(F.expr("c div 100000"))
    )
    obs = c.select(d.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    n = F.broadcast(obs.agg(F.sum("observed").cast("long").alias("n")))
    exp = spark.createDataFrame(
        [(i + 1, float(p)) for i, p in enumerate(_BENFORD_P)],
        "digit long, p double",
    )
    e = F.coalesce(F.col("observed"), F.lit(0)).cast("long")
    resid = e.cast("double") - (F.col("n") * F.col("p"))
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(n)
        .select(
            "digit",
            e.alias("observed"),
            F.round(F.col("n") * F.col("p"), 6).alias("expected"),
            F.round((resid * resid) / (F.col("n") * F.col("p")), 6).alias(
                "chi2_contrib"
            ),
        )
        .orderBy("digit")
    )


_WAVELET_LEVELS = 10  # series padded to 2^10 hourly buckets
_WAVELET_TOPK = 50


@register(
    "wavelet_synopsis_topk",
    sql=f"""
    WITH hc AS MATERIALIZED (
      SELECT CAST(epoch_us(ts) // 3600000000
                  - (SELECT MIN(epoch_us(ts) // 3600000000) FROM events)
             AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    coef AS (
      SELECT l.l AS level, hc.h >> ({_WAVELET_LEVELS} - l.l) AS pos,
             CAST(SUM(CASE WHEN ((hc.h >> ({_WAVELET_LEVELS - 1} - l.l))
                                 & 1) = 0
                           THEN hc.c ELSE -hc.c END) AS BIGINT) AS coef
      FROM hc JOIN range(0, {_WAVELET_LEVELS}) l(l) ON TRUE
      GROUP BY 1, 2
    ),
    scaling AS (
      SELECT -1 AS level, 0 AS pos, CAST(SUM(c) AS BIGINT) AS coef FROM hc
    )
    SELECT level, pos, coef FROM (
      SELECT * FROM scaling UNION ALL SELECT * FROM coef
    ) ORDER BY abs(coef) DESC, level, pos LIMIT {_WAVELET_TOPK}
    """,
)
def wavelet_synopsis_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Haar wavelet synopsis of the hourly event-count series
    (Matias, Vitter & Wang, 'Wavelet-based histograms for selectivity
    estimation', SIGMOD'98): the top-50 UNNORMALIZED Haar coefficients
    by magnitude — the classic compact synopsis that answers
    approximate range-sums/range-counts with error bounded by the
    dropped coefficients, and the multi-resolution decomposition
    wavelet-based time-series similarity search indexes.

    Unnormalized Haar (no √2 scaling — documented; reconstruction
    divides by the dyadic support instead) keeps every coefficient an
    exact BIGINT: detail(l, p) = Σ left-half counts − Σ right-half
    counts over the dyadic range, computed for ALL levels in ONE
    grouped aggregate via bit arithmetic on the hour index (pos =
    h >> (L−l), sign = bit L−1−l) — no per-level passes, no recursion.
    The corpus reduces to calendar-bounded hourly counts first, so the
    transform costs one counting scan regardless of corpus size.
    Ordering ties break on (level, pos) — deterministic cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / F.lit(3_600_000_000)
        )
        .cast("long")
        .alias("h0")
    )
    h0min = F.broadcast(hours.agg(F.min("h0").alias("__m")))
    hc = (
        hours.crossJoin(h0min)
        .select((F.col("h0") - F.col("__m")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    # The bit-arithmetic decomposition assumes the series fits the 2^L
    # dyadic frame; beyond it the SAME silent tiling would happen in
    # both engines (the oracle shares the assumption), so guard here —
    # a cheap scalar max on the already-collapsed hourly frame.
    span = hc.agg(F.max("h")).first()[0]
    if span is not None and span >= 2**_WAVELET_LEVELS:
        raise ValueError(
            f"wavelet_synopsis_topk: event window spans {span + 1} hours, "
            f"beyond the 2^{_WAVELET_LEVELS}-bucket Haar frame; raise "
            f"_WAVELET_LEVELS or pre-filter the window"
        )
    levels = spark.range(0, _WAVELET_LEVELS).select(
        F.col("id").cast("long").alias("level")
    )
    sign = (
        F.expr(
            f"shiftright(h, {_WAVELET_LEVELS - 1} - CAST(level AS INT)) & 1"
        )
        == 0
    )
    coef = (
        hc.crossJoin(levels)
        .groupBy(
            "level",
            F.expr(
                f"shiftright(h, {_WAVELET_LEVELS} - CAST(level AS INT))"
            ).alias("pos"),
        )
        .agg(
            F.sum(F.when(sign, F.col("c")).otherwise(-F.col("c")))
            .cast("long")
            .alias("coef")
        )
    )
    scaling = hc.agg(
        F.lit(-1).cast("long").alias("level"),
        F.lit(0).cast("long").alias("pos"),
        F.sum("c").cast("long").alias("coef"),
    )
    return (
        scaling.unionByName(coef)
        .orderBy(F.abs(F.col("coef")).desc(), "level", "pos")
        .limit(_WAVELET_TOPK)
    )
