"""Catalog family module (mechanical split of catalog.py, round 10).

See ``catalog/__init__.py`` for the module map.  Registration order is
preserved by import order; do not reorder modules or @register blocks.
"""
from __future__ import annotations

import datetime as dt

from dvh_airflow_kafka_spark.ext import text as xtext
from dvh_airflow_kafka_spark.ext.sketch import (
    HLL_M as _HLL_M,
    HLL_REM as _HLL_REM,
    HLL_SALT as _HLL_SALT,
)
from dvh_airflow_kafka_spark.io import load_table
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from dvh_airflow_kafka_spark.catalog._core import (
    _scratch_dir,
    _stage_frame,
    _staged_range_write,
    _staged_stream_src,
    register,
)
from dvh_airflow_kafka_spark.catalog.q06_semdedup import (
    _qscore_ctes,
)
from dvh_airflow_kafka_spark.catalog.q08_retrieval import (
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS,
    _term_eq,
)

# ==========================================================================
# [EXT] round-7 batch 2: ordered funnel conversion, Markov transition
# matrix, differentially-private release, partition-pruned hive layout.
# ==========================================================================


@register(
    "event_funnel_conversion",
    sql="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t0 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, v.t0, MIN(e.ts) AS t1
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t0
        GROUP BY e.user_id, v.t0
    ), p AS (
        SELECT e.user_id, c.t1, MIN(e.ts) AS t2
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t1
        GROUP BY e.user_id, c.t1
    )
    SELECT 1 AS stage, 'view' AS step, COUNT(*) AS n_users,
           CAST(0 AS BIGINT) AS sum_latency_us FROM v
    UNION ALL
    SELECT 2, 'click', COUNT(*),
           CAST(COALESCE(SUM(epoch_us(t1) - epoch_us(t0)), 0) AS BIGINT)
    FROM c
    UNION ALL
    SELECT 3, 'purchase', COUNT(*),
           CAST(COALESCE(SUM(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT)
    FROM p
    """,
)
def event_funnel_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Ordered three-step funnel (view -> click -> purchase): a user
    counts at a stage only if the stage event happens strictly AFTER
    their entry into the previous stage — the standard product-analytics
    conversion shape, with exact integer microsecond latency sums.

    Scale: each stage is one user-keyed aggregate joined back to the
    (filtered) fact — build sides are per-user MIN frames, orders of
    magnitude smaller than the fact, all joins user-keyed equi-joins.
    The funnel never materializes per-event pairs, so the plan is three
    keyed exchanges regardless of fan-out.  The per-stage MIN frames are
    localCheckpoint'ed: each feeds both the NEXT stage's join and its
    own stage-count aggregate, and without materialization the second
    consumer re-runs the whole upstream chain (the executed plan showed
    11 exchanges, most of them v/c recomputation)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint(eager=False)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t1"), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )

    def _stage(df: DataFrame, n: int, step: str, frm, to) -> DataFrame:
        lat = (
            F.lit(0).cast("long")
            if frm is None
            else F.coalesce(
                F.sum(
                    F.unix_micros(to.cast("timestamp"))
                    - F.unix_micros(frm.cast("timestamp"))
                ),
                F.lit(0),
            ).cast("long")
        )
        return df.agg(
            F.count(F.lit(1)).alias("n_users"),
            lat.alias("sum_latency_us"),
        ).select(
            F.lit(n).alias("stage"),
            F.lit(step).alias("step"),
            "n_users",
            "sum_latency_us",
        )

    return (
        _stage(v, 1, "view", None, None)
        .unionByName(_stage(c, 2, "click", F.col("t0"), F.col("t1")))
        .unionByName(_stage(p, 3, "purchase", F.col("t1"), F.col("t2")))
    )


@register(
    "event_transition_matrix",
    sql="""
    WITH s AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ), t AS (
        SELECT cur, nxt, COUNT(*) AS n FROM s
        WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           CAST((1000000 * n) // SUM(n) OVER (PARTITION BY cur) AS BIGINT)
               AS prob_ppm
    FROM t
    """,
)
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] First-order Markov transition matrix over per-user event
    sequences: P(next = j | current = i) in exact parts-per-million
    (integer floor division — no float ordering anywhere).

    Scale: the lead() window partitions by user_id (bounded per-user
    state, shuffle-keyed like sessionization); the transition counts
    collapse to |types|^2 rows, so the normalizing window runs on a
    vanishingly small frame."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    t = (
        s.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return t.select(
        "cur",
        "nxt",
        "n",
        F.expr(
            "CAST((1000000 * n) DIV SUM(n) OVER (PARTITION BY cur)"
            " AS BIGINT)"
        ).alias("prob_ppm"),
    )


_DP_SALT = "dp-lap-v1"
_DP_B = 2.0  # noise scale = sensitivity 1 / epsilon 0.5


def _dp_geometric_case_sql() -> str:
    """Discrete-Laplace (two-sided geometric) inverse-CDF as a pure
    integer CASE over the 32-bit uniform ``u32`` — the geometric
    mechanism of Ghosh/Roughgarden/Sundararajan (SIAM J. Comput. 2012),
    the integer-exact counterpart of Laplace noise.  P(K=k) ∝ α^|k|
    with α = e^(-1/b); the cumulative thresholds are computed ONCE here
    on the driver and injected as identical integer literals into both
    the Spark expression and the DuckDB oracle, so each engine does only
    integer comparisons — bit-exact by construction, no libm anywhere.
    The table spans |k| ≤ 40: the discarded tail mass per side,
    norm·α^41/(1-α) ≈ 7.8e-10 (about 3.3 units in the 2^-32 grid, i.e.
    < 2^-30), folds into the outermost buckets — the two extreme |k|=40
    buckets carry ~3 ppb extra mass each, which only clips noise beyond
    ±40 counts and leaves cross-engine equality untouched (both engines
    evaluate the same literals)."""
    import math

    alpha = math.exp(-1.0 / _DP_B)
    k_max = 40
    # P(K=k) = (1-alpha)/(1+alpha) * alpha^|k|
    norm = (1.0 - alpha) / (1.0 + alpha)
    cum = 0.0
    thresholds: list[tuple[int, int]] = []  # (upper_exclusive_u32, k)
    for k in range(-k_max, k_max + 1):
        cum += norm * alpha ** abs(k)
        thresholds.append((min(int(round(cum * 2**32)), 2**32), k))
    # force the last bucket to absorb all remaining mass
    thresholds[-1] = (2**32, k_max)
    branches = " ".join(
        f"WHEN u32 < {hi} THEN {k}" for hi, k in thresholds[:-1]
    )
    return f"CASE {branches} ELSE {thresholds[-1][1]} END"


_DP_GEOM_CASE = _dp_geometric_case_sql()


@register(
    "dp_noisy_event_counts",
    sql=f"""
    WITH g AS (
        SELECT event_type,
               strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d')
                   AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), h AS (
        SELECT event_type, day, n,
               ('0x' || substr(sha256('{_DP_SALT}|' || event_type || '|'
                                      || day), 1, 8))::BIGINT AS u32
        FROM g
    )
    SELECT event_type, day, n, u32,
           CAST({_DP_GEOM_CASE} AS BIGINT) AS noise_k,
           CAST(n + ({_DP_GEOM_CASE}) AS BIGINT) AS noisy_count
    FROM h
    """,
)
def dp_noisy_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Differentially-private daily event-count release: per
    (event_type, day), true count + discrete-Laplace (two-sided
    geometric, Ghosh/Roughgarden/Sundararajan 2012) noise with
    α = e^(-1/2) — the integer-exact counterpart of Laplace(b=2) — via
    the inverse CDF of a deterministic sha-derived 32-bit uniform: the
    seeded-noise shape a privacy-preserving stats release pipeline uses
    (salt = the release's secret seed).

    Exactness: bit-exact BY CONSTRUCTION — the inverse-CDF threshold
    table is computed once on the driver (``_dp_geometric_case_sql``)
    and injected as identical integer literals into both engines, so
    every compared column (n, u32, noise_k, noisy_count) is pure
    integer arithmetic; no libm call exists in either plan.  This
    replaced the earlier continuous-Laplace ``ln`` form whose
    cross-engine equality was only probabilistic.

    Scale: one map-side-combined aggregate; noise is a scan-fused
    Column expression on the collapsed (type, day) frame."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))
    u32 = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit(_DP_SALT + "|"),
                        F.col("event_type"),
                        F.lit("|"),
                        F.col("day"),
                    ),
                    256,
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u32")
    )
    h = g.select("event_type", "day", "n", u32)
    noise = F.expr(_DP_GEOM_CASE).cast("long")
    return h.select(
        "event_type",
        "day",
        "n",
        "u32",
        noise.alias("noise_k"),
        (F.col("n") + noise).cast("long").alias("noisy_count"),
    )


@register(
    "hive_partition_pruned_rollup",
    sql="""
    SELECT event_type,
           strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY 1, 2
    """,
)
def hive_partition_pruned_rollup_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Hive-layout partition pruning, end-to-end: the events table
    is staged ONCE per sf_dir as parquet partitioned by event_type
    (reusing the streaming stage cache), then read back with a
    partition-column filter — the scan must list only 2 of 5
    directories (`PartitionFilters` in the physical plan; pytest
    asserts it). The rollup itself is one map-side-combined aggregate
    in exact DECIMAL arithmetic.

    Scale: THE core 100 TB layout pattern — a date/type-partitioned
    lake where predicate → directory pruning means a 2-of-N-partition
    query reads 2/N of the bytes before a single task runs."""
    src = _staged_stream_src(
        "hivepart",
        sf_dir,
        lambda p: load_table(spark, sf_dir, "events")
        .write.partitionBy("event_type")
        .parquet(p),
    )
    df = spark.read.parquet(src)
    return (
        df.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy(
            F.col("event_type").cast("string").alias("event_type"),
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "cross_split_ngram_novelty",
    sql=r"""
    WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS wl,
               substr(sha256('split-v1' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < 'cccccccc' AS is_train
        FROM documents
    ), sh AS (
        SELECT doc_id, is_train,
               list_distinct(CASE WHEN len(wl) >= 3
                   THEN list_transform(range(1, len(wl) - 1),
                                       i -> wl[i] || ' ' || wl[i+1] || ' '
                                            || wl[i+2])
                   ELSE [array_to_string(wl, ' ')] END) AS s
        FROM w
    ), tr AS (
        SELECT DISTINCT unnest(s) AS g FROM sh WHERE is_train
    ), te AS (
        SELECT doc_id, unnest(s) AS g FROM sh WHERE NOT is_train
    )
    SELECT te.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST((1000000 * SUM(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM te LEFT JOIN tr ON te.g = tr.g
    GROUP BY te.doc_id
    """,
)
def cross_split_ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Train/test n-gram novelty: for every TEST-split document,
    the fraction of its distinct word 3-gram shingles never seen in the
    TRAIN split — the memorization/contamination-adjacent coverage
    metric an eval owner reads next to the decontamination pair list
    (novel = the model couldn't have seen it verbatim). Split is the
    same sha-bucket predicate as ``documents_train_test_split`` (80/20,
    salt 'split-v1'); shingles are the same distinct word-3-gram
    convention as the dedup family. Exact integer ppm — no floats.

    Scale: one shingle build, then a shingle-keyed LEFT equi-join of
    test postings against the DISTINCT train shingle set — both sides
    shuffle-partitioned on the shingle, never a cross product; the
    per-doc rollup is map-side combined."""
    from dvh_airflow_kafka_spark.ext.sampling import hash_split
    from dvh_airflow_kafka_spark.ext.text import (
        tokens,
        word_ngrams_from_tokens,
    )
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    # single-row-group parquet scans as ONE partition; spread the
    # CPU-heavy shingle build across cores (no-op on parallel inputs)
    docs = hash_split(
        ensure_parallelism(load_table(spark, sf_dir, "documents")), "doc_id"
    )
    sh = docs.select(
        "doc_id",
        "split",
        F.array_distinct(
            word_ngrams_from_tokens(tokens(F.col("text")), 3)
        ).alias("s"),
    ).localCheckpoint(eager=False)
    tr = (
        sh.filter(F.col("split") == "train")
        .select(F.explode("s").alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    te = sh.filter(F.col("split") == "test").select(
        "doc_id", F.explode("s").alias("g")
    )
    novel = F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
    return (
        te.join(tr, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN __hit IS NULL THEN 1 ELSE 0"
                " END)) DIV COUNT(*) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# The testdata customer table carries no free-text address, so the ER demo
# synthesizes one deterministically (16 hex chars of sha256(custkey) —
# identical in both engines), then derives the "dirty" copy by dropping ONE
# character at position 5 + (custkey mod 12) — always past the 4-char
# blocking prefix, so blocking stays sound and lev(orig, dirty) == 1 by
# construction while cross-customer distances stay large.
_ER_ADDR_SQL = (
    "substr(sha256('addr-v1' || CAST(c_custkey AS VARCHAR)), 1, 16)"
)
_ER_PERTURB_SQL = (
    f"substr({_ER_ADDR_SQL}, 1, 4 + (c_custkey % 12))"
    f" || substr({_ER_ADDR_SQL}, 6 + (c_custkey % 12))"
)


@register(
    "customer_entity_resolution",
    sql=f"""
    WITH RECURSIVE recs AS (
        SELECT c_custkey * 2 AS rid, c_custkey, c_nationkey,
               {_ER_ADDR_SQL} AS addr
        FROM customer
        UNION ALL
        SELECT c_custkey * 2 + 1, c_custkey, c_nationkey,
               {_ER_PERTURB_SQL}
        FROM customer
    ), e AS (
        SELECT a.rid AS s, b.rid AS d
        FROM recs a JOIN recs b
          ON a.c_nationkey = b.c_nationkey
         AND substr(a.addr, 1, 4) = substr(b.addr, 1, 4)
         AND a.rid < b.rid
         AND levenshtein(a.addr, b.addr) <= 1
    ), edges AS (
        SELECT s, d FROM e UNION SELECT d, s FROM e
    ), reach(node, lbl) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e2.d, r.lbl FROM reach r JOIN edges e2 ON e2.s = r.node
    ), cc AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node)
    SELECT r.rid, r.c_custkey,
           CAST(COALESCE(cc.lbl, r.rid) AS BIGINT) AS cluster_id
    FROM recs r LEFT JOIN cc ON cc.node = r.rid
    """,
)
def customer_entity_resolution_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] End-to-end entity resolution: the customer table unioned
    with a deterministically-perturbed "dirty" copy (one address char
    dropped past the blocking prefix), then block on (nation, 4-char
    address prefix) → verify with built-in levenshtein ≤ 1 → close the
    match graph with distributed connected components → emit the full
    record→cluster assignment (singletons keep their own rid). The
    oracle replays perturbation, blocking, edit distance, and the
    transitive closure (recursive CTE) — Spark's iterative min-label
    propagation must land on the identical fixpoint.

    Scale: the match candidate set is a blocked equi-join (never
    all-pairs — same discipline as the dedup family); levenshtein is
    JVM codegen; components state is one (node, label) frame iterated
    to fixpoint with localCheckpoint truncation."""
    from dvh_airflow_kafka_spark.ext.components import dedup_clusters

    # Spark-SQL renderings of the same synthesized/dirty address (sha256
    # spells differently: sha2(x, 256) here, sha256(x) in DuckDB)
    addr_sql = (
        "substring(sha2(concat('addr-v1', CAST(c_custkey AS STRING)),"
        " 256), 1, 16)"
    )
    pert_sql = (
        f"concat(substring({addr_sql}, 1, 4 + (c_custkey % 12)),"
        f" substring({addr_sql}, 6 + (c_custkey % 12)))"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orig = cust.select(
        (F.col("c_custkey") * 2).alias("rid"),
        "c_custkey",
        "c_nationkey",
        F.expr(addr_sql).alias("addr"),
    )
    pert = cust.select(
        (F.col("c_custkey") * 2 + 1).alias("rid"),
        "c_custkey",
        "c_nationkey",
        F.expr(pert_sql).alias("addr"),
    )
    recs = orig.unionByName(pert).localCheckpoint(eager=False)
    a, b = recs.alias("a"), recs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (
            F.substring(F.col("a.addr"), 1, 4)
            == F.substring(F.col("b.addr"), 1, 4)
        )
        & (F.col("a.rid") < F.col("b.rid"))
        & (F.levenshtein(F.col("a.addr"), F.col("b.addr")) <= 1),
    ).select(
        F.col("a.rid").alias("id_a"), F.col("b.rid").alias("id_b")
    )
    cc = dedup_clusters(pairs).select(
        F.col("doc_id").alias("rid"), F.col("cluster_id").alias("lbl")
    )
    return recs.join(cc, "rid", "left").select(
        "rid",
        "c_custkey",
        F.coalesce(F.col("lbl"), F.col("rid")).cast("long").alias(
            "cluster_id"
        ),
    )


@register(
    "events_moving_stats",
    sql="""
    WITH s AS (
        SELECT event_id, user_id, ts,
               CAST("value" AS DECIMAL(18,6)) AS v
        FROM events
    )
    SELECT event_id, user_id,
           COUNT(*) OVER w AS win_n,
           CAST(SUM(v) OVER w AS DOUBLE) AS win_sum,
           CAST(CAST(SUM(v) OVER w * 1000000 AS BIGINT)
                // COUNT(*) OVER w AS BIGINT) AS win_avg_micro
    FROM s
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user rolling 7-event window features (count, exact
    DECIMAL sum, integer-division mean in micro-units) — the sliding
    feature-engineering shape behind session-context model inputs. All
    arithmetic is exact (DECIMAL sum, the ×1e6 product is integral by
    construction, integer floor division) — no float summation order
    anywhere.

    Scale: ONE user-keyed window over (ts, event_id); the ROWS frame is
    bounded (7), so per-row state is O(1) and the whole operator is a
    single shuffle-keyed pass — identical shape at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    v = F.col("value").cast("decimal(18,6)")
    win_sum = F.sum(v).over(w)
    win_n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        win_n.alias("win_n"),
        win_sum.cast("double").alias("win_sum"),
        F.expr(
            "CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1000000"
            " AS BIGINT) DIV COUNT(*) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)"
        ).alias("win_avg_micro"),
    )


_RATE_WINDOW_US = 86_400_000_000  # 24 hours
_RATE_THRESHOLD = 8


@register(
    "user_rate_window",
    sql=f"""
    WITH s AS (
        SELECT event_id, user_id, epoch_us(ts) AS us FROM events
    ), r AS (
        SELECT event_id, user_id, us,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                              RANGE BETWEEN {_RATE_WINDOW_US} PRECEDING
                              AND CURRENT ROW) AS n_last_day
        FROM s
    )
    SELECT event_id, user_id, n_last_day
    FROM r WHERE n_last_day >= {_RATE_THRESHOLD}
    """,
)
def user_rate_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Sliding event-time rate audit: for every event, the number
    of events its user produced in the trailing 24 hours (RANGE frame
    over integer microseconds — tie rows are frame peers, so the count
    is order-independent and engine-exact); emit the rate-limit
    violations (≥8/day). The abuse/throttling detection shape.

    Scale: one user-keyed RANGE window — per-key state is the events
    inside the hour (bounded by the rate itself), one shuffle total."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_RATE_WINDOW_US, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_last_day"),
        )
        .filter(F.col("n_last_day") >= _RATE_THRESHOLD)
    )


@register(
    "referential_integrity_audit",
    sql="""
    SELECT 'orders_orphan_custkey' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem_orphan_orderkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'orders_duplicate_pk', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT o_orderkey FROM orders
          GROUP BY o_orderkey HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'customer_null_key', CAST(COUNT(*) AS BIGINT)
    FROM customer WHERE c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem_nonpositive_qty', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_quantity <= 0
    """,
)
def referential_integrity_audit_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Warehouse constraint audit (the dbt-test / Deequ shape):
    orphan foreign keys via ANTI joins, duplicate primary keys, null
    keys, domain violations — one frame of (check_name, n_violations)
    a pipeline gate reads before publishing a snapshot.

    Scale: each orphan check is a keyed ANTI join (broadcast when the
    parent side is dim-sized); the PK check is one map-side-combined
    aggregate. No check ever materializes the violating rows — counts
    only."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def _n(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphan_orders = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    )
    orphan_lines = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"
    )
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    return (
        _n(orphan_orders, "orders_orphan_custkey")
        .unionByName(_n(orphan_lines, "lineitem_orphan_orderkey"))
        .unionByName(_n(dup_pk, "orders_duplicate_pk"))
        .unionByName(
            _n(cust.filter(F.col("c_custkey").isNull()), "customer_null_key")
        )
        .unionByName(
            _n(
                li.filter(F.col("l_quantity") <= 0),
                "lineitem_nonpositive_qty",
            )
        )
    )


_LPA_ITERS = 3


def _lpa_oracle_sql(iters: int) -> str:
    """Unrolled synchronous label propagation over the same synthesized
    link graph as ``link_graph_pagerank`` (doc i -> (i*31+g) % N,
    g in 1..3, self-loops dropped), made undirected — the SQL mirror of
    ``ext/graph.label_propagation_fixed``'s deterministic
    (count DESC, label ASC) adoption rule."""
    parts = [
        """
    WITH nn AS (SELECT COUNT(*) AS ni FROM documents),
    gg AS (SELECT unnest([1, 2, 3]) AS g),
    e0 AS (
        SELECT DISTINCT d.doc_id AS src,
               (d.doc_id * 31 + gg.g) % nn.ni AS dst
        FROM documents d, nn, gg
        WHERE (d.doc_id * 31 + gg.g) % nn.ni <> d.doc_id
    ),
    ed AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""
    , v{t} AS (
        SELECT ed.dst AS id, l.lbl, COUNT(*) AS c
        FROM ed JOIN l{t - 1} l ON l.id = ed.src
        GROUP BY ed.dst, l.lbl
    ), b{t} AS (
        SELECT id, lbl FROM v{t}
        QUALIFY row_number() OVER (PARTITION BY id
                                   ORDER BY c DESC, lbl ASC) = 1
    ), l{t} AS (
        SELECT d.doc_id AS id, COALESCE(b.lbl, d.doc_id) AS lbl
        FROM documents d LEFT JOIN b{t} b ON b.id = d.doc_id
    )"""
        )
    parts.append(
        f"""
    SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community FROM l{iters}
    """
    )
    return "".join(parts)


@register("link_graph_communities", sql=_lpa_oracle_sql(_LPA_ITERS))
def link_graph_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Label-propagation community detection (Raghavan et al.
    2007) over the synthesized link graph — the third graph signal next
    to PageRank (centrality) and connected components (reachability):
    LPA finds densely-linked DOMAINS inside one weakly-connected web
    graph, the granularity crawl curation actually groups by.
    Deterministic adoption (most frequent neighbor label, ties to the
    smallest) makes the fixpoint oracle-replayable; 3 synchronous
    iterations, per iteration one src-keyed join + two combined aggs
    (see ``ext/graph.label_propagation_fixed`` for 100 TB notes)."""
    from dvh_airflow_kafka_spark.ext.graph import label_propagation_fixed

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    g = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("g")
    edges = (
        docs.select(F.col("doc_id").alias("src"), g)
        .select(
            "src",
            ((F.col("src") * 31 + F.col("g")) % F.lit(n)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return label_propagation_fixed(
        docs.select(F.col("doc_id").alias("id")), edges, iters=_LPA_ITERS
    ).select(
        F.col("id").alias("doc_id"), F.col("community").cast("long").alias("community")
    )


_FH_SALT = "fh-v1"
_FH_BUCKETS = 64


@register(
    "doc_feature_hashing",
    sql=rf"""
    WITH t AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        FROM documents
    ), h AS (
        SELECT doc_id,
               ('0x' || substr(sha256('{_FH_SALT}|' || tok), 1, 8))::BIGINT
                   AS u
        FROM t
    ), w AS (
        SELECT doc_id, u % {_FH_BUCKETS} AS bucket,
               SUM(CASE WHEN (u // {_FH_BUCKETS}) % 2 = 0
                        THEN 1 ELSE -1 END) AS wt
        FROM h GROUP BY doc_id, u % {_FH_BUCKETS}
        HAVING SUM(CASE WHEN (u // {_FH_BUCKETS}) % 2 = 0
                        THEN 1 ELSE -1 END) <> 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
           string_agg(bucket || ':' || wt, ',' ORDER BY bucket)
               AS features
    FROM w GROUP BY doc_id
    """,
)
def doc_feature_hashing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Feature hashing (the Weinberger et al. ICML'09 hashing
    trick): every token maps to one of 64 signed buckets via a salted
    sha-derived hash, per-document signed counts form the fixed-width
    sparse feature vector a linear classifier trains on — no vocabulary
    pass, no dictionary state, the property that makes the trick THE
    featurizer for unbounded token domains. Vector serialized as
    ascending 'bucket:weight' pairs (exact integers; nested arrays
    don't survive the driver compare).

    Scale: explode → one (doc, bucket)-keyed combined aggregate → one
    doc-keyed rollup; dimensionality is FIXED at 64, so state never
    grows with the vocabulary."""
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.explode(xtext.tokens(F.col("text"))).alias("tok")
    )
    u = F.conv(
        F.substring(
            F.sha2(F.concat(F.lit(_FH_SALT + "|"), F.col("tok")), 256), 1, 8
        ),
        16,
        10,
    ).cast("long")
    w = (
        t.select(
            "doc_id",
            (u % _FH_BUCKETS).alias("bucket"),
            F.when((u.bitwiseAND(F.lit(_FH_BUCKETS))) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").alias("wt"))
        .filter(F.col("wt") != 0)
    )
    pair = F.struct(F.col("bucket"), F.col("wt"))
    return w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(pair)),
                lambda x: F.concat(
                    x["bucket"].cast("string"),
                    F.lit(":"),
                    x["wt"].cast("string"),
                ),
            ),
            ",",
        ).alias("features"),
    )


@register(
    "mergeable_variance_stats",
    sql="""
    WITH m AS (
        SELECT event_type,
               CAST(CAST("value" AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                   AS v
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_micro,
           CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS VARCHAR)
               AS sumsq_str,
           CAST((CAST(COUNT(*) AS HUGEINT)
                     * CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS HUGEINT)
                 - CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT))
                // (CAST(COUNT(*) AS HUGEINT) * COUNT(*)) AS BIGINT)
               AS var_micro2
    FROM m GROUP BY event_type
    """,
)
def mergeable_variance_stats_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Re-aggregatable variance via exact sufficient statistics:
    per event type, (n, Σv, Σv²) in integer micro-units — the
    commutative-monoid partials an incremental pipeline merges across
    days/partitions without ever revisiting raw rows. The Spark side
    COMPUTES THE MERGE (per-(type, day) partials summed up), the oracle
    computes the direct aggregate — the hash match IS the mergeability
    proof, cross-engine. Σv² is emitted as a decimal STRING (exceeds
    int64; decimal→string renders identically in both engines), and the
    population variance is exact 128-bit integer floor division
    (n·Σv² − (Σv)²) div n² — no decimal→double cast anywhere (those
    round differently across engines past 2⁵³).

    Scale: two map-side-combined aggregates (partials then merge) over
    integer/decimal monoids — order-free at any parallelism."""
    ev = load_table(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,6)") * 1000000).cast("long")
    partials = (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            .alias("day"),
            v.alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("v").alias("ps"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias(
                "pq"
            ),
        )
    )
    merged = partials.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n"),
        F.sum("ps").cast("long").alias("sum_micro"),
        F.sum("pq").cast("decimal(38,0)").alias("q"),
    )
    return merged.select(
        "event_type",
        "n",
        "sum_micro",
        F.col("q").cast("string").alias("sumsq_str"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * q"
            " - CAST(sum_micro AS DECIMAL(38,0))"
            "   * CAST(sum_micro AS DECIMAL(38,0)))"
            " div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("var_micro2"),
    )


@register(
    "streaming_partitioned_sink",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type IN ('purchase', 'error')
    GROUP BY event_type
    """,
)
def streaming_partitioned_sink_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Streaming → hive-partitioned EXACTLY-ONCE file sink: the
    event stream drains (availableNow, 3 micro-batches) into a parquet
    sink partitioned by event_type — Structured Streaming's
    transactional file sink (`_spark_metadata` commit log) writing the
    SAME directory layout `hive_partition_pruned_rollup` prunes. The
    read-back rollup of two partitions must hash-match the batch
    aggregate over the raw table: the proof that the streamed,
    partitioned, committed files carry exactly the source rows.

    Scale: this IS the canonical lake ingest topology — stream in,
    partition-pruned batch readers out; sink state is the metadata log,
    not data."""
    import atexit
    import shutil
    import tempfile

    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )

    def _write(src: str) -> None:
        # 3 files -> 3 micro-batches, one job; the partitioned sink's
        # final contents are invariant under batch composition
        _staged_range_write(ev, src, 3)

    src = _staged_stream_src("stream_psink", sf_dir, _write)
    out = tempfile.mkdtemp(prefix="stream_psink_out_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    run_drain(
        read_event_stream(spark, src), sink=out, partition_by=["event_type"]
    )
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy(F.col("event_type").cast("string").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "quality_quantile_normalize",
    sql="\n    WITH "
    + _qscore_ctes("documents")
    + """, s AS (
        SELECT q.doc_id, d.source, q.quality
        FROM q JOIN documents d ON d.doc_id = q.doc_id
    ), r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rnk,
               COUNT(*) OVER (PARTITION BY source) AS n_src
        FROM s
    )
    SELECT doc_id, source, CAST(rnk AS BIGINT) AS rank_in_source,
           CAST(CASE WHEN n_src > 1
                     THEN (1000000 * (rnk - 1)) // (n_src - 1)
                     ELSE 0 END AS BIGINT) AS quantile_ppm
    FROM r
    """,
)
def quality_quantile_normalize_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Per-source quantile normalization of the quality score —
    the rank-based calibration that makes quality thresholds comparable
    ACROSS sources whose raw score distributions differ (a web crawl
    scores systematically lower than books; quantiles equalize the
    selection pressure). quantile_ppm is exact integer arithmetic over
    the (quality DESC, doc_id) rank: 0 = best in source, 1e6 = worst.

    Scale: one source-keyed window. A single pathologically huge source
    would fatten one window partition; production swaps in the
    range-slice two-pass rank (``ext/ranking.with_global_rank``) keyed
    per source — same output, bounded partitions."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", xtext.quality_score(F.col("text")).alias("__q")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("__q").desc(), F.col("doc_id")
    )
    wn = Window.partitionBy("source")
    return scored.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("long").alias("rank_in_source"),
        F.expr(
            "CAST(CASE WHEN COUNT(*) OVER (PARTITION BY source) > 1"
            " THEN (1000000 * (ROW_NUMBER() OVER (PARTITION BY source"
            " ORDER BY __q DESC, doc_id) - 1))"
            " DIV (COUNT(*) OVER (PARTITION BY source) - 1)"
            " ELSE 0 END AS BIGINT)"
        ).alias("quantile_ppm"),
    )


_FOLD_SALT = "fold-v1"
_N_FOLDS = 5


@register(
    "ml_fold_assignment",
    sql=f"""
    SELECT doc_id, source,
           CAST(('0x' || substr(sha256('{_FOLD_SALT}|'
                                       || CAST(doc_id AS VARCHAR)), 1, 8)
                )::BIGINT % {_N_FOLDS} AS INT) AS fold
    FROM documents
    """,
)
def ml_fold_assignment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic 5-fold cross-validation assignment — the
    k-fold sibling of ``documents_train_test_split``: fold = sha-prefix
    hash of the id mod k, reproducible across runs, engines and
    repartitions, with no stored fold table to drift out of sync.

    Scale: a scan-fused Column expression — zero shuffles, zero state."""
    docs = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.sha2(
                    F.concat(
                        F.lit(_FOLD_SALT + "|"),
                        F.col("doc_id").cast("string"),
                    ),
                    256,
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _N_FOLDS
    )
    return docs.select(
        "doc_id", "source", fold.cast("int").alias("fold")
    )


@register(
    "streaming_late_data_audit",
    sql="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events, mx
    WHERE ts >= m - INTERVAL 15 DAY
    GROUP BY 1, 2
    """,
)
def streaming_late_data_audit_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Watermark LATE-DROP semantics pinned cross-engine: the
    event log is staged out of time order — the RECENT half, a
    far-future sentinel (advances AND COMMITS the watermark; the
    engine's input filter takes effect one committed batch after the
    watermark value appears), then the OLD half, then a final sentinel
    to flush surviving windows. Every old-half row arrives with its
    hourly window far below the committed watermark and the state store
    drops all of them, deterministically. The oracle is the batch
    aggregate over ONLY the recent half (``ts >= max − 15 days``) — the
    hash match proves the drop boundary is exactly the watermark
    contract, not approximately. Complements `streaming_window_counts`
    (which proves in-order completeness); together they pin both sides
    of the watermark contract.

    Scale: watermark state is the open windows of the recent half —
    late floods of historical data cost NOTHING (dropped pre-state),
    the property that makes watermarked ingest survivable under
    backfill storms."""
    from dvh_airflow_kafka_spark.streaming.stateful import (
        read_event_stream,
        run_drain,
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )

    def _write(src: str) -> None:
        mx = ev.agg(F.max("ts")).collect()[0][0]
        cutoff = mx - dt.timedelta(days=15)

        def _sentinel(days: int) -> None:
            spark.createDataFrame(
                [(mx + dt.timedelta(days=days), "__sentinel", 0.0)],
                "ts timestamp, event_type string, value double",
            ).coalesce(1).write.mode("append").parquet(src)

        # batch 1: the recent half (sets the watermark input)
        ev.filter(F.col("ts") >= cutoff).coalesce(1).write.parquet(src)
        # batch 2: sentinel — commits a watermark far above the old half
        _sentinel(10)
        # batch 3: the old half — every row late beyond the watermark
        ev.filter(F.col("ts") < cutoff).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # batch 4: final sentinel flushes the surviving windows
        _sentinel(20)

    src = _staged_stream_src("stream_late", sf_dir, _write)
    counts = windowed_event_counts(
        read_event_stream(spark, src),
        window="1 hour",
        watermark="1 minute",
        exact_sum=True,
    )
    out = run_drain(counts, shuffle_partitions=8).table
    return out.filter(F.col("event_type") != "__sentinel").select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "customer_ltv_running",
    sql="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS order_seq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS ltv
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def customer_ltv_running_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Running customer lifetime value: per customer, the order
    sequence number and cumulative spend after each order (exact
    DECIMAL accumulation, cast to double once at the end) — the
    growing-frame companion to ``events_moving_stats``'s bounded frame.

    Scale: one customer-keyed window ordered by (date, key); cumulative
    ROWS frames stream in O(1) state per row within each partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy(
                "o_orderdate", "o_orderkey"
            )
        )
        .cast("long")
        .alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("ltv"),
    )


# Deterministic dirt injection for the cleaning demo (the fixture text is
# already clean): a BEL control char + two extra spaces spliced in at a
# hash-derived position — both engines build the identical dirty string,
# clean it with the identical explicit-class regexes (no \s: Java regex
# includes \x0B in \s, RE2 does not), and must agree on the repair.
_CLEAN_POS = "1 + (doc_id % 20)"
_CLEAN_CTRL = xtext.CLEAN_CTRL_RE
_CLEAN_WS = xtext.CLEAN_WS_RE


@register(
    "text_clean_normalize",
    sql=f"""
    WITH dirty AS (
        SELECT doc_id,
               substr(text, 1, {_CLEAN_POS}) || chr(7) || '  '
                   || substr(text, 1 + ({_CLEAN_POS})) AS d
        FROM documents
    ), cleaned AS (
        SELECT doc_id, d,
               trim(regexp_replace(regexp_replace(d,
                    '{_CLEAN_CTRL}', '', 'g'),
                    '{_CLEAN_WS}', ' ', 'g')) AS c
        FROM dirty
    )
    SELECT doc_id,
           CAST(length(d) AS BIGINT) AS len_dirty,
           CAST(length(c) AS BIGINT) AS len_clean,
           CAST(length(d) - length(c) AS BIGINT) AS n_removed,
           sha256(c) AS cleaned_sha
    FROM cleaned
    """,
)
def text_clean_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Text cleaning/normalization — the first stage of every
    ingest pipeline: strip control characters, collapse whitespace
    runs, trim. The fixture text is already clean, so the query splices
    deterministic dirt in first (BEL + doubled spaces at a hash-derived
    position) and both engines must repair it to the byte-identical
    sha. Regex classes are explicit ([\\x00-...], [ \\t\\n\\f\\r]) —
    Java's \\s includes \\x0B, RE2's does not, so shorthand classes
    would silently diverge across engines.

    Scale: pure codegen string expressions fused into the scan — zero
    shuffles, zero state."""
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    dirty = docs.select(
        "doc_id",
        F.expr(
            f"concat(substring(text, 1, {_CLEAN_POS}), chr(7), '  ',"
            f" substring(text, 1 + ({_CLEAN_POS})))"
        ).alias("d"),
    )
    c = xtext.clean_text(F.col("d"))
    return dirty.select(
        "doc_id",
        F.length("d").cast("long").alias("len_dirty"),
        F.length(c).cast("long").alias("len_clean"),
        (F.length("d") - F.length(c)).cast("long").alias("n_removed"),
        F.sha2(c, 256).alias("cleaned_sha"),
    )


_DEFLATE_LEN_PATH = (
    f"/tmp/dvh_deflate_len_{__import__('os').getpid()}.parquet"
)
# DuckDB strlen() = BYTES (UTF-8), length() = characters — matching
# Spark's octet_length / length split used on the query side
_DEFLATE_RATIO_SQL = f"""
    WITH c AS (
        SELECT doc_id, comp_bytes
        FROM read_parquet('{_DEFLATE_LEN_PATH}/*.parquet')
    ), d AS (
        SELECT doc_id, length(text) AS n_chars, strlen(text) AS n_bytes
        FROM documents
    )
    SELECT d.doc_id,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST(CASE WHEN d.n_bytes = 0 THEN 1000000
                     ELSE (1000000 * c.comp_bytes) // d.n_bytes
                END AS BIGINT) AS compress_ppm
    FROM d JOIN c USING (doc_id)
    """


@register("doc_compression_ratio", sql=_DEFLATE_RATIO_SQL)
def doc_compression_ratio_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DEFLATE compression-ratio quality signal (compressed/raw in
    exact ppm): templated or highly repetitive documents compress far
    below natural prose, random noise above it — the cheap redundancy
    detector corpus curation runs beside the n-gram repetition stats
    (used by RefinedWeb-style dedup-adjacent filtering), upgraded
    rows-only → PARTIAL oracle: the zlib kernel emits only the DEFLATE
    byte LENGTH (staged to a per-process parquet path), and BOTH
    engines compute the raw UTF-8 byte length and the exact-ppm integer
    ratio relationally — DuckDB from the same staged bytes joined back
    to the documents table. The kernel itself stays pytest-pinned
    (determinism, repetitive ≪ natural < shuffled-noise ordering).

    Scale: one linear Arrow-batched scan; only (doc_id, 1 int) is
    staged and the ratio join is id-keyed."""
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    comp_len = xtext.deflate_len_udf()
    comp = docs.select(
        "doc_id", comp_len(F.col("text")).alias("comp_bytes")
    )
    _stage_frame(comp, _DEFLATE_LEN_PATH, sf_dir)
    staged = spark.read.parquet(_DEFLATE_LEN_PATH)
    return (
        docs.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.octet_length("text").cast("long").alias("n_bytes"),
        )
        .join(staged, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            F.when(F.col("n_bytes") == 0, F.lit(1000000).cast("long"))
            .otherwise(
                F.expr("(1000000L * comp_bytes) div n_bytes")
            )
            .alias("compress_ppm"),
        )
    )


# p=8: 256 registers, 24-bit remainder; alpha_256 * m^2 with
# alpha_m = 0.7213 / (1 + 1.079/m) (Flajolet et al. 2007).  Single
# source of truth is ext/sketch (the kernels the Spark side runs); the
# two fragments below are the one SQL form of that arithmetic, shared by
# every HLL oracle (here and in the ingest family's monitor readout).
def _hll_registers_sql(src: str, group: str) -> str:
    """HLL register CTEs over ``src`` (``group``, user_id): ``hll_h``
    hashes each user, ``hll_r`` splits the hash into bucket and rho,
    ``hll_regs`` keeps the register maximum ``m_rho`` per (``group``,
    bucket)."""
    return f"""hll_h AS (
        SELECT {group},
               ('0x' || substr(sha256('{_HLL_SALT}|'
                                      || CAST(user_id AS VARCHAR)), 1, 8)
               )::BIGINT AS u
        FROM {src}
    ), hll_r AS (
        SELECT {group}, u // {_HLL_REM} AS bucket,
               CASE WHEN (u % {_HLL_REM}) = 0 THEN 25
                    ELSE 25 - length(bin(u % {_HLL_REM})) END AS rho
        FROM hll_h
    ), hll_regs AS (
        SELECT {group}, bucket, MAX(rho) AS m_rho
        FROM hll_r GROUP BY {group}, bucket
    )"""


def _hll_estimate_sql(regs: str, group: str) -> str:
    """HLL estimator CTEs over the registers ``regs`` (``group``, bucket,
    m_rho): ``hll_est`` sums the nonzero registers, ``hll_raw`` takes the
    raw estimate, ``hll_readout`` holds (``group``, n_nonzero,
    hll_estimate) with the linear-counting branch, rounded to 4 places."""
    return f"""hll_est AS (
        SELECT {group},
               COUNT(*) AS n_nonzero,
               SUM(power(2.0, -m_rho)) AS s_nz
        FROM {regs} GROUP BY {group}
    ), hll_raw AS (
        SELECT {group}, n_nonzero,
               (0.7213 / (1 + 1.079 / {_HLL_M}.0))
                   * {_HLL_M}.0 * {_HLL_M}.0
                   / (s_nz + ({_HLL_M} - n_nonzero) * 1.0) AS re
        FROM hll_est
    ), hll_readout AS (
        SELECT {group}, n_nonzero,
               ROUND(CASE WHEN re <= 2.5 * {_HLL_M}
                           AND n_nonzero < {_HLL_M}
                          THEN {_HLL_M}.0 * ln({_HLL_M}.0
                                   / ({_HLL_M} - n_nonzero))
                          ELSE re END, 4) AS hll_estimate
        FROM hll_raw
    )"""


_HLL_SQL = f"""
    WITH {_hll_registers_sql("events", "event_type")},
    {_hll_estimate_sql("hll_regs", "event_type")}, x AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT r.event_type,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(r.n_nonzero AS BIGINT) AS n_nonzero_regs,
           r.hll_estimate
    FROM hll_readout r JOIN x ON x.event_type = r.event_type
    """


@register("hll_register_distinct", sql=_HLL_SQL)
def hll_register_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Hand-rolled HyperLogLog with a FULL SQL oracle — the
    cross-engine-checkable counterpart of ``hll_mergeable_distinct``
    (whose Datasketches registers are library-internal): sha-derived
    32-bit hashes, 256 registers (top 8 bits bucket, rank-of-first-set-
    bit of the 24-bit remainder via length(bin(x)) — exact integers in
    both engines). The Spark side computes per-(type, DAY) register
    maxima and MERGES them with a second max — the oracle computes
    registers directly — so the hash match proves HLL's max-merge law
    cross-engine, the same partials-then-merge shape as
    ``mergeable_variance_stats``. The raw estimator's float arithmetic
    is exact-dyadic (every 2^-rho term and all partial sums are exactly
    representable, so summation order cannot matter); the
    low-cardinality linear-counting branch (raw ≤ 2.5m) takes one ln of
    the same small rational in both engines — the documented
    1-ulp-at-the-round-4-boundary probabilistic class.

    Scale: register state is O(m) per group per partition with
    map-side combine — the sketch you keep resident per tenant/day and
    fold over any grouping without rescanning (estimate error ~1.04/√m
    ≈ 6.5% at m=256)."""
    from dvh_airflow_kafka_spark.ext.sketch import (
        hll_bucket_rho,
        hll_estimate_report,
    )

    ev = load_table(spark, sf_dir, "events")
    # register projection + estimator live in ext/sketch (round-10
    # refactor) so the streaming twin (streaming_hll_registers) shares
    # them — twin equality by construction, not parallel maintenance
    r = hll_bucket_rho(
        ev.withColumn(
            "day",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"),
        ),
        "event_type",
        "day",
        elem_col="user_id",
    )
    partials = r.groupBy("event_type", "day", "bucket").agg(
        F.max("rho").alias("p_rho")
    )
    regs = partials.groupBy("event_type", "bucket").agg(
        F.max("p_rho").alias("m_rho")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return hll_estimate_report(regs, exact)


@register(
    "streaming_hll_registers",
    # Shares the hand-rolled HyperLogLog oracle VERBATIM — the fourth
    # batch/streaming twin family (quantile, frequency-grid,
    # heavy-hitter, now mergeable-distinct).
    sql=_HLL_SQL,
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
    "tokenizer_fertility_by_lang",
    sql=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]')))
               AS BIGINT) AS bpe_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]')))
                AS DOUBLE)
               / SUM(len(regexp_extract_all(text, '\S+')))
               AS fertility,
           CAST(SUM(length(text)) AS DOUBLE)
               / SUM(len(regexp_extract_all(text, '\w+|[^\w\s]')))
               AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] Tokenizer FERTILITY audit per language: BPE-ish pieces per
    whitespace word and characters per piece — the compression-equity
    readout multilingual pipelines run before fixing a tokenizer (a
    language whose fertility is 2x pays 2x the sequence length for the
    same content; the BLOOM tokenizer report documented exactly this
    audit).  Exact integer sums; the two ratios are single
    exact-int->double divisions.  One map-side-combined shuffle over a
    scan."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(xtext.token_count_ws(F.col("text")))
        .cast("long")
        .alias("ws_tokens"),
        F.sum(xtext.token_count_bpe(F.col("text")))
        .cast("long")
        .alias("bpe_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    return a.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        (F.col("bpe_tokens").cast("double") / F.col("ws_tokens")).alias(
            "fertility"
        ),
        (F.col("n_chars").cast("double") / F.col("bpe_tokens")).alias(
            "chars_per_token"
        ),
    )


@register(
    "hll_cumulative_user_curve",
    sql=f"""
    WITH ev AS (
        SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d')
                   AS day,
               user_id
        FROM events
    ), {_hll_registers_sql("ev", "day")},
    days AS (SELECT DISTINCT day FROM hll_regs
    ), cr AS (
        SELECT d.day, p.bucket, MAX(p.m_rho) AS m_rho
        FROM days d JOIN hll_regs p ON p.day <= d.day
        GROUP BY d.day, p.bucket
    ), {_hll_estimate_sql("cr", "day")}, fd AS (
        SELECT user_id,
               MIN(strftime(CAST(date_trunc('day', ts) AS DATE),
                            '%Y-%m-%d')) AS f
        FROM events GROUP BY user_id
    ), fdc AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS c FROM fd GROUP BY f
    ), ex AS (
        SELECT d.day, CAST(SUM(fdc.c) AS BIGINT) AS n_exact_cum
        FROM days d JOIN fdc ON fdc.f <= d.day
        GROUP BY d.day
    )
    SELECT r.day,
           ex.n_exact_cum,
           CAST(r.n_nonzero AS BIGINT) AS n_nonzero_regs,
           r.hll_estimate
    FROM hll_readout r JOIN ex ON ex.day = r.day
    """,
)
def hll_cumulative_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distinct-user GROWTH CURVE from mergeable HLL state: per
    day, the estimate over registers max-merged across ALL days up to
    it — the "how fast is the audience/corpus growing" readout that a
    stored per-day sketch answers WITHOUT ever rescanning history
    (yesterday's registers + today's = the curve point; recomputing
    exact distincts per cumulative window rescans everything).  Exact
    cumulative distincts ride along for calibration (first-seen-day per
    user, then a bounded triangular day-join — never a per-user
    window).

    Same register construction and estimator as
    ``hll_register_distinct`` (sha-derived hashes, length(bin()) ranks,
    dyadic 2^-rho sums — exact in both engines); the prefix merge is a
    triangular day-join over the BOUNDED per-day register frame
    (<= days*m rows, constants), not over events.

    Scale: one (day, bucket) shuffle over the corpus, then
    constant-size frames; the sketch-over-time table is exactly what a
    100 TB ingest keeps resident per tenant."""
    ev = load_table(spark, sf_dir, "events")
    u = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.lit(_HLL_SALT + "|"), F.col("user_id").cast("string")
                ),
                256,
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    rem = u % _HLL_REM
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    r = ev.select(
        day.alias("day"),
        (u / _HLL_REM).cast("long").alias("bucket"),
        F.when(rem == 0, F.lit(25))
        .otherwise(F.lit(25) - F.length(F.bin(rem)))
        .alias("rho"),
    )
    p = r.groupBy("day", "bucket").agg(F.max("rho").alias("p_rho"))
    days = p.select("day").distinct()
    cr = (
        days.alias("d")
        .join(p.alias("p"), F.col("p.day") <= F.col("d.day"))
        .groupBy(F.col("d.day").alias("day"), F.col("p.bucket"))
        .agg(F.max("p.p_rho").alias("m_rho"))
    )
    est = cr.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_nonzero_regs"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("s_nz"),
    )
    fd = ev.select(day.alias("f"), "user_id").groupBy("user_id").agg(
        F.min("f").alias("f")
    )
    # collapse users -> per-first-day counts BEFORE the triangular join:
    # days x per-day-counts is |days|^2 rows (constants) where
    # days x users would re-walk the user table once per day
    fdc = fd.groupBy("f").agg(F.count(F.lit(1)).alias("c"))
    ex = (
        days.alias("d")
        .join(F.broadcast(fdc), F.col("f") <= F.col("d.day"))
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.sum("c").cast("long").alias("n_exact_cum"))
    )
    alpha = 0.7213 / (1 + 1.079 / _HLL_M)
    raw = F.lit(alpha * _HLL_M * _HLL_M) / (
        F.col("s_nz")
        + (F.lit(_HLL_M) - F.col("n_nonzero_regs")) * F.lit(1.0)
    )
    lc = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M))
        / (F.lit(_HLL_M) - F.col("n_nonzero_regs")).cast("double")
    )
    est_expr = F.when(
        (raw <= F.lit(2.5 * _HLL_M))
        & (F.col("n_nonzero_regs") < F.lit(_HLL_M)),
        lc,
    ).otherwise(raw)
    return est.join(F.broadcast(ex), "day").select(
        "day",
        "n_exact_cum",
        "n_nonzero_regs",
        F.round(est_expr, 4).alias("hll_estimate"),
    )


# --------------------------------------------------------------------------
# [EXT] round-7d: HITS hubs/authorities and k-core peeling (completing the
# link-graph analytics family), t-closeness (completing the privacy-release
# audit family), leave-one-out target encoding (ML feature pipelines).
# --------------------------------------------------------------------------

_HITS_ITERS = 5


def _hits_oracle_sql(iters: int) -> str:
    """Unrolled unnormalized HITS as nested CTEs over the synthesized
    link graph — pure INTEGER sums (hub₀ = 1), so the replay is
    bit-exact; the normalized columns divide two exact int64s (one
    correctly-rounded double op, identical cross-engine)."""
    parts = [
        """
    WITH nn AS (SELECT COUNT(*) AS ni FROM documents),
    gg AS (SELECT unnest([1, 2, 3]) AS g),
    e AS (
        SELECT DISTINCT d.doc_id AS src,
               (d.doc_id * 31 + gg.g) % nn.ni AS dst
        FROM documents d, nn, gg
        WHERE (d.doc_id * 31 + gg.g) % nn.ni <> d.doc_id
    ),
    h0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS h FROM documents)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""
    , a{t} AS (
        SELECT d.doc_id AS id, CAST(COALESCE(s.c, 0) AS BIGINT) AS a
        FROM documents d LEFT JOIN (
            SELECT e.dst AS id, SUM(h.h) AS c
            FROM e JOIN h{t - 1} h ON h.id = e.src GROUP BY e.dst) s
        ON s.id = d.doc_id
    ), h{t} AS (
        SELECT d.doc_id AS id, CAST(COALESCE(s.c, 0) AS BIGINT) AS h
        FROM documents d LEFT JOIN (
            SELECT e.src AS id, SUM(a.a) AS c
            FROM e JOIN a{t} a ON a.id = e.dst GROUP BY e.src) s
        ON s.id = d.doc_id
    )"""
        )
    parts.append(
        f"""
    , mx AS (SELECT MAX(h.h) AS mh, MAX(a.a) AS ma
             FROM h{iters} h JOIN a{iters} a ON a.id = h.id)
    SELECT h.id AS doc_id, h.h AS hub_score, a.a AS auth_score,
           round(CAST(h.h AS DOUBLE) / mx.mh, 6) AS hub_norm,
           round(CAST(a.a AS DOUBLE) / mx.ma, 6) AS auth_norm
    FROM h{iters} h JOIN a{iters} a ON a.id = h.id, mx
    """
    )
    return "".join(parts)


def _doc_link_edges(docs: DataFrame, n: int) -> DataFrame:
    """The deterministic synthesized link graph shared by every
    link_graph_* query: doc i → (i·31 + g) % N for g ∈ 1..3, self-loops
    dropped, deduplicated."""
    return (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("g"),
        )
        .withColumn("dst", (F.col("src") * 31 + F.col("g")) % F.lit(n))
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
    )


@register("link_graph_hits", sql=_hits_oracle_sql(_HITS_ITERS))
def link_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Fixed-iteration HITS hubs/authorities (Kleinberg JACM'99)
    over the synthesized link graph — the second link-centrality signal
    beside PageRank (hubs = pages whose OUT-links select well,
    authorities = pages selected by good hubs; crawl-frontier and
    source-selection curation uses both). Run UNNORMALIZED from hub=1 so
    every score is a pure integer path count: the unrolled SQL oracle
    replays all 5 iterations BIT-exactly (no float class at all), and
    the presentation-normalized columns divide two exact int64s — one
    correctly-rounded double op each, still exact cross-engine.  Per
    half-step one keyed join + one map-side-combined sum; edge frame
    persisted pre-hashed per join key (``ext/graph.hits_fixed``)."""
    from dvh_airflow_kafka_spark.ext import graph as xgraph

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    scores = xgraph.hits_fixed(
        docs.select(F.col("doc_id").alias("id")),
        _doc_link_edges(docs, n),
        iters=_HITS_ITERS,
        id_col="id",
    )
    mx = scores.agg(
        F.max("hub_score").alias("__mh"), F.max("auth_score").alias("__ma")
    )
    return scores.crossJoin(F.broadcast(mx)).select(
        F.col("id").alias("doc_id"),
        "hub_score",
        "auth_score",
        F.round(
            F.col("hub_score").cast("double") / F.col("__mh"), 6
        ).alias("hub_norm"),
        F.round(
            F.col("auth_score").cast("double") / F.col("__ma"), 6
        ).alias("auth_norm"),
    )


_KCORE_K = 5
_KCORE_ITERS = 4


def _kcore_oracle_sql(k: int, iters: int) -> str:
    """Unrolled k-core peeling as nested CTEs (integer degrees only —
    bit-exact replay): per round degrees over the current undirected
    edge set, survivors with degree >= k, edge set restricted to
    survivors; ``converged`` compares the last two survivor counts.

    The edge set here is the VARYING-degree synthesized graph (doc i →
    (17i² + 31i + 7g) % N for g ∈ 1..(1 + i mod 5)) — the PageRank/HITS
    3-regular graph is useless for peeling (every node has undirected
    degree 6, so any k either keeps or drops everything); out-degree
    1..5 plus a quadratic dst hash gives a genuine multi-round
    cascade."""
    parts = [
        """
    WITH nn AS (SELECT COUNT(*) AS ni FROM documents),
    gg AS (SELECT unnest([1, 2, 3, 4, 5]) AS g),
    de AS (
        SELECT DISTINCT d.doc_id AS src,
               (d.doc_id * d.doc_id * 17 + d.doc_id * 31 + gg.g * 7)
                   % nn.ni AS dst
        FROM documents d, nn, gg
        WHERE gg.g <= 1 + d.doc_id % 5
          AND (d.doc_id * d.doc_id * 17 + d.doc_id * 31 + gg.g * 7)
                  % nn.ni <> d.doc_id
    ),
    e0 AS (
        SELECT src, dst FROM de
        UNION
        SELECT dst AS src, src AS dst FROM de
    ),
    k0 AS (SELECT DISTINCT src FROM e0)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""
    , k{t} AS (
        SELECT src FROM e{t - 1} GROUP BY src HAVING COUNT(*) >= {k}
    ), e{t} AS (
        SELECT e.src, e.dst FROM e{t - 1} e
        JOIN k{t} a ON a.src = e.src
        JOIN k{t} b ON b.src = e.dst
    )"""
        )
    parts.append(
        f"""
    , cv AS (SELECT (SELECT COUNT(*) FROM k{iters})
                  = (SELECT COUNT(*) FROM k{iters - 1}) AS converged)
    SELECT e.src AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree,
           cv.converged
    FROM e{iters} e, cv
    GROUP BY e.src, cv.converged
    """
    )
    return "".join(parts)


@register("link_graph_kcore", sql=_kcore_oracle_sql(_KCORE_K, _KCORE_ITERS))
def link_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] k-core peeling (Seidman 1983), k=5, 4 fixed rounds, over an
    undirected VARYING-degree synthesized link graph (doc i → (17i² +
    31i + 7g) % N for g ∈ 1..(1 + i mod 5) — out-degree 1..5; the
    3-regular PageRank graph peels all-or-nothing and tests nothing) —
    the degeneracy/cohesion audit beside PageRank-centrality and
    LPA-communities: the k-core is the maximal subgraph where every node
    keeps >= k neighbours, the standard spam-farm / link-ring detector
    in web-corpus curation.  Fixed-round peeling keeps it deterministic
    and SQL-replayable (integer degrees — bit-exact oracle); the
    ``converged`` flag reports whether the final round dropped anyone
    (false here at the test scales — the cascade is still running at
    round 4, exactly what the flag exists to surface).  Per round one
    map-side-combined degree count + two survivor semi-joins
    (``ext/graph.k_core_peel``)."""
    from dvh_airflow_kafka_spark.ext import graph as xgraph

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    i = F.col("doc_id")
    edges = (
        docs.select(
            i.alias("src"),
            F.explode(
                F.sequence(F.lit(1), (F.lit(1) + i % 5).cast("int"))
            ).alias("g"),
        )
        .withColumn(
            "dst",
            (
                F.col("src") * F.col("src") * 17
                + F.col("src") * 31
                + F.col("g") * 7
            )
            % F.lit(n),
        )
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
    )
    return xgraph.k_core_peel(
        docs.select(F.col("doc_id").alias("id")),
        edges,
        k=_KCORE_K,
        iters=_KCORE_ITERS,
        id_col="id",
    ).select(F.col("id").alias("doc_id"), "degree", "converged")


_TCLOSE_T_PPM = 250_000  # t = 0.25


@register(
    "t_closeness_audit",
    sql=f"""
    WITH b AS (
        SELECT event_type,
               strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d')
                   AS day,
               CAST(extract(hour FROM ts) AS INT) AS hour,
               CAST(floor(value / 100) AS BIGINT) AS band
        FROM events
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    gv AS (SELECT event_type, day, hour, band,
                  CAST(COUNT(*) AS BIGINT) AS c_gv
           FROM b GROUP BY 1, 2, 3, 4),
    g AS (SELECT event_type, day, hour, CAST(SUM(c_gv) AS BIGINT) AS n_g
          FROM gv GROUP BY 1, 2, 3),
    v AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS c_v FROM b GROUP BY 1),
    p AS (
        SELECT gv.event_type, gv.day, gv.hour,
               SUM(abs(gv.c_gv * tot.n - v.c_v * g.n_g)
                   - v.c_v * g.n_g) AS s_present
        FROM gv JOIN g USING (event_type, day, hour)
                JOIN v USING (band), tot
        GROUP BY 1, 2, 3
    )
    SELECT g.event_type, g.day, g.hour, g.n_g AS group_size,
           CAST((1000000 * (p.s_present + g.n_g * tot.n))
                // (2 * g.n_g * tot.n) AS BIGINT) AS tvd_ppm
    FROM g JOIN p USING (event_type, day, hour), tot
    WHERE (1000000 * (p.s_present + g.n_g * tot.n))
              // (2 * g.n_g * tot.n) >= {_TCLOSE_T_PPM}
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) —
    the third leg of the release gate after ``k_anonymity_audit`` and
    ``l_diversity_audit``: a QI group can be large AND diverse yet still
    leak if its SENSITIVE-value distribution differs sharply from the
    table-wide one (skewness attack).  Flags (event_type, day, hour)
    groups whose total-variation distance from the global spend-band
    distribution exceeds t=0.25, computed in EXACT integer ppm:
    TVD = Σ|c_gv·N − C_v·n_g| / (2·n_g·N), with the
    absent-band mass folded in algebraically (Σ_absent C_v·n_g =
    n_g·N − Σ_present C_v·n_g) so no group×band cross join ever
    materializes — O(present pairs) work, bit-exact oracle.  Products
    stay < 2^63 up to ~10^9 events per group-size 10^9; beyond that the
    same query runs on DECIMAL(38).  Two map-side-combined aggregates +
    one broadcast of the O(bands) frame."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.hour(F.col("ts")).cast("int").alias("hour"),
        F.floor(F.col("value") / 100).cast("long").alias("band"),
    )
    # localCheckpoints: the contingency frame (groups x bands) feeds the
    # group marginal AND the TVD join; the marginal feeds the TVD join
    # AND the final projection — both are bounded frames whose upstream
    # scan+shuffle would otherwise re-run per consumer
    gv = (
        b.groupBy("event_type", "day", "hour", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c_gv"))
        .localCheckpoint(eager=False)
    )
    g = (
        gv.groupBy("event_type", "day", "hour")
        .agg(F.sum("c_gv").cast("long").alias("n_g"))
        .localCheckpoint(eager=False)
    )
    v = b.groupBy("band").agg(F.count(F.lit(1)).cast("long").alias("c_v"))
    tot = b.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    p = (
        gv.join(g, ["event_type", "day", "hour"])
        .join(F.broadcast(v), "band")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type", "day", "hour")
        .agg(
            F.sum(
                F.abs(
                    F.col("c_gv") * F.col("__n")
                    - F.col("c_v") * F.col("n_g")
                )
                - F.col("c_v") * F.col("n_g")
            ).alias("s_present")
        )
    )
    return (
        g.join(p, ["event_type", "day", "hour"])
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "day",
            "hour",
            F.col("n_g").alias("group_size"),
            F.expr(
                "(1000000 * (s_present + n_g * __n))"
                " div (2 * n_g * __n)"
            )
            .cast("long")
            .alias("tvd_ppm"),
        )
        .filter(F.col("tvd_ppm") >= _TCLOSE_T_PPM)
    )


@register(
    "loo_target_encoding",
    sql="""
    WITH j AS (
        SELECT o.o_orderkey, c.c_mktsegment,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (SELECT c_mktsegment, CAST(SUM(cents) AS BIGINT) AS seg_cents,
                 CAST(COUNT(*) AS BIGINT) AS n_seg
          FROM j GROUP BY 1)
    SELECT j.o_orderkey, j.c_mktsegment, s.n_seg,
           CASE WHEN s.n_seg > 1 THEN
               round(CAST(s.seg_cents - j.cents AS DOUBLE)
                     / (100.0 * (s.n_seg - 1)), 6)
           END AS loo_segment_mean
    FROM j JOIN s USING (c_mktsegment)
    """,
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Leave-one-out target encoding — the standard high-cardinality
    categorical feature for tabular ML (each order's segment encoded as
    the mean target of all OTHER orders in the segment, excluding the row
    itself to prevent target leakage into the training fold).  Exact
    cross-engine: prices sum as cent-integers (DECIMAL→int64), the LOO
    numerator is an exact int64 difference, and the single double
    division of two exact integers is correctly rounded identically in
    both engines.  One broadcast dim join + one 5-group
    map-side-combined aggregate + one broadcast of the O(segments)
    frame back onto the fact rows — no row ever shuffles twice."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        "o_orderkey",
        "c_mktsegment",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    s = j.groupBy("c_mktsegment").agg(
        F.sum("cents").cast("long").alias("seg_cents"),
        F.count(F.lit(1)).cast("long").alias("n_seg"),
    )
    return j.join(F.broadcast(s), "c_mktsegment").select(
        "o_orderkey",
        "c_mktsegment",
        "n_seg",
        # a single-order segment has no "others" to average — NULL, not a
        # 0/0 artifact (mirrored CASE in the oracle; DuckDB's double 0/0
        # behavior is engine-version-dependent)
        F.when(
            F.col("n_seg") > 1,
            F.round(
                (F.col("seg_cents") - F.col("cents")).cast("double")
                / (F.lit(100.0) * (F.col("n_seg") - 1)),
                6,
            ),
        ).alias("loo_segment_mean"),
    )


_RRF_K = 60
_RRF_DEPTH = 50
_RRF_TOPK = 20


def _rrf_sql() -> str:
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    bm25 = " + ".join(
        f"ln(((n - df{i} + 0.5) / (df{i} + 0.5)) + 1)"
        f" * (tf{i} * ({_BM25_K1} + 1))"
        f" / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B}"
        f" * (CAST(dl AS DOUBLE) / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    tfidf = " + ".join(
        f"ln(1 + CAST(tf{i} AS DOUBLE))"
        f" * ln((n + 1.0) / (df{i} + 1.0))"
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
    ), base AS (
        SELECT doc_id, round({bm25}, 6) AS b, round({tfidf}, 6) AS t2
        FROM d, s WHERE {any_tf} > 0
    ), ba AS (
        SELECT doc_id, row_number() OVER (ORDER BY b DESC, doc_id) AS rb
        FROM base QUALIFY rb <= {_RRF_DEPTH}
    ), ta AS (
        SELECT doc_id, row_number() OVER (ORDER BY t2 DESC, doc_id) AS rt
        FROM base QUALIFY rt <= {_RRF_DEPTH}
    )
    SELECT COALESCE(ba.doc_id, ta.doc_id) AS doc_id,
           CAST(ba.rb AS BIGINT) AS rank_bm25,
           CAST(ta.rt AS BIGINT) AS rank_tfidf,
           round(COALESCE(1.0 / ({_RRF_K} + ba.rb), 0)
                 + COALESCE(1.0 / ({_RRF_K} + ta.rt), 0), 6) AS rrf
    FROM ba FULL OUTER JOIN ta ON ta.doc_id = ba.doc_id
    ORDER BY rrf DESC, COALESCE(ba.doc_id, ta.doc_id)
    LIMIT {_RRF_TOPK}
    """


@register("hybrid_rrf_fusion", sql=_rrf_sql())
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Reciprocal-rank fusion (Cormack, Clarke & Buettcher,
    SIGIR'09) of two retrieval arms — the standard hybrid-search merge a
    RAG stack runs over its lexical and dense rankers: each arm
    contributes 1/(k + rank) (k=60) for its top-50, documents in either
    list fuse by summed score.  Here both arms are SQL-replayable
    rankings of the same fixed term query (BM25 and smoothed
    log-TF-IDF, deliberately different length normalizations) so the
    oracle is FULL, not staged; in production the dense arm swaps in an
    ANN ranking (``lsh_ann_topk``/``ivf_ann_topk`` — same rank-join
    shape, RRF needs only ranks, never comparable scores, which is
    exactly why it is the fusion of choice across heterogeneous
    scorers).

    Plan shape: ONE stats aggregate broadcast back, one scoring scan
    per arm fused by Catalyst into the same projection, each arm cut to
    its top-50 by distributed TakeOrderedAndProject (no global sort);
    the rank-assigning windows then run over ≤50-row frames — bounded
    by construction, not by data — and the fusion is a full-outer join
    of two 50-row frames.  At 100 TB the corpus pays two scans total,
    nothing else grows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(lower(text), '\\S+', 0)")
    d = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _term_eq(t))).cast("long").alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    # NOTE: deliberately NOT localCheckpoint'ed (unlike bm25_topk_docs'
    # twin frame): checkpointing erases size statistics, and this
    # query's downstream 50-row rank frames then lose their broadcast
    # plans to sort-merge joins — measured 2x slower. The second
    # tokenization pass is the cheaper trade here.
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("long")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    bm25 = None
    tfidf = None
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
        t2 = F.log(F.lit(1) + tf.cast("double")) * F.log(
            (F.col("n") + F.lit(1.0)) / (df + F.lit(1.0))
        )
        bm25 = term if bm25 is None else bm25 + term
        tfidf = t2 if tfidf is None else tfidf + t2
    any_tf = sum(
        (F.col(f"tf{i}") for i in range(1, len(_BM25_TERMS))),
        F.col("tf0"),
    )
    base = scored.filter(any_tf > 0).select(
        "doc_id",
        F.round(bm25, 6).alias("b"),
        F.round(tfidf, 6).alias("t2"),
    )
    # each arm: distributed top-DEPTH first (TakeOrderedAndProject), THEN
    # the exact rank via the two-pass distributed machinery — even on a
    # ≤DEPTH-row frame the package bans single-partition global windows
    # outright (the static plan-budget guard), so ranking goes through
    # with_global_rank on the negated score (desc == asc on -score;
    # scores are rounded doubles, negation exact)
    from dvh_airflow_kafka_spark.ext.ranking import with_global_rank

    ba, _ = with_global_rank(
        base.orderBy(F.desc("b"), "doc_id")
        .limit(_RRF_DEPTH)
        .select("doc_id", (-F.col("b")).alias("nb")),
        ["nb", "doc_id"],
        rank_col="rank_bm25",
    )
    ba = ba.select("doc_id", "rank_bm25")
    ta, _ = with_global_rank(
        base.orderBy(F.desc("t2"), "doc_id")
        .limit(_RRF_DEPTH)
        .select("doc_id", (-F.col("t2")).alias("nt")),
        ["nt", "doc_id"],
        rank_col="rank_tfidf",
    )
    ta = ta.select(F.col("doc_id").alias("t_doc_id"), "rank_tfidf")
    inv_b = F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_bm25"))
    inv_t = F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_tfidf"))
    return (
        ba.join(ta, ba["doc_id"] == ta["t_doc_id"], "full_outer")
        .select(
            F.coalesce(F.col("doc_id"), F.col("t_doc_id")).alias("doc_id"),
            "rank_bm25",
            "rank_tfidf",
            F.round(
                F.coalesce(inv_b, F.lit(0.0))
                + F.coalesce(inv_t, F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOPK)
    )


@register(
    "cdc_batched_merge_apply",
    sql="""
    WITH ch AS (
        SELECT event_id % 300 AS row_key, event_id,
               CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               CAST(floor(value * 1000) AS BIGINT) AS val_milli
        FROM events
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY row_key
                   ORDER BY ts_us DESC, event_id DESC) AS rn
        FROM ch
    )
    SELECT row_key, event_id AS last_event_id, ts_us AS last_ts_us,
           val_milli
    FROM r WHERE rn = 1 AND op = 'U'
    """,
)
def cdc_batched_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CDC changelog apply — the reference's actual production
    loop (Kafka topic → keyed upsert into a warehouse table,
    src/oracle_target.py:83-123) re-expressed as batched MERGE
    semantics on parquet: the events stream becomes an
    insert/update/delete changelog (key = event_id % 300, op = D on
    'error' rows, last-write-wins by (ts, event_id)), split into three
    time-ordered batches; each batch is window-compacted to its
    per-key latest row, applied with ``operators/maintenance
    .merge_upsert`` (anti-join + union + atomic swap), and its
    trailing deletes removed with ``delete_where`` — the
    ``MERGE … WHEN MATCHED AND op='D' THEN DELETE`` decomposition.
    The oracle is the DECLARATIVE spec the batched protocol must equal:
    one global latest-wins window over the whole changelog (batch-wise
    apply == global latest-wins because batches partition time in
    order).  This puts the merge/delete/swap operators — previously
    pytest-only — under the cross-engine value gate; integer key,
    micro-timestamp and floor-milli payload make the check exact.

    Scale: each batch's compact is one keyed window; each merge scans
    the target once with the dedup'd batch broadcast — the standard
    incremental-warehouse shape (bucket the target to drop the
    anti-join exchange at 100 TB)."""
    from dvh_airflow_kafka_spark.operators.maintenance import (
        delete_where,
        merge_upsert,
    )

    ev = load_table(spark, sf_dir, "events")
    ch = ev.select(
        (F.col("event_id") % 300).alias("row_key"),
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("value") * 1000).cast("long").alias("val_milli"),
    )
    lo, hi = ch.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    ).first()
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    batches = [
        ch.filter(F.col("ts_us") <= cut1),
        ch.filter((F.col("ts_us") > cut1) & (F.col("ts_us") <= cut2)),
        ch.filter(F.col("ts_us") > cut2),
    ]
    w = Window.partitionBy("row_key").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    with _scratch_dir("cdc_target_") as tmp:
        target = f"{tmp}/t"
        ch.limit(0).write.parquet(target)  # empty target, changelog schema
        for b in batches:
            compact = (
                b.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            merge_upsert(spark, target, compact, keys=["row_key"])
            delete_where(spark, target, F.col("op") == "D")
        rows = spark.read.parquet(target).collect()
    return spark.createDataFrame(rows, ch.schema).select(
        "row_key",
        F.col("event_id").alias("last_event_id"),
        F.col("ts_us").alias("last_ts_us"),
        "val_milli",
    )
