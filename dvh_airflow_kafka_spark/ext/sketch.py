"""[EXT] Bounded-state sketches for unbounded key domains.

A plain ``explode → groupBy(term).count()`` already bounds its shuffle by
map-side combine — per partition the partial-agg state is the partition's
DISTINCT term set. That is fine for word vocabularies (~10^6) but breaks
for unbounded domains (8-gram spans, URLs, user agents): the per-task
hash map grows with distinct-per-partition and spills. The classic
answer is a mergeable frequency sketch; this module implements
Misra-Gries with the two-pass exact-verify pattern:

1. **Candidate pass** — per-partition Misra-Gries with ``k`` counters
   (``mapInPandas``; a Python kernel is the point here — the algorithm is
   a decrement-counter loop no built-in expresses). Guarantee: any term
   with partition frequency > n_p/k survives that partition's summary, so
   by pigeonhole any term with GLOBAL frequency > N/k survives in at
   least one partition — the union of summaries is a superset of every
   global heavy hitter at threshold N/k.
2. **Verify pass** — exact counts of the candidate terms only (broadcast
   semi-join on the explode), thresholded at > N/k.

The output is therefore EXACT — identical to the full groupBy — but
executor state is O(k) per task instead of O(distinct-per-partition),
and the verify-pass shuffle carries only candidate terms. ``k`` trades
candidate-set size against state; the threshold N/k is scale-free.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# Java's \s is ASCII-only; mirror it exactly so the candidate pass
# tokenizes identically to ext/text.tokens() (a divergent split could
# hide a heavy hitter from the sketch and void the superset guarantee).
_JAVA_NONSPACE = re.compile(r"[^ \t\n\x0b\f\r]+")


def _mg_feed(counters: dict, texts, k: int) -> None:
    """Feed texts through a Misra-Gries counter dict in place (the
    decrement-all step keeps ``len(counters) <= k``). Shared by the
    per-partition batch pass and the per-shard streaming state update —
    the streaming twin IS this loop resumed from the state store."""
    for text in texts:
        if not text:
            continue
        for tok in _JAVA_NONSPACE.findall(text):
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < k:
                counters[tok] = 1
            else:
                # decrement-all: drop every counter by one
                dead = []
                for t in counters:
                    counters[t] -= 1
                    if counters[t] == 0:
                        dead.append(t)
                for t in dead:
                    del counters[t]


def _misra_gries_partition(texts: Iterator[pd.DataFrame], k: int):
    """Per-partition Misra-Gries over whitespace tokens of ``__text``."""
    counters: dict[str, int] = {}
    for pdf in texts:
        _mg_feed(counters, pdf["__text"], k)
    if counters:
        yield pd.DataFrame({"token": list(counters.keys())})


def frequent_tokens(
    docs: DataFrame,
    text_col: Column,
    *,
    k_state: int = 64,
) -> DataFrame:
    """Exact heavy hitters — every token with global frequency > N/k_state
    and its exact count — with O(k_state) executor state in the discovery
    pass. Returns (token, n_occurrences)."""
    from dvh_airflow_kafka_spark.ext.text import tokens
    from dvh_airflow_kafka_spark.io import ensure_parallelism

    slim = ensure_parallelism(docs.select(text_col.alias("__text")))
    candidates = (
        slim.mapInPandas(
            lambda it: _misra_gries_partition(it, k_state),
            schema="token string",
        )
        .distinct()
    )
    return verify_candidate_counts(slim, candidates, k_state=k_state)


def verify_candidate_counts(
    slim: DataFrame, candidates: DataFrame, *, k_state: int
) -> DataFrame:
    """Exact verify pass shared by the batch sketch and its streaming
    twin: count ONLY the candidate tokens (broadcast semi-join on the
    explode — the shuffle carries candidates, not the vocabulary) and
    keep those with global frequency > N/k_state.  ``slim`` must be a
    one-column ``__text`` frame; ``candidates`` a (token) superset of
    every heavy hitter (the Misra-Gries guarantee)."""
    from dvh_airflow_kafka_spark.ext.text import tokens

    toks = slim.select(F.explode(tokens(F.col("__text"))).alias("token"))
    total = toks.agg(F.count(F.lit(1)).alias("__N"))
    counts = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * k_state > F.col("__N"))
        .select("token", "n_occurrences")
    )


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05): depth d rows of
# w=256 counters, bucket = first 2 hex chars of sha256(seed_i || token).
# sha256 exists identically in Spark, DuckDB and hashlib, so unlike the
# xxhash64-seeded LSH internals the WHOLE sketch replays in the SQL
# oracle — build, point query and the one-sided error are all
# hash-checkable cross-engine.
# --------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 256  # 2 hex chars


def _cm_bucket(token: Column, i: int) -> Column:
    return F.substring(F.sha2(F.concat(F.lit(f"cm{i}|"), token), 256), 1, 2)


def countmin_build(toks: DataFrame, token_col: str = "token", depth: int = CM_DEPTH) -> DataFrame:
    """Build the sketch over a token-occurrence frame → (i, bucket, c).

    ONE pass: each occurrence poses-explodes to its ``depth`` buckets and
    a map-side-combined keyed count reduces them. Unlike a vocabulary
    groupBy, partial-agg state is bounded by depth·256 counters per task
    NO MATTER how many distinct tokens stream through — the whole point
    of a sketch on an unbounded key domain. The result frame is at most
    depth·256 rows: broadcastable, and mergeable across corpora by
    elementwise (i, bucket) sum (pytest-pinned)."""
    arr = F.array(*[_cm_bucket(F.col(token_col), i) for i in range(depth)])
    return (
        toks.select(F.posexplode(arr).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_estimate(
    spark, sketch: DataFrame, probes: list[str], depth: int = CM_DEPTH
) -> DataFrame:
    """Point-query the sketch → (token, cm_estimate): min over the
    ``depth`` counters each probe hashes to (missing bucket = 0). The
    classic CM guarantee — never an underestimate; overestimate ≤ εN
    w.h.p. — is pinned by pytest against exact counts."""
    import hashlib

    rows = [
        (t, i, hashlib.sha256(f"cm{i}|{t}".encode()).hexdigest()[:2])
        for t in probes
        for i in range(depth)
    ]
    grid = spark.createDataFrame(rows, "token string, i int, bucket string")
    return (
        grid.join(F.broadcast(sketch), ["i", "bucket"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cm_estimate")
        )
    )


# ===========================================================================
# KMV / theta sketch — mergeable distinct-count + set-overlap estimation
# (Bar-Yossef et al. "Counting distinct elements in a data stream",
# RANDOM'02; Dasgupta et al. "Theta sketch framework", 2016).  Like the
# count-min above, the hash is sha256-prefix based so the WHOLE sketch —
# build, merge, estimate — replays bit-identically in the DuckDB oracle.
# ===========================================================================

KMV_SALT = "kmv1|"
KMV_HEX = 15  # 15 hex chars => h in [0, 16^15), fits a signed 64-bit long
KMV_UNIVERSE = 16**KMV_HEX


def kmv_hash(col: Column) -> Column:
    """Uniform 60-bit hash of an element (sha256 prefix as bigint)."""
    return F.conv(
        F.substring(
            F.sha2(F.concat(F.lit(KMV_SALT), col.cast("string")), 256),
            1,
            KMV_HEX,
        ),
        16,
        10,
    ).cast("long")


def kmv_sketch(
    df: DataFrame, group_col: str, elem_col: str, k: int
) -> DataFrame:
    """Per-group KMV sketch: the k smallest DISTINCT element hashes,
    as (group, array<long> kmins ascending).

    Scale shape — this is a hand-rolled map-side combine, NOT a window:
    stage 1 reduces each (group, input-partition) slice to its local
    k-min (collect_list bounded by partition size, the same data a
    partial aggregate would buffer); stage 2 merges ≤ k·P candidate
    values per group.  k-min of per-partition k-mins is exactly the
    global k-min, so the result is independent of partitioning, and no
    group ever funnels its full element set through one sort — the
    failure mode of the row_number()-window formulation under skew.
    A billion-member group moves k values per map partition, not a
    billion rows.
    """
    hashed = df.select(
        F.col(group_col).alias("g"), kmv_hash(F.col(elem_col)).alias("h")
    ).distinct()
    local = (
        hashed.withColumn("p", F.spark_partition_id())
        .groupBy("g", "p")
        .agg(
            F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("hs")
        )
    )
    return (
        local.select("g", F.explode("hs").alias("h"))
        .groupBy("g")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("h")), 1, k
            ).alias("kmins")
        )
        .select(F.col("g").alias(group_col), "kmins")
    )


def kmv_estimate(kmins: Column, k: int) -> Column:
    """Distinct-count estimate from a KMV sketch: (k-1) · U / v_k when
    the sketch saturated (|kmins| = k), else the EXACT retained count
    (an unsaturated sketch saw every distinct value).  Double division
    rounded to 4 — the documented probabilistic cross-engine class."""
    vk = F.element_at(kmins, k)
    return F.when(
        F.size(kmins) < k, F.size(kmins).cast("double")
    ).otherwise(
        F.round(
            F.lit(float(k - 1))
            * F.lit(float(KMV_UNIVERSE))
            / vk.cast("double"),
            4,
        )
    )


def theta_overlap_report(km: DataFrame, du: DataFrame, k: int) -> DataFrame:
    """Theta/KMV set-overlap READOUT, shared by the batch query (catalog
    ``theta_sketch_overlap``) and its streaming twin
    (``streaming_kmv_minima``) so twin equality holds by construction —
    the same device as ``hll_bucket_rho``/``hll_estimate_report``.

    ``km`` holds one sketch row per group: (event_type, kmins) with
    ``kmins`` the ascending k smallest distinct element hashes.  ``du``
    is the DISTINCT (event_type, user_id) frame for the exact audit
    column.  Per type pair (a < b): theta = min of the two k-th minima
    (universe max when a side is unsaturated), the intersection estimate
    |common hashes < theta| · U / theta, and the exact common count.

    Scale: ``km`` is sketch-sized (one row per group, ≤ k longs each),
    so the pair join is a crossJoin against a broadcast constant-size
    frame — the sanctioned scalar-frame pattern, never data×data; the
    exact audit join is the only data-sized exchange and is user-keyed.
    """
    a = km.select(F.col("event_type").alias("event_a"), F.col("kmins").alias("ka"))
    b = km.select(F.col("event_type").alias("event_b"), F.col("kmins").alias("kb"))
    u_lit = F.lit(KMV_UNIVERSE)
    pairs = a.join(b, F.col("event_a") < F.col("event_b")).select(
        "event_a",
        "event_b",
        "ka",
        "kb",
        F.least(
            F.coalesce(F.try_element_at("ka", F.lit(k)), u_lit),
            F.coalesce(F.try_element_at("kb", F.lit(k)), u_lit),
        ).alias("theta"),
    )
    theta = F.col("theta")
    est = pairs.select(
        "event_a",
        "event_b",
        "theta",
        F.size(
            F.filter(
                F.array_intersect("ka", "kb"), lambda x: x < theta
            )
        )
        .cast("bigint")
        .alias("n_common_below"),
    )
    da = du.select(F.col("event_type").alias("event_a"), "user_id")
    db = du.select(F.col("event_type").alias("event_b"), "user_id")
    ex = (
        da.join(db, "user_id")
        .filter(F.col("event_a") < F.col("event_b"))
        .groupBy("event_a", "event_b")
        .agg(F.count(F.lit(1)).alias("exact_common"))
    )
    return est.join(ex, ["event_a", "event_b"], "left").select(
        "event_a",
        "event_b",
        "n_common_below",
        F.round(
            (
                F.col("n_common_below").cast("double")
                * F.lit(float(KMV_UNIVERSE))
            )
            / theta.cast("double"),
            4,
        ).alias("est_common"),
        F.coalesce(F.col("exact_common"), F.lit(0).cast("bigint")).alias(
            "exact_common"
        ),
    )


# ===========================================================================
# HyperLogLog register kernel (Flajolet et al. 2007) — shared by the batch
# query (catalog hll_register_distinct) and its streaming twin
# (streaming_hll_registers), so twin equality is by construction.  p=8:
# 256 registers, 24-bit remainder, rho = rank of first set bit computed via
# length(bin(x)) — exact integers in both engines; the estimator's float
# terms (2^-rho, alpha·m²/S) are exact dyadics whose summation order
# cannot matter.
# ===========================================================================

HLL_SALT = "hll-v1"
HLL_M = 256
HLL_REM = 16777216  # 2^24


def hll_bucket_rho(
    df: DataFrame, *group_cols: str, elem_col: str
) -> DataFrame:
    """(group_cols..., bucket, rho) rows — the stateless register
    projection: sha-derived 32-bit hash, top 8 bits bucket, rho =
    25 - bitlength(24-bit remainder) (25 for a zero remainder)."""
    u = F.conv(
        F.substring(
            F.sha2(
                F.concat(
                    F.lit(HLL_SALT + "|"), F.col(elem_col).cast("string")
                ),
                256,
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    rem = u % HLL_REM
    return df.select(
        *group_cols,
        (u / HLL_REM).cast("long").alias("bucket"),
        F.when(rem == 0, F.lit(25))
        .otherwise(F.lit(25) - F.length(F.bin(rem)))
        .alias("rho"),
    )


def hll_estimate_report(regs: DataFrame, exact: DataFrame) -> DataFrame:
    """Estimator readout over a (event_type, bucket, m_rho) register
    frame joined with the exact audit column: raw alpha·m²/(S + zeros),
    switching to linear counting m·ln(m/zeros) below 2.5m (Flajolet
    §4)."""
    est = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_nonzero_regs"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_rho"))).alias("s_nz"),
    )
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    raw = F.lit(alpha * HLL_M * HLL_M) / (
        F.col("s_nz")
        + (F.lit(HLL_M) - F.col("n_nonzero_regs")) * F.lit(1.0)
    )
    lc = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M))
        / (F.lit(HLL_M) - F.col("n_nonzero_regs")).cast("double")
    )
    est_expr = F.when(
        (raw <= F.lit(2.5 * HLL_M))
        & (F.col("n_nonzero_regs") < F.lit(HLL_M)),
        lc,
    ).otherwise(raw)
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "n_nonzero_regs",
        F.round(est_expr, 4).alias("hll_estimate"),
    )


# ===========================================================================
# DDSketch-style value quantiles (ddsketch_value_quantiles, its streaming
# twin, and the ingest pipeline's per-batch value monitor): values
# quantize to integer micro-units, bucket = (floor(log2 v), 4-bit linear
# sub-bucket); per-key bucket COUNTS are the sketch and merge by addition.
# ===========================================================================

DDSKETCH_QS = (50, 90, 99)  # reported percentiles


def ddsketch_buckets(ev: DataFrame) -> DataFrame:
    """(event_type, b, s) bucket rows — the stateless projection shared
    by the batch sketch, its streaming twin and the ingest pipeline's
    per-batch value partials."""
    vm = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    b = (F.length(F.bin(F.col("vm"))) - 1).cast("long")
    return (
        ev.select("event_type", vm.alias("vm"))
        .filter(F.col("vm") >= 1)
        .select(
            "event_type",
            b.alias("b"),
            # column-valued shift distance needs the SQL form; the
            # DataFrame shiftright() binds numBits as a Python int only
            F.expr(
                "shiftright(vm, cast(greatest(length(bin(vm)) - 5, 0)"
                " as int)) & 15"
            ).alias("s"),
        )
    )


def ddsketch_report(spark: SparkSession, c: DataFrame) -> DataFrame:
    """Cumulative walk + percentile readout over a (event_type, b, s, c)
    bucket-counts frame (bounded: ≤ ~16·30 rows per key)."""
    wc = Window.partitionBy("event_type").orderBy("b", "s")
    wn = Window.partitionBy("event_type")
    cum = c.select(
        "event_type",
        "b",
        "s",
        "c",
        F.when(
            F.col("b") >= 4,
            F.expr("shiftleft(s + 17, cast(b - 4 as int))"),
        )
        .otherwise(F.col("s") + 1)
        .alias("hi"),
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in DDSKETCH_QS], "q_pct int")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .filter(
            F.col("cum")
            >= F.floor((F.col("q_pct") * F.col("n") + 99) / 100)
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type", "q_pct").orderBy("b", "s")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return hit.select(
        "event_type",
        "q_pct",
        "n",
        "b",
        "s",
        F.col("hi").cast("long").alias("value_micro_hi"),
        "cum",
    )
