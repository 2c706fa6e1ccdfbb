"""Laws for the funnel / privacy family (``catalog/q10_funnel_privacy``):
funnel ordering, Markov normalization, the DP noise envelope, hive
partition pruning, windowed and running stats, the HLL estimate and its
streaming twin."""

from __future__ import annotations

from tests.compare import run_query, twin_rows


def test_funnel_stages_monotone(spark, sf_dir):
    rows = {
        r.stage: r for r in run_query(spark, sf_dir, "event_funnel_conversion").collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_users >= rows[2].n_users >= rows[3].n_users
    assert rows[1].sum_latency_us == 0
    # latency is a sum of strictly positive per-user gaps
    for s in (2, 3):
        assert rows[s].sum_latency_us >= rows[s].n_users


def test_transition_matrix_normalizes(spark, sf_dir):
    from dvh_airflow_kafka_spark.io import load_table

    rows = run_query(spark, sf_dir, "event_transition_matrix").collect()
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every user with k events contributes exactly k-1 transitions
    assert sum(r.n for r in rows) == n_events - n_users
    by_cur: dict[str, int] = {}
    for r in rows:
        by_cur[r.cur] = by_cur.get(r.cur, 0) + r.prob_ppm
    # floor-division ppm: sums land in (1e6 - n_types, 1e6]
    for cur, tot in by_cur.items():
        assert 1_000_000 - len(by_cur) < tot <= 1_000_000, (cur, tot)


def test_dp_geometric_table_laws():
    """The driver-precomputed inverse-CDF table must be a valid discrete
    Laplace: thresholds strictly increasing to exactly 2^32, bucket
    widths proportional to alpha^|k| (ratio alpha between adjacent |k|),
    and symmetric around k=0 to within quantization."""
    import math
    import re as _re

    from dvh_airflow_kafka_spark.catalog import _DP_B, _DP_GEOM_CASE

    pairs = [
        (int(u), int(k))
        for u, k in _re.findall(r"WHEN u32 < (\d+) THEN (-?\d+)", _DP_GEOM_CASE)
    ]
    ks = [k for _, k in pairs] + [int(_DP_GEOM_CASE.rsplit("ELSE", 1)[1].split()[0])]
    uppers = [u for u, _ in pairs] + [2**32]
    assert ks == list(range(-40, 41))
    assert uppers[-1] == 2**32
    assert all(a < b for a, b in zip(uppers, uppers[1:]))
    widths = {
        k: hi - lo for k, lo, hi in zip(ks, [0] + uppers[:-1], uppers)
    }
    alpha = math.exp(-1.0 / _DP_B)
    # geometric decay and symmetry; tolerance is the +-1 integer
    # quantization on each bucket boundary, relative to bucket width
    for k in range(0, 30):
        tol = 1e-4 + 3.0 / widths[k]
        assert abs(widths[k + 1] / widths[k] - alpha) < tol, k
        assert abs(widths[-k] - widths[k]) <= 2, k  # rounding only


def test_dp_noise_bounded_and_deterministic(spark, sf_dir):
    rows = run_query(spark, sf_dir, "dp_noisy_event_counts").collect()
    assert rows
    # discrete-Laplace inverse-CDF table spans |k| <= 40 by construction
    for r in rows:
        assert abs(r.noise_k) <= 40, (r.event_type, r.day)
        assert r.noisy_count == r.n + r.noise_k, (r.event_type, r.day)
    again = {
        (r.event_type, r.day): r.noisy_count
        for r in run_query(spark, sf_dir, "dp_noisy_event_counts").collect()
    }
    assert {(r.event_type, r.day): r.noisy_count for r in rows} == again


def test_hive_rollup_plan_prunes_partitions(spark, sf_dir):
    df = run_query(spark, sf_dir, "hive_partition_pruned_rollup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]
    # the pruned scan must not re-apply the partition predicate per row
    assert df.count() > 0


def test_novelty_bounds_and_split_exclusivity(spark, sf_dir):
    from dvh_airflow_kafka_spark.ext.sampling import hash_split
    from dvh_airflow_kafka_spark.io import load_table

    rows = run_query(spark, sf_dir, "cross_split_ngram_novelty").collect()
    assert rows
    test_ids = {
        r.doc_id
        for r in hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
        .filter("split = 'test'")
        .collect()
    }
    assert {r.doc_id for r in rows} == test_ids
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        assert r.novelty_ppm == (1_000_000 * r.n_novel) // r.n_shingles


def test_entity_resolution_links_dirty_to_original(spark, sf_dir):
    rows = run_query(spark, sf_dir, "customer_entity_resolution").collect()
    cluster = {r.rid: r.cluster_id for r in rows}
    keys = {r.c_custkey for r in rows}
    assert len(rows) == 2 * len(keys)
    for k in keys:
        # the perturbed copy must resolve into its original's cluster
        assert cluster[2 * k] == cluster[2 * k + 1]


def test_moving_stats_window_laws(spark, sf_dir):
    rows = run_query(spark, sf_dir, "events_moving_stats").collect()
    assert rows
    for r in rows[:500]:
        assert 1 <= r.win_n <= 7
        # integer mean is consistent with the exact sum
        assert r.win_avg_micro == int(round(r.win_sum * 1e6)) // r.win_n


def test_rate_window_matches_bruteforce(spark, sf_dir):
    from dvh_airflow_kafka_spark.io import load_table

    got = {
        r.event_id: r.n_last_day
        for r in run_query(spark, sf_dir, "user_rate_window").collect()
    }
    ev = sorted(
        (
            (r.user_id, int(r.ts.timestamp() * 1e6), r.event_id)
            for r in load_table(spark, sf_dir, "events").collect()
        )
    )
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, us, eid in ev:
        by_user.setdefault(u, []).append((us, eid))
    expect = {}
    for u, items in by_user.items():
        for us, eid in items:
            n = sum(1 for us2, _ in items if us - 86_400_000_000 <= us2 <= us)
            if n >= 8:
                expect[eid] = n
    assert got == expect


def test_referential_audit_clean_fixture(spark, sf_dir):
    rows = {r.check_name: r.n_violations for r in
            run_query(spark, sf_dir, "referential_integrity_audit").collect()}
    assert set(rows) == {
        "orders_orphan_custkey", "lineitem_orphan_orderkey",
        "orders_duplicate_pk", "customer_null_key",
        "lineitem_nonpositive_qty",
    }
    # the synthetic warehouse is referentially clean — every check is 0
    assert all(v == 0 for v in rows.values()), rows


def test_label_propagation_deterministic_and_covers_all(spark, sf_dir):
    from dvh_airflow_kafka_spark.io import load_table

    rows = run_query(spark, sf_dir, "link_graph_communities").collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    # labels are node ids, so communities are subsets of the id space
    assert all(0 <= r.community < n_docs for r in rows)
    again = {
        r.doc_id: r.community
        for r in run_query(spark, sf_dir, "link_graph_communities").collect()
    }
    assert {r.doc_id: r.community for r in rows} == again


def test_feature_hashing_vector_laws(spark, sf_dir):
    rows = run_query(spark, sf_dir, "doc_feature_hashing").collect()
    assert rows
    for r in rows:
        feats = [p.split(":") for p in r.features.split(",")]
        assert len(feats) == r.n_features
        buckets = [int(b) for b, _ in feats]
        assert buckets == sorted(set(buckets))
        assert all(0 <= b < 64 for b in buckets)
        assert all(int(w) != 0 for _, w in feats)


def test_mergeable_variance_matches_numpy(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from dvh_airflow_kafka_spark.io import load_table

    rows = run_query(spark, sf_dir, "mergeable_variance_stats").collect()
    vals: dict[str, list[int]] = {}
    for r in load_table(spark, sf_dir, "events").collect():
        # mirror Spark's HALF_UP decimal(18,6) cast, not Python's
        # banker's rounding
        micro = int(
            Decimal(repr(r.value)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            * 1_000_000
        )
        vals.setdefault(r.event_type, []).append(micro)
    for r in rows:
        v = np.array(vals[r.event_type], dtype=object)
        n, s, q = len(v), int(v.sum()), int((v * v).sum())
        assert r.n == n
        assert r.sum_micro == s
        assert int(r.sumsq_str) == q
        assert r.var_micro2 == (n * q - s * s) // (n * n)


def test_streaming_partitioned_sink_layout(spark, sf_dir):
    import glob
    import re

    df = run_query(spark, sf_dir, "streaming_partitioned_sink")
    rows = {r.event_type: r.n_events for r in df.collect()}
    assert set(rows) == {"purchase", "error"}
    # the sink must have produced a hive layout with one dir per type
    # (find it via the read-back plan's location)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"(/[^\s,\]]*stream_psink_out_[^\s,\]/]*)", plan)
    assert m, plan[:500]
    parts = {
        p.rsplit("=", 1)[1]
        for p in glob.glob(m.group(1) + "/event_type=*")
    }
    assert {"purchase", "error"} <= parts
    assert "PartitionFilters" in plan


def test_quantile_normalize_is_per_source_uniform(spark, sf_dir):
    rows = run_query(spark, sf_dir, "quality_quantile_normalize").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        ranks = sorted(r.rank_in_source for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), src
        qs = {r.rank_in_source: r.quantile_ppm for r in rs}
        assert qs[1] == 0
        if len(rs) > 1:
            assert qs[len(rs)] == 1_000_000


def test_fold_assignment_balance_and_determinism(spark, sf_dir):
    rows = run_query(spark, sf_dir, "ml_fold_assignment").collect()
    folds = [r.fold for r in rows]
    assert all(0 <= f < 5 for f in folds)
    n = len(folds)
    for f in range(5):
        c = folds.count(f)
        # sha-uniform: each fold within a loose binomial envelope
        assert 0.5 * n / 5 <= c <= 1.5 * n / 5, (f, c)
    again = {r.doc_id: r.fold for r in run_query(spark, sf_dir, "ml_fold_assignment").collect()}
    assert {r.doc_id: r.fold for r in rows} == again


def test_late_data_audit_drops_old_half_exactly(spark, sf_dir):
    import datetime as dt

    from dvh_airflow_kafka_spark.io import load_table
    from pyspark.sql import functions as F

    rows = run_query(spark, sf_dir, "streaming_late_data_audit").collect()
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = mx - dt.timedelta(days=15)
    n_recent = ev.filter(F.col("ts") >= cutoff).count()
    # emitted rows cover exactly the recent half, none of the old half
    assert sum(r.n_events for r in rows) == n_recent
    cutoff_us = int(cutoff.timestamp() * 1e6)
    for r in rows:
        assert r.window_start_us + 3_600_000_000 > cutoff_us


def test_customer_ltv_running_is_cumulative(spark, sf_dir):
    rows = run_query(spark, sf_dir, "customer_ltv_running").collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for rs in by_cust.values():
        rs.sort(key=lambda r: r.order_seq)
        assert [r.order_seq for r in rs] == list(range(1, len(rs) + 1))
        last = 0.0
        for r in rs:
            assert r.ltv >= last - 1e-9
            last = r.ltv


def test_clean_normalize_repairs_injected_dirt(spark, sf_dir):
    import hashlib

    from dvh_airflow_kafka_spark.io import load_table

    rows = {r.doc_id: r for r in run_query(spark, sf_dir, "text_clean_normalize").collect()}
    for d in load_table(spark, sf_dir, "documents").collect():
        r = rows[d.doc_id]
        # BEL + 2 spaces injected = 3 chars
        assert r.len_dirty == len(d.text) + 3
        # reference repair: drop the BEL, collapse whitespace runs, trim
        # (a mid-word splice point legitimately leaves one split word)
        p = 1 + d.doc_id % 20
        raw = d.text[:p] + "  " + d.text[p:]
        expect = " ".join(raw.split())
        assert r.len_clean == len(expect)
        assert r.cleaned_sha == hashlib.sha256(expect.encode()).hexdigest()


def test_compression_ratio_orders_redundancy(spark, sf_dir):
    from dvh_airflow_kafka_spark.ext.text import compression_ratio_udf
    from pyspark.sql import functions as F

    ratio = compression_ratio_udf()
    # natural text must NOT be a repeated phrase — any repetition
    # compresses like boilerplate, which is exactly what the signal
    # detects
    natural = (
        "a quick brown fox jumps over the lazy dog while seventy "
        "jackdaws love my big sphinx of quartz and pack my box with "
        "five dozen liquor jugs before the wizards jump quickly at "
        "vexing daft zebras near frozen galaxy docks"
    )
    import hashlib

    noise = bytearray()
    seed = b"noise"
    while len(noise) < 4000:
        seed = hashlib.sha256(seed).digest()
        noise.extend(seed)
    probe = spark.createDataFrame(
        [
            ("rep", "spam ham " * 500),
            ("nat", natural),
            ("rnd", "".join(chr(33 + b % 90) for b in noise[:4000])),
        ],
        "k string, text string",
    )
    got = {r.k: r.ppm for r in probe.select("k", ratio(F.col("text")).alias("ppm")).collect()}
    assert got["rep"] < got["nat"] < got["rnd"]
    rows1 = {r.doc_id: r.compress_ppm for r in run_query(spark, sf_dir, "doc_compression_ratio").collect()}
    rows2 = {r.doc_id: r.compress_ppm for r in run_query(spark, sf_dir, "doc_compression_ratio").collect()}
    assert rows1 == rows2 and rows1


def test_hll_register_estimate_within_error_envelope(spark, sf_dir):
    rows = run_query(spark, sf_dir, "hll_register_distinct").collect()
    assert rows
    for r in rows:
        # 1.04/sqrt(256) ~ 6.5% standard error; allow 4 sigma
        assert abs(r.hll_estimate - r.n_exact) <= max(
            0.26 * r.n_exact, 32
        ), (r.event_type, r.n_exact, r.hll_estimate)
        assert 1 <= r.n_nonzero_regs <= 256


def test_streaming_hll_matches_batch_twin(spark, sf_dir):
    batch, stream = twin_rows(
        spark, sf_dir, "hll_register_distinct", "streaming_hll_registers"
    )
    assert batch == stream
    assert len(batch) > 0
