#!/usr/bin/env python
"""Scaling probe: replicate the sf0.1 events table N× on disk and push it
through the flagship ETL spine end-to-end (noop sink), reporting rows/s
at each scale. The point is the SHAPE of the curve — a scan-fused
pipeline should scale ~linearly in rows on a fixed-core box — plus a
single-node throughput number to hold against the reference's
single-threaded dict-at-a-time loop (recommended batch: 5k msgs).

Usage: PYTHONPATH=. python tools/scaling_probe.py [max_factor]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def main() -> int:
    from dvh_airflow_kafka_spark.catalog import (
        _FLAGSHIP_FILTERS,
        _FLAGSHIP_RULES,
        BATCH_TIME,
    )
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.plans import Transform
    from dvh_airflow_kafka_spark.session import get_spark
    from dvh_airflow_kafka_spark.sources import (
        events_as_kafka_frame,
        with_envelope,
    )

    max_factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scaling_probe")
    base = load_table(spark, "/root/testdata/sf0.1", "events")
    n_base = base.count()
    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    results = []
    factors = sorted({f for f in (1, 2, 4, max_factor) if f <= max_factor})
    for factor in factors:
        path = f"{tmp}/events_x{factor}"
        scaled = base
        # re-key replicas so dedup semantics stay meaningful
        for i in range(1, factor):
            scaled = scaled.unionByName(
                base.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 10_000_000)
                )
            )
        scaled.write.mode("overwrite").parquet(path)
        events = spark.read.parquet(path)

        def run_once() -> float:
            t0 = time.time()
            env = with_envelope(
                events_as_kafka_frame(events),
                message_filters=_FLAGSHIP_FILTERS,
            )
            out = Transform(_FLAGSHIP_RULES, batch_time=BATCH_TIME).apply(env)
            out.write.format("noop").mode("overwrite").save()
            return time.time() - t0

        run_once()  # warm
        sec = min(run_once() for _ in range(2))
        rows = n_base * factor
        results.append(
            {
                "factor": factor,
                "rows": rows,
                "sec": round(sec, 3),
                "rows_per_sec": int(rows / sec),
            }
        )
        print(f"# x{factor}: {rows} rows in {sec:.2f}s", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "flagship_etl_rows_per_sec", "runs": results}))
    spark.stop()
    return 0




def probe_dedup(max_factor: int = 4) -> None:
    """Scaling curve for the dedup family: exact fingerprint dedup and
    banded MinHash-LSH over the documents table replicated N× (each
    replica textually distinct, so the work scales with rows)."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.dedup import (
        exact_dedup_survivors,
        minhash_near_duplicates,
    )
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_dedup")
    base = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_base = base.count()
    tmp = tempfile.mkdtemp(prefix="scale_dedup_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        pool = base.select("doc_id", "text")
        for i in range(1, factor):
            pool = pool.unionByName(
                base.select(
                    (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" r{i}")).alias("text"),
                )
            )
        path = f"{tmp}/docs_x{factor}"
        pool.write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)

        t0 = time.time()
        exact_dedup_survivors(docs, ["text"], "doc_id").write.format(
            "noop"
        ).mode("overwrite").save()
        exact_s = time.time() - t0

        t0 = time.time()
        minhash_near_duplicates(docs, "doc_id", "text").write.format(
            "noop"
        ).mode("overwrite").save()
        mh_s = time.time() - t0

        rows = n_base * factor
        out.append(
            {
                "factor": factor,
                "rows": rows,
                "exact_sec": round(exact_s, 2),
                "minhash_sec": round(mh_s, 2),
            }
        )
        print(f"# dedup x{factor}: exact {exact_s:.2f}s minhash {mh_s:.2f}s",
              file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "dedup_scaling", "runs": out}))
    spark.stop()


def probe_semantic(max_factor: int = 4) -> None:
    """Scaling curve for semantic dedup and the distributed rank/prefix
    machinery over the embeddings/documents tables replicated N×. The
    shapes to confirm: semantic dedup tracks the linear assignment scan
    (bucket join bounded by bucket sizes, which grow with N but stay
    |rows|/2⁸ in expectation); the budget selection tracks the slim
    range shuffle."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.dedup import semantic_dedup_survivors
    from dvh_airflow_kafka_spark.ext.sampling import with_prefix_sum
    from dvh_airflow_kafka_spark.ext.text import quality_score, token_count_ws
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_semantic")
    emb_base = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    doc_base = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_emb = emb_base.count()
    n_doc = doc_base.count()
    tmp = tempfile.mkdtemp(prefix="scale_sem_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        emb = emb_base.select("vec_id", "embedding")
        docs = doc_base.select("doc_id", "text")
        for i in range(1, factor):
            # perturb each replica DIFFERENTLY (rotate by i) so replicas
            # land in distinct buckets — a shared transform (e.g. reverse)
            # makes replicas 1..factor-1 mutual exact duplicates (cosine
            # 1.0, same bucket) and intra-bucket pair counts then grow
            # quadratically with the factor, contaminating the curve
            e = F.col("embedding")
            rotated = F.concat(
                F.slice(e, i + 1, F.size(e)), F.slice(e, 1, i)
            )
            emb = emb.unionByName(
                emb_base.select(
                    (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                    rotated.alias("embedding"),
                )
            )
            docs = docs.unionByName(
                doc_base.select(
                    (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(f" r{i}")).alias("text"),
                )
            )
        epath, dpath = f"{tmp}/emb_x{factor}", f"{tmp}/docs_x{factor}"
        emb.write.mode("overwrite").parquet(epath)
        docs.write.mode("overwrite").parquet(dpath)
        emb_r = spark.read.parquet(epath)
        docs_r = spark.read.parquet(dpath)

        t0 = time.time()
        semantic_dedup_survivors(emb_r, "vec_id", "embedding").write.format(
            "noop"
        ).mode("overwrite").save()
        sem_s = time.time() - t0

        t0 = time.time()
        scored = docs_r.select(
            "doc_id",
            quality_score(F.col("text")).alias("q"),
            token_count_ws(F.col("text")).alias("sz"),
        )
        with_prefix_sum(
            scored,
            "doc_id",
            F.col("sz"),
            order_by=[-F.col("q"), F.col("doc_id")],
        ).write.format("noop").mode("overwrite").save()
        budget_s = time.time() - t0

        out.append(
            {
                "factor": factor,
                "emb_rows": n_emb * factor,
                "doc_rows": n_doc * factor,
                "semantic_dedup_sec": round(sem_s, 2),
                "budget_prefix_sec": round(budget_s, 2),
            }
        )
        print(
            f"# semantic x{factor}: dedup {sem_s:.2f}s budget-prefix "
            f"{budget_s:.2f}s",
            file=sys.stderr,
        )
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "semantic_scaling", "runs": out}))
    spark.stop()


def probe_ann(max_factor: int = 4) -> None:
    """Scaling curve for the ANN audit path (the shape behind
    ``ann_recall_at_k``): a FIXED 10-query probe set against an
    embeddings corpus replicated N×. Both legs scan the corpus — the
    SRP-LSH bucketed top-k (hash pass + bucket-join candidates) and the
    brute-force exact top-k (one linear mapInPandas scan) — so both
    should track rows ~linearly on a fixed-core box; the recall join on
    top is O(queries·k), noise. Replicas are rotated per-index so they
    occupy distinct buckets (see probe_semantic)."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_ann")
    emb_base = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n_base = emb_base.count()
    tmp = tempfile.mkdtemp(prefix="scale_ann_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        emb = emb_base.select("vec_id", "embedding")
        for i in range(1, factor):
            e = F.col("embedding")
            rotated = F.concat(F.slice(e, i + 1, F.size(e)), F.slice(e, 1, i))
            emb = emb.unionByName(
                emb_base.select(
                    (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                    rotated.alias("embedding"),
                )
            )
        path = f"{tmp}/emb_x{factor}"
        emb.write.mode("overwrite").parquet(path)
        emb_r = spark.read.parquet(path)
        queries = emb_r.filter(F.col("vec_id") < 10)

        t0 = time.time()
        lsh_bucketed_topk(emb_r, queries, k=5, n_bits=8, n_tables=4).write.format(
            "noop"
        ).mode("overwrite").save()
        lsh_s = time.time() - t0

        t0 = time.time()
        brute_force_topk(emb_r, queries, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        bf_s = time.time() - t0

        out.append(
            {
                "factor": factor,
                "rows": n_base * factor,
                "lsh_topk_sec": round(lsh_s, 2),
                "brute_force_sec": round(bf_s, 2),
            }
        )
        print(
            f"# ann x{factor}: lsh {lsh_s:.2f}s brute-force {bf_s:.2f}s",
            file=sys.stderr,
        )
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "ann_scaling", "runs": out}))
    spark.stop()


def probe_fuzzy(max_factor: int = 4) -> None:
    """Scaling curve for the blocked fuzzy join (the shape behind
    ``fuzzy_match_blocked``): documents replicated N× with a PER-REPLICA
    prefix tag, so the (24-char-prefix, length) block key keeps replicas
    in disjoint blocks — cross-replica pairs are impossible and pair
    counts grow linearly with N, exactly the property a blocking key
    must preserve at 100 TB. Each replica re-plants the 3-char mutants,
    so verified matches also scale linearly."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_fuzzy")
    base = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_base = base.count()
    tmp = tempfile.mkdtemp(prefix="scale_fuzzy_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        pool = base.select("doc_id", "text")
        for i in range(1, factor):
            pool = pool.unionByName(
                base.select(
                    (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                    F.concat(F.lit(f"r{i} "), F.col("text")).alias("text"),
                )
            )
        path = f"{tmp}/docs_x{factor}"
        pool.write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)

        # the fuzzy_match_blocked shape: plant mutants, block on
        # (prefix24, length), verify with thresholded levenshtein
        mutant = docs.filter(
            (F.length("text") >= 40) & (F.col("doc_id") % 4 == 0)
        ).select(
            (F.col("doc_id") + 500_000_000).alias("doc_id"),
            F.concat(
                F.substring(F.col("text"), 1, 29),
                F.lit("qqq"),
                F.expr("substr(text, 33)"),
            ).alias("text"),
        )
        keyed = (
            docs.unionAll(mutant)
            .select(
                "doc_id",
                "text",
                F.substring("text", 1, 24).alias("__blk"),
                F.length("text").alias("__len"),
            )
            .persist()
        )
        a = keyed.select(
            F.col("doc_id").alias("id_a"), F.col("text").alias("__ta"),
            "__blk", "__len",
        )
        b = keyed.select(
            F.col("doc_id").alias("id_b"), F.col("text").alias("__tb"),
            "__blk", "__len",
        )
        t0 = time.time()
        (
            a.join(b, ["__blk", "__len"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                F.expr("levenshtein(__ta, __tb, 5)").alias("d"),
            )
            .filter((F.col("d") >= 0) & (F.col("d") <= 5))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        fz_s = time.time() - t0
        keyed.unpersist()
        out.append(
            {
                "factor": factor,
                "rows": n_base * factor,
                "fuzzy_sec": round(fz_s, 2),
            }
        )
        print(f"# fuzzy x{factor}: {fz_s:.2f}s", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "fuzzy_scaling", "runs": out}))
    spark.stop()


def probe_kmeans(max_factor: int = 4) -> None:
    """Scaling curve for distributed k-means (the shape behind
    ``embedding_kmeans_assign``): embeddings replicated N× (rotated per
    replica, see probe_ann). Every iteration is one linear corpus scan
    plus a k*dim-row exchange whose size is INDEPENDENT of the corpus,
    so wall time should track rows ~linearly on a fixed-core box."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.cluster import kmeans_assignments
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_kmeans")
    emb_base = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    n_base = emb_base.count()
    tmp = tempfile.mkdtemp(prefix="scale_kmeans_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        emb = emb_base.select("vec_id", "embedding")
        for i in range(1, factor):
            e = F.col("embedding")
            rotated = F.concat(F.slice(e, i + 1, F.size(e)), F.slice(e, 1, i))
            emb = emb.unionByName(
                emb_base.select(
                    (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                    rotated.alias("embedding"),
                )
            )
        path = f"{tmp}/emb_x{factor}"
        emb.write.mode("overwrite").parquet(path)
        emb_r = spark.read.parquet(path)
        t0 = time.time()
        kmeans_assignments(emb_r, k=8, iters=3).write.format("noop").mode(
            "overwrite"
        ).save()
        sec = time.time() - t0
        out.append(
            {"factor": factor, "rows": n_base * factor, "sec": round(sec, 2)}
        )
        print(f"# kmeans x{factor}: {sec:.2f}s", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "kmeans_scaling", "runs": out}))
    spark.stop()


def probe_graph(max_factor: int = 4) -> None:
    """Scaling curve for fixed-iteration PageRank (the shape behind
    ``link_graph_pagerank``): N disjoint replicas of the synthesized
    per-replica graph (dst stays inside its replica's id range), so
    nodes, edges, and per-iteration join/agg work all grow exactly
    linearly — the curve isolates the iterated keyed-exchange cost."""
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.graph import pagerank_fixed
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_graph")
    base_ids = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        F.col("doc_id").alias("id")
    )
    n_base = base_ids.count()
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        nodes = base_ids
        for i in range(1, factor):
            nodes = nodes.unionByName(
                base_ids.select((F.col("id") + i * 1_000_000).alias("id"))
            )
        nodes = nodes.persist()
        replica_base = (F.col("id") / 1_000_000).cast("long") * 1_000_000
        local = F.col("id") - replica_base
        edges = (
            nodes.select(
                F.col("id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("g"),
                replica_base.alias("__rb"),
                local.alias("__lid"),
            )
            .withColumn(
                "dst", F.col("__rb") + (F.col("__lid") * 31 + F.col("g")) % n_base
            )
            .filter(F.col("dst") != F.col("src"))
            .select("src", "dst")
            .distinct()
        )
        t0 = time.time()
        pagerank_fixed(nodes, edges, n_nodes=n_base * factor, iters=5).write.format(
            "noop"
        ).mode("overwrite").save()
        sec = time.time() - t0
        out.append(
            {"factor": factor, "nodes": n_base * factor, "sec": round(sec, 2)}
        )
        print(f"# graph x{factor}: {sec:.2f}s", file=sys.stderr)
        nodes.unpersist()
    print(json.dumps({"metric": "pagerank_scaling", "runs": out}))
    spark.stop()


def probe_kcore(max_factor: int = 4) -> None:
    """Scaling curve for fixed-round k-core peeling (the shape behind
    ``link_graph_kcore``): N disjoint replicas of the varying-degree
    synthesized graph, so edges and per-round degree/semi-join work grow
    exactly linearly.  Exists to evidence the round-7f lineage fix —
    before the eager per-round localCheckpoint, Catalyst analysis grew
    3^rounds and dominated wall time at EVERY size; after it, the curve
    should be flat-to-linear in the replica count."""
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.graph import k_core_peel
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_kcore")
    base_ids = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        F.col("doc_id").alias("id")
    )
    n_base = base_ids.count()
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        nodes = base_ids
        for i in range(1, factor):
            nodes = nodes.unionByName(
                base_ids.select((F.col("id") + i * 1_000_000).alias("id"))
            )
        nodes = nodes.persist()
        replica_base = (F.col("id") / 1_000_000).cast("long") * 1_000_000
        local = F.col("id") - replica_base
        edges = (
            nodes.select(
                F.col("id").alias("src"),
                F.explode(
                    F.sequence(F.lit(1), (F.lit(1) + local % 5).cast("int"))
                ).alias("g"),
                replica_base.alias("__rb"),
                local.alias("__lid"),
            )
            .withColumn(
                "dst",
                F.col("__rb")
                + (
                    F.col("__lid") * F.col("__lid") * 17
                    + F.col("__lid") * 31
                    + F.col("g") * 7
                )
                % n_base,
            )
            .filter(F.col("dst") != F.col("src"))
            .select("src", "dst")
            .distinct()
        )
        t0 = time.time()
        k_core_peel(nodes, edges, k=5, iters=4).write.format("noop").mode(
            "overwrite"
        ).save()
        sec = time.time() - t0
        out.append(
            {"factor": factor, "nodes": n_base * factor, "sec": round(sec, 2)}
        )
        print(f"# kcore x{factor}: {sec:.2f}s", file=sys.stderr)
        nodes.unpersist()
    print(json.dumps({"metric": "kcore_scaling", "runs": out}))
    spark.stop()


def probe_spans(max_factor: int = 4) -> None:
    """Scaling curve for duplicate-span REMOVAL (the shape behind
    ``duplicate_span_removal``): documents replicated N× verbatim — the
    WORST case, since every interior 8-gram becomes a cross-replica
    duplicate and nearly every non-keeper token gets covered. Work still
    grows linearly: occurrences join 1:1 to the per-gram keeper row
    (never pairwise), covered-position explode is bounded by 8x the
    occurrence count, and the anti-join is (doc, pos)-keyed."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.ext.dedup import remove_duplicate_spans
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_spans")
    base = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    n_base = base.count()
    tmp = tempfile.mkdtemp(prefix="scale_spans_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        pool = base
        for i in range(1, factor):
            pool = pool.unionByName(
                base.select(
                    (F.col("doc_id") + i * 1_000_000).alias("doc_id"), "text"
                )
            )
        path = f"{tmp}/docs_x{factor}"
        pool.write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)
        t0 = time.time()
        remove_duplicate_spans(docs).write.format("noop").mode(
            "overwrite"
        ).save()
        sec = time.time() - t0
        out.append(
            {"factor": factor, "rows": n_base * factor, "sec": round(sec, 2)}
        )
        print(f"# spans x{factor}: {sec:.2f}s", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "span_removal_scaling", "runs": out}))
    spark.stop()


def probe_retrieval(max_factor: int = 4) -> None:
    """Scaling curves for the round-6d operators: the binned range join
    (events), BM25 scoring and char-LM quality (documents). Replicated
    tables are staged as a synthetic sf_dir so the REGISTERED query
    functions run unmodified. Each events replica is shifted 400 days so
    replicas occupy DISJOINT time ranges — replicating in-place would
    multiply per-bin density and grow range-join work quadratically
    (probes x candidates), contaminating the curve the probe is meant to
    confirm (the same pitfall probe_semantic's per-replica rotation
    avoids); disjoint ranges model corpus growth over time, which is the
    real 100 TB shape. Document replicas get a distinct text suffix so
    model counts and tf profiles scale with rows, not duplicates."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.catalog import REGISTRY
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark

    spark = get_spark("scaling_probe_retrieval")
    ev_base = load_table(spark, "/root/testdata/sf0.1", "events")
    doc_base = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_ev, n_doc = ev_base.count(), doc_base.count()
    # warm the JVM/codegen once so the factor-1 row measures the engine
    for q in ("error_burst_range_join", "bm25_topk_docs", "charlm_doc_quality"):
        REGISTRY[q].fn(spark, "/root/testdata/sf0.1").write.format("noop").mode(
            "overwrite"
        ).save()
    tmp = tempfile.mkdtemp(prefix="scale_retr_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        sf_dir = os.path.join(tmp, f"x{factor}")
        ev = ev_base
        docs = doc_base
        for i in range(1, factor):
            ev = ev.unionByName(
                ev_base.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 10_000_000)
                ).withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {400 * i} DAYS")
                )
            )
            docs = docs.unionByName(
                doc_base.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 1_000_000)
                ).withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" r{i}"))
                )
            )
        ev.write.mode("overwrite").parquet(os.path.join(sf_dir, "events.parquet"))
        docs.write.mode("overwrite").parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        row = {"factor": factor, "events": n_ev * factor, "docs": n_doc * factor}
        for q, key in (
            ("error_burst_range_join", "rangejoin_sec"),
            ("bm25_topk_docs", "bm25_sec"),
            ("charlm_doc_quality", "charlm_sec"),
        ):
            t0 = time.time()
            REGISTRY[q].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            row[key] = round(time.time() - t0, 2)
        out.append(row)
        print(f"# retrieval x{factor}: {row}", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "retrieval_scaling", "runs": out}))
    spark.stop()


def probe_stream(max_factor: int = 4) -> None:
    """Scaling curves + STATE-STORE evidence for the streaming drains —
    the three heaviest bench rows. Events replicate with disjoint
    400-day time shifts (corpus growth over time, the real 100 TB
    shape), so the boundedness claims become measurable predictions:

    - ``streaming_countmin_sketch``: state is the fixed depth×256
      counter grid + top-k heads — max_state_rows must stay FLAT as the
      corpus grows (it is a function of the sketch shape, not rows).
    - ``streaming_left_outer_join``: state holds only rows within the
      30-minute interval of the advancing watermark plus the pending
      outer tail — per-batch state must track per-batch window density,
      not corpus size.
    - ``streaming_late_data_audit``: watermarked window aggregate —
      state ∝ open windows inside the watermark, not total rows.

    Each run reads the engine's own ``stateOperators.numRowsTotal``
    progress metrics (the drain runner's record,
    ``stateful.last_drain()``), not a prose argument."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from dvh_airflow_kafka_spark.catalog import REGISTRY
    from dvh_airflow_kafka_spark.io import load_table
    from dvh_airflow_kafka_spark.session import get_spark
    from dvh_airflow_kafka_spark.streaming import stateful

    queries = (
        ("streaming_countmin_sketch", "countmin"),
        ("streaming_left_outer_join", "loj"),
        ("streaming_late_data_audit", "late"),
    )
    spark = get_spark("scaling_probe_stream")
    ev_base = load_table(spark, "/root/testdata/sf0.1", "events")
    doc_base = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_ev = ev_base.count()
    # warm codegen/classloading once so factor-1 measures the engine
    for q, _ in queries:
        REGISTRY[q].fn(spark, "/root/testdata/sf0.1").write.format(
            "noop"
        ).mode("overwrite").save()
    tmp = tempfile.mkdtemp(prefix="scale_stream_")
    out = []
    for factor in sorted({f for f in (1, 2, max_factor) if f <= max_factor}):
        sf_dir = os.path.join(tmp, f"x{factor}")
        ev = ev_base
        for i in range(1, factor):
            ev = ev.unionByName(
                ev_base.withColumn(
                    "event_id", F.col("event_id") + F.lit(i * 10_000_000)
                ).withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {400 * i} DAYS")
                )
            )
        ev.write.mode("overwrite").parquet(
            os.path.join(sf_dir, "events.parquet")
        )
        # countmin streams the documents table — replicate with distinct
        # doc ids (token distribution repeats; the sketch grid must not
        # care either way)
        docs = doc_base
        for i in range(1, factor):
            docs = docs.unionByName(
                doc_base.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(i * 1_000_000)
                )
            )
        docs.write.mode("overwrite").parquet(
            os.path.join(sf_dir, "documents.parquet")
        )
        row = {"factor": factor, "events": n_ev * factor}
        for q, key in queries:
            t0 = time.time()
            REGISTRY[q].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            row[f"{key}_sec"] = round(time.time() - t0, 2)
            record = stateful.last_drain()
            row[f"{key}_max_state_rows"] = record.max_state_rows if record else None
            row[f"{key}_batches"] = record.n_batches if record else None
        out.append(row)
        print(f"# stream x{factor}: {row}", file=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"metric": "stream_scaling", "runs": out}))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "stream":
        probe_stream(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "retrieval":
        probe_retrieval(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "dedup":
        probe_dedup(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "semantic":
        probe_semantic(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "ann":
        probe_ann(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "fuzzy":
        probe_fuzzy(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "kmeans":
        probe_kmeans(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "graph":
        probe_graph(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "kcore":
        probe_kcore(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    if len(sys.argv) > 1 and sys.argv[1] == "spans":
        probe_spans(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        raise SystemExit(0)
    raise SystemExit(main())
