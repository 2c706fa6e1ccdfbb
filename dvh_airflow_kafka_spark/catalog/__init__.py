"""Query catalog package — the driver-contract surface.

The former single-file ``catalog.py`` (14.8k lines), split into
operator-family modules.  Module import order IS registration order;
the driver's 50-query certification window (``_CERTIFY_FIRST``, in
``_core``) leads ``spark_queries()``/``oracle_sqls()`` regardless.
Every query registers in one of these modules, a streaming twin sits
beside its batch twin and names the batch twin's oracle string, and a
module imports the earlier modules it shares helpers with only in its
header (``tests/test_package_layout.py`` pins all three).

Module map:
  _core               registry machinery, staging caches, scratch dirs,
                      _CERTIFY_FIRST
  q01_reference       reference surface (SURVEY.md §2: envelope, payload,
                      privacy, watermark, summary, avro, fn_*)
  q02_relational      the TPC-H shapes (all 22) + window/set/as-of
                      relational coverage, profiling, salted joins
  q03_curation        training-data ops: dedup, fingerprints, quality,
                      lang-id, embeddings, multimodal blobs, ddsketch
                      (+streaming twin); curation compositions: NFC
                      audit, attrition funnel, drift monitor
  q04_sampling        corpus shuffle / mixture / per-language sampling,
                      hash splits, incremental mixture rebalance
                      (+streaming twin)
  q05_chunking        chunking, packing, bloom dedup (+streaming twin),
                      CDC, anomaly, Misra-Gries (+streaming twin)
  q06_semdedup        semantic dedup, token budget, inverted index,
                      TF-IDF; the n-gram near-dup family: clusters,
                      split contamination, survivor and decontamination
                      capstones, cross-snapshot gate, weekly crawl
  q07_clustering      k-means, span removal, PageRank, PQ encode,
                      near-dup ingest gate and priority sampling
                      (+streaming twins)
  q08_retrieval       BM25, range join, hard negatives, char-LM, sketches;
                      file-format round trips (JSONL, CSV, ORC, parquet
                      schema evolution)
  q09_scd_reach       reachability, SCD2, boilerplate, URL canon, theta
                      sketch (+streaming twin)
  q10_funnel_privacy  funnels, Markov, DP release, hive layout, HLL
                      (+streaming twin)
  q11_layout          compaction/Z-order/encoding layout planning, EWMA
  q14_ingest          the ingest family (streaming/ingest.py): the
                      production-duty capstone, erasure cascade, multi-
                      topic fan-in, weekly ops, multi-epoch lifecycle,
                      auto-compaction policy, key-purge erasure

Every name the monolith bound at top level remains importable from this
package (tests import private helpers like ``_SEQ_LEN``); first binder
wins, matching the monolith's final-state semantics for the one
intentional intra-module redefinition (``_lang_hits_sql``).
"""

from dvh_airflow_kafka_spark.catalog import _core, q01_reference, q02_relational, q03_curation, q04_sampling, q05_chunking, q06_semdedup, q07_clustering, q08_retrieval, q09_scd_reach, q10_funnel_privacy, q11_layout, q14_ingest  # noqa: F401  (import order = registration order)

_MODULES = (_core, q01_reference, q02_relational, q03_curation, q04_sampling, q05_chunking, q06_semdedup, q07_clustering, q08_retrieval, q09_scd_reach, q10_funnel_privacy, q11_layout, q14_ingest)
_g = globals()
for _m in _MODULES:
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            _g.setdefault(_k, _v)
del _m, _k, _v, _g
