"""Query catalog package — the driver-contract surface.

Mechanical round-10 split of the former single-file ``catalog.py``
(14.8k lines) into family modules.  Module import order IS registration
order; the driver's 50-query certification window (``_CERTIFY_FIRST``,
in ``_core``) and ``spark_queries()``/``oracle_sqls()`` are unchanged.

Module map:
  _core               registry machinery, staging caches, _CERTIFY_FIRST
  q01_reference       reference surface (SURVEY.md §2: envelope, payload,
                      privacy, watermark, summary, avro, fn_*)
  q02_relational      TPC-H-shaped + window/set relational coverage
  q03_curation        training-data ops: dedup, fingerprints, quality,
                      lang-id, embeddings, multimodal blobs
  q04_sampling        corpus shuffle / mixture / per-language sampling
  q05_chunking        chunking, packing, bloom dedup, CDC, anomaly
  q06_semdedup        semantic dedup, token budget, inverted index
  q07_clustering      k-means, span removal, PageRank, PQ encode,
                      priority sampling (+streaming twin)
  q08_retrieval       BM25, range join, hard negatives, char-LM, sketches
  q09_scd_reach       reachability, SCD2, boilerplate, URL canon
  q10_funnel_privacy  funnels, Markov, DP release, hive layout
  q11_layout          compaction/Z-order/encoding layout planning, EWMA
  q12_round10         round-10 composition capstones + MG streaming twin
  q13_round11         round-11 compositions: rebalance (+streaming twin),
                      cross-snapshot gate, drift monitor, weekly-crawl
                      capstone, near-dup gate twin
  q14_ingest          the ingest family (streaming/ingest.py): the
                      production-duty capstone, erasure cascade, multi-
                      topic fan-in, weekly ops, multi-epoch lifecycle,
                      auto-compaction policy, key-purge erasure

Every name the monolith bound at top level remains importable from this
package (tests import private helpers like ``_SEQ_LEN``); first binder
wins, matching the monolith's final-state semantics for the one
intentional intra-module redefinition (``_lang_hits_sql``).
"""

from dvh_airflow_kafka_spark.catalog import _core, q01_reference, q02_relational, q03_curation, q04_sampling, q05_chunking, q06_semdedup, q07_clustering, q08_retrieval, q09_scd_reach, q10_funnel_privacy, q11_layout, q12_round10, q13_round11, q14_ingest  # noqa: F401  (import order = registration order)

_MODULES = (_core, q01_reference, q02_relational, q03_curation, q04_sampling, q05_chunking, q06_semdedup, q07_clustering, q08_retrieval, q09_scd_reach, q10_funnel_privacy, q11_layout, q12_round10, q13_round11, q14_ingest)
_g = globals()
for _m in _MODULES:
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            _g.setdefault(_k, _v)
del _m, _k, _v, _g
