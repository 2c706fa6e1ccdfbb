"""Per-phase wall-clock profile of the ingest-drain catalog queries.

Monkeypatches the expensive ACTION entry points (localCheckpoint, write,
count, collect, sidecar ops) with cumulative timers, runs one query, and
prints the breakdown.  Usage: python /tmp/prof_drain.py <query> [sf_dir]
"""
import os, sys, time, functools, collections

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERY = sys.argv[1] if len(sys.argv) > 1 else "streaming_ingest_capstone"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

PH = collections.Counter()
NC = collections.Counter()

def wrap_method(cls, name, label=None):
    lab = label or f"{cls.__name__}.{name}"
    orig = getattr(cls, name)
    @functools.wraps(orig)
    def f(*a, **k):
        t0 = time.time()
        r = orig(*a, **k)
        PH[lab] += time.time() - t0
        NC[lab] += 1
        return f_post(r, lab)
    def f_post(r, lab):
        return r
    setattr(cls, name, f)

from pyspark.sql import DataFrame, Observation
from pyspark.sql.readwriter import DataFrameWriter, DataFrameReader

wrap_method(DataFrame, "localCheckpoint")
wrap_method(DataFrame, "count")
wrap_method(DataFrame, "collect")
wrap_method(DataFrameWriter, "parquet", "write.parquet")
wrap_method(DataFrameWriter, "save", "write.save")
wrap_method(DataFrameReader, "parquet", "read.parquet")

import dvh_airflow_kafka_spark.streaming.keyindex as ki
wrap_method(ki.SinkKeyIndex, "probe")
wrap_method(ki.SinkKeyIndex, "append")
wrap_method(ki.SinkKeyIndex, "compact")
wrap_method(ki.SinkKeyIndex, "begin_epoch")
wrap_method(ki.SinkKeyIndex, "seed")

# every FS binding: the ingest layer's, the sidecar's and the runner's
import dvh_airflow_kafka_spark.streaming.fsio as fsio
wrap_method(fsio.HadoopFs, "__init__", "HadoopFs.init")

from dvh_airflow_kafka_spark.catalog import REGISTRY
from dvh_airflow_kafka_spark.session import get_spark

spark = get_spark("prof")
# warm
REGISTRY["flagship_etl_pipeline"].fn(spark, SF).write.format("noop").mode("overwrite").save()
PH.clear(); NC.clear()

t0 = time.time()
REGISTRY[QUERY].fn(spark, SF).write.format("noop").mode("overwrite").save()
wall = time.time() - t0
print(f"\n=== {QUERY} @ {SF}: wall {wall:.2f}s ===")
tot = 0.0
for lab, sec in PH.most_common():
    print(f"  {sec:7.2f}s  x{NC[lab]:<4d} {lab}")
    tot += sec
print(f"  (sum of instrumented leaves may double-count nesting)")
# second run (staging cached)
PH.clear(); NC.clear()
t0 = time.time()
REGISTRY[QUERY].fn(spark, SF).write.format("noop").mode("overwrite").save()
wall2 = time.time() - t0
print(f"\n=== second run: wall {wall2:.2f}s ===")
for lab, sec in PH.most_common():
    print(f"  {sec:7.2f}s  x{NC[lab]:<4d} {lab}")
spark.stop()
