"""One cold pipeline task: a fresh process, as an Airflow task runs it.

The process starts the session, makes exactly one pipeline call over the
generated input, and writes what it measured to ``--out`` as JSON.  It
touches the engine only through ``session.get_spark``,
``runner.run_pipeline`` and ``streaming.ingest.run_ingest_pipeline``;
the traced variant (``--trace 1``) wraps layer functions from outside
and records spans, listener progress and Spark's event log.

    python3 perfbench/task.py --workload subscribe_drain --data DIR \\
        --out result.json --launched EPOCH_S [--trace 1 --trace-dir DIR]
    python3 perfbench/task.py --probe --out result.json --launched EPOCH_S

``--probe`` only starts and stops the session (a set-up time sample).
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import statistics
import time

BATCH_TIME = dt.datetime(2024, 6, 10)
DEDUP_KEYS = "[kafka_topic, kafka_partition, kafka_offset]"
ALLOW_FILTERS = """
  message-filters:
    - {key: k, allowed_value: 1}
    - {key: k, allowed_value: 2}"""
ENVELOPE_RULES = """
  - {src: kafka_topic, dst: kafka_topic}
  - {src: kafka_partition, dst: kafka_partition}
  - {src: kafka_offset, dst: kafka_offset}
  - {src: kafka_timestamp, dst: kafka_timestamp}
  - {src: kafka_hash, dst: kafka_hash}
  - {src: kafka_message, dst: kafka_message}"""

# The reference shape: allow-filter, k6-filter on a payload key, payload
# keypath rules without a declared payload-schema, skip-duplicates-with.
ASSIGN_YAML = """
source:
  type: parquet
  topic: events
  schema: json
  strategy: assign
  path: "{data}/log"
  starting_timestamp_ms: {start}
  ending_timestamp_ms: {end}""" + ALLOW_FILTERS + """
target:
  type: parquet
  path: "{data}/sink"
  skip-duplicates-with: """ + DEDUP_KEYS + """
  k6-filter:
    filter-table: skjerming
    filter-col: off_id
    col: person.id
    timestamp: kafka_timestamp
transform:""" + ENVELOPE_RULES + """
  - {src: person.id, dst: person_id}
  - {src: kind, dst: kind}
  - {src: $$BATCH_TIME, dst: lastet_tid}
"""

SUBSCRIBE_YAML = """
source:
  type: parquet
  topic: events
  schema: json
  strategy: subscribe
  path: "{data}/log"
""" + ALLOW_FILTERS + """
target:
  type: parquet
  path: "{data}/sink"
  skip-duplicates-with: """ + DEDUP_KEYS + """
transform:""" + ENVELOPE_RULES + """
  - {src: $$BATCH_TIME, dst: lastet_tid}
"""


def fill(template: str, **values) -> str:
    """Substitute ``{name}`` placeholders (YAML flow mappings use braces
    too, so ``str.format`` does not apply)."""
    for k, v in values.items():
        template = template.replace("{" + k + "}", str(v))
    return template


def session_conf(trace_dir: str | None) -> dict:
    """Session sized to the machine: local[nproc] (set by get_spark's
    ``cpus``), shuffle partitions = nproc, a driver heap of a quarter of
    RAM capped at 4g, and every scratch path inside the run directory.
    The heap is fixed (-Xms = -Xmx): left to resize, it made the peak RSS
    of same-size runs range from 2.6 to 4.2 GB."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    heap_mb = min(4096, mem_kb // 4 // 1024)
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        os.makedirs(os.path.join(trace_dir, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(trace_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def run_assign(spark, data: str, manifest: dict):
    from dvh_airflow_kafka_spark.runner import run_pipeline

    start, end = manifest["interval"]
    yaml_text = fill(ASSIGN_YAML, data=data, start=start, end=end)
    result = run_pipeline(
        spark,
        yaml_text,
        k6_lookup=spark.read.parquet(f"{data}/lookup"),
        batch_time=BATCH_TIME,
    )
    return result.summary.as_xcom()


def run_subscribe(spark, data: str, manifest: dict):
    from dvh_airflow_kafka_spark.runner import run_pipeline

    result = run_pipeline(
        spark,
        fill(SUBSCRIBE_YAML, data=data),
        batch_time=BATCH_TIME,
        checkpoint_dir=f"{data}/checkpoint",
    )
    return result.summary.as_xcom()


def run_ingest(spark, data: str, manifest: dict):
    from dvh_airflow_kafka_spark.config import AllowRule
    from dvh_airflow_kafka_spark.streaming.ingest import run_ingest_pipeline

    log = f"{data}/log"
    stream = (
        spark.readStream.schema(spark.read.parquet(log).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(log)
    )
    dirs = run_ingest_pipeline(
        spark,
        stream,
        work_dir=f"{data}/work",
        checkpoint_dir=f"{data}/checkpoint",
        initial_sink=spark.read.parquet(f"{data}/initial"),
        lookup=spark.read.parquet(f"{data}/lookup"),
        message_filters=[AllowRule(key="k", allowed_value=v) for v in (1, 2)],
    )
    return dict(dirs.summary)


CALLS = {
    "assign_interval": run_assign,
    "subscribe_drain": run_subscribe,
    "ingest_drain": run_ingest,
}


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and all its
    descendants: the driver JVM and Spark's Python workers."""
    parent: dict = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total_kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def install_tracing(tracer, run_span: dict, keep: dict) -> None:
    """Wrap the layers' public functions (and the writer and streaming
    entry points of PySpark) so that each call is a span."""
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from dvh_airflow_kafka_spark import runner
    from dvh_airflow_kafka_spark.plans import Transform
    from dvh_airflow_kafka_spark.streaming import keyindex, pipeline

    for owner in (runner, pipeline):
        tracer.wrap(owner, "write_parquet_append", "sinks.write_parquet_append")
    for method in ("probe", "append", "compact"):
        tracer.wrap(keyindex.SinkKeyIndex, method, f"streaming.keyindex.{method}")
    tracer.wrap(
        DataFrameWriter, "parquet", "write.parquet",
        attrs=lambda w, path=None, *a, **k: {"path": str(path or k.get("path"))},
    )
    # assign-path layer calls; their returned frames feed the prefix method
    tracer.wrap(runner, "with_envelope", "sources.with_envelope", keep=keep)
    tracer.wrap(runner, "scrub_flagged_persons", "operators.scrub_flagged_persons", keep=keep)
    tracer.wrap(runner, "_attach_payload_struct", "plans.payload_struct")
    tracer.wrap(Transform, "apply", "plans.Transform.apply", keep=keep)
    tracer.wrap(runner, "dedup_against_existing", "operators.dedup_against_existing", keep=keep)

    plain = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def traced(df, batch_id):
            with tracer.batch_span(batch_id, run_span):
                return func(df, batch_id)

        return plain(self, traced)

    DataStreamWriter.foreachBatch = foreach_batch


def prefix_times(keep: dict, scratch: str) -> dict:
    """The assign pipeline's prefixes, each forced through a noop write
    after the measured call (so all run equally warm).  A layer's time is
    the increase over the previous prefix; the sink's is a parquet write
    of the full plan minus its noop run."""

    def timed(df, fmt: str = "noop", path: str | None = None) -> float:
        t = time.perf_counter()
        df.write.format(fmt).mode("overwrite").save(path)
        return time.perf_counter() - t

    order = [
        ("sources.envelope_s", "sources.with_envelope"),
        ("operators.privacy_s", "operators.scrub_flagged_persons"),
        ("plans.transform_s", "plans.Transform.apply"),
        ("operators.dedup_s", "operators.dedup_against_existing"),
    ]
    out, prev = {}, 0.0
    for metric, span in order:
        t = timed(keep[span])
        out[metric], prev = t - prev, t
    full = timed(keep["operators.dedup_against_existing"], "parquet", os.path.join(scratch, "prefix_sink"))
    out["sinks.write_s"] = full - prev
    return out


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(tracer, progress, jobs, run_span, data: str, workload: str, prefix: dict) -> dict:
    """Per-layer metrics.  Drains report medians over non-empty
    micro-batches; the assign run reports per-run values.  A metric
    whose layer the workload does not run reads 0."""
    from perfbench.tracing import covered, job_counts

    spans = tracer.spans
    batches = {b["batch_id"]: b for b in progress.non_empty()}
    batch_spans = [s for s in spans if s["name"] == "batch" and s["batch"] in batches]
    out = {
        "session.get_spark_s": next(s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark"),
        "sources.envelope_s": 0.0,
        "operators.privacy_s": 0.0,
        "plans.transform_s": 0.0,
        "operators.dedup_s": 0.0,
        "sinks.write_s": 0.0,
        "runner.driver_s": 0.0,
    }

    def per_batch(name: str, where=lambda s: True) -> float:
        """Median over non-empty batches of the summed span time."""
        sums = {b: 0.0 for b in batches}
        for s in spans:
            if s["name"] == name and s["batch"] in sums and where(s):
                sums[s["batch"]] += s["end"] - s["start"]
        return median_or_zero(sums.values()) * 1000

    if workload == "assign_interval":
        lo, hi = run_span["start"], run_span["end"]
        out.update(prefix)
        sample = [s for s in spans if s["name"] == "plans.payload_struct"]
        out["plans.transform_s"] += sum(s["end"] - s["start"] for s in sample)
        out["runner.driver_s"] = (hi - lo) - covered([(j["start"], j["end"]) for j in jobs], lo, hi)
        out.update(job_counts(jobs, lo, hi))
    else:
        per = [job_counts(jobs, s["start"], s["end"]) for s in batch_spans]
        for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_bytes"):
            out[k] = median_or_zero(c[k] for c in per)

    ms = [b["ms"] for b in batches.values()]
    out["stream.add_batch_ms"] = median_or_zero(m.get("addBatch", 0) for m in ms)
    out["stream.commit_ms"] = median_or_zero(m.get("walCommit", 0) + m.get("commitOffsets", 0) for m in ms)
    out["stream.offsets_ms"] = median_or_zero(
        m.get("latestOffset", 0) + m.get("getBatch", 0) + m.get("queryPlanning", 0) for m in ms
    )
    for method in ("probe", "append"):
        out[f"streaming.keyindex.{method}_ms"] = per_batch(f"streaming.keyindex.{method}")
    compacts = [s["end"] - s["start"] for s in spans if s["name"] == "streaming.keyindex.compact"]
    out["streaming.keyindex.compact_ms"] = median_or_zero(compacts) * 1000
    writes = [s for s in spans if s["name"] == "sinks.write_parquet_append"]
    out["sinks.write_ms"] = (
        per_batch("sinks.write_parquet_append")
        if batches
        else median_or_zero(s["end"] - s["start"] for s in writes) * 1000
    )

    work = os.path.join(data, "work") + "/"

    def family(s) -> str:
        path = s["attrs"].get("path", "").removeprefix("file:")
        if not path.startswith(work):
            return ""
        top = path[len(work):].split("/", 1)[0]
        if top.startswith("sink__keys"):
            return "keys"
        return "monitors" if top in ("hll", "dd", "mg") else top

    for fam in ("sink", "keys", "bits", "bits_cum", "monitors"):
        out[f"ingest.write_ms.{fam}"] = per_batch("write.parquet", lambda s, f=fam: family(s) == f)
    n_files = sum(len(f) for _, _, f in os.walk(work)) if os.path.isdir(work) else 0
    out["ingest.files_per_batch"] = n_files / len(batches) if batches and workload == "ingest_drain" else 0.0
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(CALLS))
    ap.add_argument("--data")
    ap.add_argument("--out", required=True)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-dir")
    args = ap.parse_args()

    from perfbench.tracing import Progress, Tracer, read_event_log

    from dvh_airflow_kafka_spark.session import get_spark

    trace_dir = args.trace_dir if args.trace else None
    tracer = Tracer() if trace_dir else None
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext({}))
    cpus = len(os.sched_getaffinity(0))
    with span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cpus, extra_conf=session_conf(trace_dir))
    ready = time.time()
    out = {"setup_s": ready - args.launched, "cpus": cpus}
    if args.probe:
        spark.stop()
        with open(args.out, "w") as f:
            json.dump(out, f)
        return

    with open(os.path.join(args.data, "manifest.json")) as f:
        manifest = json.load(f)
    progress = Progress()
    spark.streams.addListener(progress)
    keep: dict = {}
    with span("run") as run_span:
        if tracer:
            install_tracing(tracer, run_span, keep)
        t0 = time.perf_counter()
        out["summary"] = CALLS[args.workload](spark, args.data, manifest)
        out["call_s"] = time.perf_counter() - t0
    if manifest["batches"]:
        t = time.perf_counter()
        progress.terminated.wait(30)
        out["listener_wait_s"] = time.perf_counter() - t
    out["peak_rss_mb"] = peak_rss_mb()
    out["batches"] = progress.non_empty()
    prefix = {}
    if tracer and args.workload == "assign_interval":
        with span("prefix"):
            prefix = prefix_times(keep, os.environ["TMPDIR"])
    t = time.perf_counter()
    spark.stop()
    out["stop_s"] = time.perf_counter() - t
    if tracer:
        jobs = read_event_log(os.path.join(trace_dir, "eventlog"))
        out["layers"] = layer_metrics(tracer, progress, jobs, run_span, args.data, args.workload, prefix)
        tracer.write_jsonl(os.path.join(trace_dir, "spans.jsonl"))
        out["self_times"] = tracer.self_time_by_name()
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
