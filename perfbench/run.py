"""Cold-task pipeline benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload assign_interval --seed 1 \\
        --seconds 30 --trace 0

Each run follows the Airflow task model of the source system: a fresh
process starts a session and makes exactly one pipeline call over a
seeded, pre-generated input.  The run

1. generates the input and its expected outputs (``perfbench/gen.py``),
   untimed and in this process, into a fresh directory under
   ``.perfbench/`` that is removed afterwards;
2. runs the cold task in a child process (``perfbench/task.py``);
3. while less than ``--seconds`` have passed since the task started,
   runs session-only children, so that ``setup_s`` is the median of
   every set-up in the run;
4. checks the outputs (``perfbench/check.py``) and prints one JSON line.

``--trace 1`` runs the task traced instead and prints the per-layer
metrics, the tracing overhead and the self time of each span; spans
(JSON lines) and Spark's event log are kept in
``.perfbench/trace/<workload>/``.

Workloads, their input properties, the checks known to fail and which
end-to-end metric each per-layer metric should move are in
``perfbench/workloads.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import the benchmark as ``perfbench.*``
CHILD_TIMEOUT_S = 150
RUN_BUDGET_S = 160  # a run must end within 180 s


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    # Spark's Python workers import the package (the ingest monitors'
    # pandas UDFs), so the checkout root must be on their path too
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PERFBENCH_RUN"] = run_dir
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    return env


def _marked(run_dir: str) -> list[int]:
    """Processes started for this run: every descendant inherits
    PERFBENCH_RUN, whichever process group or parent it ends up in."""
    marker = f"PERFBENCH_RUN={run_dir}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != os.getpid():
            try:
                with open(f"/proc/{pid}/environ", "rb") as f:
                    if marker in f.read().split(b"\0"):
                        pids.append(int(pid))
            except OSError:
                continue
    return pids


def stop_children(run_dir: str) -> None:
    """Wait for what is left of a child (the JVM and Spark's Python
    workers exit on their own once the driver has gone), then stop it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10
        while time.time() < deadline:
            if not _marked(run_dir):
                return
            time.sleep(0.1)
        for pid in _marked(run_dir):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    if _marked(run_dir):
        fail(f"could not stop processes {_marked(run_dir)}")


def run_child(run_dir: str, name: str, args: list[str]) -> dict:
    """Run ``perfbench/task.py`` in a fresh process; return its result."""
    out = os.path.join(run_dir, f"{name}.json")
    log = os.path.join(run_dir, f"{name}.log")
    cmd = [sys.executable, "-m", "perfbench.task", "--out", out, "--launched", repr(time.time()), *args]
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=child_env(run_dir), stdout=logf, stderr=subprocess.STDOUT
        )
        t0 = time.time()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            t1 = time.time()
            proc.kill()
            proc.wait()
            stop_children(run_dir)
    print(f"{name}: process {t1 - t0:.1f} s, teardown {time.time() - t1:.1f} s")
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: {name} failed (exit {code}); log tail:\n{tail}", file=sys.stderr)
        return {}
    with open(out) as f:
        return json.load(f)


def cold_task(run_dir: str, data: str, workload: str, name: str, trace_dir: str | None = None) -> dict:
    args = ["--workload", workload, "--data", data]
    if trace_dir:
        args += ["--trace", "1", "--trace-dir", trace_dir]
    return run_child(run_dir, name, args)


def msgs_per_s(result: dict, messages: int) -> float:
    return messages / result["call_s"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dvh_airflow_kafka_spark", "session.py")):
        fail(f"no dvh_airflow_kafka_spark package under {ROOT}")
    from perfbench.check import run_checks
    from perfbench.gen import GENERATORS

    if args.workload not in GENERATORS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(GENERATORS)}")
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
        spec = json.load(f)["workloads"][args.workload]

    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = measure(args, spec, run_dir, GENERATORS[args.workload], run_checks)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def measure(args, spec: dict, run_dir: str, generate, run_checks) -> dict:
    started = time.time()
    data = os.path.join(run_dir, "data")
    oracle = generate(data, args.seed)
    with open(os.path.join(data, "manifest.json"), "w") as f:
        json.dump(dict(oracle.props, batches=oracle.batches), f)
    messages = oracle.props.get("messages_in_interval") or oracle.props["messages"]
    print(f"workload={args.workload} seed={args.seed} input={json.dumps(oracle.props)}")

    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "trace", args.workload)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        sibling = os.path.join(run_dir, "data_untraced")
        if recorded_call_s(args.workload) is None:
            shutil.copytree(data, sibling)
        t0 = time.time()
        runs = [(cold_task(run_dir, data, args.workload, "traced", trace_dir), data)]
        if os.path.isdir(sibling) and time.time() - started + (time.time() - t0) < RUN_BUDGET_S:
            # no untraced run recorded in this checkout yet: measure one on
            # an identical copy of the input, if the run has time for it
            runs.append((cold_task(run_dir, sibling, args.workload, "untraced"), sibling))
    else:
        t0 = time.time()
        runs = [(cold_task(run_dir, data, args.workload, "task"), data)]
        # more set-up samples while the run has measured less than --seconds
        setups = [runs[0][0].get("setup_s")]
        while "call_s" in runs[0][0] and time.time() - t0 < args.seconds:
            setups.append(run_child(run_dir, f"probe{len(setups)}", ["--probe"]).get("setup_s"))

    failed = sum(1 for r, _ in runs if "call_s" not in r)
    known = set(spec["known_failing_checks"])
    checks, unexpected = [], []
    for r, d in runs:
        if "call_s" not in r:
            continue
        for name, expected, got in run_checks(args.workload, d, oracle, r):
            ok = expected == got
            checks.append(ok)
            if not ok:
                tag = "known defect" if name in known else "FAILED"
                print(f"check {name}: expected {expected}, got {got} ({tag})")
                if name not in known:
                    unexpected.append(name)
    n_checks = len(checks) // max(1, len(runs) - failed)
    passed = sum(checks) // max(1, len(runs) - failed)
    print(f"checks: {passed}/{n_checks} passed per call, {len(checks) - sum(checks)} failed in total")

    correct = failed == 0 and not unexpected
    if failed:
        metrics = {}
    elif args.trace:
        traced = runs[0][0]
        if len(runs) > 1:
            untraced_s, base = runs[1][0]["call_s"], "untraced run on a copy of the input"
            record_call_s(args.workload, untraced_s)
        else:
            untraced_s, base = recorded_call_s(args.workload), "median of recorded untraced runs"
        layers = dict(traced["layers"])
        layers["check_failures"] = n_checks - passed
        # 0 when there is nothing to compare with: no untraced run recorded
        # and no time left in this run for one
        layers["trace.overhead_pct"] = 100 * (traced["call_s"] / untraced_s - 1) if untraced_s else 0.0
        units = {m["name"]: m["unit"] for m in spec_metrics("per_layer")}
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        if untraced_s:
            print(f"msgs_per_s untraced={messages / untraced_s:.1f} ({base})", end="; ")
        else:
            print("tracing overhead not measured: no untraced run recorded and no time left", end="; ")
        print(f"traced={msgs_per_s(traced, messages):.1f}; spans and event log in {trace_dir}")
        print("self time by span (count, seconds):")
        for name, (n, t) in sorted(traced["self_times"].items(), key=lambda kv: -kv[1][1]):
            print(f"  {name:40s} {n:6d} {t:9.3f}")
    else:
        r = runs[0][0]
        batches = [b["ms"]["triggerExecution"] for b in r["batches"]]
        values = {
            "setup_s": statistics.median(s for s in setups if s is not None),
            "msgs_per_s": msgs_per_s(r, messages),
            # the mean, not the median: batch times fall by two thirds over
            # the drain as the JIT warms, so the median is one mid-drain
            # batch and follows the host's speed at that moment; an assign
            # run reads its interval as one batch
            "batch_mean_ms": statistics.fmean(batches) if batches else 1000 * r["call_s"],
            "peak_rss_mb": r["peak_rss_mb"],
            "checks_passed": passed,
        }
        units = {m["name"]: m["unit"] for m in spec_metrics("end_to_end")}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        print(
            f"setup samples: {setups}; call_s: {r['call_s']:.3f}; "
            f"listener wait: {r.get('listener_wait_s', 0):.2f} s; stop: {r['stop_s']:.2f} s; batch ms: {batches}"
        )
        if correct:
            record_call_s(args.workload, r["call_s"])
    return {"correct": correct, "attempted": len(runs), "failed": failed, "metrics": metrics}


def _history(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench", "history", f"{workload}.jsonl")


def record_call_s(workload: str, call_s: float) -> None:
    os.makedirs(os.path.dirname(_history(workload)), exist_ok=True)
    with open(_history(workload), "a") as f:
        f.write(json.dumps({"call_s": call_s}) + "\n")


def recorded_call_s(workload: str) -> float | None:
    """Median call time of the last ten untraced runs in this checkout."""
    try:
        with open(_history(workload)) as f:
            calls = [json.loads(line)["call_s"] for line in f][-10:]
    except FileNotFoundError:
        return None
    return statistics.median(calls) if calls else None


def spec_metrics(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


if __name__ == "__main__":
    main()
