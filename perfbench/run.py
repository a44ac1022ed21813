#!/usr/bin/env python3
"""KG-engine benchmark: one closed-loop client, one Spark session on
``local[<nproc>]``, workloads ``build`` and ``fold`` (see README.md).

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` times the workload's operation
with tracing off and prints the end-to-end metrics; ``--trace 1`` times one
operation untraced, restarts the session with the Spark event log on, runs
the operation traced plus the per-layer isolation legs, and prints the
per-layer metrics. Every operation's output is checked; the last stdout
line is the JSON result and the exit code is non-zero if a check failed.
Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "deep_reason_spark")
DRIVER_MEMORY = "3g"

LEG_COUNTERS = ("wall_ms", "jobs", "task_ms", "shuffle_write_bytes",
                "spill_bytes", "rows_out")
STAGE_SPANS = ("kg_pipeline.triples_stage", "kg_pipeline.graph_stage",
               "incremental_kg.fold", "incremental_kg.rollup")
STAGE_COUNTERS = ("wall_ms", "jobs", "tasks", "task_ms", "sched_delay_ms",
                  "idle_ms", "slot_util", "shuffle_write_bytes", "output_bytes")


def start_spark(work: str, cores: int, event_dir: str | None = None):
    from deep_reason_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def peak_rss_mb() -> float:
    """JVM VmHWM plus this process's max RSS."""
    with open(f"/proc/{jvm_process().pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def shutdown_jvm(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits on EOF of
    its stdin pipe)."""
    from pyspark import SparkContext

    proc = jvm_process()
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def run_meta(args, cores: int, load_before, spark_version: str) -> dict:
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=True,
                             timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None  # a plain checkout is not a git repository
    src = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(ENGINE)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "master": f"local[{cores}]",
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "git_sha": sha, "engine_sha256": src.hexdigest(),
        "spark_version": spark_version,
    }


class Outcome:
    """Attempted and failed operations; a failed check is a failed op."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(errors)
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)

    def op(self, workload, tracer=None) -> float | None:
        """Run and check one operation → its wall seconds, or None."""
        try:
            wall = workload.op(tracer)
            errors = workload.check()
        except Exception:  # noqa: BLE001 — reported as a failed operation
            traceback.print_exc()
            self.record(["operation raised"])
            return None
        self.record(errors)
        return wall


def untraced_metrics(workload, outcome: Outcome, seconds: float,
                     setup_s: float) -> tuple[dict[str, float], dict]:
    """→ (end-to-end metrics, per-operation walls and peak RSS for the run
    record)."""
    walls, out = [], []
    t0 = time.monotonic()
    while True:
        wall = outcome.op(workload)
        if wall is None:
            break
        walls.append(wall)
        out.append(workload.out_bytes() / 2**20)
        workload.drop_output()
        if time.monotonic() - t0 >= seconds:
            break
    # a run whose every operation failed reports 0 (and correct=false)
    return ({"setup_s": setup_s,
             "op_s": statistics.median(walls) if walls else 0.0,
             "out_mb": statistics.median(out) if out else 0.0},
            {"op_s": walls, "peak_rss_mb": peak_rss_mb()})


def traced_metrics(workload, outcome: Outcome, work: str, cores: int,
                   spark) -> tuple[dict[str, float], object]:
    import eventlog
    from layers import LEGS, QUERY_SPANS, Tracer

    from deep_reason_spark.functions import broadcast

    untraced = outcome.op(workload)
    workload.drop_output()
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    spark.stop()  # the JVM stays; the new context logs events
    spark = start_spark(work, cores, event_dir)
    workload.attach(spark)
    broadcast.bump_estimate_epoch()
    tracer = Tracer()
    jobs0 = broadcast.ESTIMATE_JOBS
    traced = outcome.op(workload, tracer)
    out = {"broadcast.estimate_jobs": broadcast.ESTIMATE_JOBS - jobs0}
    if untraced and traced:
        out["trace.overhead_frac"] = traced / untraced - 1
    with tracer.span("legs"):  # covers the reads between legs
        out.update(workload.layer_legs(tracer, outcome))
    workload.drop_output()
    spark.stop()  # finalizes the event log
    events = eventlog.read_events(event_dir)
    counters, unattributed = eventlog.span_counters(events, tracer.spans,
                                                    cores)
    for t, name in unattributed:
        print(f"job outside every span at {t:.0f} ms: {name}", file=sys.stderr)
    n_jobs = sum(1 for e in events if e.get("Event") == "SparkListenerJobStart")
    if sum(c.get("jobs", 0) for c in counters.values()) != n_jobs:
        raise RuntimeError("event-log jobs not all attributed to a span")
    out["trace.unattributed_jobs"] = counters[eventlog.OTHER].get("jobs", 0)
    for span in LEGS:
        c = counters.get(span, {})
        for k in LEG_COUNTERS:
            out[f"{span}.{k}"] = (tracer.rows.get(span, 0) if k == "rows_out"
                                  else c.get(k, 0))
    for span in STAGE_SPANS:
        c = counters.get(span, {})
        for k in STAGE_COUNTERS:
            out[f"{span}.{k}"] = c.get(k, 0)
    for span in QUERY_SPANS:
        c = counters.get(span, {})
        n_req = sum(1 for name, _s, _e in tracer.spans if name == span)
        out.setdefault(f"{span}.p50_ms", 0)
        for k, src in (("jobs_per_req", "jobs"), ("tasks_per_req", "tasks"),
                       ("input_bytes_per_req", "input_bytes")):
            out[f"{span}.{k}"] = c.get(src, 0) / n_req if n_req else 0
    for span in (*LEGS, *STAGE_SPANS, *QUERY_SPANS):
        out[f"{span}.failed_tasks"] = counters.get(span, {}).get(
            "failed_tasks", 0)
    out.setdefault("fold.write_amp", 0)
    out.setdefault("fold.buckets_written_frac", 0)
    out.setdefault("trace.overhead_frac", 0.0)
    return out, spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE) or not os.path.isfile(spec_path):
        print(f"perfbench: no engine package at {ENGINE} (or no "
              "BENCHMARK.json); run from the repository root",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = os.cpu_count() or 1
    load_before = os.getloadavg()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work  # PySpark's and Python workers' temp files
    spark = None
    try:
        spark = start_spark(work, cores)
        spark_version = spark.version
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        workload.setup()
        setup_s = time.monotonic() - T_START
        outcome = Outcome()
        observed: dict = {}
        if args.trace:
            values, spark = traced_metrics(workload, outcome, work, cores,
                                           spark)
        else:
            values, observed = untraced_metrics(workload, outcome,
                                                args.seconds, setup_s)
        meta = run_meta(args, cores, load_before, spark_version)
        meta.update(sizes=workload.sizes, observed=observed)
    finally:
        if spark is not None:
            shutdown_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    print(json.dumps({"run": meta}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if outcome.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
