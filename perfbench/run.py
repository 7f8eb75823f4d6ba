#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 8 --trace 0

Untraced (``--trace 0``): set up (start a ``local[<cores>]`` session,
write the seeded inputs, run untimed warm iterations) and report that
as ``setup_s``; then run the workload's call repeatedly for ``--seconds``
seconds, checking every output row after each iteration, and report the
end-to-end metrics as medians over the iterations.

Traced (``--trace 1``): the same set-up with Spark's event log on, then
untraced and traced iterations alternate for ``--seconds`` (traced ones
label every Spark job and time the checkpoint functions), then the
extraction worker replays in-process under per-layer timers.  Reports
the per-layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  The lines before it are a readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import ExitStack
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
REPLAY_TURNS = 2048
MIN_ITERATIONS = 3
KINDS = ("prediction", "matched", "table", "table_matched")


@dataclass
class Sample:
    wall_s: float
    cpu_s: float
    peak_rss_bytes: int
    output_bytes: int
    failed: int
    traced: bool = False


def cores() -> int:
    """The cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def _isolate(work: Path):
    """Keep the session's files inside ``work`` and let the Python
    workers import the package; must run before the JVM starts."""
    for sub in ("local", "tmp", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def start_session(name: str, n_cores: int, work: Path, event_log: bool = False):
    from ds4sd_docling_tableformer_onnx_spark.session import build_session

    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    spark = build_session(app_name=f"perfbench-{name}", cores=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm():
    """Stop the Spark context and the JVM PySpark launched, and wait
    until every process this one started has ended."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(spark, workload, seconds: float, tracers=()) -> list[Sample]:
    """Iterations of the workload's call for about ``seconds``: a new one
    starts only if the mean iteration so far still fits, but a run makes
    at least ``MIN_ITERATIONS`` unless one iteration outlasts ``seconds``
    (so the median sits at the same point of a warming JVM in every run).
    With ``tracers``, iterations run untraced and traced in the order
    A B B A (at least once), so that drift cancels out of the
    traced/untraced comparison."""
    from perfbench.procstat import PeakRss, tree_cpu_s

    me = os.getpid()
    samples = []
    t_start = time.perf_counter()
    i = 0
    while True:
        # k numbers the workload's iterations across calls (fresh inputs)
        k = workload.iterations
        workload.iterations += 1
        workload.before(k)
        traced = bool(tracers) and i % 4 in (1, 2)
        with ExitStack() as stack:
            for tracer in tracers if traced else ():
                stack.enter_context(tracer.installed(f"{workload.name}#{k}"))
            rss = stack.enter_context(PeakRss(me))
            cpu0 = tree_cpu_s(me)
            t0 = time.perf_counter()
            result = workload.run(spark, k)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(me) - cpu0
        failed, out_bytes = workload.after(k, result)
        samples.append(Sample(wall, cpu, rss.peak, out_bytes, failed, traced))
        i += 1
        elapsed = time.perf_counter() - t_start
        enough = i >= 4 if tracers else (i >= MIN_ITERATIONS or elapsed > seconds)
        if elapsed + elapsed / i > seconds and enough:
            return samples


def end_to_end(workload, samples, setup_s) -> dict:
    med = statistics.median
    wall = med(s.wall_s for s in samples)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (workload.rows / wall, "1/s"),
        "cpu_s": (med(s.cpu_s for s in samples), "s"),
        "output_mb": (med(s.output_bytes for s in samples) / 1e6, "MB"),
    }


def _percentiles(name, values, unit, out):
    from perfbench.eventlog import quantile

    out[f"{name}.p50"] = (quantile(values, 0.5), unit)
    out[f"{name}.p99"] = (quantile(values, 0.99), unit)


def replay_metrics(workload, n_cores, spark_turns_per_s) -> dict:
    """Per-layer metrics of the in-process worker replay."""
    from perfbench import inputs
    from perfbench.trace import CORE_LAYERS, replay

    batches = workload.replay_batches(REPLAY_TURNS)
    kinds = [
        inputs.kind_of(json.loads(tool)["payload_id"])
        for b in batches
        for tool in b.column("tool").to_pylist()
    ]
    r = replay(batches)
    n = r["rows"]
    worker_us = sum(r["batch_ns"]) / 1e3 / n
    turn_us = [t / 1e3 for t, _ in r["turns"]]
    layer_us = {layer: [layers[layer] / 1e3 for _, layers in r["turns"]] for layer in CORE_LAYERS}
    self_us = worker_us - sum(turn_us) / n
    out = {
        "extract.replay_turns": (n, "count"),
        "extract.worker_turns_per_s": (1e6 / worker_us, "1/s"),
        "extract.worker_us_per_turn": (worker_us, "us"),
        "extract.worker_self_us_per_turn": (self_us, "us"),
        "extract.return_bytes_per_turn": (r["out_bytes"] / n, "B"),
        "extract.core_efficiency": (
            spark_turns_per_s / (n_cores * 1e6 / worker_us) if workload.extracted_rows else 0.0,
            "ratio",
        ),
    }
    layer_sum = 0.0
    for layer, values in layer_us.items():
        mean = sum(values) / n
        layer_sum += mean
        out[f"core.{layer}_us_per_turn"] = (mean, "us")
        _percentiles(f"core.{layer}_us_per_turn", values, "us", out)
    out["core.turn_self_us_per_turn"] = (sum(turn_us) / n - layer_sum, "us")
    out["extract.layer_sum_share"] = ((layer_sum + self_us) / worker_us, "ratio")
    for kind in KINDS:
        values = [t for t, k in zip(turn_us, kinds) if k == kind]
        _percentiles(f"core.turn_us.{kind}", values, "us", out)
        out[f"core.turn_us.{kind}.n"] = (len(values), "count")
    return out


def spark_metrics(log, prefix, walls, n_cores) -> dict:
    from perfbench.eventlog import quantile

    t = log.total(log.select(prefix))
    n = len(walls)
    mb = 1e6
    return {
        "spark.jobs": (t.jobs / n, "count"),
        "spark.stages": (t.stages / n, "count"),
        "spark.tasks": (t.tasks / n, "count"),
        "spark.idle_core_share": (1 - t.executor_run_s / (sum(walls) * n_cores), "share"),
        "spark.executor_run_s": (t.executor_run_s / n, "s"),
        "spark.executor_cpu_s": (t.executor_cpu_s / n, "s"),
        "spark.jvm_gc_s": (t.jvm_gc_s / n, "s"),
        "spark.python_start_s": (t.python_start_s / n, "s"),
        "spark.python_init_s": (t.python_init_s / n, "s"),
        "spark.python_run_s": (t.python_run_s / n, "s"),
        "spark.to_python_mb": (t.to_python_bytes / n / mb, "MB"),
        "spark.from_python_mb": (t.from_python_bytes / n / mb, "MB"),
        "spark.shuffle_write_mb": (t.shuffle_write_bytes / n / mb, "MB"),
        "spark.shuffle_read_mb": (t.shuffle_read_bytes / n / mb, "MB"),
        "spark.scan_mb": (t.scan_bytes / n / mb, "MB"),
        "spark.sink_mb": (t.sink_bytes / n / mb, "MB"),
        "spark.task_s_p50": (quantile(t.task_s, 0.5), "s"),
        "spark.task_s_p90": (quantile(t.task_s, 0.9), "s"),
    }


def print_jobs(log, prefix):
    """Every Spark job of the traced iterations: call site and duration."""
    for job_id in sorted(log.select(prefix)):
        job = log.jobs[job_id]
        site = job.description.split("|", 1)[1] if "|" in job.description else "-"
        print(f"  job {job_id:4d} {job.duration_s:7.3f}s  {site}")


def run(args) -> dict:
    from perfbench.workloads import WORKLOADS

    n_cores = cores()
    for stale in (ROOT / ".perfbench").glob("*-*"):
        if not Path(f"/proc/{stale.name.rsplit('-', 1)[1]}").exists():
            shutil.rmtree(stale, ignore_errors=True)  # left by a killed run
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    _isolate(work)
    workload = WORKLOADS[args.workload](args.seed, n_cores, work)
    print(f"workload {args.workload} seed {args.seed} cores {n_cores} trace {args.trace}")
    try:
        t0 = time.perf_counter()
        spark = start_session(args.workload, n_cores, work, event_log=bool(args.trace))
        workload.prepare()
        warm = [s for _ in range(workload.warm_iterations) for s in measure(spark, workload, 0)]
        setup_s = time.perf_counter() - t0
        if not args.trace:
            samples = measure(spark, workload, args.seconds)
            metrics = end_to_end(workload, samples, setup_s)
        else:
            samples, metrics = traced(spark, workload, args, n_cores, work)
        samples = warm + samples
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for s in samples:
        print(f"  iteration wall {s.wall_s:.3f}s cpu {s.cpu_s:.3f}s "
              f"rss {s.peak_rss_bytes / 1e6:.0f}MB out {s.output_bytes}B "
              f"failed {s.failed}{' traced' if s.traced else ''}")
    attempted = len(samples) * workload.rows
    failed = sum(s.failed for s in samples)
    print(f"cores {n_cores} iterations {len(samples)} attempted {attempted} failed {failed}")
    report = dict(metrics)
    if not args.trace:
        # printed, not contract keys: failed_share is 0 when correct, and
        # the JVM's heap growth makes peak RSS too noisy to bound
        report["failed_share"] = (failed / attempted, "share")
        peak = statistics.median(s.peak_rss_bytes for s in samples[len(warm):])
        report["peak_rss_mb"] = (peak / 1e6, "MB")
    for name, (value, unit) in report.items():
        print(f"  {name} = {value:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced(spark, workload, args, n_cores, work):
    """Per-layer metrics: untraced and traced iterations interleave in one
    session whose event log is on, then the worker replays in-process.
    ``trace.overhead_share`` therefore measures the job labels and
    checkpoint spans; the event log's own cost is on both sides."""
    from perfbench.eventlog import EventLog
    from perfbench.trace import CheckpointSpans, JobLabels

    # curate_docs's set-up has no warm iteration; trace it warm
    warm = [] if workload.warm_iterations else measure(spark, workload, 0)
    spans = CheckpointSpans()
    samples = measure(spark, workload, args.seconds, (JobLabels(spark), spans))
    spark.stop()  # flushes the event log
    log = EventLog(next((work / "events").iterdir()))
    prefix = f"{workload.name}#"
    walls = [s.wall_s for s in samples if s.traced]
    untraced_wall = statistics.median(s.wall_s for s in samples if not s.traced)
    n = len(walls)
    metrics = replay_metrics(workload, n_cores, workload.extracted_rows / untraced_wall)
    metrics.update(spark_metrics(log, prefix, walls, n_cores))
    metrics.update(
        {
            "checkpoint.resume_filter_s": (spans.seconds["resume_filter"] / n, "s"),
            "checkpoint.skipped_rows": (spans.skipped / n, "count"),
            "checkpoint.write_s": (spans.seconds["write_checkpoint"] / n, "s"),
            "checkpoint.read_s": (spans.seconds["read_checkpoint"] / n, "s"),
            "trace.overhead_share": (statistics.median(walls) / untraced_wall - 1, "share"),
        }
    )
    print("traced jobs (call site, duration):")
    print_jobs(log, prefix)
    return warm + samples, metrics


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # fail before printing anything when the program under test is absent
    import ds4sd_docling_tableformer_onnx_spark  # noqa: F401
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
