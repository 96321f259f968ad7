"""Benchmark entry point for the stream_spark package.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds its inputs from the seed, runs one
workload for about ``S`` measured seconds on ``local[<cpus>]`` (the
closed-loop workloads run a fixed number of passes sized to take about
``S`` seconds on a 4-core host) and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The traced run
enables the Spark event log and records spans; its per-layer file
(spans, self time per layer, per-query or per-rep breakdowns, host
context) goes to ``perfbench/.work/results/``.

Everything the run writes stays under ``perfbench/.work`` (gitignored).
Workload notes are in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

E2E = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "ops_per_s": "1/s",
}

# name -> unit. Totals from the event log are per pass: one pass over
# the query set, one ingest rep, or the whole measured event window.
LAYERS = {
    "session.start_s": "s",
    "data.derive_s": "s",
    "queries.warmup_s": "s",
    "pipeline.compile_ms": "ms",
    "streaming.sources.stage_s": "s",
    "operators.dedup.index_build_s": "s",
    "trigger.count": "count",
    **{f"trigger.{m}_{q}": "ms" for m in ("exec_ms", "add_batch_ms", "planning_ms", "log_ms", "source_ms") for q in ("p50", "p95")},
    "state.commit_ms_p50": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "sink.rows_out": "count",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "index.rows_end": "count",
    "generator.late_ms_max": "ms",
    "source.backlog_files_end": "count",
    "queries.construct_s": "s",
    "queries.execute_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.spill_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "driver.rss_mb": "MB",
    "traced.latency_p50_ms": "ms",
    "traced.ops_per_s": "1/s",
}


def host_context(cpus: int) -> dict:
    return {
        "cpus": cpus,
        "host": platform.node(),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
    }


def pin_environment(run_dir: str, cpus: int, event_log: str | None, jvm_options: str) -> None:
    """Everything Spark and its Python workers write goes under the run
    directory; workers import the package from the repository root."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # every JVM, the spark-submit launcher included, would otherwise write
    # /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed-size heap: heap growth made pass times differ between runs
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Xms{heap} {jvm_options}".rstrip(),
    ]
    if event_log:
        os.makedirs(event_log)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir={event_log}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "stream_spark", "__init__.py")):
        print(f"stream_spark package not found in {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = os.path.join(run_dir, "eventlog") if a.trace else None
    pin_environment(run_dir, cpus, event_log, workloads.JVM_OPTIONS.get(a.workload, ""))
    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "start": host_context(cpus)}
    ctx = workloads.Context(ROOT, WORK, run_dir, a.seed, a.seconds, bool(a.trace))
    try:
        res = workloads.WORKLOADS[a.workload](ctx)
        import pyspark

        context["spark"] = pyspark.__version__
        res.layers["driver.rss_mb"] = ctx.peak_rss_mb()
        ctx.close()
        if a.trace:
            from tracing import EVENT_LOG_KEYS, event_log_metrics

            buckets = event_log_metrics(event_log, ctx.bucket)
            for k in EVENT_LOG_KEYS:
                res.layers[k] = sum(b[k] for b in buckets.values()) / ctx.passes
            res.detail["event_log_by_bucket"] = buckets
            res.layers["traced.latency_p50_ms"] = res.e2e["latency_p50_ms"]
            res.layers["traced.ops_per_s"] = res.e2e["ops_per_s"]
    finally:
        ctx.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    context["end"] = host_context(cpus)

    names = E2E if not a.trace else LAYERS
    values = res.e2e if not a.trace else res.layers
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
    record = {"context": context, "e2e": res.e2e, "layers": res.layers, "detail": res.detail}
    if a.trace:
        record["spans"] = ctx.tracer.spans
        record["self_time_s"] = ctx.tracer.self_times()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, default=sorted)
    print("# context: " + json.dumps(context), file=sys.stderr)
    print(json.dumps({"correct": bool(res.correct), "attempted": int(res.attempted), "failed": int(res.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
