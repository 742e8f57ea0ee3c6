"""Benchmark command for the join and tiling paths.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see perfbench/workloads.py) on local[<cores>] from a
single driver process, from the root of a source checkout (or any cwd:
paths are resolved from this file). Set-up starts the session, builds
the seeded inputs and runs one checked warm-up pass; then at least two
timed passes run, and more while another fits in --seconds. Every
operator call is timed from outside the package and its output is
checked against an oracle. With --trace 1 untraced and traced passes
alternate; the traced ones' status-store counters give the per-layer
metrics, and their spans are written to .bench_build/perfbench/traces/.

Human-readable lines go to stdout first; the last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END = {"setup_s": "s", "job_s": "s", "docs_per_s": "1/s"}
ALL_STEPS = ("extract", "join", "join_cells", "s2", "tile_keys", "snapshot", "rasterize", "overview", "warp", "cog")
STEP_COUNTERS = {
    "run_s": "s",
    "driver_only_s": "s",
    "jvm_cpu_s": "s",
    "executor_run_s": "s",
    "python_total_s": "s",
    "python_start_s": "s",
    "python_bytes_sent": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "tasks": "count",
    "task_skew": "ratio",
}
EXTRA_LAYER = {
    "join_cells.verify_rows_in": "count",
    "join_cells.verify_rows_out": "count",
    "join_cells.classifier_python_s": "s",
    "tile_keys.rows_out": "count",
    "warp.pair_rows": "count",
    "cog.compress_python_s": "s",
    "cog.bytes_written": "B",
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "setup.input_s": "s",
    "trace.overhead_s": "s",
    "trace.collect_s": "s",
    "driver.peak_rss_mb": "MB",
}
MIN_PASSES = 2  # timed passes per measurement, whatever --seconds says


def per_layer_units() -> dict[str, str]:
    out = {f"{s}.{k}": u for s in ALL_STEPS for k, u in STEP_COUNTERS.items()}
    out.update(EXTRA_LAYER)
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (self-test only)")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(workdir: str) -> None:
    """Everything the run writes stays under workdir; Python workers
    import the engine from this checkout whatever the cwd."""
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(workdir, "spark-local"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(workdir: str):
    from gdal_spark.session import get_spark

    # sized for the host: the engine's default of 32 shuffle partitions
    # fits local[32]; on 4 cores it would queue 8 tasks per core, each
    # paying Python-worker init
    spark = get_spark(
        "perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=2 * cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident set of the Python driver plus the driver JVM."""
    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def host_control_s(spark) -> float:
    """bench.py's pure-JVM control (sha2 over spark.range: no Python
    workers, no shuffle), so a throttled host window shows in the log."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 500_000, 1, 8).select(F.sum(F.length(F.sha2(F.col("id").cast("string"), 256)))).collect()
    return time.perf_counter() - t0


def run_pass(tracer, wl, spark, inputs, expected, tag):
    """One pass: every step timed in its own span, then checked.
    Returns (step spans, attempted, failed)."""
    steps, cleanup = wl.pass_steps(spark, inputs, expected, tag)
    spans, failed = [], 0
    if tracer.enabled:  # untraced passes may have run since the last span
        tracer.skip_to_now()
    with tracer.span("pass", counters=False) as p:
        p["tag"] = tag
        for step in steps:
            errs = []
            with tracer.span(step.name, parent=p["id"]) as s:
                try:
                    out = step.call()
                except Exception:
                    out = None
                    errs.append(traceback.format_exc(limit=4))
            if not errs:
                try:
                    errs = step.check(out)
                except Exception:
                    errs.append(traceback.format_exc(limit=4))
            if not errs and step.size is not None:
                s[step.size_name] = float(step.size(out))
            if errs:
                failed += 1
                s["errors"] = errs
                print(f"[{wl.name}] {tag} {step.name} FAILED: {errs}", file=sys.stderr)
            spans.append(s)
    cleanup()
    return spans, len(steps), failed


def layer_values(spans: list[dict]) -> dict[str, float]:
    """Per-layer counters of one pass's step spans."""
    out = {}
    for s in spans:
        nodes = s.get("nodes", [])
        pre = s["name"]
        out[f"{pre}.run_s"] = s["wall_s"]
        for k in ("driver_only_s", "jvm_cpu_s", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "tasks", "task_skew"):
            out[f"{pre}.{k}"] = float(s.get(k, 0.0))
        py = [n for n in nodes if "python_total_ms" in n]
        out[f"{pre}.python_total_s"] = sum(n["python_total_ms"] for n in py) / 1e3
        out[f"{pre}.python_start_s"] = sum(n.get("python_boot_ms", 0) + n.get("python_init_ms", 0) for n in py) / 1e3
        out[f"{pre}.python_bytes_sent"] = sum(n.get("python_bytes_sent", 0) for n in py)
        out["trace.collect_s"] = out.get("trace.collect_s", 0.0) + s.get("collect_s", 0.0)
        for key in ("rows_out", "bytes_written"):
            if key in s:
                out[f"{pre}.{key}"] = s[key]
        if pre == "join_cells":
            verify = [n for n in py if "_verify" in n["desc"]]
            out["join_cells.verify_rows_in"] = sum(n.get("rows_in", 0) for n in verify)
            out["join_cells.verify_rows_out"] = sum(n.get("rows_out", 0) for n in verify)
            out["join_cells.classifier_python_s"] = sum(n["python_total_ms"] for n in py if "_cells" in n["desc"]) / 1e3
        if pre == "warp" and py:
            out["warp.pair_rows"] = max(py, key=lambda n: n["python_total_ms"]).get("rows_in", 0)
        if pre == "cog":
            out["cog.compress_python_s"] = sum(n["python_total_ms"] for n in py if "_prep" in n["desc"]) / 1e3
    return out


def median_of(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def measure(tracers, wl, spark, inputs, expected, seconds):
    """Rounds of one pass per tracer, so untraced and traced passes
    alternate and see the same warm-up; every other round runs them in
    reverse order, so neither always goes first. At least MIN_PASSES
    rounds, then more while another round of the median length still
    fits in `seconds`. Returns per tracer the pass times and layer
    values."""
    job = [[] for _ in tracers]
    layers = [[] for _ in tracers]
    attempted = failed = 0
    t0 = time.perf_counter()
    rounds: list[float] = []
    while len(rounds) < MIN_PASSES or time.perf_counter() - t0 + statistics.median(rounds) <= seconds:
        order = range(len(tracers)) if len(rounds) % 2 == 0 else reversed(range(len(tracers)))
        for k in order:
            spans, a, f = run_pass(tracers[k], wl, spark, inputs, expected, f"{'pt'[k]}{len(rounds)}")
            attempted += a
            failed += f
            job[k].append(sum(s["wall_s"] for s in spans))
            layers[k].append(layer_values(spans))
        rounds.append(sum(j[-1] for j in job))
    return job, layers, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        print(f"perfbench: no gdal_spark package under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    run_id = uuid.uuid4().hex[:12]
    workdir = os.path.join(BENCH_DIR, f"run-{run_id}")
    prepare_environment(workdir)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    wl = wl_cls(args.seed, args.scale, workdir)
    spark = None
    try:
        # -- set-up: session; inputs; a checked warm-up pass that pays
        # JIT, codegen and Python-worker start-up
        t0 = time.perf_counter()
        spark = start_spark(workdir)
        session_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        inputs = wl.make_inputs(spark)
        input_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        expected = wl.expected()
        oracle_s = time.perf_counter() - t0
        control_s = host_control_s(spark)

        t0 = time.perf_counter()
        _, attempted, failed = run_pass(Tracer(spark, run_id, False), wl, spark, inputs, expected, "warmup")
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + input_s + warmup_s

        # -- measurement
        tracers = [Tracer(spark, run_id, False)] + ([Tracer(spark, run_id, True)] if args.trace else [])
        jobs, layer_rows, a, f = measure(tracers, wl, spark, inputs, expected, args.seconds)
        attempted += a
        failed += f
        job, layers = jobs[0], layer_rows[0]
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    job_s = statistics.median(job)
    report = {
        "workload": wl.name, "seed": args.seed, "docs": wl.n, "cores": cores(),
        "passes": len(job), "job_s_passes": [round(v, 4) for v in job],
        "setup": {"session_s": session_s, "warmup_s": warmup_s, "input_s": input_s, "oracle_s": oracle_s},
        "host_control_s": control_s,
        "step_s": {k[: -len(".run_s")]: v for k, v in median_of(layers).items() if k.endswith(".run_s")},
        "failed_frac": failed / attempted,
        "driver_peak_rss_mb": rss,
    }
    if args.trace:
        layer = {k: 0.0 for k in per_layer_units()}
        t_job = jobs[1]
        layer.update(median_of(layer_rows[1]))
        layer["setup.session_s"] = session_s
        layer["setup.warmup_s"] = warmup_s
        layer["setup.input_s"] = input_s
        layer["trace.overhead_s"] = statistics.median(t_job) - job_s
        layer["driver.peak_rss_mb"] = rss
        trace_path = os.path.join(BENCH_DIR, "traces", f"{wl.name}-seed{args.seed}-{run_id}.json")
        tracers[1].write(trace_path, {"report": report, "untraced_job_s": job, "traced_job_s": t_job})
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_units().items()}
    else:
        values = {"setup_s": setup_s, "job_s": job_s, "docs_per_s": wl.n / job_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    for k, v in report.items():
        print(f"{k}: {v}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
