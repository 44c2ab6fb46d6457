"""Benchmark of record for agentic_data_pipeline_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It starts the engine session, loads the
operator registry, generates the workload's inputs from the seed and runs
the workload's timed passes (``round(seconds / nominal pass length)`` of
them, at least one), checking every output outside the timed region (see
workloads.py). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics from the same passes traced.

The full record of every run (provenance, every pass, per-call latencies)
goes to ``.perfbench/results/``; traced runs also write their spans there.
``perfbench/compare.py`` summarises two sets of such records. The exit code
is 0 for a correct run, 1 when an output was wrong or a call failed, and 2
when the package or BENCHMARK.json cannot be found.
"""

import time

T_START = time.perf_counter()  # process start, before any heavy import

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FAILED_LATENCY = 1e9  # a failed call's latency: beyond every tail


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: the mean of the order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density. Unlike a
    single order statistic it moves smoothly when close values swap
    places. A failed call (``inf``) with any weight makes it ``inf``."""
    import numpy as np

    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = (np.arange(200_000) + 0.5) / 200_000
    density = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    w = np.bincount((t * n).astype(int), weights=density, minlength=n)[:n]
    w /= w.sum()
    live = w > 1e-12
    if np.isinf(xs[live]).any():
        return math.inf
    return float(np.dot(w[live], xs[live]))


def _finite(v: float) -> float:
    return FAILED_LATENCY if math.isinf(v) or math.isnan(v) else v


def prepare_environment(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    put the checkout on the Python workers' path (mapInArrow and pandas
    UDF workers import the package by name)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def source_fingerprint() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "agentic_data_pipeline_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


_VOLATILE = re.compile(r"(\.id$|port|host|[dD]ir|startTime|tmpdir|extraJavaOptions|"
                       r"\.name$|submit|\.pyFiles|\.files|\.jars)")


def conf_fingerprint(spark) -> str:
    conf = sorted((k, v) for k, v in spark.sparkContext.getConf().getAll()
                  if not _VOLATILE.search(k))
    conf += sorted((k, spark.conf.get(k)) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.files.openCostInBytes"))
    return hashlib.sha256(json.dumps(conf).encode()).hexdigest()[:16]


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, seconds: float, counters: bool) -> list:
    """The run's timed passes: as many as fit ``seconds`` at the workload's
    nominal pass length, at least one."""
    n = max(1, round(seconds / wl.NOMINAL_PASS_S))
    return [wl.run_pass({} if counters else None) for _ in range(n)]


def end_to_end(passes, setup_s: float) -> dict[str, float]:
    """Latency quantiles over every timed call into the package (a request
    of the interactive loop, an op or pipeline stage of a batch pass)."""
    calls = [v for p in passes for v in p.latencies.values()]
    return {
        "setup_s": setup_s,
        "latency_p50_s": _finite(quantile(calls, 0.5)),
        "latency_p90_s": _finite(quantile(calls, 0.9)),
        "items_per_s": statistics.median(
            p.items / p.wall_s if p.wall_s and not math.isinf(p.wall_s) else 0.0
            for p in passes),
    }


def traced(wl, ctx, seconds: float, setup: dict):
    """Per-layer run: the same passes an untraced run times, traced. The
    tracing overhead is the time spent reading counters for the spans, as a
    share of the rest of the measured time."""
    from layers import Engine

    ctx.tracer.enabled = True
    ctx.engine = Engine(ctx.spark)
    gc0 = ctx.engine.gc_seconds()
    passes = measure(wl, seconds, counters=True)
    out = per_layer(wl, ctx, passes, list(ctx.tracer.spans), setup,
                    ctx.engine.gc_seconds() - gc0, ctx.engine.peak_rss_mb())
    wall = sum(p.wall_s for p in passes)
    out["trace.overhead_frac"] = ctx.trace_cost_s / max(wall - ctx.trace_cost_s, 1e-9)
    wl.traced_extras(out)
    ctx.tracer.enabled = False
    ctx.engine = None
    return passes, out


def per_layer(wl, ctx, traced, spans, setup: dict, gc_s: float,
              rss_mb: float) -> dict[str, float]:
    from layers import self_seconds_by_layer

    out: dict[str, float] = {}
    keys = {k for p in traced for k in p.counters}
    for k in keys:
        out[k] = statistics.median(p.counters.get(k, 0.0) for p in traced)
    cores = ctx.engine.cores
    out["spark.core_busy_frac"] = statistics.median(
        p.counters.get("spark.executor_run_s", 0.0) / (p.wall_s * cores)
        for p in traced)
    n = len(traced)
    for layer, s in self_seconds_by_layer(spans).items():
        out[f"self.{layer}.s"] = s / n
    out["trace.spans_per_pass"] = len(spans) / n
    out["session.start_s"] = setup["session_start_s"]
    out["registry.load_s"] = setup["registry_load_s"]
    out["session.gc_s"] = gc_s / n
    out["session.jvm_peak_rss_mb"] = rss_mb
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    try:
        import agentic_data_pipeline_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the package from {pkg.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(run_dir)
    from layers import Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    load_before = os.getloadavg()
    # Set-up: session up and registry loaded, from process start.
    from agentic_data_pipeline_spark import registry
    from agentic_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    registry._ensure_loaded()
    t2 = time.perf_counter()
    setup = {"setup_s": t2 - T_START, "session_start_s": t1 - t0,
             "registry_load_s": t2 - t1}
    spark.sparkContext.setLogLevel("ERROR")

    try:
        tracer = Tracer(enabled=False)
        ctx = Ctx(spark, run_dir, os.path.join(WORK, "pins"), args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        inputs = wl.prepare()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        if args.trace:
            passes, metrics = traced(wl, ctx, args.seconds, setup)
            wanted = spec["per_layer"]
        else:
            passes = measure(wl, args.seconds, counters=False)
            metrics = end_to_end(passes, setup["setup_s"])
            wanted = spec["end_to_end"]
        t0 = time.perf_counter()
        wl.verify()
        check_s += time.perf_counter() - t0
        provenance = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "cores": spark.sparkContext.defaultParallelism,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "git_sha": git_sha(), "source_fingerprint": source_fingerprint(),
            "spark_version": spark.version, "conf_fingerprint": conf_fingerprint(spark),
            "python": platform.python_version(), "inputs": inputs,
            "gen_s": gen_s, "check_s": check_s, **setup,
        }
    finally:
        stop_spark(spark)

    if args.trace:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tracer.write(os.path.join(
            WORK, "results", f"{args.workload}-s{args.seed}-spans.jsonl"))
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {m["name"]: {"value": _finite(float(metrics.get(m["name"], 0.0))),
                                "unit": m["unit"]} for m in wanted},
    }
    record = {"provenance": provenance, "result": result, "errors": ctx.errors,
              "passes": [{"wall_s": _finite(p.wall_s), "items": p.items,
                          "latencies": {k: _finite(v) for k, v in p.latencies.items()}}
                         for p in passes],
              "all_metrics": {k: _finite(v) for k, v in metrics.items()}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for err in ctx.errors[:20]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
