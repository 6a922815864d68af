#!/usr/bin/env python3
"""End-to-end benchmark of the public ingest, query and operator APIs.

    python3 perfbench/run.py --workload ingest_read --seed 1 --seconds 30 --trace 0

Runs one workload in process on ``local[<cores>]`` from one Python
client, checks every output against a reference built from the seeded
inputs, and prints one JSON result as the last line of standard output:
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it
(``perfbench-info {...}``) records the host, versions, seed, sample
counts and per-request percentiles.

Each run also leaves ``.perfbench/results/<workload>-s<seed>-t<trace>-<n>.json``
(and, traced, the spans as ``...spans.jsonl``) for ``perfbench/compare.py``.
Scratch state (warehouse, Spark local dirs, temp files) lives in
``.perfbench/work-<pid>`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
# The first iteration in a fresh JVM pays code generation and class
# loading, about as much again as its own work; later iterations keep
# getting a few percent faster each while the JIT compiles.
WARMUP_ITERATIONS = 1
# The JVM heap is capped well below the host's memory: the workloads hold
# at most a few tens of MB of data.
DRIVER_MEM = "2g"


def configure_env(work: str) -> None:
    """Run hygiene, applied before the JVM starts: all cores, a private
    warehouse and Spark local dirs, temp files inside the run's work dir,
    and the repo on the Python workers' path (``mapInPandas`` decoders
    import the package in the workers)."""
    tmp = os.path.join(work, "tmp")
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    for var in ("SPARK_MASTER", "MASTER"):
        os.environ.pop(var, None)


# A traced run measures at least these iterations, traced (True) or not,
# and repeats the pattern; its ABBA order cancels a steady warm-up drift in
# the overhead, the difference of the two kinds' median iteration times.
TRACE_PATTERN = (True, False, False, True)


def is_traced(trace: int, i: int) -> bool:
    return bool(trace) and TRACE_PATTERN[i % len(TRACE_PATTERN)]


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    k = len(xs) - 11
    if k < 0:
        return None
    return {"pct": round(100.0 * (k + 1) / len(xs), 1), "value": xs[k], "n": len(xs)}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run(args, spec: dict, spark, phases: dict) -> tuple[dict, dict, object]:
    from perfbench.doc_pipeline import DocPipeline
    from perfbench.ingest_read import IngestRead
    from perfbench.trace import JobGroupProbe, Tracer

    workloads = {w.name: w for w in (IngestRead, DocPipeline)}
    jvm = spark.sparkContext._gateway.proc
    tracer = Tracer(bool(args.trace))
    probe = JobGroupProbe(spark, bool(args.trace))
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    wl = workloads[args.workload](
        spark, args.seed, tracer, probe, os.environ["SPARK_GRAFT_WAREHOUSE"]
    )
    phase("inputs")
    try:
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        phase("setup")
        if args.trace and hasattr(wl, "install_wrappers"):
            wl.install_wrappers()
        for _ in range(WARMUP_ITERATIONS):
            wl.step(traced=False)
        phase("warmup")
        iters = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < args.seconds or (
            args.trace and len(iters) < len(TRACE_PATTERN)
        ):
            iters.append(wl.step(traced=is_traced(args.trace, len(iters))))
        wall_s = time.perf_counter() - t_start
        phase("measure")
        fin = wl.finish()
        layers = wl.layer_metrics(fin) if args.trace else {}
        # peak RSS of the JVM follows the garbage collector's heap sizing,
        # which varies from run to run by a quarter: reported, not gated
        layers["jvm.peak_rss_mb"] = vm_hwm_mb(jvm.pid)
        phase("finish")
    finally:
        if hasattr(wl, "remove_wrappers"):
            wl.remove_wrappers()
    calls = [c for it in iters for c in it["calls"]]
    failed = [c for c in calls if not c["ok"]]
    for c in failed:
        print(f"perfbench: {c['kind']} failed: {c.get('error', 'wrong output')}",
              file=sys.stderr)
    items = sum(it["items"] for it in iters)
    busy_s = sum(it["busy_ms"] for it in iters) / 1000.0
    e2e = {
        "setup_s": statistics.median(setups),
        "iter_p50_ms": statistics.median(it["ms"] for it in iters),
        "items_per_s": items / busy_s,
        "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    by_kind: dict[str, list[float]] = {}
    for c in calls:
        by_kind.setdefault(c["kind"], []).append(c["ms"])
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host_cores": os.cpu_count(),
        "cores_used": int(os.environ["SPARK_GRAFT_CPUS"]),
        "pyspark": __import__("pyspark").__version__,
        "python": platform.python_version(),
        "phase_s": phases,
        "setup_s_each": setups,
        "iterations": len(iters),
        "iter_ms": [it["ms"] for it in iters],
        "measured_s": wall_s,
        wl.unit_items + "_per_s": e2e["items_per_s"],
        "failed_frac": len(failed) / max(len(calls), 1),
        "requests": {
            k: {"n": len(v), "p50_ms": statistics.median(v), "tail_ms": tail(v)}
            for k, v in by_kind.items()
        },
        "jvm_peak_rss_mb": layers["jvm.peak_rss_mb"],
        **fin,
    }
    if args.trace:
        traced = [it["ms"] for i, it in enumerate(iters) if is_traced(1, i)]
        plain = [it["ms"] for i, it in enumerate(iters) if not is_traced(1, i)]
        layers["trace.overhead_ms"] = statistics.median(traced) - statistics.median(plain)
        info["trace_overhead_ms"] = layers["trace.overhead_ms"]
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    result = {
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, info, tracer


def stop(spark, jvm) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit; the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if jvm.stdin and not jvm.stdin.closed:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    try:
        import victoriametrics_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package to measure is missing: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    results = os.path.join(base, "results")
    phases = {"import": time.perf_counter() - t0}
    configure_env(work)
    os.makedirs(results, exist_ok=True)
    from victoriametrics_spark.session import get_spark

    t0 = time.perf_counter()
    try:
        spark = get_spark("perfbench")
    except Exception:
        shutil.rmtree(work, ignore_errors=True)
        raise
    phases["spark_start"] = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        spark.sparkContext.setLogLevel("ERROR")
        result, info, tracer = run(args, spec, spark, phases)
        stem = os.path.join(
            results, f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}"
        )
        with open(stem + ".json", "w") as f:
            json.dump({"info": info, "result": result}, f)
        if args.trace:
            tracer.write(stem + ".spans.jsonl")
    finally:
        t0 = time.perf_counter()
        stop(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0
    print("perfbench-info " + json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
