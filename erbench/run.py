#!/usr/bin/env python3
"""Entity-resolution benchmark.

    python3 erbench/run.py --workload er_wide_vocab --seed 1 --seconds 20 --trace 0

Runs one workload in its own ``local[nproc]`` Spark session, builds its
inputs with planted truth from ``--seed``, runs WARMUP untimed units,
then runs units in a closed loop for ``--seconds`` seconds (at least
one unit).  Every unit's output is checked after the timed window.
The last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics from a separately traced run with
``--trace 1``.  Metric definitions are in ``BENCHMARK.json``.

Everything the run writes stays under ``.bench_build/erbench`` in the
checkout.  Exits non-zero without a result if the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "erbench")

# untimed units, the cold first one included: the first unit takes about
# twice as long as a warm one and the second still about 10% longer than
# the third (code generation, JIT); a third would add ~8 s to every run
WARMUP = 2
TRACED_UNITS = 2


def _env(work: str) -> None:
    """Keep every file the JVM, Spark and Python workers write inside
    the checkout, and let the workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _session(work: str):
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("erbench")
        # the repository's bench.py session settings
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        # G1 sizes the heap to GC timing, which leaves the JVM's peak RSS
        # varying by a quarter between identical runs; the parallel
        # collector's fixed generations keep it within a few percent
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


def _code_version() -> str:
    """Digest of the engine's and the benchmark's Python sources."""
    digest = hashlib.sha1()
    for top in (HERE, os.path.join(ROOT, "rosette_elasticsearch_plugin_spark")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest.update(fh.read())
    return digest.hexdigest()[:12]


def _check_repeat(counts: dict, wl, seed: int) -> str:
    """Per-layer counts must repeat exactly across runs of the same code
    with one seed: the first traced run of a code version, seed and size
    records them, later ones compare."""
    size = "-".join(str(v) for v in dataclasses.astuple(wl.size))
    path = os.path.join(BUILD, "counts",
                        f"{wl.name}-{size}-seed{seed}-{_code_version()}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if os.path.exists(path):
        with open(path) as fh:
            before = json.load(fh)
        diff = sorted(k for k in counts if before.get(k) != counts[k])
        return f"counts differ from an earlier run: {diff}" if diff else ""
    with open(path, "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)
    return ""


def run(workload: str, seed: int, seconds: float, trace: bool,
        size=None) -> dict:
    """One benchmark run; returns the result object."""
    from measure import PeakRss, stop_spark
    from workloads import WORKLOADS

    work = os.path.join(BUILD, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    errors: list[str] = []
    try:
        with PeakRss() as rss:
            spark, session_s = _timed(_session, work)
            try:
                cls = WORKLOADS[workload]
                wl = cls(spark, work, seed) if size is None else cls(
                    spark, work, seed, size)
                input_s = _timed(wl.build_inputs)[1]
                state_s = _timed(wl.build_state)[1]
                # only the cold first unit counts towards setup_s; the
                # traced run repeats its input
                keys = wl.keys()
                warm = [_timed(wl.unit, next(keys)) for _ in range(WARMUP)]
                twin = warm[0][0]
                timed, times = [], []
                start = time.perf_counter()
                raised = 0
                while (time.perf_counter() - start < seconds
                       or not (times or raised)):
                    try:
                        u, t = _timed(wl.unit, next(keys))
                    except Exception:  # noqa: BLE001 - a failed unit is counted
                        traceback.print_exc()
                        raised += 1
                        continue
                    timed.append(u)
                    times.append(t)
                check_start = time.perf_counter()
                checks = [wl.check(u) for u in timed]
                errors += [c.reason for c in checks if not c.ok]
                final = wl.final_check(timed[-1])
                check_s = time.perf_counter() - check_start
                if final:
                    errors.append(final)
                    checks[-1].ok = False
                print(f"setup: session {session_s:.2f}s, inputs "
                      f"{input_s:.2f}s, state {state_s:.2f}s, "
                      f"warm-up {[round(t, 2) for _u, t in warm]}; units "
                      f"{[round(t, 2) for t in times]}; checks {check_s:.2f}s",
                      file=sys.stderr)
                attempted = len(times) + raised
                failed = raised + sum(not c.ok for c in checks)
                p50 = median(times)
                result = {
                    "correct": not errors,
                    "attempted": attempted,
                    "failed": failed,
                }
                if trace:
                    result["metrics"] = _traced(
                        spark, wl, twin, p50, seed, errors)
                    result["correct"] = not errors
                else:
                    result["metrics"] = {
                        "setup_s": (session_s + input_s + state_s + warm[0][1],
                                    "s"),
                        "unit_s_p50": (p50, "s"),
                        "docs_per_s": (wl.docs_per_unit / p50, "docs/s"),
                        "names_per_s": (
                            median([c.names for c in checks]) / p50, "names/s"),
                        "pairwise_f1": (median([c.f1 for c in checks]), "ratio"),
                        "success_rate": (
                            (attempted - failed) / attempted, "ratio"),
                    }
            finally:
                stop_spark(spark)
        if not trace:
            result["metrics"]["peak_rss_mb"] = (rss.peak_mb, "MB")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    result["metrics"] = {
        k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()
    }
    return result


def _traced(spark, wl, twin, p50, seed, errors) -> dict:
    """Trace TRACED_UNITS units on the input of the untraced unit
    ``twin``; each output must equal the twin's and every count must
    repeat.  Returns the per-layer metrics, medians over traced units."""
    from tracing import (COUNT_METRICS, METRIC_UNITS, Tracer, instrument,
                         median_metrics)

    tracer, per_unit, times = Tracer(spark), [], []
    want = wl.check(twin).fingerprint
    for i in range(TRACED_UNITS):
        tracer.unit = i
        with instrument(tracer), tracer.span("unit"):
            u, t = _timed(wl.unit, twin.key)
        times.append(t)
        per_unit.append(tracer.unit_metrics(i))
        got = wl.check(u)
        if not got.ok or got.fingerprint != want:
            errors.append(f"traced unit {i} output differs from untraced")
    counts = [{k: m[k] for k in COUNT_METRICS} for m in per_unit]
    if any(c != counts[0] for c in counts):
        errors.append("per-layer counts differ between identical units")
    err = _check_repeat(counts[0], wl, seed)
    if err:
        errors.append(err)
    metrics = median_metrics(per_unit)
    metrics["trace.overhead_ratio"] = median(times) / p50
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    tracer.write(os.path.join(BUILD, "traces", f"{wl.name}-seed{seed}.json"))
    return {k: (v, METRIC_UNITS[k]) for k, v in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import rosette_elasticsearch_plugin_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # turn SIGTERM into SystemExit so the session and its JVM are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
