"""Seeded validation benchmark.

    python3 perfbench/run.py --workload image_increments --seed 1 \
        --seconds 10 --trace 0

Runs from any working directory.  The workload's inputs are generated
from ``--seed`` into a scratch directory (``.perfbench_work/`` at the
checkout root, removed on exit) before any timing; the package sees only
those files.  Set-up (Spark session start plus the workload's own:
the cold schema compile, or committing the base increment) is timed on
its own.  Then whole passes run until
``--seconds`` have passed; each pass ends with one action that counts
and hashes every column of the violations frame, and the count and key
hash must equal what the generator planted.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes, after one untimed warm-up pass where the
set-up has not already run the pass's code, and
prints the per-layer metrics: each layer's output frame is forced on
its own under its own Spark job group (see ``trace.py``); the spans
are written to
``.perfbench_work/spans/<workload>-seed<seed>.json`` when the run ends.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Details (pass
walls, set-up parts, planted violation counts) go to standard error.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "python_extended_json_schema_validator_spark"
WORKLOADS = ("json_documents", "image_increments")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _env(work: str) -> None:
    """Spark's Python workers import the package by path, and every
    temporary file goes under the run's scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: temp files under
    # ``work`` and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _timed_pass(wl, expected, first_full, tr=None):
    """One pass → (wall seconds, ok, full hash)."""
    t0 = time.perf_counter()
    try:
        n, hk, hf = wl.run_pass(tr)
    except Exception as e:  # noqa: BLE001 - a failed pass is counted
        log(f"pass raised {type(e).__name__}: {e}")
        return time.perf_counter() - t0, False, None
    wall = time.perf_counter() - t0
    ok = (n, hk) == (expected["count"], expected["hash"])
    if first_full is not None and hf != first_full:
        ok = False
    if not ok:
        log(f"pass mismatch: got count={n} hash={hk}, expected "
            f"count={expected['count']} hash={expected['hash']}")
    return wall, ok, hf


def run(args, work: str) -> dict:
    from perfbench import common

    wl_mod = importlib.import_module(f"perfbench.workloads.{args.workload}")
    cores = common.cpu_count()
    conf = common.session_conf(work, cores)

    t0 = time.perf_counter()
    spark = common.start_session(conf)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        inputs = os.path.join(work, "input")
        meta = wl_mod.generate(inputs, args.seed, spark)
        gen_s = time.perf_counter() - t0
        log(f"generated {args.workload} seed={args.seed} in {gen_s:.2f}s: "
            f"{meta['count']} planted violations, {meta['input_rows']} rows")

        common.reset_peak_memory(spark)
        wl = wl_mod.Workload(spark, inputs, meta)
        setup_parts = wl.setup()
        t0 = time.perf_counter()
        full = None
        # traced and untraced passes are compared warm: a workload whose
        # set-up does not run the pass's code gets one untimed pass first
        if args.trace and not wl.SETUP_WARMS:
            _wall, ok, full = _timed_pass(wl, meta, full)
            if not ok:
                raise RuntimeError("warm-up pass failed its correctness gate")
        warm_s = time.perf_counter() - t0
        setup_s = session_s + sum(setup_parts.values()) + warm_s
        log(f"setup: session={session_s:.2f}s parts={setup_parts} "
            f"warmup={warm_s:.2f}s")

        tr = None
        if args.trace:
            from perfbench import layers
            from perfbench.trace import Tracer

            tr = Tracer(spark)
        walls, traced, samples, failed = [], [], [], 0
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            use_trace = tr is not None and i % 2 == 1
            if use_trace:
                tr.begin_pass(i)
            wall, ok, _ = _timed_pass(wl, meta, full, tr if use_trace else None)
            failed += not ok
            (traced if use_trace else walls).append(wall)
            if use_trace:
                samples.append(layers.collect(tr, wl, cores, wall))
            i += 1
            if time.perf_counter() >= deadline and (tr is None or traced):
                break
        attempted = len(walls) + len(traced)
        pass_s = statistics.median(walls)
        log(f"passes: {['%.3f' % w for w in walls]} traced: "
            f"{['%.3f' % w for w in traced]}")

        if not args.trace:
            metrics = {
                "pass_s": (pass_s, "s"),
                "rows_per_s": (meta["input_rows"] / pass_s, "rows/s"),
                "setup_s": (setup_s, "s"),
                "driver_peak_mb": (common.peak_memory_mb(spark), "MiB"),
            }
        else:
            metrics = layers.summarize(
                samples, setup_parts, statistics.median(traced) / pass_s
            )
            spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tr.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"package {PACKAGE} not found under {ROOT}; run from a full checkout")
        return 2
    # a terminated run still removes its scratch directory and stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _env(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
