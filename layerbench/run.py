"""Benchmark entry point.

    python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Makes the workload's inputs from the
seed, sets the session up several times, warms up (the query workloads
check every query against its DuckDB oracle here), then runs units of the
workload in a closed loop for about ``--seconds``. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced units and reports the per-layer metrics; it also
prints each traced unit's self time per layer and writes every span to
``layerbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, CHECKOUT)

WORKLOADS = ("fraud_ingest", "query_mix")
SETUP_REPEATS = 5  # the first also launches the JVM; setup_s is their median


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for selfcheck.py")
    return p.parse_args(argv)


def _phase(name: str, t0: list[float]) -> None:
    """Phase timings on stderr, a diagnostic of where a run's wall time goes."""
    now = time.perf_counter()
    print(f"layerbench: phase {name} {now - t0[0]:.2f}s", file=sys.stderr)
    t0[0] = now


def main(argv=None) -> int:
    args = parse_args(argv)
    clock = [time.perf_counter()]
    try:  # the program under test must be importable from the checkout
        import fraud_detection_etl_project_spark  # noqa: F401
        import tools.check_queries  # noqa: F401
    except ImportError as e:
        print(f"layerbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    # tools.check_queries puts a fixed repository path first on sys.path;
    # the benchmark's own modules must still come from this checkout
    sys.path.insert(0, CHECKOUT)

    from layerbench import harness, inputs, workloads
    from layerbench.tracing import NullTracer, Tracer

    rd = harness.run_dir()
    harness.make_hermetic(rd)
    try:
        wl = workloads.make(args.workload, args.seed, os.path.join(rd, "data"), args.tiny)
        inputs.prune_cache(harness.INPUT_CACHE, keep=6)
        tracer = NullTracer()
        if args.trace:
            from layerbench.layers import pyworker_cpu

            tracer = Tracer(sample=pyworker_cpu)
        _phase("inputs", clock)
        spark, setups = _setups(rd, wl, tracer)
        _phase("setup", clock)
        wl.warm(spark)
        _phase("warm+check", clock)
        if args.trace:
            from layerbench import layers

            metrics = layers.traced_run(spark, wl, tracer, args.seconds)
            os.makedirs(os.path.join(harness.WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(harness.WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            _untraced_run(spark, wl, args.seconds)
            metrics = workloads.e2e_metrics(wl, statistics.median(setups))
        _phase("measure", clock)
        wl.finish(spark)
        _phase("check", clock)
        failed = len(wl.failures)
        for f in wl.failures:
            print(f"layerbench: FAILED {f}", file=sys.stderr)
        result = {
            "correct": failed == 0 and all(math.isfinite(v) for v, _ in metrics.values()),
            "attempted": wl.attempted + sum(len(v) for v in wl.ops.values()),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        harness.shutdown(rd)
        _phase("shutdown", clock)
    print(json.dumps(result))
    return 0


def _setups(rd: str, wl, tracer):
    """Start the session SETUP_REPEATS times; returns the session and the
    wall seconds of each set-up (session start plus ``wl.prepare``)."""
    from layerbench import harness

    times = []
    spark = None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        tracer.unit = -1 - i  # set-up spans get negative unit ids
        t0 = time.perf_counter()
        with tracer.span("setup"):
            with tracer.span("session.get_spark"):
                spark = harness.start_session(rd)
            with tracer.span("workload.prepare"):
                wl.prepare(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def _untraced_run(spark, wl, seconds: float) -> None:
    """Closed loop: start another unit while at least half of the last
    unit's time is left."""
    from layerbench.tracing import NullTracer

    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        wl.unit(spark, NullTracer())
        spark.catalog.clearCache()
        last = time.perf_counter() - t0
        if time.perf_counter() + last / 2 > t_end:
            break


if __name__ == "__main__":
    sys.exit(main())
