"""Spread tool: how steady is each end-to-end metric?

    python3 layerbench/spread.py [--workloads a,b] [--seeds 1,2,3,4,5] [--repeat 1]
                                 [--seconds N] [--out FILE]

Runs ``layerbench/run.py`` once per (workload, seed, repeat), one process
after another, and prints for each end-to-end metric its median and its
quartile spread (IQR / median, as ``statistics.quantiles(n=4)`` gives the
quartiles) beside the metric's bound from ``BENCHMARK.json``.

Across-seed spread comes from the first repeat of every seed; within-seed
spread from the repeats of each seed (reported when ``--repeat`` > 1, as
the median over seeds). Before each run it times a fixed pure-Python loop
and prints it: a diagnostic of host speed, not a metric, so a noisy
verdict can be traced to the host drifting or to the program; it also
prints the kernel's CPU pressure (``/proc/pressure/cpu``) when there is one.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)


def host_loop_s() -> float:
    """Median of three timings of a 2M-iteration pure-Python loop."""
    xs = []
    for _ in range(3):
        t0 = time.perf_counter()
        s = 0
        for i in range(2_000_000):
            s += i
        xs.append(time.perf_counter() - t0)
    return statistics.median(xs)


def cpu_pressure() -> str:
    """The host's CPU pressure (share of time some task waited for a CPU,
    10 s and 60 s averages) where the kernel reports it: more drift evidence."""
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
    except OSError:
        return "n/a"
    return f"{some[1][6:]}%/{some[2][6:]}%"


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("layerbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1,2,3,4,5")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", help="also write every run's result here as JSON")
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for wl in args.workloads.split(","):
        for seed in seeds:
            for r in range(args.repeat):
                host, psi = host_loop_s(), cpu_pressure()
                t0 = time.perf_counter()
                res = run_once(wl, seed, args.seconds)
                wall = time.perf_counter() - t0
                runs.append({"workload": wl, "seed": seed, "repeat": r, "host_loop_s": host,
                             "cpu_pressure": psi, "wall_s": wall, "result": res})
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"{wl} seed={seed} rep={r} host_loop={host:.3f}s cpu_pressure={psi} wall={wall:.1f}s "
                      f"correct={res['correct']} failed={res['failed']} {vals}", flush=True)
        _report(wl, [x for x in runs if x["workload"] == wl], bounds)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0 if all(x["result"]["correct"] for x in runs) else 1


def _report(wl: str, runs: list[dict], bounds: dict[str, float]) -> None:
    hosts = [x["host_loop_s"] for x in runs]
    print(f"\n== {wl}: {len(runs)} runs; host loop median {statistics.median(hosts):.3f}s "
          f"spread {spread(hosts):.3f}")
    print(f"{'metric':32s} {'median':>10s} {'across-seed':>12s} {'within-seed':>12s} {'bound':>6s}  verdict")
    for m in runs[0]["result"]["metrics"]:
        first = [x["result"]["metrics"][m]["value"] for x in runs if x["repeat"] == 0]
        by_seed: dict[int, list[float]] = {}
        for x in runs:
            by_seed.setdefault(x["seed"], []).append(x["result"]["metrics"][m]["value"])
        within = [spread(v) for v in by_seed.values() if len(v) > 1]
        w = statistics.median(within) if within else float("nan")
        a = spread(first)
        b = bounds.get(m)
        known = [x for x in (a, w) if not math.isnan(x)]
        worst = max(known) if known else float("nan")
        if b is None or m == "setup_s":
            verdict = "-"
        elif worst < b / 3:
            verdict = "steady (< bound/3)"
        elif worst < b:
            verdict = "within bound"
        else:
            verdict = "TOO NOISY"
        print(f"{m:32s} {statistics.median(first):10.4g} {a:12.3f} {w:12.3f} "
              f"{b if b is not None else float('nan'):6.2f}  {verdict}")
    print()


if __name__ == "__main__":
    sys.exit(main())
