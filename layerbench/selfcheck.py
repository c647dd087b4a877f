"""Tiny-scale self-check of the benchmark.

    python3 layerbench/selfcheck.py

Runs every workload of BENCHMARK.json untraced and traced at tiny input
sizes (``run.py --tiny``) and asserts, for each run, that:

- the last line of output is the result object, with no failed operation;
- every declared metric (end-to-end untraced, per-layer traced) is printed
  with its declared unit as a finite number;
- the repository's ``git status`` is the same afterwards as before (every
  file the run writes stays under the ignored work directory).

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)


def git_status() -> str | None:
    try:
        p = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                           cwd=CHECKOUT, capture_output=True, text=True, timeout=60)
    except FileNotFoundError:
        return None
    return p.stdout if p.returncode == 0 else None


def check_run(workload: str, trace: int, declared: dict[str, str]) -> list[str]:
    cmd = [sys.executable, os.path.join("layerbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"exit code {p.returncode}: {p.stderr[-1500:]}"]
    res = json.loads(lines[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errs.append(f"correct={res.get('correct')} failed={res.get('failed')} attempted={res.get('attempted')}")
    got = res.get("metrics", {})
    if set(got) != set(declared):
        errs.append(f"metrics missing {sorted(set(declared) - set(got))} extra {sorted(set(got) - set(declared))}")
    for name, unit in declared.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errs.append(f"{name}: unit {m.get('unit')!r}, declared {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{name}: value {v!r} is not a finite number")
    return errs


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    before = git_status()
    ok = True
    for w in bench["workloads"]:
        for trace in (0, 1):
            errs = check_run(w["name"], trace, declared[trace])
            ok &= not errs
            print(f"{'ok  ' if not errs else 'FAIL'} {w['name']} trace={trace}", flush=True)
            for e in errs:
                print(f"     {e}")
    after = git_status()
    if before is None:
        print("skip git status check: not a git checkout")
    elif before != after:
        ok = False
        print(f"FAIL git status changed:\n--- before\n{before}--- after\n{after}")
    else:
        print("ok   git status unchanged")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
