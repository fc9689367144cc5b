"""Steadiness self-check: two sets of benchmark runs of the same code.

    python3 perfbench/steady.py --runs 10 [--workloads a,b]

Runs `perfbench/run.py` `--runs` times per workload and set, each run with
its own seed (set A: 1..runs, set B: 1001..1000+runs); round i runs every
workload once per set, so host drift spreads over sets and workloads.  For
every end-to-end metric x workload it prints each set's median and
quartiles, the spread (q3 - q1) / median, and the change of set B's median
against set A's, next to the metric's bound from BENCHMARK.json.  A spread
above the bound, or a median change beyond it, is marked FAIL.  Every run's
result line and progress lines (pass times, reference-job times, sample
counts) are kept in .perfbench_out/steady.jsonl.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run: its result line, wall time and progress lines."""
    cmd = [sys.executable, str(BENCH_DIR / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    took = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return {
        "run_s": took,
        "result": json.loads(proc.stdout.strip().splitlines()[-1]),
        "progress": [l for l in proc.stderr.splitlines() if l.startswith("[perfbench]")],
    }


def summary(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    log = (out_dir / "steady.jsonl").open("a")
    ok = True
    workloads = a.workloads.split(",")
    values: dict[str, dict[str, list[list[float]]]] = {w: {} for w in workloads}
    for i in range(a.runs):
        for workload in workloads:
            for s in range(2):
                seed = 1 + i + 1000 * s
                run = run_once(workload, seed, spec["run_seconds"])
                log.write(json.dumps({"workload": workload, "set": s, "seed": seed, **run}) + "\n")
                log.flush()
                res = run["result"]
                print(f"{workload} set {'AB'[s]} seed {seed}: {run['run_s']:.1f} s, "
                      f"correct={res['correct']} failed={res['failed']}/{res['attempted']}", flush=True)
                ok &= res["correct"]
                for name, m in res["metrics"].items():
                    values[workload].setdefault(name, [[], []])[s].append(m["value"])
    for workload in workloads:
        for name, sets in values[workload].items():
            bound = bounds[name]
            line = f"{workload:18s} {name:12s} bound {bound:.2f}"
            meds = []
            for s, vals in enumerate(sets):
                med, q1, q3 = summary(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                bad = spread > bound
                ok &= not bad
                line += f" | {'AB'[s]} median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f}{' FAIL' if bad else ''}"
            change = (meds[1] - meds[0]) / meds[0]
            bad = abs(change) > bound
            ok &= not bad
            line += f" | B vs A {change:+.3f}{' FAIL' if bad else ''}"
            print(line, flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
