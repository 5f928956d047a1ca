"""Steadiness check: run workloads over several seeds and report, for every
metric, the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --workloads backfill query_mix --seeds 1-10
    python3 perfbench/steady.py --workloads backfill query_mix --seeds 1-10 --sets 2
    python3 perfbench/steady.py --workloads backfill --seeds 1-3 --trace 1

Run it from the repository root.  Seconds per run are ``run_seconds`` of
BENCHMARK.json; every end-to-end spread is compared with its metric's
bound.  ``--sets 2`` runs every seed twice, alternating the two sets run by
run, and also compares each later set's median with the first's, as a
second set of runs of the same code would be.  With ``--trace 1`` it also
prints the tracing overhead: the traced runs' ``trace.op_p50_s`` against
the untraced ``op_p50_s`` of the same seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=240,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def series(results: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            out.setdefault(name, []).append(m["value"])
    return out


def report(w: str, name: str, vals: list[float], bound: float) -> bool:
    spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
    within = spread <= bound
    print(f"{w:10s} {name:12s} median {median(vals):9.3f}  spread {spread:6.3f}"
          f"  bound {bound:.2f}{'' if within else '  OVER'}  {[round(v, 3) for v in vals]}")
    return within


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1,
                    help="sets of runs over the same seeds, alternated run by run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    seeds = parse_seeds(a.seeds)
    ok = True
    for w in a.workloads:
        runs: list[list[dict]] = [[] for _ in range(a.sets)]
        for s in seeds:
            for k in range(a.sets):
                runs[k].append(run_once(w, s, seconds, 0))
        sets = [series(r) for r in runs]
        walls = [r["wall_s"] for rs in runs for r in rs]
        print(f"{w:10s} wall time per run: median {median(walls):.1f} s, max {max(walls):.1f} s")
        for k, base in enumerate(sets):
            if a.sets > 1:
                print(f"{w:10s} set {k + 1}")
            for name, vals in base.items():
                ok &= report(w, name, vals, bounds[name])
        for k in range(1, a.sets):
            for name in bounds:
                worse = median(sets[k][name]) / median(sets[0][name]) - 1
                within = worse <= bounds[name]
                ok &= within
                print(f"{w:10s} {name:12s} set {k + 1} median vs set 1: {100 * worse:+.1f}%"
                      f"{'' if within else '  OVER'}")
        if a.trace:
            base = sets[0]
            traced = series([run_once(w, s, seconds, 1) for s in seeds])
            over = median(traced["trace.op_p50_s"]) / median(base["op_p50_s"]) - 1
            print(f"{w:10s} tracing overhead on op_p50_s: {100 * over:+.1f}%")
            for name, vals in traced.items():
                print(f"{w:10s} {name:34s} median {median(vals):14.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
