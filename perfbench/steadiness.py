"""Run the benchmark on several seeds and summarise its run-to-run spread.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out perfbench/results/set1.json
    python3 perfbench/steadiness.py --compare perfbench/results/set1.json perfbench/results/set2.json

For each workload and end-to-end metric the first form records every value,
the median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread, which is the interquartile distance as a share of the median. The
second form checks two sets against the bounds in BENCHMARK.json: every
spread within its metric's bound, ``setup_s``'s included, and no median of
the second set worse than the first's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "values": values,
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / statistics.median(values),
    }


def run_set(runs: int, first_seed: int, workloads: list[str]) -> dict:
    out: dict = {"runs": runs, "first_seed": first_seed, "workloads": {}}
    for w in workloads:
        per_metric: dict[str, list[float]] = {}
        results = []
        for seed in range(first_seed, first_seed + runs):
            t0 = time.time()
            proc = subprocess.run(
                [*BENCH["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(BENCH["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{w} seed {seed} exited with {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            results.append(
                {"seed": seed, "wall_s": time.time() - t0,
                 **{k: res[k] for k in ("correct", "attempted", "failed")}}
            )
            for name, m in res["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
            print(w, seed, {k: round(v[-1], 4) for k, v in per_metric.items()}, flush=True)
        out["workloads"][w] = {
            "checks": results,
            "metrics": {n: summarise(v) for n, v in per_metric.items()},
        }
    return out


def compare(a: dict, b: dict) -> list[str]:
    """Violations of the BENCHMARK.json bounds between two sets."""
    bad = []
    for m in BENCH["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        for w in BENCH["workloads"]:
            sa = a["workloads"][w["name"]]["metrics"][name]
            sb = b["workloads"][w["name"]]["metrics"][name]
            for s in (sa, sb):
                if s["spread"] > bound:
                    bad.append(f"{w['name']}/{name}: spread {s['spread']:.4f} > {bound}")
            worse = (sb["median"] / sa["median"] - 1) if lower else (1 - sb["median"] / sa["median"])
            if worse > bound:
                bad.append(f"{w['name']}/{name}: second median worse by {worse:.4f} > {bound}")
    return bad


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workload", action="append")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    if args.compare:
        a, b = (json.load(open(f)) for f in args.compare)
        bad = compare(a, b)
        print("\n".join(bad) or "both sets within every bound")
        return 1 if bad else 0
    workloads = args.workload or [w["name"] for w in BENCH["workloads"]]
    result = run_set(args.runs, args.first_seed, workloads)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    for w, r in result["workloads"].items():
        for name, s in r["metrics"].items():
            print(f"{w} {name}: median {s['median']:.4f} spread {s['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
