"""Run sets of benchmark runs and compare each metric's spread with its
bound from BENCHMARK.json.

    python3 perfbench/spread.py --seeds 10 --sets 2
    python3 perfbench/spread.py --workloads orders_pipeline --seeds 5 --sets 1 --traced

For every workload, each set runs ``perfbench/run.py`` once per seed
(``--seed-base``, ``--seed-base + 1``, ...; a later set continues the
numbering, so no two runs share a seed). For every end-to-end metric it
prints each set's median and its spread, the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, and the change of the median from the first set. A
spread over its bound (``setup_s`` is exempt) or a median worse by more
than the bound is flagged ``FAIL``, as is a failed-operation share that
differs between sets. ``--traced`` adds one traced run per seed of the
first set and prints the tracing overhead: the traced median round time
minus the untraced one.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workloads", nargs="+", default=names, choices=names)
    p.add_argument("--seeds", type=int, default=10, help="runs per workload per set")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seed-base", type=int, default=1)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for workload in args.workloads:
        sets: list[list[dict]] = []
        walls: list[float] = []
        seed = args.seed_base
        for _ in range(args.sets):
            results = []
            for _ in range(args.seeds):
                result, wall = run_once(workload, seed, seconds, 0)
                results.append(result)
                walls.append(wall)
                seed += 1
            sets.append(results)
        print(f"\n{workload}: {args.sets} set(s) x {args.seeds} runs, "
              f"wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        shares = [sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets]
        shares_ok = len(set(
            tuple(sorted({r["failed"] / r["attempted"] for r in s})) for s in sets
        )) == 1
        print(f"  failed share per set: {shares} {'ok' if shares_ok else 'FAIL'}"
              f"; all correct: {all(r['correct'] for s in sets for r in s)}")
        ok &= shares_ok
        for name, spec in bounds.items():
            meds, cells = [], []
            for s in sets:
                values = [r["metrics"][name]["value"] for r in s]
                med = statistics.median(values)
                sp = spread(values) if len(values) > 1 else 0.0
                meds.append(med)
                flag = "" if name == "setup_s" or sp <= spec["bound"] else " FAIL"
                ok &= not flag
                cells.append(f"median {med:.4g} spread {sp:.3f}{flag}")
            worse = 0.0
            if len(meds) > 1:
                change = (meds[-1] - meds[0]) / meds[0]
                worse = change if spec["better"] == "lower" else -change
            flag = " FAIL" if worse > spec["bound"] else ""
            ok &= not flag
            print(f"  {name:16s} bound {spec['bound']:.2f} | " + " | ".join(cells)
                  + (f" | worse by {worse:+.3f}{flag}" if len(meds) > 1 else ""))
            for s in sets:
                print("      " + " ".join(f"{r['metrics'][name]['value']:.4g}" for r in s))
        if args.traced:
            traced = [run_once(workload, args.seed_base + i, seconds, 1)[0] for i in range(args.seeds)]
            traced_round = statistics.median(r["metrics"]["trace.round_s"]["value"] for r in traced)
            plain_round = statistics.median(r["metrics"]["round_s"]["value"] for r in sets[0])
            print(f"  tracing overhead: round {traced_round:.3f} s traced vs {plain_round:.3f} s "
                  f"untraced ({(traced_round - plain_round) / plain_round:+.1%})")
    print("\nall within bounds" if ok else "\nsome metric is outside its bound")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
