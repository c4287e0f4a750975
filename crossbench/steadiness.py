#!/usr/bin/env python3
"""Run the gated workloads many times and print each end-to-end metric's
median, quartiles and spread ((Q3 − Q1) / median) as Markdown, with
every run's values and wall time. Run from the root of a checkout:

    python3 crossbench/steadiness.py --sets 1-10 11-20 --repeat-seed 1

Each set is a range of seeds; ``--repeat-seed`` adds a set that runs one
seed as many times as the first set has seeds, so run-to-run noise can
be told apart from seed effects. The runs are interleaved: round ``i``
runs the ``i``-th seed of every set on every workload, so drift of the
machine over the runs reaches every set alike. After the tables, the
median of every set is compared with the first set's, as the gate
compares two sets of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: str, trace: int) -> dict:
    t = time.monotonic()
    p = subprocess.run(
        [sys.executable, "crossbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
    vals = {k: v["value"] for k, v in out["metrics"].items()}
    print(f"{workload} seed {seed}: rc={p.returncode} correct={out['correct']} "
          f"wall={wall:.1f}s {json.dumps(vals)}", *lines[:-1], sep="\n  ",
          file=sys.stderr, flush=True)
    if p.returncode != 0:
        print(p.stderr[-3000:], file=sys.stderr, flush=True)
    return {"seed": seed, "wall": wall, "rc": p.returncode,
            "correct": out["correct"], "vals": vals}


def table(title: str, runs: list[dict], names: list[str]) -> list[str]:
    from crossbench.stats import quartile_spread

    out = [f"#### {title}, run wall median "
           f"{statistics.median(r['wall'] for r in runs):.1f} s", "",
           "| metric | Q1 | median | Q3 | spread |", "|---|---|---|---|---|"]
    for name in names:
        xs = [r["vals"][name] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        out.append(f"| {name} | {q1:.4g} | {q2:.4g} | {q3:.4g} | "
                   f"{quartile_spread(xs):.3f} |")
    out += ["", "| seed | correct | wall s | " + " | ".join(names) + " |",
            "|---" * (len(names) + 3) + "|"]
    for r in runs:
        out.append(f"| {r['seed']} | {r['correct']} | {r['wall']:.1f} | "
                   + " | ".join(f"{r['vals'][n]:.4g}" for n in names) + " |")
    return out + [""]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", nargs="+", type=seeds_arg,
                    default=[seeds_arg("1-10")])
    ap.add_argument("--repeat-seed", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", nargs="+",
                    help="a subset of BENCHMARK.json's workloads")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    seconds = str(bench["run_seconds"])
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    sets = list(args.sets)
    labels = [f"seeds {s[0]}–{s[-1]}" for s in sets]
    if args.repeat_seed is not None:
        sets.append([args.repeat_seed] * len(sets[0]))
        labels.append(f"seed {args.repeat_seed} × {len(sets[0])}")

    runs = {(w, k): [] for w in workloads for k in range(len(sets))}
    for i in range(max(len(s) for s in sets)):
        for k, seeds in enumerate(sets):
            if i < len(seeds):
                for w in workloads:
                    runs[w, k].append(run_once(w, seeds[i], seconds, args.trace))

    lines = []
    for w in workloads:
        names = list(runs[w, 0][0]["vals"])
        for k, label in enumerate(labels):
            lines += table(f"{w} (trace {args.trace}), {label}", runs[w, k], names)
        if len(sets) > 1:
            lines += [f"#### {w}: each set's median against {labels[0]}", "",
                      "| metric | " + " | ".join(labels) + " | largest shift |",
                      "|---" * (len(labels) + 2) + "|"]
            for n in names:
                meds = [statistics.median(r["vals"][n] for r in runs[w, k])
                        for k in range(len(sets))]
                shift = max(abs(m - meds[0]) / meds[0] for m in meds[1:])
                lines.append(f"| {n} | " + " | ".join(f"{m:.4g}" for m in meds)
                             + f" | {shift:.3f} |")
            lines.append("")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
