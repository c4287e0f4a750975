#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 crossbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads: kg_build, text_ingest, vector_ingest (see crossbench/README.md).
``--trace 0`` reports the end-to-end metrics with the Spark event log
off; ``--trace 1`` is a separate traced run that reports the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every operation succeeded and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# the program under test; without it there is nothing to measure
_PROGRAM = (
    os.path.join("crossbar_data_process_spark", "__init__.py"),
    os.path.join("scripts", "kg_build.py"),
)


def end_to_end(res, h) -> dict[str, tuple[float, str]]:
    from crossbench.stats import mean_of_medians, median

    return {
        "setup_s": (res.setup_s, "s"),
        "write_p50_s": (median(res.write_s), "s"),
        # the median read of each state read (the gold of each build, or
        # each layout), averaged over the states
        "read_p50_s": (mean_of_medians(res.reads), "s"),
        "rows_per_s": (res.rows_offered / res.busy_s, "rows/s"),
        "peak_mem_mb": (h.peak_mem_mb(), "MB"),
    }


def describe(res, h) -> str:
    """Sample counts, the tail each sample supports and the memory marks,
    for the log."""
    import resource

    from crossbench.harness import MiB
    from crossbench.stats import tail

    lines = []
    for kind, xs in [("write", res.write_s)] + [
        (f"read ({state})", xs) for state, xs in res.reads.items()
    ]:
        t = tail(xs)
        lines.append(
            f"{kind}: n={len(xs)} samples "
            + " ".join(f"{x:.3f}" for x in xs)
            + (f" | p{t[0]:.0f}={t[1]:.3f}s" if t else " | too few for a tail")
        )
    lines.append(
        "memory marks (heap+non-heap MiB): "
        + " ".join(f"{a / MiB:.0f}+{b / MiB:.0f}" for a, b in h.jvm_marks)
        + f" | python peak RSS "
        f"{resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024:.0f} MiB"
    )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--small", action="store_true",
        help="tiny inputs and no warm-up (smoke tests; no reference check)",
    )
    args = ap.parse_args(argv)

    missing = [p for p in _PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"crossbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2

    from crossbench.harness import Harness
    from crossbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crossbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    h = Harness(ROOT, args.workload, trace=bool(args.trace))
    wl = WORKLOADS[args.workload](h, ROOT, args.seed, args.seconds, args.small)
    correct, log = True, None
    try:
        res = wl.run()
        h.stop_spark()
        if args.trace:
            from crossbench.trace import parse_event_log

            log = parse_event_log(h.event_log_path())
    except Exception:  # noqa: BLE001 — the run's boundary: report and fail
        traceback.print_exc()
        correct, res = False, wl.res
    finally:
        h.cleanup()
    if h.hygiene:
        print("crossbench: hygiene: " + "; ".join(h.hygiene), file=sys.stderr)
        correct = False

    print(describe(res, h))
    if args.trace and correct:
        from crossbench.trace import profile

        print(profile(h.tracer.spans))
    metrics: dict[str, tuple[float, str]] = {}
    if correct:
        if args.trace:
            from crossbench.layers import UNITS, layer_metrics

            vals = layer_metrics(args.workload, h.tracer, log, res.layer)
            metrics = {k: (vals[k], u) for k, u in UNITS[args.workload].items()}
        else:
            metrics = end_to_end(res, h)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(res.attempted, 1),
                "failed": res.failed if correct else max(res.failed, 1),
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
