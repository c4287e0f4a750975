#!/usr/bin/env python3
"""Write crossbench/kg_reference.json: per-table row counts and DuckDB
content hashes of the core gold build for a list of seeds. Run from the
root of a checkout after a deliberate change to the gold output:

    python3 crossbench/make_reference.py 0 1 2 3
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def main(seeds: list[int]) -> None:
    from crossbench import gen
    from crossbench.harness import Harness
    from crossbench.workloads import KG_REFERENCE, KgBuild

    h = Harness(ROOT, "kg_reference", trace=False)
    wl = KgBuild(h, ROOT, seed=0, seconds=0, small=False)
    out = {}
    try:
        wl.open()
        for seed in seeds:
            wl.src = gen.kg_sources(wl.spark, wl.kb, wl.scale, seed)
            wl.build()
            out[str(seed)] = wl.digest()
            print(seed, out[str(seed)], flush=True)
    finally:
        h.stop_spark()
        h.cleanup()
    with open(KG_REFERENCE, "w", encoding="utf-8") as f:
        json.dump({"scale": KgBuild.SCALE, "seeds": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main([int(s) for s in sys.argv[1:]])
