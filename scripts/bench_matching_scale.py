"""Stable-matching fixed-cost amortization evidence (VERDICT r4 #7).

The gate instance (n = 16, full lists) is all scheduler: ~15 rounds of
tiny shuffles whose wall is independent of data size. The claim to
evidence is that this fixed cost AMORTIZES — a data-sized market
(n = 10^4 proposers, top-T = 8 truncated lists, the documented
web-scale shape: n*T grid rows, never n^2) must cost FAR less than
linearly more wall while the round count stays flat-ish (bounded by
list length + displacement chains, not by n).

Prints one JSON line:
  {"pairs": [{"n":..,"t":..,"rounds":..,"wall":..,"matched":..}, ...],
   "wall_ratio": .., "n_ratio": .., "amortization": ..}
where amortization = n_ratio / wall_ratio (>> 1 means the fixed cost
dominates and data scaling is sublinear).

Run: python scripts/bench_matching_scale.py
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the engine from PYTHONPATH, not from sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def main() -> None:
    from hebrew_ner_spark.session import get_spark
    from hebrew_ner_spark.operators.matching import (
        stable_matching,
        stable_matching_truncated,
    )

    spark = get_spark()
    results = []

    # small: the gate instance (full 16x16 lists). Warm once so both
    # measured points pay JIT/codegen equally, then measure.
    stable_matching(spark, n=16).count()
    t0 = time.time()
    small = stable_matching(spark, n=16)
    n_small = small.count()
    w_small = time.time() - t0
    results.append(
        {"n": 16, "t": None, "shape": "full", "rounds": None,
         "wall": round(w_small, 2), "matched": n_small}
    )

    # large: n = 10^4 proposers, top-T = 8 truncated lists
    t0 = time.time()
    match, used = stable_matching_truncated(spark, n=10_000, t=8)
    n_large = match.count()
    w_large = time.time() - t0
    results.append(
        {"n": 10_000, "t": 8, "shape": "truncated", "rounds": used,
         "wall": round(w_large, 2), "matched": n_large}
    )

    wall_ratio = w_large / w_small
    print(json.dumps({
        "pairs": results,
        "wall_ratio": round(wall_ratio, 2),
        "n_ratio": 10_000 / 16,
        "amortization": round((10_000 / 16) / wall_ratio, 1),
    }))


if __name__ == "__main__":
    main()
