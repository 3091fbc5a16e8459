"""Scale smoke: run named catalog keys at sf0.1 / sf1 / sf5, min-of-2.

Formalizes the per-batch ritual BASELINE.md records (rounds 5-7): each
key runs twice per scale against the noop sink on a get_spark session
(8 g driver — the batch-C lesson: a raw 1 g session OOMs localCheckpoint
paths at sf5), and the normalized sf1->sf5 ratio (wall ratio / 5x data
ratio) is printed per key. Ratios > 2.0 are flagged super-linear, the
bar every round's additions must clear before close.

Usage: python tools/smoke_scale.py key [key ...]
       python tools/smoke_scale.py --sfs 0.1,1 key ...
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from varda_spark.catalog import REGISTRY  # noqa: E402
from varda_spark.session import get_spark  # noqa: E402

DIRS = {
    "0.1": "/root/testdata/sf0.1",
    "1": os.path.join(ROOT, "scaledata", "sf1"),
    "5": os.path.join(ROOT, "scaledata", "sf5"),
}


def main() -> None:
    args = sys.argv[1:]
    sfs = ["0.1", "1", "5"]
    if args and args[0] == "--sfs":
        sfs = args[1].split(",")
        args = args[2:]
    keys = args
    unknown = [k for k in keys if k not in REGISTRY]
    assert not unknown, f"unknown keys: {unknown}"
    spark = get_spark("smoke-scale")
    walls: dict[str, dict[str, float]] = {k: {} for k in keys}
    for sf in sfs:
        for k in keys:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                df = REGISTRY[k].fn(spark, DIRS[sf])
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            walls[k][sf] = round(best, 2)
            print(f"sf{sf:<4} {k:<28} {walls[k][sf]:7.2f}s", flush=True)
    if "1" in sfs and "5" in sfs:
        ratios = {
            k: round(walls[k]["5"] / max(walls[k]["1"], 1e-9) / 5.0, 2)
            for k in keys
        }
        flagged = sorted(k for k, r in ratios.items() if r > 2.0)
        print(json.dumps({"normalized_sf1_to_sf5": ratios, "superlinear": flagged}))
    spark.stop()


if __name__ == "__main__":
    main()
