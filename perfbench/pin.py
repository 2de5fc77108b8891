"""Pin pages_features' expected outputs (stats dict and ledger checksums)
for a range of seeds at the default input size, into pins.json:

    python3 perfbench/pin.py --seeds 0-24

Run it on a commit whose outputs are known to be right; run.py then fails
any repetition that differs from the pinned value of its (seed, size).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import spans  # noqa: E402
from workloads import PagesFeatures  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    work = os.path.join(run.ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp = run.prepare_env(run_dir, len(os.sched_getaffinity(0)))
    spark, _, _ = run.start_spark("perfbench-pin", tmp)
    path = os.path.join(HERE, "pins.json")
    with open(path) as f:
        pins = json.load(f)
    try:
        for seed in range(lo, hi + 1):
            wl = PagesFeatures(work, seed, None)
            wl.bind(spark)
            wl.before()
            wl.op(spans.NullTracer())
            wl.after()
            res = wl.results[0]
            if res is None:
                sys.exit(f"pages_features failed for seed {seed}")
            pins.setdefault(wl.name, {})[f"{seed}:{wl.rows}"] = {
                k: res[k] for k in ("stats", "ledger_total", "ledger_by_stage")}
            print(seed, res["stats"], res["ledger_total"], flush=True)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
