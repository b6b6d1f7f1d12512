"""Work-dominance check: is a pass's time mostly input-proportional work?

    python3 perfbench/dominance.py --seed 301 --seconds 10 --repeats 4

Runs each workload at half and at full input size (``run.py --scale``),
``--repeats`` times each, alternating, on consecutive seeds. It fits
pass time = fixed + slope * input bytes through the two median warm-pass
times (per run the median timed pass, then the median over runs), and
reports the fixed share of a full pass (the time extrapolated to zero
input, over the full pass time). It also reports the cold passes against
the warm median. Results go to standard output and to
``perfbench/evidence.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, scale: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0", "--scale", str(scale)]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace0.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--repeats", type=int, default=3,
                   help="half/full run pairs per workload, on seeds seed, seed+1, ...")
    p.add_argument("--workloads", nargs="+", default=["ingest_load", "spatial_query"])
    args = p.parse_args(argv)
    out = {}
    for wl in args.workloads:
        runs: dict[str, list[dict]] = {"half": [], "full": []}
        for i in range(args.repeats):
            for name, scale in (("half", 0.5), ("full", 1.0)):
                runs[name].append(run(wl, args.seed + i, args.seconds, scale))
        # per run the median warm pass, then the median over runs
        per_run = {k: [statistics.median(p["wall_s"] for p in r["passes"]) for r in rs]
                   for k, rs in runs.items()}
        t = {k: statistics.median(v) for k, v in per_run.items()}
        b_half, b_full = runs["half"][0]["input_bytes"], runs["full"][0]["input_bytes"]
        slope = (t["full"] - t["half"]) / (b_full - b_half)
        fixed = t["full"] - slope * b_full
        cold = statistics.median(r["warmup"][0]["wall_s"] for r in runs["full"])
        out[wl] = {
            "input_bytes": {"half": b_half, "full": b_full},
            "warm_pass_s": {k: round(v, 3) for k, v in t.items()},
            "fixed_s": round(fixed, 3),
            "fixed_share": round(fixed / t["full"], 3),
            "cold_pass_over_warm": round(cold / t["full"], 3),
            "run_median_pass_s": {k: [round(x, 3) for x in v] for k, v in per_run.items()},
            "timed_passes_s": {
                k: [[round(p["wall_s"], 3) for p in r["passes"]] for r in rs]
                for k, rs in runs.items()
            },
            "setup_s": round(statistics.median(r["setup_s"] for r in runs["full"]), 3),
        }
        print(wl, json.dumps(out[wl]), flush=True)
    with open(os.path.join(HERE, "evidence.json"), "w") as f:
        json.dump({"seed": args.seed, "seconds": args.seconds, "repeats": args.repeats,
                   "workloads": out}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
