"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload map_1k --seeds 1-10
    python3 perfbench/spread.py --workload er_50k --unseen

For each metric it prints the median and the distance between the
first and third quartiles (``statistics.quantiles(n=4)``) as a share of
the median, and flags a spread above a third of the metric's bound in
``BENCHMARK.json``.
``--unseen`` runs one seed drawn at random outside every seed listed
in ``perfbench/seeds.json`` (the seeds the benchmark was tuned and
proven on), so a claim can be re-checked on fresh inputs.  Run from the
repository root; runs go one after another, never in parallel.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    # a run whose checks fail still prints its result and exits 1
    if proc.returncode not in (0, 1) or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    record = json.loads(lines[-2])["run"]
    record["run_s"] = time.time() - t0
    return record, json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--unseen", action="store_true")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "seeds.json")) as f:
        used = set(json.load(f))
    if args.unseen:
        rng = random.SystemRandom()
        seeds = [next(s for s in iter(lambda: rng.randrange(1, 10**6), 0)
                      if s not in used)]
    else:
        seeds = parse_seeds(args.seeds)

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    incorrect = 0
    for seed in seeds:
        record, result = run_once(args.workload, seed, spec["run_seconds"])
        print(json.dumps({"seed": seed, "run_s": round(record["run_s"], 1),
                          "correct": result["correct"],
                          "failed": result["failed"],
                          "digest": record["digest"],
                          "steal_jiffies": record["steal_jiffies_end"]
                          - record["steal_jiffies_start"],
                          "metrics": {k: v["value"] for k, v in
                                      result["metrics"].items()}}),
              flush=True)
        incorrect += not result["correct"]
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    if incorrect:
        print(f"{incorrect} of {len(seeds)} runs failed their output checks")
    if len(seeds) < 2:
        return int(incorrect > 0)
    steady = incorrect == 0
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med
        ok = share < m["bound"] / 3
        steady &= ok
        print(f"{m['name']:>12} median {med:12.4f} {m['unit']:<7} "
              f"IQR/median {share:.4f}  bound/3 {m['bound'] / 3:.4f}"
              f"{'' if ok else '  TOO WIDE'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
