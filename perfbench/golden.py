"""Store the output digests that the benchmark checks every pass against.

    python3 perfbench/golden.py --workload map_1k --seeds 1-20

Run from the repository root.  One session, with the same host settings
as ``run.py``; for each seed it makes the workload's inputs, runs one
untraced pass, applies the pass's output checks and stores the digest
under ``golden.json[workload][seed]``.  For ``er_50k`` it also prints
the pair F1 and precision of each seed.  Re-run it only when a change
to the program is meant to change its outputs, and say so with the
change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-20")
    args = p.parse_args()

    import run
    from spread import parse_seeds
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="golden-", dir=os.path.join(HERE, ".work"))
    path = os.path.join(HERE, "golden.json")
    spark = None
    bad = 0
    try:
        host = run.host_env(work)
        import adapter
        wl = adapter.WORKLOADS[args.workload]()
        spark = adapter.start_session(host["cores"])
        adapter.warm_workers(spark)
        wl.setup(spark)
        for seed in parse_seeds(args.seeds):
            wl.make_inputs(spark, seed)
            try:
                out = wl.run_pass(spark)
                digest = wl.check_pass(out)
            except AssertionError:
                traceback.print_exc()
                bad += 1
                continue
            try:
                final = wl.final_check(spark, out)
            except AssertionError as e:
                # the digest is still the program's output for the seed
                final = {"final_check_failed": str(e)}
                bad += 1
            with open(path) as f:
                golden = json.load(f)
            golden.setdefault(args.workload, {})[str(seed)] = digest
            with open(path, "w") as f:
                json.dump(golden, f, indent=2, sort_keys=True)
                f.write("\n")
            print(json.dumps({"seed": seed, "digest": digest, **final}),
                  flush=True)
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return int(bad > 0)


if __name__ == "__main__":
    sys.exit(main())
