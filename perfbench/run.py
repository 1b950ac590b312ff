"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload map_1k --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run sets up once from a fresh
process: JVM launch, Spark session, Python-worker warm-up and, for the
mapping workload, the reference data (``setup_s``).  It then generates
the workload's inputs from ``--seed`` and makes one timed pass over
them, as one spark-submit run would: ``docs_per_s`` is the workload's
documents over that pass's wall.  Further passes run only while
``--seconds`` has not passed since the first began, and only re-check
its output.  Every pass's output is checked and must match the digest
stored for the seed in ``golden.json``, or else the first pass's; a
pass that raises or differs counts in ``failed``.  With ``--trace 1``
the one pass is traced and is followed by the workload's traced steps
(for ``er_50k``: one landing and three similarity queries); the run
prints the per-layer metrics instead of the end-to-end ones, and
writes its spans to ``perfbench/out/``.

The last stdout line is the result JSON
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the run record (set-up and pass walls, output digest, host steal
jiffies and load average).
Metric names and units are read from ``BENCHMARK.json``.  The exit
code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# package knobs that would change what is measured; the benchmark runs
# the defaults whatever the calling shell exports
PACKAGE_KNOBS = [
    "COSINE_NP_ATTACH_MAX_ROWS", "ER_BROADCAST_PROFILES_MAX",
    "ER_PROF_CHECKPOINT", "SNAP_SKIP_CUTS", "SNAP_TIMINGS",
    "SPARK_ADVISORY_PARTITION_BYTES", "SPARK_AQE", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_FAULT_DOC", "SPARK_GRAFT_FAULT_TOKEN",
    "SPARK_SHUFFLE_PARTITIONS",
]


def host_env(work: str) -> dict:
    """Fit the session to this host; keep every file inside ``work``.

    Task slots are one fewer than the CPUs, leaving one for the driver
    JVM and the Python driver, which the job-latency-bound passes lean
    on.  The driver heap may grow to a quarter of RAM, at most 2g."""
    from spans import mem_total_bytes
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    mem_gb = max(1, min(2, mem_total_bytes() // (4 << 30)))
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    for knob in PACKAGE_KNOBS:
        os.environ.pop(knob, None)
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options "
                                f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
                                f" --conf spark.ui.showConsoleProgress=false"
                                f" pyspark-shell"),
    })
    return {"cores": cores, "driver_mem": f"{mem_gb}g"}


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's workers."""
    from pyspark import SparkContext

    from spans import descendant_pids
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendant_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendant_pids(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def layer_metrics(wl, rec, t0: float, t1: float, t2: float, cores: int,
                  adapter) -> dict:
    """Per-layer metrics of the traced pass [t0, t1] and the traced
    steps after it, up to t2."""
    walls, gap = rec.layer_walls(t0, t2)
    jobs, total = rec.job_metrics(t0, t2)
    out: dict[str, float] = {}

    def put(layer, wall, agg):
        task_s = agg.get("task_s", 0.0)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.jobs"] = agg.get("jobs", 0)
        out[f"{layer}.task_s"] = task_s
        out[f"{layer}.shuffle_bytes"] = agg.get("shuffle_bytes", 0.0)
        out[f"{layer}.util"] = task_s / (wall * cores) if wall > 0 else 0.0

    for layer in adapter.MAP_LAYERS + adapter.ER_LAYERS:
        put(layer, walls.get(layer, 0.0), jobs.get(layer, {}))
    is_map = wl.layers is adapter.MAP_LAYERS
    put("pipeline", t1 - t0 if is_map else 0.0, total if is_map else {})
    out["pipeline.driver_gap_s"] = gap if is_map else 0.0
    out["pipeline.unattributed_jobs"] = total["unattributed"] if is_map else 0
    for key in ("er.reps.dedup_ratio", "er.score.accept_ratio",
                "er.cc.rounds", "er.incremental.attach_ratio",
                "icelite.commits", "icelite.bytes_written"):
        out[key] = 0.0
    return out


def bench(args, host: dict, spec: dict, work: str) -> tuple[dict, dict]:
    import adapter
    from spans import PeakRss, Recorder, loadavg1, steal_jiffies

    wl = adapter.WORKLOADS[args.workload]()
    record = {"workload": args.workload, "seed": args.seed, **host,
              "steal_jiffies_start": steal_jiffies(),
              "loadavg1_start": loadavg1()}
    metrics: dict[str, float] = {}
    attempted = failed = 0
    spark = None
    try:
        # from here to a ready session, the JVM launch included: what
        # every fresh driver process pays
        t0 = time.perf_counter()
        spark = adapter.start_session(host["cores"])
        adapter.warm_workers(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        wl.make_inputs(spark, args.seed)
        # every pass must reproduce the stored digest for this seed, or
        # else the first pass's
        expect = adapter.golden_digest(args.workload, args.seed)
        record["golden_checked"] = expect is not None
        rec = Recorder(spark, host["cores"]) if args.trace else None

        def one_pass(rec=None):
            nonlocal attempted, failed, expect
            attempted += 1
            t0 = time.time()
            try:
                out = wl.run_pass(spark, rec)
                t1 = time.time()
                digest = wl.check_pass(out)
                expect = expect or digest
                if digest != expect:
                    raise AssertionError(f"output digest {digest} != {expect}")
            except Exception:
                traceback.print_exc()
                failed += 1
                return None
            return t0, t1, out

        # The first pass is the measured one: what one spark-submit run
        # pays, JIT and code generation included.  Passes that still
        # start within --seconds are warm and only re-check the output.
        with PeakRss() as rss:
            first = one_pass(rec)
            while (first is not None and rec is None
                   and time.time() - first[0] < args.seconds):
                one_pass()
        record.update(setup_s=setup_s, digest=expect, peak_rss_bytes=rss.peak)
        if first is not None:
            t0, t1, out = first
            record["pass_s"] = t1 - t0
            try:
                record["final_check"] = wl.final_check(spark, out)
            except AssertionError:
                traceback.print_exc()
                failed += 1
            metrics = {"setup_s": setup_s,
                       "docs_per_s": wl.n_docs / (t1 - t0),
                       "peak_rss_mb": rss.peak / 2**20}
        if first is not None and rec is not None:
            counts = wl.counts(rec, out)
            for step in wl.trace_steps(spark, rec, work):
                attempted += 1
                try:
                    counts.update(step())
                except Exception:
                    traceback.print_exc()
                    failed += 1
            t2 = time.time()
            metrics = layer_metrics(wl, rec, t0, t1, t2, host["cores"],
                                    adapter)
            metrics.update(counts)
            metrics["trace_overhead_s"] = rec.overhead_s
            rec.write_jsonl(
                os.path.join(HERE, "out", f"trace-{args.workload}"
                             f"-seed{args.seed}.jsonl"),
                {"workload": args.workload, "seed": args.seed,
                 "pass_start": t0, "pass_end": t1, "steps_end": t2,
                 "metrics": metrics})
    finally:
        if spark is not None:
            stop_spark(spark)
    record.update(steal_jiffies_end=steal_jiffies(),
                  loadavg1_end=loadavg1())
    names = spec["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0),
                                "unit": m["unit"]} for m in names},
    }
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing and result["correct"]:
        raise KeyError(f"metrics not computed: {missing}")
    return result, record


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "metasra_pipeline_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root; the package "
              "metasra_pipeline_spark is missing", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    # a fresh directory per run, even if an earlier run left its own
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    try:
        host = host_env(work)
        result, record = bench(args, host, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
