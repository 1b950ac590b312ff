"""Spans, Spark job attribution and host annotations for the benchmark.

Nothing here imports ``metasra_pipeline_spark``: the recorder only knows
layer names, Python wall-clock spans and the driver's Spark status
store.  ``adapter.py`` decides where the spans go.

A span sets the calling thread's Spark job group to ``<prefix><layer>``
for its duration, so every job it submits (also from the cut threads
the pipeline starts itself) is tagged with its layer.  Jobs without a
tag are attributed by submission time to the single layer whose span
was open then, or counted as unattributed.  Stage metrics come from
``SparkContext.statusStore()`` over py4j, read once after the traced
pass; spans stay in memory until ``write_jsonl``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Recorder:
    """Collects layer spans and counters for one traced pass."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.prefix = f"perfbench-{os.getpid()}-{id(self)}:"
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        # wall spent in span bookkeeping: what tracing adds to a pass
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str):
        b0 = time.perf_counter()
        sc = self.sc
        prev_group = sc.getLocalProperty(_GROUP)
        prev_desc = sc.getLocalProperty(_DESC)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sc.setLocalProperty(_GROUP, self.prefix + layer)
        sc.setLocalProperty(_DESC, name)
        rec = {"layer": layer, "name": name,
               "parent": parent["name"] if parent else None,
               "thread": threading.get_ident(), "depth": len(stack),
               "start": time.time()}
        stack.append(rec)
        b1 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            e0 = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(_GROUP, prev_group)
            sc.setLocalProperty(_DESC, prev_desc)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (b1 - b0) + (time.perf_counter() - e0)

    def active_layer(self) -> str | None:
        """The layer of the innermost span open on this thread."""
        stack = getattr(self._local, "stack", None)
        return stack[-1]["layer"] if stack else None

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + value

    # ------------------------------------------------------ attribution
    def layer_walls(self, t0: float, t1: float) -> tuple[dict, float]:
        """Split [t0, t1] over the layers at work.

        On each thread the innermost open span holds the instant, so a
        nested span (an IceLite commit inside a landing) takes its time
        from its parent.  An instant held on k threads by different
        layers gives each 1/k of it.  So the layer walls plus the
        returned gap (time no span covers) equal ``t1 - t0`` by
        construction."""
        spans = [s for s in self.spans if s["end"] > t0 and s["start"] < t1]
        cuts = sorted({t0, t1, *(max(s["start"], t0) for s in spans),
                       *(min(s["end"], t1) for s in spans)})
        walls: dict[str, float] = {}
        gap = 0.0
        for a, b in zip(cuts, cuts[1:]):
            inner: dict[int, dict] = {}
            for s in spans:
                if s["start"] <= a and s["end"] >= b:
                    held = inner.get(s["thread"])
                    if held is None or s["depth"] > held["depth"]:
                        inner[s["thread"]] = s
            active = {s["layer"] for s in inner.values()}
            if not active:
                gap += b - a
                continue
            for layer in active:
                walls[layer] = walls.get(layer, 0.0) + (b - a) / len(active)
        return walls, gap

    def _layer_at(self, t: float) -> str | None:
        active = {s["layer"] for s in self.spans
                  if s["start"] <= t <= s["end"]}
        return active.pop() if len(active) == 1 else None

    def job_metrics(self, t0: float, t1: float) -> tuple[dict, dict]:
        """Per-layer {jobs, task_s, shuffle_bytes} for jobs submitted in
        [t0, t1], plus the totals over all of them (``unattributed`` is
        the number of jobs no layer claimed)."""
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        # the listener bus is asynchronous: drain it before reading
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        empty = jvm.java.util.ArrayList()
        jobs = conv.asJava(store.jobsList(empty))
        stages = conv.asJava(store.stageList(
            empty, False, False,
            self.sc._gateway.new_array(jvm.double, 0), empty))
        per_stage: dict[int, tuple[float, float]] = {}
        for st in stages:
            sid = st.stageId()
            run_s, shuf = per_stage.get(sid, (0.0, 0.0))
            per_stage[sid] = (run_s + st.executorRunTime() / 1000.0,
                              shuf + st.shuffleWriteBytes())
        layers: dict[str, dict] = {}
        total = {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0.0,
                 "unattributed": 0}
        seen_total: set[int] = set()
        seen: dict[str, set[int]] = {}
        for job in jobs:
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            ts = sub.get().getTime() / 1000.0
            if ts < t0 or ts > t1:
                continue
            group = job.jobGroup()
            group = group.get() if group.isDefined() else None
            if group is not None and group.startswith(self.prefix):
                layer = group[len(self.prefix):]
            else:
                layer = self._layer_at(ts)
            stage_ids = list(conv.asJava(job.stageIds()))
            total["jobs"] += 1
            for sid in stage_ids:
                if sid not in seen_total:
                    seen_total.add(sid)
                    run_s, shuf = per_stage.get(sid, (0.0, 0.0))
                    total["task_s"] += run_s
                    total["shuffle_bytes"] += shuf
            if layer is None:
                total["unattributed"] += 1
                continue
            agg = layers.setdefault(
                layer, {"jobs": 0, "task_s": 0.0, "shuffle_bytes": 0.0})
            mine = seen.setdefault(layer, set())
            agg["jobs"] += 1
            for sid in stage_ids:
                if sid not in mine:
                    mine.add(sid)
                    run_s, shuf = per_stage.get(sid, (0.0, 0.0))
                    agg["task_s"] += run_s
                    agg["shuffle_bytes"] += shuf
        return layers, total

    def write_jsonl(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(rec) + "\n")
            f.write(json.dumps({"counts": self.counts, **extra}) + "\n")


# ---------------------------------------------------------- host probes
def steal_jiffies() -> int:
    """Host steal time so far (the 8th cpu field of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent pid -> child pids, pid -> resident bytes) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    return children, rss


def descendant_pids(root: int, children: dict | None = None) -> list[int]:
    if children is None:
        children, _ = _process_table()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root: int) -> int:
    children, rss = _process_table()
    return sum(rss.get(p, 0)
               for p in [root, *descendant_pids(root, children)])


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the driver JVM and its Python workers) in a thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
