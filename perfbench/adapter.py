"""Every call the benchmark makes into ``metasra_pipeline_spark``, the
driver queries of ``__spark_entry__`` and their DuckDB oracles.

The workloads, their output checks, the traced variants of their
passes and the traced steps after them live here, so an API change in
the package touches this file only.  Tracing wraps the package's public
functions and the ``Snapshotter.cut`` seam from the outside; no package
code changes.
"""

from __future__ import annotations

import hashlib
import json
import os
from contextlib import ExitStack, contextmanager

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

import __spark_entry__ as entry
from metasra_pipeline_spark.datagen import synth_documents
from metasra_pipeline_spark.er import incremental as I
from metasra_pipeline_spark.er import resolution as R
from metasra_pipeline_spark.icelite import IceLiteTable
from metasra_pipeline_spark.operators import consolidate as C
from metasra_pipeline_spark.ops import LocalSnapshotter
from metasra_pipeline_spark.plans.pipeline import run_mapping_pipeline
from metasra_pipeline_spark.refdata import load_refdata
from metasra_pipeline_spark.session import get_spark
from scripts.check_contract import norm

ER_THRESHOLD = 0.65
# the landing traced after the batch ER pass: a base committed through
# resolve_entities_checkpointed, then one delta landed onto it
LAND_BASE, LAND_DELTA = 2_000, 500
# similarity queries traced after the batch ER pass, over tables made
# from the seed (documents, events, embeddings; sf0.01-like sizes)
SIM_QUERIES = {"functions.q15": "q15_lsh_pairs",
               "functions.q27": "q27_graph_components",
               "functions.q38": "q38_cosine_neardup"}
SIM_DOCS, SIM_EVENTS, SIM_USERS, SIM_VECS, SIM_DIM = 500, 5_000, 150, 500, 64
SIM_WORDS = ("key agg row scan slow fast table value part hash merge batch "
             "spark a the line sort window order data column join small "
             "customer query big stream group filter vector").split() \
    + [f"w{i:03d}" for i in range(400)]
SIM_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Which layer's work a named mapping-pipeline cut materializes: the
# lazy subtree since the previous cuts was built by that module.
CUT_LAYERS = {
    "kv": "ingest",
    "deriv_expand": "stages", "edges_t10": "stages", "edges_t9": "stages",
    "tok_final": "stages", "m_matched": "stages",
    "m_p4": "precedence", "m_p3": "precedence", "m_final": "precedence",
    "node_terms0": "inference", "inf12": "inference",
    "inf_pre_rv": "inference", "node_terms": "inference",
    "real_values": "inference", "inf_edges": "inference",
    "closure2": "consolidate", "closure4": "consolidate",
}
MAP_LAYERS = ["ingest", "stages", "precedence", "inference", "consolidate"]
ER_LAYERS = ["er.profiles", "er.reps", "er.score", "er.cc", "er.assign",
             "er.incremental", "icelite", *SIM_QUERIES]


def start_session(cores: int):
    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Spawn the Python workers and import pandas/pyarrow in them."""
    @F.pandas_udf(LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x
    spark.range(0, 64_000, 1, spark.sparkContext.defaultParallelism) \
        .select(F.sum(_warm("id"))).collect()


def golden_digest(workload: str, seed: int) -> str | None:
    """The output digest stored for ``workload`` at ``seed``, if any."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "golden.json")
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def _digest(rows) -> str:
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@contextmanager
def _patched(obj, name: str, wrapper_factory):
    orig = getattr(obj, name)
    setattr(obj, name, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


class _TracingSnapshotter(LocalSnapshotter):
    """LocalSnapshotter with one span per named cut."""

    def __init__(self, rec):
        super().__init__(skip=set())
        self.rec = rec

    def cut(self, df, name):
        layer = CUT_LAYERS.get(name)
        if layer is None:
            raise KeyError(f"cut {name!r} has no layer in CUT_LAYERS")
        with self.rec.span(layer, f"cut:{name}"):
            return super().cut(df, name)


# ------------------------------------------------------------- map
class MapWorkload:
    """``run_mapping_pipeline`` over synthetic documents; the sink
    collects ``mapped_terms`` and ``real_values`` to the driver."""

    layers = MAP_LAYERS

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def setup(self, spark) -> None:
        self.ref = load_refdata(spark)

    def make_inputs(self, spark, seed: int) -> None:
        self.docs = (synth_documents(spark, self.n_docs, seed=seed)
                     .select("doc_id", "spans").localCheckpoint(eager=True))
        self.doc_ids = {r[0] for r in self.docs.select("doc_id").collect()}

    def run_pass(self, spark, rec=None):
        if rec is None:
            res = run_mapping_pipeline(spark, self.docs, self.ref)
            return res.mapped_terms.collect(), res.real_values.collect()

        def wrap_consolidate(orig):
            def traced(*a, **kw):
                with rec.span("consolidate", "consolidate"):
                    return orig(*a, **kw)
            return traced

        with _patched(C, "consolidate", wrap_consolidate):
            res = run_mapping_pipeline(spark, self.docs, self.ref,
                                       snap=_TracingSnapshotter(rec))
        with rec.span("consolidate", "sink:mapped_terms"):
            mapped = res.mapped_terms.collect()
        with rec.span("inference", "sink:real_values"):
            rv = res.real_values.collect()
        return mapped, rv

    def check_pass(self, out) -> str:
        mapped, rv = out
        if not mapped or not rv:
            raise AssertionError("mapping pipeline produced no output")
        stray = {r["doc_id"] for r in mapped} - self.doc_ids
        if stray:
            raise AssertionError(f"mapped_terms has unknown docs {sorted(stray)[:3]}")
        return _digest(mapped) + ":" + _digest(rv)

    def final_check(self, spark, last_out) -> dict:
        return {}

    def counts(self, rec, out) -> dict:
        return {}

    def trace_steps(self, spark, rec, work: str) -> list:
        return []


# -------------------------------------------------------------- er
class ErWorkload:
    """``resolve_entities`` over synthetic duplicate clusters; the sink
    collects ``clusters`` (one label per document) to the driver."""

    layers = ER_LAYERS

    def __init__(self, n_docs: int, dup_factor: int = 5):
        self.n_docs = n_docs
        self.dup_factor = dup_factor

    def setup(self, spark) -> None:
        pass

    def make_inputs(self, spark, seed: int) -> None:
        self.seed = seed
        gen = synth_documents(spark, self.n_docs, seed=seed,
                              dup_factor=self.dup_factor) \
            .localCheckpoint(eager=True)
        self.docs = gen.select("doc_id", "spans").localCheckpoint(eager=True)
        self.truth = gen.select("doc_id", "entity_id")
        self.doc_ids = {r[0] for r in self.truth.select("doc_id").collect()}

    def run_pass(self, spark, rec=None):
        if rec is None:
            res = R.resolve_entities(spark, self.docs,
                                     threshold=ER_THRESHOLD)
            return res, res["clusters"].collect()
        with self._traced_er(rec):
            res = R.resolve_entities(spark, self.docs,
                                     threshold=ER_THRESHOLD)
        with rec.span("er.assign", "sink:clusters"):
            clusters = res["clusters"].collect()
        return res, clusters

    @contextmanager
    def _traced_er(self, rec):
        """Span every public ER function, and the eager
        ``localCheckpoint`` of each frame it returns (the boundary where
        that lazy layer's work runs)."""
        self.outputs = {}
        calls = {"doc_profiles": "er.profiles", "token_idf": "er.profiles",
                 "representative_profiles": "er.reps",
                 "blocking_keys": "er.score", "candidate_pairs": "er.score",
                 "score_pairs": "er.score",
                 "connected_components": "er.cc",
                 "assign_clusters": "er.assign"}

        def wrap_call(layer, fname):
            def factory(orig):
                def traced(*a, **kw):
                    with rec.span(layer, f"call:{fname}"):
                        out = orig(*a, **kw)
                    if hasattr(out, "localCheckpoint"):
                        out._perfbench_layer = layer
                    return out
                return traced
            return factory

        frame_cls = type(self.docs)

        def wrap_checkpoint(orig):
            def traced(df, eager=True, *a, **kw):
                layer = getattr(df, "_perfbench_layer", None)
                if rec.active_layer() == "er.cc" and not eager:
                    rec.add("er.cc.lazy_checkpoints", 1)
                if layer is None or not eager:
                    return orig(df, eager, *a, **kw)
                with rec.span(layer, f"checkpoint:{layer}"):
                    out = orig(df, eager, *a, **kw)
                self.outputs[layer] = out
                return out
            return traced

        with ExitStack() as stack:
            for fname, layer in calls.items():
                stack.enter_context(
                    _patched(R, fname, wrap_call(layer, fname)))
            stack.enter_context(
                _patched(frame_cls, "localCheckpoint", wrap_checkpoint))
            yield

    def check_pass(self, out) -> str:
        _res, clusters = out
        ids = [r["doc_id"] for r in clusters]
        if len(ids) != len(set(ids)):
            raise AssertionError("a document has more than one label")
        if set(ids) != self.doc_ids:
            raise AssertionError("clusters do not label every input doc")
        return _partition(clusters)

    def final_check(self, spark, last_out) -> dict:
        res, _clusters = last_out
        f1 = R.pairwise_f1(res["pairs"], self.truth, ER_THRESHOLD)
        if f1["f1"] < 0.99 or f1["precision"] != 1.0:
            raise AssertionError(f"pair F1 {f1}")
        return {"pair_f1": f1["f1"], "pair_precision": f1["precision"]}

    def counts(self, rec, out) -> dict:
        """Decision ratios from the traced pass's materialized frames."""
        prof = self.outputs.get("er.profiles")
        reps = self.outputs.get("er.reps")
        scored = self.outputs.get("er.score")
        out = {"er.cc.rounds": max(
            rec.counts.get("er.cc.lazy_checkpoints", 0) - 1, 0)}
        if prof is not None and reps is not None:
            out["er.reps.dedup_ratio"] = reps.count() / max(prof.count(), 1)
        if scored is not None:
            row = scored.select(
                F.count("*").alias("n"),
                F.sum(((F.col("score") >= ER_THRESHOLD)
                       & ~F.col("rejected")).cast("long")).alias("acc")
            ).first()
            out["er.score.accept_ratio"] = (row["acc"] or 0) / max(row["n"], 1)
        return out


    # ---------------------------------------- steps after the traced pass
    def trace_steps(self, spark, rec, work: str) -> list:
        """One landing, then each similarity query: callables that run
        their part traced, check its output and return its counts."""
        steps = [lambda: self._landing(spark, rec, os.path.join(work, "land"))]
        sim_dir = os.path.join(work, "sim")
        write_sim_tables(sim_dir, self.seed)
        for layer, query in SIM_QUERIES.items():
            steps.append(lambda layer=layer, query=query: _sim_query(
                spark, rec, sim_dir, layer, query))
        return steps

    def _landing(self, spark, rec, workdir: str) -> dict:
        """Commit a base with ``resolve_entities_checkpointed`` (untraced
        set-up), land one delta through
        ``incremental_resolve_checkpointed`` traced, then check that its
        labels partition base ∪ delta exactly as a batch
        ``resolve_entities`` does (untimed)."""
        gen = synth_documents(spark, LAND_BASE + LAND_DELTA, seed=self.seed,
                              dup_factor=self.dup_factor) \
            .select("doc_id", "spans").localCheckpoint(eager=True)
        ids = sorted(r[0] for r in gen.select("doc_id").collect())
        base = gen.where(F.col("doc_id").isin(ids[:LAND_BASE])) \
            .localCheckpoint(eager=True)
        delta = gen.where(F.col("doc_id").isin(ids[LAND_BASE:])) \
            .localCheckpoint(eager=True)
        R.resolve_entities_checkpointed(spark, base, workdir,
                                        threshold=ER_THRESHOLD)

        def wrap_icelite(kind):
            def factory(orig):
                def traced(table, *a, **kw):
                    before = _tree_bytes(table.path)
                    with rec.span("icelite", f"{kind}:"
                                  f"{os.path.basename(table.path)}"):
                        out = orig(table, *a, **kw)
                    if kind == "commit":
                        rec.add("icelite.commits", 1)
                        rec.add("icelite.bytes_written",
                                _tree_bytes(table.path) - before)
                    return out
                return traced
            return factory

        with ExitStack() as stack:
            for kind in ("commit", "read"):
                stack.enter_context(
                    _patched(IceLiteTable, kind, wrap_icelite(kind)))
            with rec.span("er.incremental",
                          "call:incremental_resolve_checkpointed"):
                res = I.incremental_resolve_checkpointed(
                    spark, workdir, delta, threshold=ER_THRESHOLD)
            with rec.span("er.incremental", "sink:clusters"):
                landed = res["clusters"].collect()

        batch = R.resolve_entities(spark, gen, threshold=ER_THRESHOLD)
        ids_landed = [r["doc_id"] for r in landed]
        if len(ids_landed) != len(set(ids_landed)) \
                or set(ids_landed) != set(ids):
            raise AssertionError("landing does not label every doc once")
        if _partition(landed) != _partition(batch["clusters"].collect()):
            raise AssertionError(
                "landing labels differ from a batch run over base ∪ delta")
        new_reps = R.representative_profiles(res["new_profiles"])
        base_reps = R.representative_profiles(R.doc_profiles(base))
        n_attach = new_reps.join(base_reps.select("profile"),
                                 on="profile").count()
        return {"er.incremental.attach_ratio":
                n_attach / max(new_reps.count(), 1),
                "icelite.commits": rec.counts.get("icelite.commits", 0),
                "icelite.bytes_written":
                rec.counts.get("icelite.bytes_written", 0)}


def _partition(rows) -> str:
    """Digest of the label partition: which docs share a label."""
    groups: dict[str, list[str]] = {}
    for r in rows:
        groups.setdefault(r["cluster_id"], []).append(r["doc_id"])
    return _digest(sorted(g) for g in groups.values())


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ------------------------------------------------------- similarity
def write_sim_tables(sim_dir: str, seed: int) -> None:
    """``documents``, ``events`` and ``embeddings`` parquet tables with
    the sf tables' schemas, made from ``seed``.  A tenth of the
    documents and a fifth of the vectors are perturbed copies of
    others, so the LSH and cosine near-duplicate queries find pairs."""
    rng = np.random.default_rng(seed)
    os.makedirs(sim_dir, exist_ok=True)
    texts = [" ".join(rng.choice(SIM_WORDS, rng.integers(20, 80)))
             for _ in range(SIM_DOCS)]
    for i in rng.choice(SIM_DOCS, SIM_DOCS // 10, replace=False):
        words = texts[rng.integers(SIM_DOCS)].split()
        words[rng.integers(len(words))] = str(rng.choice(SIM_WORDS))
        texts[i] = " ".join(words)
    pd.DataFrame({
        "doc_id": np.arange(SIM_DOCS, dtype=np.int64), "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], SIM_DOCS),
        "source": [f"src{i % 20}" for i in range(SIM_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).to_parquet(os.path.join(sim_dir, "documents.parquet"), index=False)

    gaps = rng.exponential(30.0, SIM_EVENTS)
    pd.DataFrame({
        "event_id": np.arange(SIM_EVENTS, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(np.cumsum(gaps), unit="s").round("us"),
        "user_id": rng.integers(0, SIM_USERS, SIM_EVENTS).astype(np.int64),
        "event_type": rng.choice(SIM_EVENT_TYPES, SIM_EVENTS),
        "value": np.round(rng.uniform(0, 20, SIM_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, SIM_EVENTS)],
    }).to_parquet(os.path.join(sim_dir, "events.parquet"), index=False,
                  coerce_timestamps="us")

    vecs = rng.normal(0, 1, (SIM_VECS, SIM_DIM))
    for i in rng.choice(SIM_VECS, SIM_VECS // 5, replace=False):
        vecs[i] = vecs[rng.integers(SIM_VECS)] + rng.normal(0, 0.5, SIM_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    pd.DataFrame({
        "vec_id": np.arange(SIM_VECS, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, SIM_VECS).astype(np.int32),
    }).to_parquet(os.path.join(sim_dir, "embeddings.parquet"), index=False)


def _sim_query(spark, rec, sim_dir: str, layer: str, query: str) -> dict:
    """Run one ``__spark_entry__`` query traced, collect it, and check
    it hash-exact against its DuckDB oracle over the same tables."""
    with rec.span(layer, f"query:{query}"):
        got = entry.queries()[query](spark, sim_dir).toPandas()
    con = duckdb.connect()
    try:
        for t in ("documents", "events", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sim_dir, t + '.parquet')}'")
        want = con.sql(entry.oracle_sql()[query]).df()
    finally:
        con.close()
    a, b = norm(got), norm(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b) \
            or not a.equals(b):
        raise AssertionError(f"{query}: {len(a)} rows differ from the "
                             f"oracle's {len(b)}")
    if a.empty:
        raise AssertionError(f"{query}: no rows")
    return {}


WORKLOADS = {
    "map_1k": lambda: MapWorkload(1_000),
    "er_50k": lambda: ErWorkload(50_000),
}
