"""The benchmark workloads.

Each workload has the same shape: ``setup_round(k)`` generates and
checkpoints one share of the inputs, ``warmup`` runs the code paths
once, ``start`` takes any before-the-passes reference, ``run_pass``
runs one timed pass and returns (seconds, items), ``check`` runs the
output checks, ``layers`` runs the traced attribution probes and
returns per-layer figures, and ``summary`` gives the workload's own
figures. ``run.py`` drives them.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from deepref_spark import model as mdl
from deepref_spark import synth
from deepref_spark.io import tables
from deepref_spark.operators import convert, linking, score
from deepref_spark.operators.fused import extract_scored_fused
from deepref_spark.pipeline import extract_scored, run_pipeline, triples_from_scored
from deepref_spark.portable import RELATION_NAMES

from perfbench import gen, replay
from perfbench.probes import caps_off, cap_keys, tree_bytes_files
from perfbench.sparkstats import add
from perfbench.trace import NullTracer

SETUP_ROUNDS = 3
TRIPLE_COLS = ["subj", "pred", "obj", "subj_canon", "obj_canon", "score", "n_docs"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df) -> tuple:
    """(rows, sum of a 32-bit row hash): order-free and overflow-free."""
    r = df.agg(F.count(F.lit(1)), F.sum(F.hash(*df.columns).cast("long"))).first()
    return int(r[0]), int(r[1] or 0)


def sentence_batches(spark, docs, batch_rows: int) -> list:
    pdf = (convert.text_sentences(docs).select("doc_id", "sent_id", "relation", "tagged")
           .toPandas().sort_values("sent_id", ignore_index=True))
    return [pdf.iloc[i:i + batch_rows] for i in range(0, len(pdf), batch_rows)]


class Workload:
    name = ""
    min_passes = 3
    max_passes = 1000

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.extras: dict = {}

    @property
    def tr(self):
        return self.ctx.tracer

    def timed(self, label: str, fn):
        """Run ``fn`` as one layer call: a span, plus the Spark counters
        of the jobs it ran when the run is traced."""
        if self.ctx.counters is None:
            with self.tr.span(label):
                return fn()
        return self.measure(label, fn)[0]

    def measure(self, label: str, fn):
        """Traced layer call: (result, seconds, Spark counters)."""
        with self.tr.span(label) as counts, self.ctx.counters.group(label) as c:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        counts.update(c)
        return out, dt, c

    # --- shared attribution probes for the two extraction workloads ----

    def extraction_layers(self, docs, sample_docs, warm_docs, preprocessing) -> dict:
        ctx, spark, L = self.ctx, self.spark, {}
        L["convert.sentences"], L["convert.s"], _ = self.measure(
            "convert.text_sentences", lambda: convert.text_sentences(docs).count())

        _, fused_s, fc = self.measure(
            "pipeline.extract_scored", lambda: noop(extract_scored(spark, docs, preprocessing)))
        L["fused.s"] = fused_s
        L["fused.jobs"], L["fused.tasks"], L["fused.busy_s"] = fc["jobs"], fc["tasks"], fc["busy_s"]
        L["fused.busy_frac"] = fc["busy_s"] / (fused_s * spark.sparkContext.defaultParallelism)

        trip = triples_from_scored(extract_scored(spark, docs, preprocessing), canonicalize=False)
        _, dedup_s, dc = self.measure("pipeline.triples_from_scored", lambda: noop(trip))
        # the dedup action re-runs extraction: its own cost is the margin
        L["dedup.s"] = max(0.0, dedup_s - fused_s)
        L["dedup.shuffle_bytes"] = dc["shuffle_write_bytes"]
        L["dedup.triples"] = trip.count()

        n_rel = len(score.rel2id_from_relations(RELATION_NAMES))
        weights = mdl.build_weights(n_rel)
        batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        if warm_docs is not None:
            # bring the driver's memos to a worker's steady state first
            replay.replay(sentence_batches(spark, warm_docs, batch_rows), weights,
                          preprocessing, NullTracer(), {})
        stats: dict = {}
        with self.tr.span("replay") as c:
            rows = replay.replay(sentence_batches(spark, sample_docs, batch_rows), weights,
                                 preprocessing, self.tr, stats)
            c.update(stats)
        by = self.ctx.tracer.by_name()
        for phase in ("parse", "preprocess", "tokenize", "forward"):
            L[f"{phase}.self_s"] = by.get(phase, {}).get("self_s", 0.0)
        L.update(stats)
        u = stats.get("tokenize.unique_words", 0)
        L["tokenize.memo_hit_ratio"] = 1.0 - stats.get("tokenize.memo_new", 0) / u if u else 0.0

        spark_rows = extract_scored_fused(
            spark, convert.text_sentences(sample_docs), n_rel, preprocessing=preprocessing,
        ).select("sent_id", "h_name", "t_name", "pred_id", "score").collect()
        ok, detail = replay.parity(rows, spark_rows)
        ctx.check("kernel replay equals spark extract_scored", ok, detail)
        return L


# ---------------------------------------------------------------------------

class ExtractZipf(Workload):
    """synth docs (50-word vocabulary, 25-entity pool with hot entities)
    through the fused arrow extraction and the triple dedup into a noop
    sink. Every per-word memo hits after the first batch."""

    name = "extract_zipf"
    DOCS = 7500  # per pass; set up in SETUP_ROUNDS equal chunks
    CHECK_DOCS = 800  # unfused-chain comparison subset
    SAMPLE_DOCS = 400  # kernel replay sample

    def __init__(self, ctx):
        super().__init__(ctx)
        self.chunk = self.DOCS // SETUP_ROUNDS
        self.lo = ctx.seed * self.DOCS  # the seed picks the doc-id range
        self.paths = []

    def _ids(self, lo, n):
        return (F.col("doc_id") >= f"d{lo:09d}") & (F.col("doc_id") < f"d{lo + n:09d}")

    def setup_round(self, k: int) -> None:
        lo = self.lo + k * self.chunk
        path = os.path.join(self.work, f"chunk{k}")
        write_docs(synth._gen_batch(pd.DataFrame({"id": np.arange(lo, lo + self.chunk)})), path)
        self.paths.append(path)

    def warmup(self) -> None:
        noop(triples_from_scored(extract_scored(self.spark, self.spark.read.parquet(self.paths[0])),
                                 canonicalize=False))

    def docs(self):
        return self.spark.read.parquet(*self.paths)

    def start(self) -> None:
        self.fp0 = fingerprint(triples_from_scored(extract_scored(self.spark, self.docs()),
                                                   canonicalize=False))

    def run_pass(self, i: int) -> tuple[float, int]:
        trip = triples_from_scored(extract_scored(self.spark, self.docs()), canonicalize=False)
        t0 = time.perf_counter()
        self.timed("pass", lambda: noop(trip))
        return time.perf_counter() - t0, self.DOCS

    def check(self) -> None:
        ctx, docs = self.ctx, self.docs()
        fp1 = fingerprint(triples_from_scored(extract_scored(self.spark, docs), canonicalize=False))
        ctx.check("triple fingerprint identical across passes", fp1 == self.fp0, f"{self.fp0} vs {fp1}")
        ctx.check("extraction produced triples", fp1[0] > 0, f"{fp1[0]} triples")
        sub = docs.where(self._ids(self.lo, self.CHECK_DOCS))
        fused = fingerprint(triples_from_scored(extract_scored(self.spark, sub), canonicalize=False))
        chain = fingerprint(triples_from_scored(extract_scored(self.spark, sub, fused=False),
                                                canonicalize=False))
        ctx.check("fused equals unfused chain on a subset", fused == chain and fused[0] > 0,
                  f"{fused} vs {chain}")
        self.extras["triples"] = fp1[0]

    def layers(self) -> dict:
        docs = self.docs()
        sample = docs.where(self._ids(self.lo + self.chunk, self.SAMPLE_DOCS))
        warm = docs.where(self._ids(self.lo, self.SAMPLE_DOCS))
        return self.extraction_layers(docs, sample, warm, None)

    def summary(self, passes: list[float]) -> dict:
        return {"docs_per_s": self.DOCS / statistics.median(passes)}


# ---------------------------------------------------------------------------

class PipelineWide(Workload):
    """The write-and-resume pipeline over vocabulary the workers have
    not seen: every pass reads a fresh batch of generated docs, runs
    run_pipeline into a new warehouse (extract, canonicalize, write the
    stage tables) and then runs it again on the same warehouse (resume)."""

    name = "pipeline_wide"
    DOCS = 600
    ENTITIES = 600
    PREPROCESSING = ["sw", "d"]
    BATCHES_PER_ROUND = 2
    min_passes = 4

    def __init__(self, ctx):
        super().__init__(ctx)
        self.batches: list[str] = []
        self.max_passes = SETUP_ROUNDS * self.BATCHES_PER_ROUND
        self.last = None

    def _write_docs(self, batch: int) -> str:
        pdf = gen.wide_docs(self.ctx.seed, batch, self.DOCS, self.ENTITIES)
        path = os.path.join(self.work, f"docs{batch}")
        write_docs(pdf, path)
        return path

    def setup_round(self, k: int) -> None:
        for b in range(self.BATCHES_PER_ROUND):
            self.batches.append(self._write_docs(k * self.BATCHES_PER_ROUND + b))

    def warmup(self) -> None:
        # one full-size pass on a batch of its own: in a fresh JVM the
        # first pass runs markedly slower than the later ones
        warm = self.spark.read.parquet(self._write_docs(1000))
        wh = os.path.join(self.work, "warm")
        for _ in range(2):  # write, then resume
            run_pipeline(self.spark, warm, self.PREPROCESSING, warehouse=wh).count()

    def start(self) -> None:
        self.figures: list[dict] = []  # per pass: traced?, write_s, resume_s, bytes/triple

    def run_pass(self, i: int) -> tuple[float, int]:
        ctx, spark = self.ctx, self.spark
        docs = spark.read.parquet(self.batches[i])
        wh = os.path.join(self.work, f"wh{i}")
        t0 = time.perf_counter()
        fresh = self.timed("pipeline.run_pipeline", lambda: run_pipeline(
            spark, docs, self.PREPROCESSING, warehouse=wh))
        n = self.timed("pass.count", fresh.count)
        t1 = time.perf_counter()
        with self.tr.span("resume"):
            resumed = self.timed("pipeline.run_pipeline", lambda: run_pipeline(
                spark, docs, self.PREPROCESSING, warehouse=wh))
            n2 = self.timed("resume.count", resumed.count)
        t2 = time.perf_counter()
        ctx.check("resume returns the written triple count", n == n2 and n > 0, f"{n} vs {n2}")
        self.figures.append({"traced": ctx.counters is not None, "write_s": t1 - t0,
                             "resume_s": t2 - t1,
                             "bytes_per_triple": tree_bytes_files(wh)[0] / max(n, 1)})
        self.last = (docs, wh)
        return t2 - t0, self.DOCS

    def check(self) -> None:
        ctx, spark = self.ctx, self.spark
        docs, wh = self.last
        resumed = fingerprint(run_pipeline(spark, docs, self.PREPROCESSING, warehouse=wh)
                              .select(*TRIPLE_COLS))
        fresh = fingerprint(tables.read_stage(spark, wh, "triples").select(*TRIPLE_COLS))
        in_memory = fingerprint(triples_from_scored(extract_scored(spark, docs, self.PREPROCESSING))
                                .select(*TRIPLE_COLS))
        ctx.check("resumed triples equal the written ones", resumed == fresh, f"{resumed} vs {fresh}")
        ctx.check("resumed triples equal in-memory triples_from_scored", resumed == in_memory,
                  f"{resumed} vs {in_memory}")
        for stage in ("scored", "triples"):
            with open(os.path.join(tables.stage_path(wh, stage), tables.MANIFEST)) as f:
                rows = json.load(f)["rows"]
            n = tables.read_stage(spark, wh, stage).count()
            ctx.check(f"manifest rows equal parquet count ({stage})", rows == n and n > 0,
                      f"{rows} vs {n}")

    def layers(self) -> dict:
        ctx, spark = self.ctx, self.spark
        docs, wh = self.last
        sample = docs.where(F.col("doc_id") < min_doc_id(docs, 300))
        L = self.extraction_layers(docs, sample, None, self.PREPROCESSING)
        pc, n = self.pass_probe_counts, max(self.n_traced, 1)
        for k in ("write_s", "bytes_written", "files_written", "rows_written"):
            L[f"tables.{k}"] = pc.get(f"tables.{k}", 0) / n
        L["tables.read_s"] = statistics.median(f["resume_s"] for f in self.figures if f["traced"])
        L["linking.broadcast"] = 1 if pc.get("linking.broadcast", 0) else 0

        scored = tables.read_stage(spark, wh, "scored")
        pos = scored.where(F.col("pred_relation") != "Other")
        ents = (pos.select(F.col("h_name").alias("entity"))
                .union(pos.select(F.col("t_name").alias("entity"))).distinct()).localCheckpoint()
        driver_cc = ctx.probes.counts.get("linking.cc_driver", 0)
        cmap, L["linking.canonical_map_s"], lc = self.measure(
            "linking.canonical_map", lambda: linking.canonical_map(ents).localCheckpoint())
        L["linking.jobs"] = lc["jobs"]
        # 1: connected components ran as driver union-find; 0: distributed
        L["linking.cc_path"] = int(ctx.probes.counts.get("linking.cc_driver", 0) > driver_cc)
        L["linking.entities"] = ents.count()
        sigs = linking.minhash_signatures(ents).localCheckpoint()
        pairs = linking.candidate_pairs(sigs).localCheckpoint()
        L["linking.candidate_pairs"] = pairs.count()
        L["linking.edges"] = linking.similarity_edges(pairs).count()
        L["linking.pair_yield"] = L["linking.edges"] / max(L["linking.candidate_pairs"], 1)
        L["linking.merged"] = cmap.where(F.col("entity") != F.col("canonical")).count()
        return L

    def summary(self, passes: list[float]) -> dict:
        figs = [f for f in self.figures if not f["traced"]] or self.figures
        return {
            "docs_per_s": self.DOCS / statistics.median(f["write_s"] for f in figs),
            "resume_s": statistics.median(f["resume_s"] for f in figs),
            "stored_bytes_per_triple": statistics.median(f["bytes_per_triple"] for f in figs),
        }


def write_docs(pdf, path: str, files: int = 4) -> None:
    """Docs checkpoint in synth's span schema, split into ``files``
    parquet files so the scan has one split per core."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=DOCS_SCHEMA, preserve_index=False)
    step = -(-len(pdf) // files)
    for j in range(files):
        pq.write_table(table.slice(j * step, step), os.path.join(path, f"part{j}.parquet"))


def min_doc_id(docs, n: int) -> str:
    """The (n+1)-th smallest doc id: ids below it are the first n docs."""
    ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(n + 1).collect()]
    return ids[-1]


DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()), ("offset", pa.int32())]))),
])


# ---------------------------------------------------------------------------

REGISTRY_QUERIES = {  # query -> operator lane; the first always runs first
    "kg_pagerank": "graph",
    "dedup_minhash_bands": "dedup",
    "text_tfidf_topk": "text_analysis",
    "events_sessionize": "events",
    "rel_product_profit": "relational",
}
LANES = tuple(dict.fromkeys(REGISTRY_QUERIES.values()))
PHASES = ("cold", "warm", "capsoff")


class RegistryMix(Workload):
    """Registry queries over generated TPC-H-like tables, three passes
    per pass set: cold (stage cache cleared), warm (stages persisted)
    and capsoff (cache cleared, every size-gate cap set to 0)."""

    name = "registry_mix"
    SCALE = 0.2  # one fiftieth of the testdata's sf0.1
    DATA_SEED = 20240101  # the tables are fixed; the run seed orders the queries
    min_passes = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        from deepref_spark import queries

        self.q = queries
        self.caps = cap_keys(os.path.join(ctx.root, "deepref_spark"))
        # the first query in a fresh JVM also pays most first-execution
        # costs, so it stays first; the seed shuffles the rest
        first, *rest = REGISTRY_QUERIES
        random.Random(ctx.seed).shuffle(rest)
        self.order = [first, *rest]
        self.dirs: list[str] = []
        self.rows: dict = {}
        self.phase_s: dict[str, list[float]] = {p: [] for p in PHASES}
        self.query_s: dict[str, dict[str, list[float]]] = {}
        self.lanes: dict[str, dict] = {}
        self.gates: dict[str, dict] = {}

    def setup_round(self, k: int) -> None:
        d = os.path.join(self.work, f"tables{k}")
        gen.write_tables(gen.registry_tables(self.SCALE, self.DATA_SEED), d)
        self.dirs.append(d)

    def warmup(self) -> None:
        spark, d = self.spark, self.dirs[0]
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        spark.read.parquet(f"{d}/documents.parquet").limit(1).count()

    def start(self) -> None:
        self.sf = self.dirs[0]

    def run_phase(self, phase: str, keep: bool, traced: bool = True) -> float:
        spark, total = self.spark, 0.0
        tr = self.tr if traced else NullTracer()
        counters = self.ctx.counters if traced else None
        for name in self.order:
            fn = self.q.REGISTRY[name]["spark"]
            t0 = time.perf_counter()
            with tr.span(f"query.{name}", phase=phase) as c:
                if counters is None:
                    df = fn(spark, self.sf)
                    rows = df.collect()
                else:
                    with counters.group(name) as qc:
                        df = fn(spark, self.sf)
                        rows = df.collect()
                    c.update(qc)
                    add(self.lanes.setdefault(REGISTRY_QUERIES[name], {}), qc)
            dt = time.perf_counter() - t0
            total += dt
            if traced:
                self.query_s.setdefault(name, {}).setdefault(phase, []).append(dt)
            if keep:
                self.rows[(name, phase)] = (df, rows)
        return total

    def run_pass(self, i: int) -> tuple[float, int]:
        keep = i == 0
        total = 0.0
        for phase in PHASES:
            probes = self.ctx.probes
            if probes is not None:
                probes.take()
            if phase in ("cold", "capsoff"):
                self.q.clear_stage_cache()
            with self.tr.span(f"phase.{phase}"):
                if phase == "capsoff":
                    with caps_off(self.spark.conf, self.caps):
                        dt = self.run_phase(phase, keep)
                    unset = [k for k in self.caps if self.spark.conf.get(k, None) is not None]
                    self.ctx.check("caps unset after the capsoff pass", not unset, str(unset))
                else:
                    dt = self.run_phase(phase, keep)
            if probes is not None:
                self.gates[phase] = probes.take()
            if phase == "warm" and probes is not None and i == 0:
                # same warm stages, tracing off: the tracing overhead
                probes.uninstall()
                try:
                    self.extras["warm_untraced_s"] = self.run_phase("warm", False, traced=False)
                finally:
                    probes.install()
            self.phase_s[phase].append(dt)
            total += dt
        return total, len(self.order) * len(PHASES)

    def check(self) -> None:
        con = harness().duck_connection(self.sf)
        for name in self.order:
            df, rows = self.rows[(name, "warm")]
            ok, detail = compare_rows(con, df, rows, self.q.oracle_sql_for(name))
            self.ctx.check(f"{name} matches its DuckDB oracle", ok, detail)
            _, caps_rows = self.rows[(name, "capsoff")]
            self.ctx.check(f"{name} capsoff rows equal warm rows",
                           normalized(df, rows) == normalized(df, caps_rows), name)
        con.close()
        self.q.clear_stage_cache()

    def layers(self) -> dict:
        L: dict = {}
        for name, phases in self.query_s.items():
            for phase, v in phases.items():
                L[f"query.{name}.{phase}_s"] = statistics.median(v)
        for lane, c in self.lanes.items():
            L[f"lane.{lane}.jobs"] = c["jobs"]
            L[f"lane.{lane}.shuffle_bytes"] = c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
            L[f"lane.{lane}.spill_bytes"] = c["spill_bytes"]
            L[f"lane.{lane}.busy_s"] = c["busy_s"]
        for phase, g in self.gates.items():
            L[f"gate.{phase}.driver_paths"] = g.get("gate.driver_paths", 0)
            L[f"gate.{phase}.distributed_paths"] = g.get("gate.distributed_paths", 0)
            for k in ("stage.builds", "stage.hits", "stage.build_s"):
                L[k] = L.get(k, 0) + g.get(k, 0)
        return L

    def summary(self, passes: list[float]) -> dict:
        return {f"registry_{p}_s": statistics.median(v) for p, v in self.phase_s.items()}


def compare_rows(con, df, rows, oracle: str) -> tuple[bool, str]:
    """tests/harness.compare_query on already-collected Spark rows (the
    warm pass's), so the check adds no Spark work."""
    return harness().compare_query(None, con, lambda _s, _d: _Collected(df, rows), oracle, None)


class _Collected:
    """The slice of the DataFrame interface compare_query reads."""

    def __init__(self, df, rows):
        self.columns, self.schema, self._rows = df.columns, df.schema, rows

    def collect(self):
        return self._rows


def normalized(df, rows) -> list:
    h = harness()
    cols = [c.lower() for c in df.columns]
    tuples = [tuple(r) for r in rows]
    return h._norm_rows(cols, tuples, h._spark_classes(df.schema, cols, tuples))


def harness():
    """The repository's oracle-comparison helpers (tests/harness.py),
    loaded by path: a ``tests`` package installed elsewhere must not
    shadow them."""
    mod = sys.modules.get("perfbench_harness")
    if mod is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "perfbench_harness", os.path.join(root, "tests", "harness.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules["perfbench_harness"] = mod
    return mod


WORKLOADS = {w.name: w for w in (ExtractZipf, PipelineWide, RegistryMix)}
