#!/usr/bin/env python3
"""medcat-spark benchmark: one command, two workloads, checked outputs.

    python3 kgbench/run.py --workload {annotate,kg} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  The run generates its inputs from the
seed, computes a single-process reference, sets the Spark session up
three times, then repeats the workload's operation for ``--seconds``
seconds and checks every operation's output against the reference.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones,
with ``--trace 1`` the per-layer ones.  The line before it is the full
report (host and effective-config stamp, every figure with its
provenance).  Reports and traced-run span files are kept under
``.kgbench/results``.  See ``kgbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from kgbench import host  # noqa: E402  (stdlib only)
from kgbench.workloads import KG_DELTA_SHARE  # noqa: E402

WORKLOADS = ("annotate", "kg")
SETUPS = 3                      # set-ups per run; setup_s is their median
ANNOTATE_REPLICAS = 20          # annotate: 2.5k base docs x replicas
KG_DOCS = 1_000                 # kg: base docs (+5% delta per resume)
PRIME_SHARE = 0.1               # prime: share of the input, once per run
CORE_SAMPLE = 2_000             # core-layer replay sample
PROBE_REPEATS = 3
META_NAME = "Negation"
ANN_COLS = ["doc_id", "cui", "start", "end"]
META_COLS = ["doc_id", "start", "cui", "meta_name", "value"]
TRIPLE_COLS = ["subj", "pred", "obj", "doc_id"]
COOC_COLS = ["subj", "pred", "obj", "n_docs"]

E2E_UNITS = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB"}

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.broadcast_s": "s",
    "session.warmup_s": "s", "session.cold_setup_s": "s",
    "session.prime_s": "s",
    "pipeline.scan_s": "s", "pipeline.repartition_s": "s",
    "pipeline.boundary_s": "s",
    "pipeline.python_boot_s": "s", "pipeline.python_init_s": "s",
    "pipeline.python_total_s": "s", "pipeline.arrow_sent_mb": "MB",
    "pipeline.arrow_received_mb": "MB", "pipeline.shuffle_write_s": "s",
    "pipeline.shuffle_mb": "MB", "pipeline.fetch_wait_s": "s",
    "pipeline.tasks": "count", "pipeline.partition_skew": "ratio",
    "pipeline.worker_rss_mb": "MB",
    "core.preprocess_s": "s", "core.ner_s": "s", "core.link_s": "s",
    "core.select_s": "s", "core.cold_preprocess_s": "s",
    "core.docs_per_s_per_core": "docs/s", "core.tokens": "count",
    "core.candidates": "count", "core.disambiguations": "count",
    "core.entities": "count", "core.entities_per_candidate": "ratio",
    "meta.score_s": "s", "meta.python_total_s": "s",
    "meta.python_init_s": "s", "meta.arrow_sent_mb": "MB",
    "meta.arrow_received_mb": "MB", "meta.shuffle_mb": "MB",
    "meta.tasks": "count", "meta.rows": "count",
    "triples.mentions_s": "s", "triples.cooccurrence_s": "s",
    "triples.pairs_in": "count", "triples.rows_out": "count",
    "triples.shuffle_mb": "MB",
    "iceberg.resume_scan_s": "s", "iceberg.append.annotations_s": "s",
    "iceberg.append.lineage_s": "s", "iceberg.append.processed_docs_s": "s",
    "iceberg.overwrite.triples_s": "s", "iceberg.read_s": "s",
    "iceberg.files_written": "count", "iceberg.bytes_written": "B",
    "iceberg.bytes_per_annotation": "B", "iceberg.snapshots": "count",
    "iceberg.manifests": "count",
    "self.pipeline_s": "s", "self.meta_s": "s", "self.triples_s": "s",
    "self.iceberg_s": "s", "trace.uncovered_s": "s", "trace.op_wall_s": "s",
    "trace.overhead_s": "s", "trace.overhead_share": "ratio",
    "trace.sum_error_s": "s",
}
LAYERS = ("pipeline", "meta", "triples", "iceberg")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# workloads: inputs, set-up, one timed operation, its check


class Workload:
    """Holds a run's generated inputs, reference digests and session
    objects.  ``op`` runs one timed operation and returns its phase
    times and the digests of its outputs; ``check`` compares those with
    the reference."""

    def __init__(self, name, seed, work, tracer, scale=1.0):
        self.name, self.seed, self.work, self.tr = name, seed, work, tracer
        self.scale = scale

    def generate(self):
        from kgbench import workloads
        t0 = time.perf_counter()
        if self.name == "annotate":
            self.corpus = workloads.annotate_corpus(
                self.seed, max(1, int(ANNOTATE_REPLICAS * self.scale)))
        else:
            self.corpus = workloads.kg_corpus(
                self.seed, max(20, int(KG_DOCS * self.scale)))
        self.core_ids = workloads.sample_ids(self.corpus, CORE_SAMPLE,
                                             self.seed)
        self._write_inputs()
        self.gen_s = time.perf_counter() - t0

    def compute_reference(self):
        from kgbench import reference
        t0 = time.perf_counter()
        self.ref = reference.annotations(self.corpus,
                                         sorted(self.corpus.base_texts))
        if self.name == "annotate":
            from medcat_spark.functions.lstm_meta import lstm_fixture_model
            self.meta_model = lstm_fixture_model()
            self.meta_ref = reference.meta_rows(
                self.ref, self.corpus.base_texts, self.meta_model, META_NAME)
        self.reference_s = time.perf_counter() - t0

    # -- inputs ---------------------------------------------------------

    def _write_inputs(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        c = self.corpus
        self.input_dir = os.path.join(self.work, "input")
        os.makedirs(self.input_dir, exist_ok=True)
        if self.name == "annotate":
            tbl = pa.Table.from_pylist(c.rows, pa.schema(
                [("doc_id", pa.string()), ("text", pa.string())]))
            pq.write_table(tbl, os.path.join(self.input_dir, "docs.parquet"))
            return
        span_t = pa.list_(pa.struct([("kind", pa.string()),
                                     ("text", pa.string()),
                                     ("media_ref", pa.string()),
                                     ("offset", pa.int32())]))
        schema = pa.schema([("doc_id", pa.string()), ("spans", span_t)])
        for nm, rows in (("docs", c.rows), ("delta", c.delta_rows)):
            pq.write_table(pa.Table.from_pylist(rows, schema),
                           os.path.join(self.input_dir, f"{nm}.parquet"))

    def load_inputs(self, spark, parts):
        """Input DataFrames on the current session (re-run after every
        session set-up)."""
        rd = spark.read.parquet
        self.parts = parts
        if self.name == "annotate":
            self.docs = rd(os.path.join(self.input_dir, "docs.parquet")) \
                .repartition(parts).cache()
            self.docs.count()
        else:
            self.docs = rd(os.path.join(self.input_dir, "docs.parquet"))
            self.all_docs = self.docs.unionByName(
                rd(os.path.join(self.input_dir, "delta.parquet")))

    # -- session set-up -------------------------------------------------

    def broadcast(self, spark):
        from medcat_spark.pipeline import broadcast_model
        c = self.corpus
        self.bc = broadcast_model(spark, c.cdb, c.vocab, c.config)
        if self.name == "annotate":
            from medcat_spark.functions.lstm_meta import lstm_fixture_model
            self.bc_meta = spark.sparkContext.broadcast(lstm_fixture_model())

    def warmup(self, spark, parts):
        """The first job: boots every Python worker and deserializes the
        broadcast model in it, on a small slice of the input."""
        from medcat_spark.pipeline import annotate
        from pyspark.sql import functions as F
        few = self._slice(spark, "docs", 16 * parts).repartition(parts)
        annotate(few, self.bc).agg(F.count(F.lit(1))).collect()

    def _slice(self, spark, name, n):
        path = os.path.join(self.input_dir, f"{name}.parquet")
        return spark.read.parquet(path).orderBy("doc_id").limit(n)

    def prime(self, spark, parts):
        """One operation on a share of the input, run once in a fresh
        JVM so that class loading and JIT compilation of every path the
        timed operation takes happen before timing.  Its partitions are
        as large as a timed operation's."""
        n = max(16 * parts, int(len(self.corpus.rows) * PRIME_SHARE))
        share = n / len(self.corpus.rows)
        key = "spark.sql.shuffle.partitions"
        shuffle = spark.conf.get(key)
        spark.conf.set(key, str(max(1, round(int(shuffle) * share))))
        few = self._slice(spark, "docs", n).cache()
        prime_parts = max(1, round(parts * share))
        try:
            if self.name == "annotate":
                self.docs, self.parts = few, prime_parts
                self._op_annotate(spark, None)
                self.last_ann.unpersist()
            else:
                more = few.unionByName(self._slice(
                    spark, "delta", max(2, int(n * KG_DELTA_SHARE))))
                self._kg_stages(spark, few, more,
                                os.path.join(self.work, "kg", "prime"),
                                prime_parts)
        finally:
            spark.conf.set(key, shuffle)
            few.unpersist()

    # -- reference digests -----------------------------------------------

    def prepare_reference(self, spark):
        """Digests of the reference rows, computed by the same Spark
        expression as the outputs' (outside the timed path)."""
        import pandas as pd
        from kgbench import reference as R

        def digest(rows, cols, types, name, sum_col=None):
            df = spark.createDataFrame(
                pd.DataFrame(rows, columns=cols),
                ", ".join(f"{c} {t}" for c, t in zip(cols, types)))
            return R.digest_frame(df, [c for c in cols if c != sum_col],
                                  name, sum_col)

        def ann_rows(ref):
            return [(d, cui, s, e) for d, ents in ref.items()
                    for cui, s, e in ents]

        ann_types = ["string", "string", "int", "int"]
        if self.name == "annotate":
            # outputs are digested with each replica's doc_id mapped back
            # to its base doc, so the reference is the base rows times
            # the replica count
            r = self.corpus.replicas
            base = R.collect_digests([
                digest(ann_rows(self.ref), ANN_COLS, ann_types, "ann"),
                digest(self.meta_ref, META_COLS + ["confidence"],
                       ["string", "int", "string", "string", "string",
                        "double"], "meta", "confidence")])
            self.expect = {k: (n * r, h * r, x * r)
                           for k, (n, h, x) in base.items()}
            return
        base_ids = {d["doc_id"] for d in self.corpus.rows}
        stages = {"build": {d: v for d, v in self.ref.items()
                            if d in base_ids},
                  "resume": self.ref}
        self.expect = {}
        for stage, ref in stages.items():
            mentions, cooc = R.triples(ref)
            self.expect[stage] = R.collect_digests([
                digest(ann_rows(ref), ANN_COLS, ann_types, "ann"),
                digest([(d,) for d in sorted(ref)], ["doc_id"], ["string"],
                       "processed"),
                digest(mentions, TRIPLE_COLS, ["string"] * 4, "mentions"),
                digest(cooc, COOC_COLS, ["string"] * 3 + ["long"], "cooc")])
            self.expect[stage]["pairs"] = sum(n for *_x, n in cooc)

    # -- one timed operation ------------------------------------------------

    def op(self, spark, k, fault=None):
        return (self._op_annotate(spark, fault) if self.name == "annotate"
                else self._op_kg(spark, k, fault))

    def _op_annotate(self, spark, fault):
        from medcat_spark.functions.lstm_meta import meta_annotations_lstm
        from medcat_spark.pipeline import annotate
        from pyspark.sql import functions as F
        from kgbench import reference as R

        def by_base(df):
            return df.withColumn("doc_id",
                                 F.substring_index("doc_id", "_", 1))

        tr = self.tr
        with tr.span("annotate.op", "bench"):
            t0 = time.perf_counter()
            with tr.span("pipeline.annotate", "pipeline"):
                ann = annotate(self.docs, self.bc,
                               num_partitions=self.parts).cache()
                out = fault(ann) if fault else ann
                got = R.collect_digests([R.digest_frame(by_base(out),
                                                        ANN_COLS, "ann")])
            t1 = time.perf_counter()
            with tr.span("functions.lstm_meta.meta_annotations_lstm", "meta"):
                meta = meta_annotations_lstm(ann, self.docs, self.bc_meta,
                                             META_NAME)
                got.update(R.collect_digests([R.digest_frame(
                    by_base(meta), META_COLS, "meta", "confidence")]))
            t2 = time.perf_counter()
        self.last_ann = ann
        return {"annotate_s": t1 - t0, "meta_s": t2 - t1,
                "docs": len(self.corpus.rows), "ents": got["ann"][0]}, got

    def _triples(self, spark, root):
        from medcat_spark.sources.iceberg import IcebergKgSink, overwrite_table
        from medcat_spark.triples import cooccurrence_triples, mention_triples
        ann = IcebergKgSink(root).read_annotations(spark)
        overwrite_table(os.path.join(root, "triples", "mentions"),
                        mention_triples(ann, distinct=True))
        overwrite_table(os.path.join(root, "triples", "cooccurrence"),
                        cooccurrence_triples(ann))

    def _kg_digests(self, spark, root, fault):
        from medcat_spark.sources.iceberg import IcebergTable
        from kgbench import reference as R

        def table(*p):
            return IcebergTable.load(os.path.join(root, *p)).to_df(spark)

        ann = table("annotations")
        if fault:
            ann = fault(ann)
        return R.collect_digests([
            R.digest_frame(ann, ANN_COLS, "ann"),
            R.digest_frame(table("processed_docs"), ["doc_id"], "processed"),
            R.digest_frame(table("triples", "mentions"), TRIPLE_COLS,
                           "mentions"),
            R.digest_frame(table("triples", "cooccurrence"), COOC_COLS,
                           "cooc")])

    def _kg_stages(self, spark, docs, all_docs, root, parts, fault=None):
        """Build a fresh KG from ``docs``, then resume it with
        ``all_docs``; each stage ends with both triple tables replaced.
        Returns the stages' times and the digests read back after each
        (the read-back is not timed)."""
        from medcat_spark.sources.iceberg import resumable_annotate_iceberg
        shutil.rmtree(root, ignore_errors=True)
        phases, got, tables = {}, {}, {}
        for stage, src in (("build", docs), ("resume", all_docs)):
            t0 = time.perf_counter()
            with self.tr.span(f"kg.{stage}", "bench"):
                resumable_annotate_iceberg(spark, src, self.bc, root,
                                           num_partitions=parts)
                self._triples(spark, root)
            phases[f"{stage}_s"] = time.perf_counter() - t0
            got[stage] = self._kg_digests(spark, root, fault)
            tables[stage] = kg_table_stats(root)
        return phases, got, tables

    def _op_kg(self, spark, k, fault):
        root = os.path.join(self.work, "kg", f"op{k}")
        fresh = not os.path.exists(root)
        phases, got, tables = self._kg_stages(
            spark, self.docs, self.all_docs, root, self.parts, fault)
        self.last_root = root
        n = len(self.corpus.rows) + len(self.corpus.delta_rows)
        phases.update(docs=n, ents=got["resume"]["ann"][0],
                      fresh_root=fresh, tables=tables)
        return phases, got

    def check(self, got) -> list:
        """Names of the outputs that differ from the reference."""
        from kgbench.reference import same
        bad = []
        if self.name == "annotate":
            # confidences are rounded to 4 dp; batching may flip a digit
            tol = 1e-3 + 1e-6 * self.expect["meta"][0]
            if not same(got["ann"], self.expect["ann"]):
                bad.append("annotations")
            # one meta row per annotation: the count is the reference's
            if not same(got["meta"], self.expect["meta"], tol):
                bad.append("meta")
            return bad
        for stage in ("build", "resume"):
            for key in ("ann", "processed", "mentions", "cooc"):
                if not same(got[stage][key], self.expect[stage][key]):
                    bad.append(f"{stage}.{key}")
        return bad


# ---------------------------------------------------------------------------
# traced-run extras: probes and per-layer attribution


def _empty_kernel(batches):
    """Boundary probe: consume every Arrow batch, emit an empty
    ANNOTATION_SCHEMA batch for each."""
    import pyarrow as pa
    from medcat_spark.pipeline import ANNOTATION_SCHEMA, to_arrow_schema
    schema = to_arrow_schema(ANNOTATION_SCHEMA)
    for _rb in batches:
        yield pa.RecordBatch.from_pylist([], schema=schema)


def pipeline_probes(spark, wl) -> dict:
    """Differential probes through the public API over the workload's
    cached input: count only; + salted repartition; + the Python
    boundary with an empty kernel."""
    from medcat_spark.pipeline import ANNOTATION_SCHEMA, salted_repartition
    docs = wl.docs if wl.name == "annotate" else wl.all_docs.cache()
    docs.count()
    cols = ["doc_id", "text"] if wl.name == "annotate" else ["doc_id", "spans"]
    src = docs.select(*cols)
    probes = {
        "pipeline.scan_s": lambda: src.count(),
        "pipeline.repartition_s":
            lambda: salted_repartition(src, wl.parts).count(),
        "pipeline.boundary_s": lambda: salted_repartition(src, wl.parts)
        .mapInArrow(_empty_kernel, schema=ANNOTATION_SCHEMA).count(),
    }
    out = {}
    for name, fn in probes.items():
        ts = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        out[name] = median(ts)
    if wl.name != "annotate":
        docs.unpersist()
    return out


def classify(plan: str, parent_layer: str):
    """(span name, layer) for one SQL execution, from its written path."""
    from kgbench.trace import plan_outputs
    path = plan_outputs(plan) or ""
    if "/_scratch/" in path:
        return "iceberg.resume_scan.spark", "iceberg"
    if "/triples/mentions" in path:
        return "triples.mentions.spark", "triples"
    if "/triples/cooccurrence" in path:
        return "triples.cooccurrence.spark", "triples"
    if "/annotations/" in path:
        return "pipeline.annotate+write.spark", "pipeline"
    return "spark", parent_layer


def attach_executions(tr, roots, execs):
    """Add each SQL execution as a child span of the innermost traced
    span that encloses it, named and layered by what it writes.
    Executions outside every root (the untimed checks) are left out."""
    spans = [s for r in roots for s in tr.subtree(r)]
    attached = []
    for e in execs:
        best = None
        for s in spans:
            if s["start"] <= e["start"] + 0.002 and e["end"] - 0.002 <= s["end"]:
                if best is None or s["start"] >= best["start"] and \
                        s["end"] <= best["end"]:
                    best = s
        if best is None:
            continue
        name, layer = classify(e["plan"], best["layer"])
        e["span_name"], e["layer"] = name, layer
        tr.add(name, layer, e["start"], e["end"], best["id"], execution=e["id"],
               metrics=e["metrics"], tasks=e["tasks"])
        attached.append(e)
    return attached


def plan_shape(execs) -> dict:
    """Counts of the join and exchange operators in the executed plans
    of one operation (AQE picks them at run time)."""
    out: dict = {}
    for e in execs:
        for op in re.findall(r"\b(BroadcastHashJoin|SortMergeJoin|"
                             r"ShuffledHashJoin|BroadcastNestedLoopJoin|"
                             r"Exchange|AQEShuffleRead)\b", e["plan"]):
            out[op] = out.get(op, 0) + 1
    return out


def kg_table_stats(root) -> dict:
    """Files, bytes, snapshots and manifests of one KG root on disk."""
    from medcat_spark.sources.iceberg import IcebergTable
    files = size = snaps = manifests = 0
    for dirpath, _d, names in os.walk(root):
        for f in names:
            p = os.path.join(dirpath, f)
            if "/data/" in p and f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(p)
            elif "/metadata/" in p and f.endswith(".avro") \
                    and not f.startswith("snap-"):
                manifests += 1
    for dirpath, dirs, _n in os.walk(root):
        if "metadata" in dirs and IcebergTable.exists(dirpath):
            snaps += len(IcebergTable.load(dirpath).snapshots())
    return {"files": files, "bytes": size, "snapshots": snaps,
            "manifests": manifests}


def layer_metrics(wl, tr, traced_roots, allx, n_ops, spark) -> dict:
    """Per-layer metrics of the traced operations, averaged per op."""
    from kgbench.trace import sum_metrics
    n = max(1, n_ops)
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    mb = 2.0 ** 20

    def pick(pred):
        return sum_metrics([e for e in allx if pred(e)])

    pipe = pick(lambda e: e["layer"] == "pipeline")
    for key, mk, scale in (("python_boot_s", "python_boot_s", 1),
                           ("python_init_s", "python_init_s", 1),
                           ("python_total_s", "python_total_s", 1),
                           ("arrow_sent_mb", "arrow_sent_b", mb),
                           ("arrow_received_mb", "arrow_received_b", mb),
                           ("shuffle_write_s", "shuffle_write_s", 1),
                           ("shuffle_mb", "shuffle_b", mb),
                           ("fetch_wait_s", "fetch_wait_s", 1),
                           ("tasks", "tasks", 1)):
        m[f"pipeline.{key}"] = pipe.get(mk, 0.0) / scale / n
    if wl.name == "annotate":
        meta = pick(lambda e: e["layer"] == "meta")
        for key, mk, scale in (("python_total_s", "python_total_s", 1),
                               ("python_init_s", "python_init_s", 1),
                               ("arrow_sent_mb", "arrow_sent_b", mb),
                               ("arrow_received_mb", "arrow_received_b", mb),
                               ("shuffle_mb", "shuffle_b", mb),
                               ("tasks", "tasks", 1)):
            m[f"meta.{key}"] = meta.get(mk, 0.0) / scale / n
        m["meta.score_s"] = tr.total(traced_roots, "functions.lstm_meta") / n
        m["meta.rows"] = wl.last_got["meta"][0]
    else:
        tot = lambda p: tr.total(traced_roots, p) / n  # noqa: E731
        m["triples.mentions_s"] = tot("triples.mentions.spark")
        m["triples.cooccurrence_s"] = tot("triples.cooccurrence.spark")
        trip = pick(lambda e: e["layer"] == "triples")
        m["triples.shuffle_mb"] = trip.get("shuffle_b", 0.0) / mb / n
        m["triples.pairs_in"] = wl.expect["resume"]["pairs"]
        m["triples.rows_out"] = (wl.last_got["resume"]["mentions"][0]
                                 + wl.last_got["resume"]["cooc"][0])
        m["iceberg.resume_scan_s"] = (tot("iceberg.committed_doc_ids")
                                      + tot("iceberg.resume_scan.spark"))
        for t in ("annotations", "lineage", "processed_docs"):
            m[f"iceberg.append.{t}_s"] = tot(f"iceberg.append.{t}")
        # the triple tables' Iceberg commit: the overwrite span minus
        # the Spark job that computes and writes the triples
        m["iceberg.overwrite.triples_s"] = sum(
            tr.self_time(s) for r in traced_roots for s in tr.subtree(r)
            if s["name"].startswith("iceberg.append.triples")) / n
        st = kg_table_stats(wl.last_root)
        m["iceberg.files_written"] = st["files"]
        m["iceberg.bytes_written"] = st["bytes"]
        m["iceberg.snapshots"] = st["snapshots"]
        m["iceberg.manifests"] = st["manifests"]
        n_ann = wl.last_got["resume"]["ann"][0]
        m["iceberg.bytes_per_annotation"] = st["bytes"] / n_ann if n_ann else 0
        from medcat_spark.sources.iceberg import IcebergKgSink
        ts = []
        for _ in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            IcebergKgSink(wl.last_root).read_annotations(spark).count()
            ts.append(time.perf_counter() - t0)
        m["iceberg.read_s"] = median(ts)
    selfs = tr.layer_self_times(traced_roots)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
    m["trace.uncovered_s"] = selfs.get("bench", 0.0) / n
    walls = [tr.spans[r]["end"] - tr.spans[r]["start"] for r in traced_roots]
    m["trace.op_wall_s"] = sum(walls) / n
    m["trace.sum_error_s"] = abs(sum(selfs.values()) - sum(walls))
    return m


def partition_skew(wl, spark) -> float:
    """max/median annotation rows per annotate partition."""
    from pyspark.sql import functions as F
    if wl.name == "annotate":
        rows = [r[1] for r in wl.last_ann.groupBy(F.spark_partition_id())
                .count().collect()]
    else:
        # the build commit's lineage: one row per annotate partition
        from medcat_spark.sources.iceberg import IcebergTable
        t = IcebergTable.load(os.path.join(wl.last_root, "lineage"))
        first = t.snapshots()[0]["snapshot-id"]
        rows = [r["n_annotations"] for r in
                t.to_df(spark, first).select("n_annotations").collect()]
    rows = [r for r in rows if r]
    return max(rows) / median(rows) if rows else 0.0


def install_wraps(tr):
    """Spans around the public calls into each layer (traced runs)."""
    import medcat_spark.pipeline as pipeline
    import medcat_spark.sources.iceberg as ice
    import medcat_spark.triples as triples

    def table_name(args):
        loc = args[0].location.rstrip("/")
        parent = os.path.basename(os.path.dirname(loc))
        return ("triples." if parent == "triples" else "") + \
            os.path.basename(loc)

    tr.wrap(ice, "resumable_annotate_iceberg",
            "iceberg.resumable_annotate_iceberg", "iceberg")
    tr.wrap(ice.IcebergKgSink, "committed_doc_ids",
            "iceberg.committed_doc_ids", "iceberg")
    tr.wrap(ice.IcebergKgSink, "read_annotations",
            "iceberg.read_annotations", "iceberg")
    tr.wrap(ice.IcebergTable, "append_dataframe", "iceberg.append.",
            "iceberg", label=table_name)
    tr.wrap(pipeline, "annotate", "pipeline.annotate.plan", "pipeline")
    tr.wrap(triples, "mention_triples", "triples.mention_triples.plan",
            "triples")
    tr.wrap(triples, "cooccurrence_triples",
            "triples.cooccurrence_triples.plan", "triples")


# ---------------------------------------------------------------------------
# the run


def run(args, work, dirs, scale=1.0, fault=None):
    """One benchmark run; returns (result line dict, full report dict)."""
    import pyspark.context
    from kgbench.trace import RssSampler, SqlMetrics, Tracer, sum_metrics

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    t_run = time.perf_counter()
    timeline = {}

    def mark(name):
        timeline[name] = round(time.perf_counter() - t_run, 3)

    tr = Tracer(False, run_id)          # enabled for traced ops only
    wl = Workload(args.workload, args.seed, work, tr, scale)

    from medcat_spark.session import get_spark
    cores = host.nproc()
    parts = 4 * cores
    conf = host.session_conf(dirs)

    # Input generation, the single-process reference and the reference
    # digests run in a thread during the first (cold) set-up.  They are
    # joined before the second set-up, so they never overlap the
    # restarts that make up the median.
    generated, cold_session = threading.Event(), threading.Event()
    failed, holder = [], {}

    def prepare():
        try:
            wl.generate()
            generated.set()
            wl.compute_reference()
            cold_session.wait()
            if "spark" in holder:
                wl.prepare_reference(holder["spark"])
        except BaseException:
            failed.append(traceback.format_exc())
            generated.set()
            raise

    prep = threading.Thread(target=prepare, daemon=True)
    prep.start()

    launch = {}
    orig_launch = pyspark.context.launch_gateway

    def timed_launch(*a, **kw):
        t = time.perf_counter()
        try:
            return orig_launch(*a, **kw)
        finally:
            launch["s"] = time.perf_counter() - t

    setups = []
    spark = None
    pyspark.context.launch_gateway = timed_launch
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"kgbench-{args.workload}",
                              master=f"local[{cores}]", extra_conf=conf)
            t1 = time.perf_counter()
            if i == 0:
                holder["spark"] = spark
                cold_session.set()
            generated.wait()
            if failed:
                raise RuntimeError("input generation failed:\n" + failed[0])
            tg = time.perf_counter()
            wl.broadcast(spark)
            t2 = time.perf_counter()
            wl.warmup(spark, cores)
            t3 = time.perf_counter()
            setups.append({"start_s": t1 - t0, "broadcast_s": t2 - tg,
                           "warmup_s": t3 - t2,
                           "total_s": (t1 - t0) + (t3 - tg),
                           "waited_for_input_s": tg - t1})
            if i == 0:
                prep.join()
                if failed:
                    raise RuntimeError("reference failed:\n" + failed[0])
        mark("setups_done")
        t0 = time.perf_counter()
        wl.prime(spark, cores)
        prime_s = time.perf_counter() - t0
        mark("prime_done")
    finally:
        pyspark.context.launch_gateway = orig_launch
        cold_session.set()
    gateway = spark.sparkContext._gateway
    jvm_pid = gateway.proc.pid

    try:
        stamp = host.stamp(spark, args.seed, ROOT)
        wl.load_inputs(spark, parts)
        mark("inputs_loaded")
        sql = SqlMetrics(spark)
        if args.trace:
            install_wraps(tr)

        ops, failures, errors = [], 0, []
        traced_roots, traced_execs, n_traced = [], [], 0
        with RssSampler(jvm_pid) as rss:
            t_start = time.perf_counter()
            k = 0
            # a traced run needs an untraced and a traced op after the
            # first (cold) one to estimate the tracing overhead
            min_ops = 3 if args.trace else 1
            while k < min_ops or time.perf_counter() - t_start < args.seconds:
                traced = bool(args.trace) and k % 2 == 1
                tr.enabled = traced
                exec_mark = sql.mark()
                rss.active.set()
                t0 = time.perf_counter()
                n0 = len(tr.spans)
                try:
                    phases, got = wl.op(spark, k, fault)
                    wall = time.perf_counter() - t0
                    rss.active.clear()
                    bad = wl.check(got)
                    wl.last_got = got
                except Exception:          # an operation that raises fails
                    rss.active.clear()
                    wall = time.perf_counter() - t0
                    phases, bad = {}, ["raised"]
                    errors.append(traceback.format_exc(limit=8))
                timed = sum(v for key, v in phases.items()
                            if key.endswith("_s")) or wall
                ops.append({"k": k, "traced": traced, "op_s": timed,
                            "wall_s": wall, "bad": bad, **phases})
                failures += bool(bad)
                execs = sql.since(exec_mark)
                ops[-1]["plan_nodes"] = plan_shape(execs)
                ops[-1]["sql"] = {name: round(v, 3) for name, v in
                                  sum_metrics(execs).items()}
                if traced and not bad:
                    roots = [sp["id"] for sp in tr.spans[n0:]
                             if sp["parent"] is None]
                    ops[-1]["executions"] = [
                        (e["id"], e["start"], e["end"]) for e in execs]
                    traced_execs += attach_executions(tr, roots, execs)
                    traced_roots += roots
                    n_traced += 1
                if wl.name == "annotate" and getattr(wl, "last_ann", None):
                    if traced and not bad:
                        wl.skew = partition_skew(wl, spark)
                    wl.last_ann.unpersist()
                    wl.last_ann = None
                k += 1
                tr.enabled = False
            measured_s = time.perf_counter() - t_start
            mark("ops_done")
        tr.unwrap()

        untraced = [o["op_s"] for o in ops if not o["traced"] and not o["bad"]]
        traced_ops = [o["op_s"] for o in ops if o["traced"] and not o["bad"]]
        # overhead from warm ops only: op0 is the first after set-up
        warm_untraced = [o["op_s"] for o in ops[1:]
                         if not o["traced"] and not o["bad"]]
        report = {
            "workload": args.workload, "seed": args.seed, "run_id": run_id,
            "stamp": stamp, "seconds": args.seconds, "measured_s": measured_s,
            "input": {"docs": len(wl.corpus.rows),
                      "delta_docs": len(wl.corpus.delta_rows or []),
                      "generate_s": wl.gen_s, "reference_s": wl.reference_s},
            "setups": setups, "jvm_launch_s": launch.get("s"),
            "prime_s": prime_s,
            "ops": ops, "errors": errors, "timeline": timeline,
            "fail_ratio": failures / len(ops),
            "rss": {"peak_mb": rss.peak_mb, "worker_peak_mb": rss.worker_peak_mb,
                    "max_jvm_children": rss.max_workers},
        }
        e2e = {
            "setup_s": median([s["total_s"] for s in setups]),
            "op_s": median(untraced),
            "peak_rss_mb": rss.peak_mb,
        }
        report["end_to_end"] = e2e
        report["by_phase"] = phase_summary(wl.name, ops)
        if args.trace:
            m = {k: 0.0 for k in PER_LAYER_UNITS}
            if traced_roots:
                m.update(layer_metrics(wl, tr, traced_roots, traced_execs,
                                       n_traced, spark))
                if wl.name == "kg":
                    wl.skew = partition_skew(wl, spark)
            m["pipeline.partition_skew"] = getattr(wl, "skew", 0.0)
            m["pipeline.worker_rss_mb"] = rss.worker_peak_mb
            m["session.start_s"] = median([s["start_s"] for s in setups])
            m["session.broadcast_s"] = median([s["broadcast_s"] for s in setups])
            m["session.warmup_s"] = median([s["warmup_s"] for s in setups])
            m["session.cold_setup_s"] = setups[0]["total_s"]
            m["session.prime_s"] = prime_s
            m.update(pipeline_probes(spark, wl))
            from kgbench.reference import core_replay
            m.update({k: v for k, v in core_replay(wl.corpus, wl.core_ids)
                      .items() if k in PER_LAYER_UNITS})
            if warm_untraced and traced_ops:
                base = median(warm_untraced)
                m["trace.overhead_s"] = median(traced_ops) - base
                m["trace.overhead_share"] = m["trace.overhead_s"] / base
            report["per_layer"] = m
            report["notes"] = TRACE_NOTES
            os.makedirs(os.path.join(ROOT, ".kgbench", "results"), exist_ok=True)
            tr.write(os.path.join(ROOT, ".kgbench", "results",
                                  f"{run_id}.spans.json"))
        metrics = report["per_layer"] if args.trace else e2e
        units = PER_LAYER_UNITS if args.trace else E2E_UNITS
        result = {"correct": failures == 0, "attempted": len(ops),
                  "failed": failures,
                  "metrics": {k: {"value": float(metrics[k]), "unit": u}
                              for k, u in units.items()}}
        return result, report
    finally:
        stop_session(spark, gateway)


def stop_session(spark, gateway) -> None:
    """Stop Spark, let the JVM exit and wait until it and every process
    it started (the Python daemon and workers) have ended."""
    from pyspark import SparkContext
    from kgbench.trace import tree_rss_mb
    pids = list(tree_rss_mb(gateway.proc.pid))
    try:
        spark.stop()
    finally:
        # the JVM exits when its stdin closes; forget it so that a later
        # run in this process launches a new one
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    """Running (not exited and not a zombie awaiting its parent)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


TRACE_NOTES = {
    "iceberg.append.annotations_s": "includes the lazy annotate compute",
    "iceberg.overwrite.triples_s": "the Iceberg commit (in Python) of both "
    "triple tables; their Spark compute+write is in triples.*_s",
    "triples.*_s": "the Spark job that computes and writes the table",
    "iceberg.read_s": "read_annotations + count on the last KG, median of 3",
    "pipeline.*": "summed SQL metrics of the annotate executions per op",
    "core.*": "single-process replay of a fixed seeded doc sample; warm "
    "pass unless named cold_",
    "trace.overhead_s": "median traced op minus median untraced op, same run",
    "self.*_s": "per-op self time of the spans of that layer",
}


def phase_summary(name, ops):
    ok = [o for o in ops if not o["bad"] and not o["traced"]]
    if not ok:
        return {}
    if name == "annotate":
        return {"docs_per_s": median([o["docs"] / o["annotate_s"] for o in ok]),
                "meta_ents_per_s": median([o["ents"] / o["meta_s"] for o in ok]),
                "annotate_s": median([o["annotate_s"] for o in ok]),
                "meta_s": median([o["meta_s"] for o in ok]),
                "samples": len(ok)}
    return {"build_s": median([o["build_s"] for o in ok]),
            "resume_s": median([o["resume_s"] for o in ok]),
            "samples": len(ok)}


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".kgbench", f"run-{os.getpid()}")
    dirs = host.prepare_env(work, ROOT)
    try:
        result, report = run(args, work, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(ROOT, ".kgbench", "results"), exist_ok=True)
    with open(os.path.join(ROOT, ".kgbench", "results",
                           f"{report['run_id']}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
