"""Single-process references for the output checks, the order-independent
digests both sides are compared by, and the core-layer replay.

The reference is computed once per run, before the timed operations,
with ``core.annotate.annotate_document`` in this process.  Every timed
operation's output is then digested by Spark and compared with the
digest of the reference rows loaded into Spark, using the same digest
expression on both sides.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import replace
from itertools import combinations
from typing import Dict, Iterable, List, Tuple

from medcat_spark.core.annotate import annotate_document, preprocess
from medcat_spark.core.linker import create_main_ann, link_entities
from medcat_spark.core.ner import detect_entities
from medcat_spark.core.normalizer import SpellChecker

from kgbench.workloads import Corpus

Ann = Dict[str, List[Tuple[str, int, int]]]      # doc_id -> [(cui, start, end)]


def _fresh(corpus: Corpus):
    """A config equal to the workload's but with its own (empty) token
    memo, so nothing computed here leaks into the broadcast model."""
    cfg = replace(corpus.config)
    sc = SpellChecker(corpus.cdb.vocab, cfg) if cfg.spell_check else None
    return cfg, sc


def annotations(corpus: Corpus, doc_ids: Iterable[str]) -> Ann:
    cfg, sc = _fresh(corpus)
    out: Ann = {}
    for d in doc_ids:
        ents, _ = annotate_document(corpus.base_texts[d], corpus.cdb,
                                    corpus.vocab, cfg, sc)
        out[d] = [(e.cui, e.start, e.end) for e in ents]
    return out


def meta_rows(ann: Ann, texts: Dict[str, str], model,
              meta_name: str) -> List[tuple]:
    """Run the LSTM meta scorer's batch kernel in this process over the
    reference annotations: (doc_id, start, cui, meta_name, value,
    confidence) per scored annotation."""
    import pyarrow as pa
    from medcat_spark.functions.lstm_meta import _score_batches_lstm

    class _Local:                       # stands in for the broadcast
        value = model
        _path = "kgbench-reference"

    ents_t = pa.list_(pa.struct([("start", pa.int32()), ("end", pa.int32()),
                                 ("cui", pa.string())]))
    ids = sorted(d for d in ann if ann[d])
    batches = []
    for i in range(0, len(ids), 2048):
        chunk = ids[i:i + 2048]
        batches.append(pa.RecordBatch.from_arrays([
            pa.array(chunk, pa.string()),
            pa.array([[{"start": s, "end": e, "cui": c}
                       for c, s, e in ann[d]] for d in chunk], ents_t),
            pa.array([texts[d] for d in chunk], pa.string())],
            names=["doc_id", "ents", "text"]))
    rows = []
    for rb in _score_batches_lstm(_Local(), meta_name)(iter(batches)):
        rows.extend(zip(*[rb.column(k).to_pylist() for k in
                          ("doc_id", "start", "cui", "meta_name", "value",
                           "confidence")]))
    return rows


def triples(ann: Ann) -> Tuple[List[tuple], List[tuple]]:
    """Mention triples (distinct per doc and CUI) and co-occurrence
    triples with their document counts, computed from the reference
    annotations without the product's triples code."""
    mentions = sorted({(f"doc:{d}", "mentions", f"cui:{c}", d)
                       for d, ents in ann.items() for c, _s, _e in ents})
    pairs: Counter = Counter()
    for ents in ann.values():
        pairs.update(combinations(sorted({c for c, _s, _e in ents}), 2))
    cooc = [(f"cui:{a}", "cooccurs_with", f"cui:{b}", n)
            for (a, b), n in pairs.items()]
    return mentions, cooc


# ---------------------------------------------------------------------------
# digests


def digest_frame(df, cols: List[str], name: str, sum_col: str = None):
    """One row ``(name, n, h, s)``: row count, the sum of
    ``xxhash64(cols)`` (order-independent) and optionally the sum of a
    float column, for a tolerance check."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    s = F.sum(F.col(sum_col)) if sum_col else F.lit(0.0)
    return df.agg(F.lit(name).alias("name"), F.count(F.lit(1)).alias("n"),
                  F.sum(h).alias("h"), s.cast("double").alias("s"))


def collect_digests(frames) -> Dict[str, tuple]:
    """Evaluate several ``digest_frame`` rows in one action."""
    it = iter(frames)
    u = next(it)
    for f in it:
        u = u.unionByName(f)
    return {r["name"]: (int(r["n"]), int(r["h"] or 0), float(r["s"] or 0.0))
            for r in u.collect()}


def same(got: tuple, want: tuple, tol: float = 0.0) -> bool:
    return got[0] == want[0] and got[1] == want[1] and \
        abs(got[2] - want[2]) <= tol


# ---------------------------------------------------------------------------
# core-layer replay


def core_replay(corpus: Corpus, doc_ids: List[str]) -> Dict[str, float]:
    """Replay ``doc_ids`` through the kernel phases in this process: one
    cold pass with a fresh config (empty token memo), then one warm
    pass.  Times are the warm pass's unless named ``cold_``."""
    cfg, sc = _fresh(corpus)
    cdb, vocab = corpus.cdb, corpus.vocab
    texts = [corpus.base_texts[d][:cfg.max_document_length] for d in doc_ids]

    t0 = time.perf_counter()
    for t in texts:
        preprocess(t, cdb, cfg, sc)
    cold_pre = time.perf_counter() - t0

    ph = {"pre": 0.0, "ner": 0.0, "link": 0.0, "select": 0.0}
    n = {"tokens": 0, "candidates": 0, "disamb": 0, "entities": 0}
    clock = time.perf_counter
    for t in texts:
        a = clock()
        toks = preprocess(t, cdb, cfg, sc)
        b = clock()
        cands = detect_entities(toks, t, cdb, cfg)
        c = clock()
        linked = link_entities(cands, toks, cdb, vocab, cfg)
        d = clock()
        main = create_main_ann(linked)
        e = clock()
        ph["pre"] += b - a
        ph["ner"] += c - b
        ph["link"] += d - c
        ph["select"] += e - d
        n["tokens"] += len(toks)
        n["candidates"] += len(cands)
        n["disamb"] += sum(1 for x in cands
                           if x.link_candidates and len(x.link_candidates) > 1)
        n["entities"] += len(main)
    busy = sum(ph.values())
    return {
        "core.preprocess_s": ph["pre"], "core.ner_s": ph["ner"],
        "core.link_s": ph["link"], "core.select_s": ph["select"],
        "core.cold_preprocess_s": cold_pre,
        "core.docs_per_s_per_core": len(texts) / busy if busy else 0.0,
        "core.docs": len(texts),
        "core.tokens": n["tokens"], "core.candidates": n["candidates"],
        "core.disambiguations": n["disamb"], "core.entities": n["entities"],
        "core.entities_per_candidate":
            n["entities"] / n["candidates"] if n["candidates"] else 0.0,
    }
