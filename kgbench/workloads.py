"""Seeded input generation.  Everything a workload feeds the program is
built here from ``--seed``; the program only ever sees the generated
tables and models.

* ``annotate``: flat ``(doc_id, text)`` documents in the shape of the
  repository's synthetic ``documents`` table (10-100 lowercase words
  drawn uniformly from a 31-word vocabulary), replicated so the token
  memo stays hot; dictionary ``demo.flagship_cdb()`` with an empty vocab.
* ``kg``: interleaved ``(doc_id, spans)`` documents over a Zipf vocabulary,
  a dictionary of 1-3 word names of which about 10% are shared by two
  CUIs with trained context vectors, and 300-d word vectors.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Dict, List

import numpy as np

from medcat_spark.config import EngineConfig
from medcat_spark.core.model import CdbModel, VocabModel
from medcat_spark.demo import CORPUS_WORDS, flagship_cdb
from medcat_spark.fixtures import build_fixture_cdb

# annotate: 2,500 base docs (half the synthetic sf0.1 table)
ANNOTATE_BASE_DOCS = 2_500
# kg: corpus and model shape
KG_VOCAB = 20_000
KG_NAMES = 20_000
KG_SHARED_EVERY = 10       # every tenth name rank has two CUIs
KG_HEAD = 2_000            # filler/topic words: Zipf over the head
KG_DIM = 300
KG_ZIPF_S = 1.07
KG_TOPIC_WORDS = 4          # words planted next to an ambiguous CUI's name
KG_DELTA_SHARE = 0.05       # kg_resume: new docs per resume, share of base
KG_MEDIA = (("image", "img://{d}/{k}.png"), ("table", "tbl://{d}/{k}"))


@dataclass
class Corpus:
    """Generated input.  ``rows`` are the documents as plain dicts;
    ``base_texts`` maps every distinct document (annotate: the base doc
    each replica copies) to the text the kernel annotates."""
    rows: List[dict]
    cdb: CdbModel
    vocab: VocabModel
    config: EngineConfig
    base_texts: Dict[str, str]       # base doc_id -> annotate input text
    replicas: int = 1
    delta_rows: List[dict] = None    # kg_resume: docs added per resume

    def digest(self) -> str:
        """Order-independent digest of every generated document and of
        the dictionary, for the seed-determinism self-test."""
        h = hashlib.sha256()
        for r in sorted(self.rows + (self.delta_rows or []),
                        key=lambda r: r["doc_id"]):
            h.update(repr(sorted(r.items())).encode())
        h.update(self.cdb.content_hash().encode())
        for w in sorted(self.vocab.word2vec):
            h.update(w.encode())
            h.update(self.vocab.word2vec[w].tobytes())
        return h.hexdigest()[:16]


def annotate_corpus(seed: int, replicas: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    words = np.array(CORPUS_WORDS[:-1])          # 'dup' is rare below
    lens = rng.integers(10, 101, ANNOTATE_BASE_DOCS)
    base = {}
    for i, n in enumerate(lens):
        toks = list(words[rng.integers(0, len(words), n)])
        if rng.random() < 0.05:
            toks[rng.integers(0, n)] = "dup"
        base[str(i)] = " ".join(toks)
    salt = f"{int(rng.integers(0, 1 << 16)):04x}"
    suffixes = [f"_{salt}{r:02d}" for r in range(replicas)]
    rows = [{"doc_id": d + s, "text": t}
            for s in suffixes for d, t in base.items()]
    return Corpus(rows=rows, cdb=flagship_cdb(), vocab=VocabModel(),
                  config=EngineConfig(), base_texts=base,
                  replicas=replicas)


def _words(rng, n: int, stop: frozenset) -> List[str]:
    """``n`` distinct pronounceable lowercase words (2-4 open syllables),
    none a stopword."""
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    out, seen = [], set(stop)
    while len(out) < n:
        k = rng.integers(2, 5, 4 * n)
        ids = rng.integers(0, len(syl), (4 * n, 4))
        for kk, row in zip(k, ids):
            w = "".join(syl[j] for j in row[:kk])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** KG_ZIPF_S
    return p / p.sum()


def kg_corpus(seed: int, n_docs: int) -> Corpus:
    """The north-rule input shape: 3-6 text spans and 0-2 media spans
    per doc, about 50 tokens and about 12 dictionary mentions.

    Roles are split by vocabulary rank so that the work per document
    does not depend on which words a seed happens to make names of:
    filler and topic words come from the Zipf head (ranks below
    KG_HEAD), name words uniformly from the tail.  Mentions are planted
    Zipf over name rank; every tenth name rank is shared by two CUIs,
    each planted with its own topic words around it, so a fixed share
    of mentions needs context-vector disambiguation."""
    cfg = EngineConfig()
    rng = np.random.default_rng([seed, 2])
    words = _words(rng, KG_VOCAB, cfg.effective_stopwords())
    head_p = _zipf_p(KG_HEAD)

    # Single-word names and the words of longer names come from disjoint
    # parts of the tail, and no name is a token prefix of another.  So
    # the NER candidates are the planted mentions, and the amount of
    # disambiguation does not depend on which hot names a seed happens
    # to build from other names.
    lens = rng.choice([1, 2, 3], KG_NAMES, p=[0.3, 0.45, 0.25])
    split = KG_HEAD + int(0.6 * KG_NAMES)
    names: List[str] = []
    full, prefixes = set(), set()
    while len(names) < KG_NAMES:
        k = int(lens[len(names)])
        lo, hi = (KG_HEAD, split) if k == 1 else (split, KG_VOCAB)
        toks = [words[j] for j in rng.integers(lo, hi, k)]
        heads = {" ".join(toks[:i]) for i in range(1, k)}
        nm = " ".join(toks)
        if nm in full or nm in prefixes or heads & full:
            continue
        full.add(nm)
        prefixes |= heads
        names.append(nm)
    rows, topics = [], {}
    for i, nm in enumerate(names):
        if i % KG_SHARED_EVERY == KG_SHARED_EVERY - 1:
            for side, status in ((0, "P"), (1, "A")):
                cui = f"S{i:05d}{side}"
                rows.append((cui, nm, "", status, "T1", ""))
                topics[cui] = [words[j] for j in
                               rng.integers(50, KG_HEAD, KG_TOPIC_WORDS)]
        else:
            rows.append((f"C{i:05d}", nm, "", "P", "T1", ""))
    cdb = build_fixture_cdb(cfg, rows=rows, full_build=False)

    vecs = rng.standard_normal((KG_VOCAB, KG_DIM))
    vocab = VocabModel()
    for j, w in enumerate(words):
        vocab.add(w, cnt=KG_VOCAB - j, vec=vecs[j])
    for cui, tw in topics.items():
        proto = np.mean([vocab.vec(w) for w in tw], axis=0)
        cdb.cui2context_vectors[cui] = {
            ct: proto.copy() for ct in cfg.context_vector_sizes}
        cdb.cui2count_train[cui] = 5

    name_p = _zipf_p(KG_NAMES)
    name_toks = [nm.split() for nm in names]

    def make_doc(doc_id: str) -> dict:
        n_ment = int(rng.integers(9, 16))
        picks = rng.choice(KG_NAMES, n_ment, p=name_p)
        sides = rng.integers(0, 2, n_ment)
        fill = rng.choice(KG_HEAD, 3 * n_ment, p=head_p)
        n_fill = rng.integers(1, 4, n_ment)
        toks: List[str] = []
        f = 0
        for j, side, nf in zip(picks, sides, n_fill):
            cui = f"S{j:05d}{side}"
            if cui in topics:
                t = topics[cui]
                toks += t[:2] + name_toks[j] + t[2:]
            else:
                toks += name_toks[j]
            toks += [words[x] for x in fill[f:f + nf]]
            f += nf
        n_text = int(rng.integers(3, 7))
        cuts = sorted(rng.choice(np.arange(1, len(toks)), n_text - 1,
                                 replace=False).tolist())
        media_at = set(rng.choice(n_text, int(rng.integers(0, 3)),
                                  replace=False).tolist())
        spans, pos = [], 0
        for k, (a, b) in enumerate(zip([0] + cuts, cuts + [len(toks)])):
            text = " ".join(toks[a:b])
            spans.append({"kind": "text", "text": text, "media_ref": None,
                          "offset": pos})
            pos += len(text) + 1
            if k in media_at:
                kind, ref = KG_MEDIA[k % 2]
                spans.append({"kind": kind, "text": None,
                              "media_ref": ref.format(d=doc_id, k=k),
                              "offset": pos})
                pos += 8
        return {"doc_id": doc_id, "spans": spans}

    n_delta = max(1, int(n_docs * KG_DELTA_SHARE))
    salt = f"{int(rng.integers(0, 1 << 16)):04x}"
    docs = [make_doc(f"k{salt}{i:06d}") for i in range(n_docs)]
    delta = [make_doc(f"k{salt}{n_docs + i:06d}") for i in range(n_delta)]
    from medcat_spark.core.docs import reconstruct_text
    base_texts = {d["doc_id"]: reconstruct_text(d["spans"])
                  for d in docs + delta}
    return Corpus(rows=docs, cdb=cdb, vocab=vocab,
                  config=cfg, base_texts=base_texts, delta_rows=delta)


def sample_ids(corpus: Corpus, n: int, seed: int) -> List[str]:
    """A fixed seeded sample of base doc_ids (core-layer replay)."""
    ids = sorted(corpus.base_texts)
    rng = np.random.default_rng([seed, 3])
    pick = rng.choice(len(ids), min(n, len(ids)), replace=False)
    return [ids[i] for i in sorted(pick)]
