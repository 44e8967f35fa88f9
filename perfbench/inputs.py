"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the ``--seed``
argument and returns ``(tables, props)``: ``tables`` maps a table name to a
``pyarrow.Table`` that is written once as parquet during set-up, and
``props`` records each input property the engine's behaviour depends on
(row counts, vocabulary size and skew, repeated-multiset share, planted
near-duplicate share, eval overlap, vectors per IVF cell).
The same seed always yields the same tables; any seed yields a valid
workload on which no operation fails.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# Input sizes. Measured on 4 cores in one warm JVM, a warm kg_build run
# takes about 4.5 s plus 0.16 ms per corpus file and a warm curate run about
# 16 s plus 2.2 ms per document: the rest is Spark's per-job overhead. At
# 32,000 files and 3,000 documents the input-proportional part is about
# half of a kg_build run and a third of a curate run; larger inputs would
# push one invocation (set-up, cold run, warm run) well past a minute. One
# linking batch per run: the BM25 index built in the cold run is reused by
# every warm run.
KG_FILES = 32_000
KG_MODULES = 3_000
KG_BASES = 500
KG_ZIPF = 1.2
KG_REPOS = 40

LINK_DICT = 3_000
LINK_VOCAB = 2_000
LINK_REPEAT_SHARE = 0.3
LINK_BATCHES = 1
LINK_QUERIES = 50
LINK_CANDIDATES = 1_600
LINK_VEC_QUERIES = 40
LINK_DIM = 64
LINK_CLUSTERS = 16
IVF_CELLS = 16  # similarity.N_CELLS: the pinned coarse quantizer size

CUR_DOCS = 3_000
CUR_VOCAB = 2_000
CUR_DUP_SHARE = 0.2
CUR_EVAL_OVERLAP = 0.05
CUR_LOW_QUALITY = 0.05
CUR_REPETITIVE = 0.03
CUR_EVAL_EVERY = 20  # the curate CLI job's hold-out rule: doc_id % 20 == 0

LEXICONS = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "de", "et", "que"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    """`n` distinct random lowercase words (letters only, so no engine regex
    over digits ever matches inside them)."""
    out: dict[str, None] = {}
    while len(out) < n:
        lens = rng.integers(lo, hi + 1, size=n)
        chars = rng.choice(LETTERS, size=(n, hi))
        for row, ln in zip(chars, lens):
            out["".join(row[:ln])] = None
            if len(out) == n:
                break
    return list(out)


def _zipf_ranks(rng: np.random.Generator, vocab: int, s: float, size: int) -> np.ndarray:
    """Zipf(s) draws over a finite vocabulary, mapped through a seeded
    permutation so that which ids are hot changes with the seed."""
    p = 1.0 / np.arange(1, vocab + 1) ** s
    p /= p.sum()
    perm = rng.permutation(vocab)
    return perm[rng.choice(vocab, size=size, p=p)]


class _Draws:
    """Bulk Zipf draws consumed in order: one vectorized draw up front
    instead of a weighted choice per row."""

    def __init__(self, rng: np.random.Generator, vocab: int, s: float, total: int):
        self.ids = _zipf_ranks(rng, vocab, s, total)
        self.pos = 0

    def take(self, k: int) -> np.ndarray:
        out = self.ids[self.pos:self.pos + k]
        self.pos += k
        return out


def _top_share(ids: np.ndarray, k: int) -> float:
    counts = np.sort(np.bincount(ids))[::-1]
    return float(counts[:k].sum() / counts.sum())


# -------------------------------------------------------------------- corpus

def corpus(rng: np.random.Generator) -> tuple[dict, dict]:
    """Code corpus (repo, path, commit, lang, content) in the extractors'
    grammar: 1-4 imports, one def whose body calls the first import, one
    class extending a base. Module and base ids are Zipf-skewed, so a few
    module/base nodes are hot keys for the node and canonical groupings."""
    n = KG_FILES
    n_imp = rng.integers(1, 5, size=n)
    mods = _zipf_ranks(rng, KG_MODULES, KG_ZIPF, int(n_imp.sum()))
    bases = _zipf_ranks(rng, KG_BASES, KG_ZIPF, n)
    repos = rng.integers(0, KG_REPOS, size=n)
    langs = rng.choice(np.array(["python", "cython", "stub"]), size=n, p=[0.8, 0.15, 0.05])
    tails = rng.choice(np.append(LETTERS, " "), size=(n, 24))
    content, paths, commits = [], [], []
    pos = 0
    for i in range(n):
        k = int(n_imp[i])
        ms = mods[pos:pos + k]
        pos += k
        lines = [f"import mod{m}" for m in ms]
        lines.append(f"def fn{i}(x):")
        lines.append(f'    return mod{ms[0]}.call(x) + "{"".join(tails[i]).strip()}"')
        lines.append(f"class Cls{i}(Base{bases[i]}):")
        lines.append("    pass")
        content.append("\n".join(lines) + "\n")
        paths.append(f"src/pkg{i % 97}/file_{i}.py")
        commits.append(hashlib.md5(f"{i}:{ms[0]}".encode()).hexdigest())
    table = pa.table({
        "repo": [f"org/repo{r}" for r in repos],
        "path": paths,
        "commit": commits,
        "lang": langs.tolist(),
        "content": content,
    })
    props = {
        "files": n,
        "imports_per_file_mean": round(float(n_imp.mean()), 4),
        "module_vocab": KG_MODULES,
        "module_vocab_used": int(np.unique(mods).size),
        "base_vocab": KG_BASES,
        "zipf_s": KG_ZIPF,
        "top10_module_share": round(_top_share(mods, 10), 4),
        "top1_module_share": round(_top_share(mods, 1), 4),
        "repos": KG_REPOS,
    }
    return {"corpus": table}, props


# ---------------------------------------------------------------------- link

def link(rng: np.random.Generator) -> tuple[dict, dict]:
    """BM25 dictionary + query batches + 64-dim vectors.

    A stated share of dictionary entries repeat the token multiset of an
    earlier entry (shuffled order), which is what bm25_topn's score-class
    compression keys on. Vectors come from a seeded Gaussian mixture; query
    vectors are perturbed candidates, so every query has near neighbours."""
    vocab = _words(rng, LINK_VOCAB)
    vocab_a = np.array(vocab)
    n = LINK_DICT
    draws = _Draws(rng, LINK_VOCAB, 1.05, 6 * n + 8 * LINK_BATCHES * LINK_QUERIES)
    repeat = rng.random(n) < LINK_REPEAT_SHARE
    repeat[:50] = False
    lens = rng.integers(2, 7, size=n)
    names: list[str] = []
    for i in range(n):
        if repeat[i]:
            toks = names[int(rng.integers(0, i))].split(" ")
            rng.shuffle(toks)
            names.append(" ".join(toks))
        else:
            names.append(" ".join(vocab_a[draws.take(int(lens[i]))]))
    n_rep = int(repeat.sum())
    distinct_multisets = len({tuple(sorted(s.split(" "))) for s in names})
    tables = {"dictionary": pa.table({"term_id": np.arange(n, dtype=np.int64), "name": names})}

    centers = rng.normal(0.0, 1.0, size=(LINK_CLUSTERS, LINK_DIM))
    assign = rng.integers(0, LINK_CLUSTERS, size=LINK_CANDIDATES)
    cvec = (centers[assign] + rng.normal(0.0, 0.35, size=(LINK_CANDIDATES, LINK_DIM))).astype(np.float32)
    tables["candidates"] = pa.table({
        "cid": np.arange(LINK_CANDIDATES, dtype=np.int64),
        "cvec": pa.array(list(cvec), type=pa.list_(pa.float32())),
    })
    for b in range(LINK_BATCHES):
        qlen = rng.integers(3, 9, size=LINK_QUERIES)
        qtext = [" ".join(vocab_a[draws.take(int(k))]) for k in qlen]
        tables[f"queries_{b}"] = pa.table({
            "qid": np.arange(b * LINK_QUERIES, (b + 1) * LINK_QUERIES, dtype=np.int64),
            "qtext": qtext,
        })
        src = rng.integers(0, LINK_CANDIDATES, size=LINK_VEC_QUERIES)
        qv = (cvec[src] + rng.normal(0.0, 0.2, size=(LINK_VEC_QUERIES, LINK_DIM))).astype(np.float32)
        tables[f"vqueries_{b}"] = pa.table({
            "qid": np.arange(b * LINK_VEC_QUERIES, (b + 1) * LINK_VEC_QUERIES, dtype=np.int64),
            "qvec": pa.array(list(qv), type=pa.list_(pa.float32())),
        })
    props = {
        "dictionary_rows": n,
        "vocab": LINK_VOCAB,
        "repeated_multiset_share": round(n_rep / n, 4),
        "distinct_multisets": distinct_multisets,
        "batches": LINK_BATCHES,
        "queries_per_batch": LINK_QUERIES,
        "candidates": LINK_CANDIDATES,
        "vector_queries_per_batch": LINK_VEC_QUERIES,
        "dim": LINK_DIM,
        "ivf_cells": IVF_CELLS,
        "candidates_per_ivf_cell": LINK_CANDIDATES / IVF_CELLS,
    }
    return tables, props


# -------------------------------------------------------------------- curate

def curate(rng: np.random.Generator) -> tuple[dict, dict]:
    """documents(doc_id, text): ordinary docs with stop-word density that
    passes the quality gate, plus planted low-quality docs, repetitive
    docs, near-duplicate pairs (1-2 token edits of a base doc) and
    training docs that embed a 6-token span of an eval doc. Eval docs are
    every 20th doc_id, the curate job's hold-out rule."""
    n = CUR_DOCS
    vocab = np.array(_words(rng, CUR_VOCAB, 3, 10))
    langs = rng.choice(np.array(list(LEXICONS)), size=n, p=[0.7, 0.1, 0.1, 0.1])
    draws = _Draws(rng, CUR_VOCAB, 1.0, 61 * n)

    def ordinary(lang: str) -> list[str]:
        k = int(rng.integers(30, 61))
        toks = vocab[draws.take(k)].tolist()
        stops = LEXICONS[lang]
        for j in rng.choice(k, size=k // 4, replace=False):
            toks[j] = stops[int(rng.integers(0, len(stops)))]
        return toks

    docs: list[list[str]] = []
    kind = np.empty(n, dtype=object)
    dup_groups: list[int] = []
    i = 0
    while i < n:
        r = rng.random()
        if r < CUR_LOW_QUALITY:
            docs.append(vocab[rng.integers(0, CUR_VOCAB, size=int(rng.integers(4, 9)))].tolist())
            kind[i] = "low_quality"
            i += 1
        elif r < CUR_LOW_QUALITY + CUR_REPETITIVE:
            phrase = vocab[rng.integers(0, CUR_VOCAB, size=3)].tolist()
            docs.append(phrase * int(rng.integers(10, 16)))
            kind[i] = "repetitive"
            i += 1
        elif r < CUR_LOW_QUALITY + CUR_REPETITIVE + CUR_DUP_SHARE / 2:
            # pairs only: each planted group is one LSH edge, so connected
            # components converges in the same number of rounds for every
            # seed and the work per run does not depend on the seed
            size = min(2, n - i)
            base = ordinary(str(langs[i]))
            for _ in range(size):
                copy = list(base)
                for j in rng.choice(len(copy), size=int(rng.integers(1, 3)), replace=False):
                    copy[j] = str(vocab[int(rng.integers(0, CUR_VOCAB))])
                docs.append(copy)
                kind[i] = "near_dup"
                i += 1
            dup_groups.append(size)
        else:
            docs.append(ordinary(str(langs[i])))
            kind[i] = "ordinary"
            i += 1

    eval_ids = np.arange(0, n, CUR_EVAL_EVERY)
    n_overlap = 0
    for d in range(n):
        if d % CUR_EVAL_EVERY and kind[d] == "ordinary" and rng.random() < CUR_EVAL_OVERLAP:
            ev = docs[int(rng.choice(eval_ids))]
            if len(ev) >= 6:
                s = int(rng.integers(0, len(ev) - 5))
                at = int(rng.integers(0, len(docs[d])))
                docs[d] = docs[d][:at] + ev[s:s + 6] + docs[d][at:]
                n_overlap += 1
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [" ".join(t) for t in docs],
    })
    kinds, counts = np.unique(kind.astype(str), return_counts=True)
    n_train = n - eval_ids.size
    props = {
        "documents": n,
        "eval_rows": int(eval_ids.size),
        "vocab": CUR_VOCAB,
        "kind_counts": {k: int(c) for k, c in zip(kinds, counts)},
        "near_dup_share": round(float(np.mean(kind == "near_dup")), 4),
        "near_dup_groups": len(dup_groups),
        "near_dup_group_size_mean": round(float(np.mean(dup_groups)), 4) if dup_groups else 0.0,
        "eval_overlap_share": round(n_overlap / n_train, 4),
        "lang_shares": {k: round(float(np.mean(langs == k)), 4) for k in LEXICONS},
    }
    return {"documents": table}, props


def kg_build(rng: np.random.Generator) -> tuple[dict, dict]:
    """The code corpus, then the linking dictionary, candidates and query
    batches, drawn in that order from one generator."""
    tables, props = corpus(rng)
    link_tables, link_props = link(rng)
    return {**tables, **link_tables}, {**props, **link_props}


GENERATORS = {"kg_build": kg_build, "curate": curate}
