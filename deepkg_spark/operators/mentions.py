"""Mention detection (NER stage).

Reference semantics (citations into /root/reference/):
- GlobalPointer span decoding: per-class span-pair score cube [C, L, L],
  boundary rows/cols masked to -inf, spans emitted where score > threshold,
  CLOSED intervals (surface = text[start:end+1]) —
  ExtractionEntities/inference.py:48-80 and data_processing/data_process.py:12-15.
- The scorer itself is pluggable (reference uses trained BERT weights we do
  not ship); the default deterministic PatternSpanScorer assigns score +1.0 to
  spans matching the mention grammar and -inf elsewhere, which makes the
  decode path exactly reproducible and oracle-checkable.

Two physical strategies:
1. ``mentions_udf(df)``   — Arrow-batched ``mapInPandas`` (the execution shape
   mandated by the north star: batch in, span records out, no per-row Python).
   One narrow stage: scan -> mapInPandas -> explode. No shuffle.
2. ``mentions_frame(df)`` — pure JVM path via ``regexp_extract_all`` + explode
   (whole-stage codegen; preferred at 100 TB for this grammar because it never
   leaves Tungsten). Unit tests assert both produce identical rows.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (mention_type, regex). No backslashes -> identical under Java regex and RE2,
# and safe inside single-quoted SQL literals in both engines.
MENTION_PATTERNS: list[tuple[str, str]] = [
    ("module", "mod[0-9]+"),
    ("function", "fn[0-9]+"),
    ("class", "(Cls|Base)[0-9]+"),
]

MENTION_SCHEMA = (
    "repo string, path string, lang string, mention_type string, "
    "surface string, start_idx int, end_idx int"
)


# ---------------------------------------------------------------- UDF path

def decode_global_pointer(
    scores: np.ndarray, threshold: float = 0.0
) -> list[tuple[int, int, int]]:
    """GlobalPointer decode over a dense [C, L, L] cube.

    Faithful to inference.py:67-79: mask boundary rows/cols to -inf, keep
    upper triangle (start <= end), emit (class, start, end) where
    score > threshold. Used by tests to prove the sparse fast path below is
    equivalent; production batches never materialize the cube.
    """
    s = scores.copy()
    s[:, [0, -1]] = -np.inf
    s[:, :, [0, -1]] = -np.inf
    out = []
    for c, i, j in zip(*np.where(s > threshold)):
        if i <= j:
            out.append((int(c), int(i), int(j)))
    return out


class PatternSpanScorer:
    """Deterministic span scorer: +1.0 on grammar matches, -inf elsewhere.

    score_spans() is the sparse equivalent of building the [C, L, L] cube and
    running decode_global_pointer; score_cube() materializes the dense cube
    for the equivalence unit test.
    """

    def __init__(self, patterns: list[tuple[str, str]] | None = None):
        self.patterns = [(t, re.compile(p)) for t, p in (patterns or MENTION_PATTERNS)]

    def score_spans(self, text: str) -> list[tuple[str, int, int, str]]:
        spans = []
        for mtype, rx in self.patterns:
            for m in rx.finditer(text):
                # closed interval: end_idx inclusive (data_process.py:14)
                spans.append((mtype, m.start(), m.end() - 1, m.group(0)))
        return spans

    def score_cube(self, text: str, pad: int = 1) -> np.ndarray:
        """Dense [C, L+2*pad, L+2*pad] cube with CLS/SEP-style boundary pads."""
        length = len(text) + 2 * pad
        cube = np.full((len(self.patterns), length, length), -np.inf)
        for ci, (_, rx) in enumerate(self.patterns):
            for m in rx.finditer(text):
                cube[ci, m.start() + pad, m.end() - 1 + pad] = 1.0
        return cube


class _HashFeatures:
    """Deterministic per-character feature vectors: md5-seeded pseudo-
    embeddings per character code, shared by the neural-shaped heads below.
    Plays the role of the BERT encoder output the reference heads consume;
    the heads' TENSOR SHAPES and decode semantics are faithful, the weights
    are pinned-seed random (no trained checkpoints ship with the engine —
    SURVEY.md §7 model note: the scorer backend is pluggable)."""

    def __init__(self, dim: int = 16, seed: int = 1234):
        rng = np.random.RandomState(seed)
        self.table = rng.standard_normal((256, dim))
        self.dim = dim

    def encode(self, text: str) -> np.ndarray:
        # ONE row per CODE POINT (table indexed by min(ord, 255)) so the
        # feature matrix length equals len(text) for non-ASCII input too —
        # score_cube slices and score_spans offsets are char-indexed.
        # ASCII code points coincide with their UTF-8 bytes, so ASCII
        # corpora (all contract fixtures) are bit-identical to the old
        # byte-indexed encoding.
        idx = np.fromiter(
            (min(ord(ch), 255) for ch in text), dtype=np.int64, count=len(text)
        )
        return self.table[idx]


class BiaffineSpanScorer:
    """Biaffine head (reference: ExtractionEntities/model/model.py:89-147):
    start/end projections + per-class bilinear form
    score[c, i, j] = f(h_i W_s) @ U_c @ f(h_j W_e). Deterministic weights."""

    def __init__(self, n_classes: int = 3, dim: int = 16, seed: int = 7):
        self.feats = _HashFeatures(dim)
        rng = np.random.RandomState(seed)
        self.w_s = rng.standard_normal((dim, dim)) / np.sqrt(dim)
        self.w_e = rng.standard_normal((dim, dim)) / np.sqrt(dim)
        self.u = rng.standard_normal((n_classes, dim, dim)) / dim
        self.n_classes = n_classes

    def score_cube(self, text: str, pad: int = 1) -> np.ndarray:
        h = self.feats.encode(text)
        hs = np.tanh(h @ self.w_s)
        he = np.tanh(h @ self.w_e)
        cube = np.einsum("id,cde,je->cij", hs, self.u, he)
        out = np.full(
            (self.n_classes, len(text) + 2 * pad, len(text) + 2 * pad), -np.inf
        )
        out[:, pad : pad + len(text), pad : pad + len(text)] = cube
        return out

    def score_spans(self, text: str, threshold: float) -> list[tuple[int, int, int, float]]:
        """Sparse decode: per-class (hs @ U_c) @ he.T GEMMs + upper-triangle
        threshold scan — never materializes the padded cube (the production
        path; dense/sparse equivalence proven in tests like the
        PatternSpanScorer pair). Emits (class, start, end_inclusive, score),
        0-based char positions, sorted."""
        h = self.feats.encode(text)
        hs = np.tanh(h @ self.w_s)
        he = np.tanh(h @ self.w_e)
        out = []
        for c in range(self.n_classes):
            m = (hs @ self.u[c]) @ he.T
            ii, jj = np.where(np.triu(m) > threshold)
            out.extend(
                (c, int(i), int(j), float(m[i, j])) for i, j in zip(ii, jj) if i <= j
            )
        return sorted(out)


class UnlabeledEntityScorer:
    """Pairwise-concat head (reference: model/model.py:193-235): features
    [h_i; h_j; h_i - h_j; h_i * h_j] -> per-class linear scorer."""

    def __init__(self, n_classes: int = 3, dim: int = 16, seed: int = 11):
        self.feats = _HashFeatures(dim)
        rng = np.random.RandomState(seed)
        self.w = rng.standard_normal((n_classes, 4 * dim)) / np.sqrt(4 * dim)
        self.n_classes = n_classes

    def score_cube(self, text: str, pad: int = 1) -> np.ndarray:
        h = self.feats.encode(text)
        n = len(text)
        hi = h[:, None, :].repeat(n, axis=1)
        hj = h[None, :, :].repeat(n, axis=0)
        pair = np.concatenate([hi, hj, hi - hj, hi * hj], axis=-1)
        cube = np.einsum("ijf,cf->cij", pair, self.w)
        out = np.full((self.n_classes, n + 2 * pad, n + 2 * pad), -np.inf)
        out[:, pad : pad + n, pad : pad + n] = cube
        return out

    def score_spans(self, text: str, threshold: float) -> list[tuple[int, int, int, float]]:
        """Sparse decode via the linear decomposition of the concat features:
        w·[h_i; h_j; h_i-h_j; h_i*h_j] = (w1+w3)·h_i + (w2-w3)·h_j
        + h_i diag(w4) h_j — O(n^2 d) work and O(n^2) memory instead of the
        dense path's O(n^2·4d) feature tensor. Emits (class, start,
        end_inclusive, score), sorted."""
        h = self.feats.encode(text)
        d = h.shape[1]
        out = []
        for c in range(self.n_classes):
            w1, w2, w3, w4 = (self.w[c, k * d : (k + 1) * d] for k in range(4))
            a = h @ (w1 + w3)
            b = h @ (w2 - w3)
            m = a[:, None] + b[None, :] + (h * w4) @ h.T
            ii, jj = np.where(np.triu(m) > threshold)
            out.extend(
                (c, int(i), int(j), float(m[i, j])) for i, j in zip(ii, jj) if i <= j
            )
        return sorted(out)


def _rope(x: np.ndarray) -> np.ndarray:
    """Rotary position encoding over the last axis (model.py:158-176: the
    SinusoidalPositionEmbedding 'zero' mode + interleaved rotation). x is
    [n, d] with d even; position = row index."""
    n, d = x.shape
    inv = np.power(10000.0, -2.0 * np.arange(d // 2) / d)
    ang = np.arange(n)[:, None] * inv[None, :]
    cos = np.repeat(np.cos(ang), 2, axis=1)
    sin = np.repeat(np.sin(ang), 2, axis=1)
    x2 = np.stack([-x[:, 1::2], x[:, 0::2]], axis=-1).reshape(x.shape)
    return x * cos + x2 * sin


class RotaryGlobalPointerScorer:
    """The reference's ACTUAL GlobalPointer head (model.py:148-180): one
    linear projecting to n_classes * head_size * 2, split into per-class
    (q, k), RoPE applied to both, logits[c, i, j] = q_i . k_j / sqrt(hs),
    lower triangle excluded. Deterministic pinned-seed weights."""

    def __init__(self, n_classes: int = 3, dim: int = 16, head_size: int = 8,
                 seed: int = 13):
        self.feats = _HashFeatures(dim)
        rng = np.random.RandomState(seed)
        self.w = rng.standard_normal((dim, n_classes * head_size * 2)) / np.sqrt(dim)
        self.n_classes = n_classes
        self.head_size = head_size

    def _qk(self, text: str) -> tuple[np.ndarray, np.ndarray]:
        h = self.feats.encode(text) @ self.w  # [n, C*hs*2]
        n = h.shape[0]
        hs = self.head_size
        per = h.reshape(n, self.n_classes, 2 * hs)
        q = np.stack([_rope(per[:, c, :hs]) for c in range(self.n_classes)])
        k = np.stack([_rope(per[:, c, hs:]) for c in range(self.n_classes)])
        return q, k  # each [C, n, hs]

    def score_cube(self, text: str, pad: int = 1) -> np.ndarray:
        q, k = self._qk(text)
        cube = np.einsum("cmd,cnd->cmn", q, k) / np.sqrt(self.head_size)
        n = len(text)
        out = np.full((self.n_classes, n + 2 * pad, n + 2 * pad), -np.inf)
        out[:, pad : pad + n, pad : pad + n] = cube
        return out

    def score_spans(self, text: str, threshold: float) -> list[tuple[int, int, int, float]]:
        """Sparse decode: per-class q @ k.T GEMM, no padded cube."""
        q, k = self._qk(text)
        out = []
        for c in range(self.n_classes):
            m = (q[c] @ k[c].T) / np.sqrt(self.head_size)
            ii, jj = np.where(np.triu(m) > threshold)
            out.extend(
                (c, int(i), int(j), float(m[i, j])) for i, j in zip(ii, jj) if i <= j
            )
        return sorted(out)


class EfficientGlobalPointerScorer:
    """Efficient GlobalPointer (the published per-head F1 row,
    UIE_torch/Readme.md:12; the reference ships no code for it, so this
    follows the public formulation — GlobalPointer v2: ONE shared (q, k)
    projection scores span shape, a light per-class linear scores span
    type): logits[c, i, j] = q_i . k_j / sqrt(hs)
                             + (p[c] . qk_i + r[c] . qk_j) / 2
    with RoPE on q, k. O(d*hs + hs*C) parameters vs GlobalPointer's
    O(d*hs*C). Deterministic pinned-seed weights."""

    def __init__(self, n_classes: int = 3, dim: int = 16, head_size: int = 8,
                 seed: int = 17):
        self.feats = _HashFeatures(dim)
        rng = np.random.RandomState(seed)
        self.w = rng.standard_normal((dim, head_size * 2)) / np.sqrt(dim)
        self.wc = rng.standard_normal((head_size * 2, n_classes)) / np.sqrt(head_size)
        self.n_classes = n_classes
        self.head_size = head_size

    def _parts(self, text: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        qk = self.feats.encode(text) @ self.w  # [n, 2*hs]
        hs = self.head_size
        q = _rope(qk[:, :hs])
        k = _rope(qk[:, hs:])
        bias = qk @ self.wc  # [n, C]
        return q, k, bias

    def score_cube(self, text: str, pad: int = 1) -> np.ndarray:
        q, k, bias = self._parts(text)
        base = (q @ k.T) / np.sqrt(self.head_size)  # [n, n]
        cube = base[None, :, :] + (bias.T[:, :, None] + bias.T[:, None, :]) / 2.0
        n = len(text)
        out = np.full((self.n_classes, n + 2 * pad, n + 2 * pad), -np.inf)
        out[:, pad : pad + n, pad : pad + n] = cube
        return out

    def score_spans(self, text: str, threshold: float) -> list[tuple[int, int, int, float]]:
        """Sparse decode: ONE shared GEMM + per-class rank-1 bias add."""
        q, k, bias = self._parts(text)
        base = (q @ k.T) / np.sqrt(self.head_size)
        out = []
        for c in range(self.n_classes):
            m = base + (bias[:, c][:, None] + bias[:, c][None, :]) / 2.0
            ii, jj = np.where(np.triu(m) > threshold)
            out.extend(
                (c, int(i), int(j), float(m[i, j])) for i, j in zip(ii, jj) if i <= j
            )
        return sorted(out)


# per-head decode thresholds for the contract queries: chosen so the pinned-
# seed heads emit a modest, non-empty span set over the fixture grammar
HEAD_THRESHOLDS = {"biaffine": 1.1, "unlabeled": 3.4, "rotary_gp": 3.4,
                   "efficient_gp": 4.6}

_HEAD_FACTORIES = {
    "biaffine": lambda: BiaffineSpanScorer(),
    "unlabeled": lambda: UnlabeledEntityScorer(),
    "rotary_gp": lambda: RotaryGlobalPointerScorer(),
    "efficient_gp": lambda: EfficientGlobalPointerScorer(),
}


def head_spans_udf(corpus: DataFrame, head: str = "biaffine") -> DataFrame:
    """Decoded spans of a neural-shaped scorer head over the corpus — the
    contract surface for the Biaffine / UnlabeledEntity / RoPE
    GlobalPointer / Efficient-GP heads (reference publishes per-head F1,
    ExtractionEntities/README.md:178-181, UIE_torch/Readme.md:10-12; heads
    at model/model.py:89-147, :148-180, :193-235). Deterministic pinned-seed weights,
    sparse decode, Arrow batches; one narrow stage (scan -> mapInPandas),
    no shuffle — the mention-UDF scale shape. Scores rounded to 6 so rows
    are bit-stable across cluster sizes. head_factored.py holds the
    oracle-checked twins of these heads.
    """
    threshold = HEAD_THRESHOLDS[head]
    make_scorer = _HEAD_FACTORIES[head]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = make_scorer()
        for pdf in batches:
            rows: dict[str, list] = {
                k: [] for k in ("repo", "path", "cls", "start_idx", "end_idx", "score")
            }
            for repo, path, content in zip(pdf["repo"], pdf["path"], pdf["content"]):
                for c, s, e, score in scorer.score_spans(content, threshold):
                    rows["repo"].append(repo)
                    rows["path"].append(path)
                    rows["cls"].append(c)
                    rows["start_idx"].append(s)
                    rows["end_idx"].append(e)
                    rows["score"].append(round(score, 6))
            yield pd.DataFrame(rows)

    return corpus.select("repo", "path", "content").mapInPandas(
        extract,
        schema="repo string, path string, cls int, start_idx int, end_idx int, score double",
    )


def mentions_udf(corpus: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched mention extraction: mapInPandas, one narrow stage."""
    patterns = MENTION_PATTERNS

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = PatternSpanScorer(patterns)  # per-task init, broadcast-free
        for pdf in batches:
            rows: dict[str, list] = {
                k: [] for k in ("repo", "path", "lang", "mention_type",
                                "surface", "start_idx", "end_idx")
            }
            for repo, path, lang, content in zip(
                pdf["repo"], pdf["path"], pdf["lang"], pdf["content"]
            ):
                for mtype, s, e, surf in scorer.score_spans(content):
                    rows["repo"].append(repo)
                    rows["path"].append(path)
                    rows["lang"].append(lang)
                    rows["mention_type"].append(mtype)
                    rows["surface"].append(surf)
                    rows["start_idx"].append(s)
                    rows["end_idx"].append(e)
            yield pd.DataFrame(rows)

    return corpus.select("repo", "path", "lang", "content").mapInPandas(
        extract, schema=MENTION_SCHEMA
    )


# ---------------------------------------------------------------- JVM path

def mentions_frame(corpus: DataFrame) -> DataFrame:
    """JVM-side mention extraction (regexp_extract_all + explode).

    Stays inside whole-stage codegen; no offsets (regexp_extract_all yields
    matches only) — offset-level work uses mentions_udf.
    """
    structs = ", ".join(
        f"transform(regexp_extract_all(content, '{rx}', 0), "
        f"x -> struct('{mtype}' AS mention_type, x AS surface))"
        for mtype, rx in MENTION_PATTERNS
    )
    return (
        corpus.select(
            "repo",
            "path",
            "lang",
            F.explode(F.expr(f"flatten(array({structs}))")).alias("m"),
        )
        .select("repo", "path", "lang", "m.mention_type", "m.surface")
    )


def mentions_duck_sql(corpus_rel: str = "corpus") -> str:
    """DuckDB oracle equivalent of mentions (no offsets), for the driver."""
    parts = [
        f"SELECT repo, path, lang, '{mtype}' AS mention_type, "
        f"unnest(regexp_extract_all(content, '{rx}', 0)) AS surface "
        f"FROM {corpus_rel}"
        for mtype, rx in MENTION_PATTERNS
    ]
    return " UNION ALL ".join(parts)
