"""Distant supervision: dictionary trie matching + DP segmentation.

Re-implements (from scratch, in Python/numpy inside Arrow batches) the
semantics of the reference's AutoNER C++ matcher (citations into
/root/reference/AutoNER/):
- token trie over multi-token dictionary surfaces (src/annotation.h:16-130);
- all candidate matches per position, then dynamic-programming segmentation
  choosing non-overlapping matches maximizing sum(weight * len^2), skipping
  single tokens at cost 0 (segmentDP / getDistantSupervision,
  src/string_match.h:21-99);
- core dictionary entries carry weight 1.0 (trusted), full-dictionary entries
  a lower weight (noisy), mirroring the core/full split
  (AutoNER/data/BC5CDR/dict_core.txt shape, FIXTURES.md F6).

Execution shape: the dictionary is collected (small; reference scale ~10^4-10^5
surfaces), built into a token trie ONCE per executor (lazy broadcast
deserialization), and each Arrow batch is matched independently — an
embarrassingly parallel narrow stage, exactly the broadcast-join-in-disguise
the survey identifies (SURVEY.md 2.3).

Also includes the tie-or-break decoder (model_partial_ner/ner.py:176-238
semantics): a (token, tie?, type) sequence -> typed spans, where consecutive
tokens with tie=True fuse into one span of the run's type.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


class TokenTrie:
    """Token-sequence trie: surface tokens -> (type, weight)."""

    __slots__ = ("root",)

    def __init__(self, entries: list[tuple[str, str, float]]):
        # entries: (surface, type, weight); surface is whitespace-tokenized
        self.root: dict = {}
        for surface, etype, weight in entries:
            node = self.root
            for tok in surface.split():
                node = node.setdefault(tok, {})
            # terminal marker; keep the highest-weight type deterministically
            cur = node.get(None)
            if cur is None or (weight, etype) > cur[::-1]:
                node[None] = (etype, weight)

    def matches_from(self, toks: list[str], i: int) -> list[tuple[int, str, float]]:
        """All (end_exclusive, type, weight) for matches starting at i."""
        out = []
        node = self.root
        j = i
        while j < len(toks) and toks[j] in node:
            node = node[toks[j]]
            j += 1
            if None in node:
                etype, w = node[None]
                out.append((j, etype, w))
        return out


def segment_dp(
    toks: list[str], trie: TokenTrie
) -> list[tuple[int, int, str]]:
    """Non-overlapping segmentation maximizing sum(weight * len^2).

    Returns (start, end_exclusive, type) segments. Deterministic tie-break:
    on equal score prefer the segmentation found by taking the LONGEST match
    at the latest position (matches are iterated short->long and >= keeps the
    last, i.e. longest, candidate).
    """
    n = len(toks)
    # best[i] = (score up to i), choice[i] = (start, type) or None for skip
    best = [0.0] * (n + 1)
    choice: list[tuple[int, str] | None] = [None] * (n + 1)
    matches_at: list[list[tuple[int, str, float]]] = [
        trie.matches_from(toks, i) for i in range(n)
    ]
    for i in range(n):
        # skip token i (strict >: never clobber an equal-score match)
        if best[i] > best[i + 1]:
            best[i + 1] = best[i]
            choice[i + 1] = None
        for end, etype, w in matches_at[i]:
            score = best[i] + w * (end - i) ** 2
            if score >= best[end]:
                best[end] = score
                choice[end] = (i, etype)
    # traceback
    segs = []
    i = n
    while i > 0:
        c = choice[i]
        if c is None:
            i -= 1
        else:
            start, etype = c
            segs.append((start, i, etype))
            i = start
    segs.reverse()
    return segs


def distant_supervision(
    docs: DataFrame,
    dictionary: DataFrame,
    weight_full: float = 0.5,
) -> DataFrame:
    """docs(doc_id, text) x dictionary(surface, type, is_core) ->
    (doc_id, start_tok, end_tok, seg_type, surface).

    end_tok is exclusive. Dictionary is broadcast into the Arrow stage; trie
    built lazily once per python worker.
    """
    entries = [
        (r["surface"], r["type"], 1.0 if r["is_core"] else weight_full)
        for r in dictionary.collect()
    ]
    spark = docs.sparkSession
    b_entries = spark.sparkContext.broadcast(entries)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = TokenTrie(b_entries.value)
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "start_tok", "end_tok", "seg_type", "surface")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in str(text).split(" ") if t]
                for s, e, etype in segment_dp(toks, trie):
                    rows["doc_id"].append(doc_id)
                    rows["start_tok"].append(s)
                    rows["end_tok"].append(e)
                    rows["seg_type"].append(etype)
                    rows["surface"].append(" ".join(toks[s:e]))
            yield pd.DataFrame(rows)

    return docs.select("doc_id", "text").mapInPandas(
        run,
        schema="doc_id long, start_tok int, end_tok int, seg_type string, surface string",
    )


# ---------------------------------------------------------------- tie-or-break

def decode_tie_or_break(
    tokens: list[str], ties: list[bool], types: list[str]
) -> list[tuple[int, int, str]]:
    """(token, tie-to-previous?, type) rows -> (start, end_exclusive, type)
    spans: a maximal run fused by tie=True forms one span typed by its first
    token's type; untyped ('O') runs emit nothing (ner.py:176-238 semantics)."""
    spans = []
    i = 0
    n = len(tokens)
    while i < n:
        j = i + 1
        while j < n and ties[j]:
            j += 1
        if types[i] and types[i] != "O":
            spans.append((i, j, types[i]))
        i = j
    return spans


def tie_or_break_spans(labeled: DataFrame) -> DataFrame:
    """labeled(sent_id, pos, token, tie, type) -> (sent_id, start, end, type).

    Grouped Arrow stage per sentence (applyInPandas), the reference's
    sequence decode re-expressed batch-wise.
    """

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        spans = decode_tie_or_break(
            list(pdf["token"]), list(pdf["tie"]), list(pdf["type"])
        )
        return pd.DataFrame(
            {
                "sent_id": [pdf["sent_id"].iloc[0]] * len(spans),
                "start": [s for s, _, _ in spans],
                "end": [e for _, e, _ in spans],
                "type": [t for _, _, t in spans],
            }
        )

    return labeled.groupBy("sent_id").applyInPandas(
        per_group, schema="sent_id long, start int, end int, type string"
    )


# ---------------------------------------------------------------- DuckDB

def distant_dp_duck_sql(
    docs_rel: str = "documents",
    core_sql: str | None = None,
    full_sql: str | None = None,
    weight_full: float = 0.5,
) -> str:
    """Exact DuckDB oracle for the __spark_entry__ ner_distant_dp query:
    corpus-mined dictionary (core bigrams w=1.0 / full trigrams w=weight_full)
    + segment_dp, as recursive CTEs (string_match.h:21-99 semantics).

    Surfaces are 2-3 tokens, so trie matching degenerates to two window
    joins, and the left-to-right DP only ever reads best[j-1..j-3]: the
    forward recursion carries (best[j], best[j-1], best[j-2]) as columns and
    advances every document in lockstep (depth = max token count). The
    sequential algorithm's tie-breaks are encoded exactly:

      best[j] = max(skip=best[j-1], tri=best[j-3]+w3*9, bi=best[j-2]+w2*4)
      choice[j]: the bigram beats an equal trigram (matches iterate
      short->long with >=), and skip wins only on STRICT improvement.

    Every score is a small dyadic rational (sums of 4.0 and 4.5 by default),
    so the float comparisons are exact in both engines and the emitted
    integer/string rows are bitwise engine-independent. The traceback is a
    second recursion walking choice[] from n down to 0.
    """
    from deepkg_spark.operators.phrases import phrase_candidates_duck_sql

    core_sql = core_sql or phrase_candidates_duck_sql(
        "docs", min_freq=5, min_len=2, max_n=2, topk=30
    )
    full_sql = full_sql or phrase_candidates_duck_sql(
        "docs", min_freq=3, min_len=3, max_n=3, topk=20
    )
    w2 = 1.0 * 4
    w3 = weight_full * 9
    return f"""
WITH RECURSIVE
docs AS (SELECT doc_id, text FROM {docs_rel}),
tk AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM docs),
nlen AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS INT) AS n FROM tk),
toks AS MATERIALIZED (
  SELECT doc_id, CAST(unnest(range(len(t))) AS INT) AS pos, unnest(t) AS token
  FROM tk
),
core AS ({core_sql}),
fulld AS ({full_sql}),
bi AS MATERIALIZED (
  SELECT a.doc_id, a.pos AS s, a.pos + 2 AS e
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN core c ON c.ngram = a.token || ' ' || b.token
),
tri AS MATERIALIZED (
  SELECT a.doc_id, a.pos AS s, a.pos + 3 AS e
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN toks c2 ON c2.doc_id = a.doc_id AND c2.pos = a.pos + 2
  JOIN fulld f ON f.ngram = a.token || ' ' || b.token || ' ' || c2.token
),
fwd(doc_id, j, b0, b1, b2, cs, ct) AS (
  SELECT doc_id, 0, CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE),
         CAST(NULL AS DOUBLE), CAST(NULL AS INT), CAST(NULL AS VARCHAR)
  FROM nlen
  UNION ALL
  SELECT doc_id, j + 1,
         GREATEST(b0, COALESCE(mscore, 0.0)),
         b0, b1,
         CASE WHEN mscore IS NOT NULL AND NOT (b0 > mscore) THEN mstart END,
         CASE WHEN mscore IS NOT NULL AND NOT (b0 > mscore) THEN mtype END
  FROM (
    SELECT f.doc_id, f.j, f.b0, f.b1, f.b2,
           CASE WHEN bi.e IS NOT NULL
                     AND (tri.e IS NULL OR f.b1 + {w2!r} >= f.b2 + {w3!r})
                THEN f.b1 + {w2!r}
                WHEN tri.e IS NOT NULL THEN f.b2 + {w3!r} END AS mscore,
           CASE WHEN bi.e IS NOT NULL
                     AND (tri.e IS NULL OR f.b1 + {w2!r} >= f.b2 + {w3!r})
                THEN f.j - 1
                WHEN tri.e IS NOT NULL THEN f.j - 2 END AS mstart,
           CASE WHEN bi.e IS NOT NULL
                     AND (tri.e IS NULL OR f.b1 + {w2!r} >= f.b2 + {w3!r})
                THEN 'phrase'
                WHEN tri.e IS NOT NULL THEN 'phrase3' END AS mtype
    FROM fwd f
    JOIN nlen nl ON nl.doc_id = f.doc_id AND f.j < nl.n
    LEFT JOIN bi ON bi.doc_id = f.doc_id AND bi.e = f.j + 1
    LEFT JOIN tri ON tri.doc_id = f.doc_id AND tri.e = f.j + 1
  ) step
),
fwd_m AS MATERIALIZED (SELECT * FROM fwd),
back(doc_id, i, emit_s, emit_e, emit_t) AS (
  SELECT doc_id, n, CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS VARCHAR)
  FROM nlen WHERE n > 0
  UNION ALL
  SELECT b.doc_id,
         CASE WHEN fw.cs IS NULL THEN b.i - 1 ELSE fw.cs END,
         fw.cs,
         CASE WHEN fw.cs IS NULL THEN NULL ELSE b.i END,
         fw.ct
  FROM back b
  JOIN fwd_m fw ON fw.doc_id = b.doc_id AND fw.j = b.i
  WHERE b.i > 0
)
SELECT g.doc_id,
       g.emit_s AS start_tok,
       g.emit_e AS end_tok,
       g.emit_t AS seg_type,
       CASE WHEN g.emit_e - g.emit_s = 2 THEN t0.token || ' ' || t1.token
            ELSE t0.token || ' ' || t1.token || ' ' || t2.token END AS surface
FROM back g
JOIN toks t0 ON t0.doc_id = g.doc_id AND t0.pos = g.emit_s
JOIN toks t1 ON t1.doc_id = g.doc_id AND t1.pos = g.emit_s + 1
LEFT JOIN toks t2 ON t2.doc_id = g.doc_id AND t2.pos = g.emit_s + 2
WHERE g.emit_s IS NOT NULL
""".strip()
