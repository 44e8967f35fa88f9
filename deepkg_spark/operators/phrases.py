"""Phrase-mining statistics (vocabulary mining stage).

Re-expresses AutoPhraseX's in-process Counter pipeline (citations into
/root/reference/AutoPhraseX-main/):
- n-gram frequency:      extractors.py:101-112 (dict-of-Counter)  ->
  explode + groupBy(n, ngram) with map-side partial aggregation.
- document frequency:    extractors.py:161-184 (per-doc sets)     ->
  distinct(doc_id, ngram) + count.
- PMI:                   extractors.py:120-158                    ->
  join n-gram freq with its unigram parts' freqs; sum of log2 probabilities.
- left/right entropy:    extractors.py:216-290 (neighbor Counters) ->
  neighbor pair counts + -sum(p*log2(p)) window-free aggregation.
- candidate selection:   selector.py:51-70, 107-135 (min_freq/min_len,
  stopword drop, top-k by freq).

Engine semantics (documented, identical in Spark and the DuckDB oracle):
  EPS = 1e-8 smoothing;  pmi = log2((p_ngram + EPS) / (prod p_unigram + EPS));
  idf = ln((n_docs + EPS) / (doc_freq + EPS));  entropy base 2.
All shuffles are hash aggregations on (n, ngram) — partial+final combine makes
hot n-grams a non-issue; the distinct for doc_freq keys on (doc_id, ngram),
strictly wider than ngram alone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepkg_spark.functions.text import duck_ngrams, duck_tokens, spark_ngrams, spark_tokens

EPS = 1e-8
ROUND = 6
BOS, EOS = "<s>", "</s>"


def _tokens_df(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.expr(spark_tokens("text")).alias("toks"))


def ngram_stats(docs: DataFrame, max_n: int = 3) -> DataFrame:
    """(ngram, n, freq, doc_freq) for n in 1..max_n over docs(doc_id, text).

    Single scan: all n sizes are generated as one flattened array of
    (n, ngram) structs per doc, then one explode — the union-of-explodes
    alternative would scan the source max_n times.
    """
    toks = _tokens_df(docs)
    tagged = ", ".join(
        f"transform({spark_ngrams('toks', n)}, g -> struct({n} AS n, g AS ngram))"
        for n in range(1, max_n + 1)
    )
    occ = toks.select(
        "doc_id", F.explode(F.expr(f"flatten(array({tagged}))")).alias("o")
    ).select("doc_id", "o.n", "o.ngram")
    freq = occ.groupBy("n", "ngram").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    docf = (
        occ.select("doc_id", "n", "ngram")
        .distinct()
        .groupBy("n", "ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
    )
    return freq.join(docf, ["n", "ngram"])


def ngram_stats_duck_sql(docs_rel: str, max_n: int = 3) -> str:
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, unnest({duck_ngrams(duck_tokens('text'), n)}) AS ngram "
        f"FROM {docs_rel}"
        for n in range(1, max_n + 1)
    )
    return f"""
WITH occ AS ({unions})
SELECT n, ngram, CAST(count(*) AS BIGINT) AS freq,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM occ GROUP BY n, ngram
""".strip()


def pmi(docs: DataFrame, max_n: int = 3, stats: DataFrame | None = None) -> DataFrame:
    """(ngram, n, freq, pmi) for n in 2..max_n.

    p_ngram  = freq_n / total_count(n);  p_uni = freq_1 / total_count(1);
    pmi      = log2((p_ngram + EPS) / (prod of part p_uni + EPS)).
    Plan: unigram table broadcast-joined to exploded n-gram parts; the product
    over parts becomes sum(log2 p) -> exp2 — one agg, no per-row Python.
    Pass a cached `stats` (ngram_stats output) to share the corpus scan with
    idf/candidates (phrase_features does).
    """
    stats = stats if stats is not None else ngram_stats(docs, max_n).cache()
    totals = stats.groupBy("n").agg(F.sum("freq").alias("total"))
    uni = (
        stats.filter(F.col("n") == 1)
        .join(totals.filter(F.col("n") == 1).select("total"), how="cross")
        .select(F.col("ngram").alias("word"), (F.col("freq") / F.col("total")).alias("p_uni"))
    )
    grams = (
        stats.filter(F.col("n") >= 2)
        .join(totals, "n")
        .select("n", "ngram", "freq", (F.col("freq") / F.col("total")).alias("p_ng"))
    )
    parts = grams.select(
        "n", "ngram", "freq", "p_ng", F.explode(F.split("ngram", " ")).alias("word")
    )
    joined = parts.join(F.broadcast(uni), "word")
    return (
        joined.groupBy("n", "ngram", "freq", "p_ng")
        .agg(F.sum(F.log2("p_uni")).alias("sum_log_p"))
        .select(
            "ngram",
            "n",
            "freq",
            F.round(
                F.log2(
                    (F.col("p_ng") + F.lit(EPS))
                    / (F.pow(F.lit(2.0), F.col("sum_log_p")) + F.lit(EPS))
                ),
                ROUND,
            ).alias("pmi"),
        )
    )


def pmi_duck_sql(docs_rel: str, max_n: int = 3) -> str:
    return f"""
WITH stats AS ({ngram_stats_duck_sql(docs_rel, max_n)}),
totals AS (SELECT n, CAST(sum(freq) AS DOUBLE) AS total FROM stats GROUP BY n),
uni AS (SELECT s.ngram AS word, s.freq / t.total AS p_uni
        FROM stats s JOIN totals t ON s.n = t.n WHERE s.n = 1),
grams AS (SELECT s.n, s.ngram, s.freq, s.freq / t.total AS p_ng
          FROM stats s JOIN totals t ON s.n = t.n WHERE s.n >= 2),
parts AS (SELECT n, ngram, freq, p_ng, unnest(string_split(ngram, ' ')) AS word
          FROM grams)
SELECT p.ngram, p.n, p.freq,
       round(log2((any_value(p.p_ng) + {EPS}) / (pow(2.0, sum(log2(u.p_uni))) + {EPS})), {ROUND}) AS pmi
FROM parts p JOIN uni u USING (word)
GROUP BY p.ngram, p.n, p.freq
""".strip()


def idf(docs: DataFrame, max_n: int = 2, stats: DataFrame | None = None) -> DataFrame:
    """(ngram, n, doc_freq, idf) — idf = ln((n_docs+EPS)/(doc_freq+EPS))."""
    n_docs = docs.count()
    stats = stats if stats is not None else ngram_stats(docs, max_n)
    return stats.select(
        "ngram",
        "n",
        "doc_freq",
        F.round(
            F.log((F.lit(float(n_docs)) + EPS) / (F.col("doc_freq") + EPS)), ROUND
        ).alias("idf"),
    )


def idf_duck_sql(docs_rel: str, max_n: int = 2) -> str:
    return f"""
WITH stats AS ({ngram_stats_duck_sql(docs_rel, max_n)}),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM {docs_rel})
SELECT ngram, n, doc_freq,
       round(ln((nd.n_docs + {EPS}) / (doc_freq + {EPS})), {ROUND}) AS idf
FROM stats, nd
""".strip()


def neighbor_entropy(docs: DataFrame, n: int = 2) -> DataFrame:
    """(ngram, left_entropy, right_entropy) for word n-grams of size `n`.

    Neighbors outside the document are the BOS/EOS sentinels. Entropy of the
    neighbor distribution: -sum(p * log2 p). Two aggs: neighbor-pair counts,
    then per-ngram entropy; both partial-aggregable.
    """
    toks = _tokens_df(docs)
    zipped = toks.select(
        F.explode(
            F.expr(
                f"""CASE WHEN size(toks) >= {n} THEN
                transform(sequence(1, size(toks) - {n} + 1), i -> struct(
                  concat_ws(' ', slice(toks, i, {n})) AS ngram,
                  IF(i = 1, '{BOS}', element_at(toks, i - 1)) AS lft,
                  IF(i + {n} > size(toks), '{EOS}', element_at(toks, i + {n})) AS rgt))
                ELSE array() END"""
            )
        ).alias("z")
    ).select("z.ngram", "z.lft", "z.rgt")

    def ent(side: str) -> DataFrame:
        cnt = zipped.groupBy("ngram", side).agg(F.count(F.lit(1)).alias("c"))
        tot = cnt.groupBy("ngram").agg(F.sum("c").alias("t"))
        return (
            cnt.join(tot, "ngram")
            .groupBy("ngram")
            .agg(
                (
                    F.round(
                        -F.sum((F.col("c") / F.col("t")) * F.log2(F.col("c") / F.col("t"))),
                        ROUND,
                    )
                    + F.lit(0.0)  # IEEE -0.0 + 0.0 = +0.0: canonicalize negative zero
                ).alias(f"{side}_entropy")
            )
        )

    return ent("lft").join(ent("rgt"), "ngram").select(
        "ngram",
        F.col("lft_entropy").alias("left_entropy"),
        F.col("rgt_entropy").alias("right_entropy"),
    )


def neighbor_entropy_multi(docs: DataFrame, ns: tuple[int, ...] = (2, 3)) -> DataFrame:
    """(ngram, left_entropy, right_entropy) for ALL n in `ns` in ONE corpus
    scan: the per-n (ngram, lft, rgt) triples are flattened into a single
    explode (same single-scan trick as ngram_stats), then aggregated exactly
    like neighbor_entropy — per-(ngram) values are identical because n-grams
    of different sizes are distinct strings. At 100 TB this replaces
    len(ns) full corpus scans with one."""
    toks = _tokens_df(docs)
    per_n = ", ".join(
        f"""CASE WHEN size(toks) >= {n} THEN
            transform(sequence(1, size(toks) - {n} + 1), i -> struct(
              concat_ws(' ', slice(toks, i, {n})) AS ngram,
              IF(i = 1, '{BOS}', element_at(toks, i - 1)) AS lft,
              IF(i + {n} > size(toks), '{EOS}', element_at(toks, i + {n})) AS rgt))
            ELSE array() END"""
        for n in ns
    )
    zipped = toks.select(
        F.explode(F.expr(f"flatten(array({per_n}))")).alias("z")
    ).select("z.ngram", "z.lft", "z.rgt")

    def ent(side: str) -> DataFrame:
        cnt = zipped.groupBy("ngram", side).agg(F.count(F.lit(1)).alias("c"))
        tot = cnt.groupBy("ngram").agg(F.sum("c").alias("t"))
        return (
            cnt.join(tot, "ngram")
            .groupBy("ngram")
            .agg(
                (
                    F.round(
                        -F.sum(
                            (F.col("c") / F.col("t")) * F.log2(F.col("c") / F.col("t"))
                        ),
                        ROUND,
                    )
                    + F.lit(0.0)
                ).alias(f"{side}_entropy")
            )
        )

    return ent("lft").join(ent("rgt"), "ngram").select(
        "ngram",
        F.col("lft_entropy").alias("left_entropy"),
        F.col("rgt_entropy").alias("right_entropy"),
    )


def neighbor_entropy_duck_sql(docs_rel: str, n: int = 2) -> str:
    toks = duck_tokens("text")
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM {docs_rel}),
z AS (
  SELECT unnest(CASE WHEN len(toks) >= {n} THEN
           list_transform(range(len(toks) - {n} + 1),
             i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' '))
         ELSE [] END) AS ngram,
         unnest(CASE WHEN len(toks) >= {n} THEN
           list_transform(range(len(toks) - {n} + 1),
             i -> coalesce(toks[i], '{BOS}'))
         ELSE [] END) AS lft,
         unnest(CASE WHEN len(toks) >= {n} THEN
           list_transform(range(len(toks) - {n} + 1),
             i -> coalesce(toks[i + {n} + 1], '{EOS}'))
         ELSE [] END) AS rgt
  FROM t
),
le AS (
  SELECT ngram, round(-sum((c / t) * log2(c / t)), {ROUND}) + 0.0 AS left_entropy
  FROM (SELECT ngram, lft, CAST(count(*) AS DOUBLE) AS c,
               CAST(sum(count(*)) OVER (PARTITION BY ngram) AS DOUBLE) AS t
        FROM z GROUP BY ngram, lft)
  GROUP BY ngram
),
re AS (
  SELECT ngram, round(-sum((c / t) * log2(c / t)), {ROUND}) + 0.0 AS right_entropy
  FROM (SELECT ngram, rgt, CAST(count(*) AS DOUBLE) AS c,
               CAST(sum(count(*)) OVER (PARTITION BY ngram) AS DOUBLE) AS t
        FROM z GROUP BY ngram, rgt)
  GROUP BY ngram
)
SELECT ngram, left_entropy, right_entropy FROM le JOIN re USING (ngram)
""".strip()


def phrase_features(
    docs: DataFrame,
    max_n: int = 3,
    min_freq: int = 3,
    stats: DataFrame | None = None,
) -> DataFrame:
    """(ngram, n, freq, doc_freq, pmi, idf, left_entropy, right_entropy) for
    multi-word candidates — the AutoPhrase feature table
    (extractors.py:101-290) assembled from the distributed aggs above.
    Pass a cached `stats` (ngram_stats at >= max_n) to share the corpus scan
    with other consumers."""
    stats = stats if stats is not None else ngram_stats(docs, max_n).cache()
    p = pmi(docs, max_n, stats=stats).filter(F.col("freq") >= min_freq)
    i = idf(docs, max_n, stats=stats).select("ngram", "idf", "doc_freq")
    e = neighbor_entropy_multi(docs, tuple(range(2, max_n + 1)))
    return (
        p.join(i, "ngram")
        .join(e, "ngram")
        .select(
            "ngram", "n", "freq", "doc_freq", "pmi", "idf",
            "left_entropy", "right_entropy",
        )
    )


def phrase_features_duck_sql(docs_rel: str, max_n: int = 3, min_freq: int = 3) -> str:
    """Exact DuckDB twin of phrase_features: the distributed half of the
    AutoPhrase quality loop (phrase_quality_duck_sql checks the classifier
    on top). Entropies for all n
    in 2..max_n union cleanly because n-grams of different sizes are
    distinct strings."""
    ent_union = " UNION ALL ".join(
        f"SELECT * FROM ({neighbor_entropy_duck_sql(docs_rel, n)})"
        for n in range(2, max_n + 1)
    )
    return f"""
WITH p AS ({pmi_duck_sql(docs_rel, max_n)}),
i AS ({idf_duck_sql(docs_rel, max_n)}),
e AS ({ent_union})
SELECT p.ngram, p.n, p.freq, ii.doc_freq, p.pmi, ii.idf,
       e.left_entropy, e.right_entropy
FROM p
JOIN (SELECT ngram, doc_freq, idf FROM i) ii ON p.ngram = ii.ngram
JOIN e ON p.ngram = e.ngram
WHERE p.freq >= {min_freq}
""".strip()


def _fit_boosted_stumps(
    X: np.ndarray, y: np.ndarray, n_estimators: int = 25, lr: float = 0.3
):
    """Deterministic gradient-boosted depth-1 trees with logistic loss —
    the reference classifier's inductive bias (sklearn
    GradientBoostingClassifier, autophrasex/autophrase.py:53-56) without
    sklearn: axis-aligned threshold splits, boosted on deviance residuals,
    Newton leaf values (Friedman's gradient boosting, public algorithm).

    Determinism: no randomness anywhere; split search scans every unique
    feature value in (feature asc, threshold asc) order and strict '<' on
    the SSE improvement keeps the FIRST best split on ties — identical
    models for identical (row-ordered) inputs, any cluster size.

    Returns predict_margin(X) -> raw log-odds.
    """
    def sigmoid(z: np.ndarray) -> np.ndarray:
        return 1.0 / (1.0 + np.exp(-np.clip(z, -500, 500)))

    n = len(y)
    p0 = min(max(y.mean(), 1e-6), 1 - 1e-6)
    f0 = np.log(p0 / (1 - p0))
    margin = np.full(n, f0)
    stumps: list[tuple[int, float, float, float]] = []
    order = [np.argsort(X[:, j], kind="stable") for j in range(X.shape[1])]
    for _ in range(n_estimators):
        p = sigmoid(margin)
        r = y - p  # negative gradient of deviance
        h = p * (1 - p)  # hessian for Newton leaf values
        best = None  # (sse, j, thr)
        for j in range(X.shape[1]):
            xs = X[order[j], j]
            rs = r[order[j]]
            csum = np.cumsum(rs)
            csq = np.cumsum(rs * rs)
            total, total_sq = csum[-1], csq[-1]
            # split after position i (0-based): left = [0..i]; candidate only
            # where the feature value strictly increases (vectorized scan;
            # np.argmin keeps the FIRST minimum -> deterministic)
            cut = np.nonzero(xs[1:] > xs[:-1])[0]
            if cut.size == 0:
                continue
            nl = cut + 1.0
            nr = n - nl
            sl = csum[cut]
            sse = (
                (csq[cut] - sl * sl / nl)
                + ((total_sq - csq[cut]) - (total - sl) * (total - sl) / nr)
            )
            k = int(np.argmin(sse))
            if best is None or sse[k] < best[0]:
                best = (float(sse[k]), j, (xs[cut[k]] + xs[cut[k] + 1]) / 2.0)
        if best is None:  # all features constant
            break
        _, j, thr = best
        left = X[:, j] <= thr
        # Newton step per leaf: sum(residual) / sum(hessian)
        gl = r[left].sum() / max(h[left].sum(), 1e-12)
        gr = r[~left].sum() / max(h[~left].sum(), 1e-12)
        margin = margin + lr * np.where(left, gl, gr)
        stumps.append((j, thr, lr * gl, lr * gr))

    def predict_margin(Xq: np.ndarray) -> np.ndarray:
        out = np.full(len(Xq), f0)
        for j, thr, gl, gr in stumps:
            out = out + np.where(Xq[:, j] <= thr, gl, gr)
        return out

    return predict_margin


# ---- cross-engine-deterministic boosted stumps ("stumps_q") -----------------
#
# Same inductive bias as _fit_boosted_stumps (Friedman depth-1 gradient
# boosting on deviance, the reference's sklearn GBDT shape,
# AutoPhraseX-main/autophrasex/autophrase.py:53-56), with two substitutions
# that make every intermediate REPRODUCIBLE ACROSS ENGINES so the whole
# training loop admits an exact DuckDB oracle (phrase_quality_duck_sql):
#
# 1. rational sigmoid  s(z) = 0.5 + z / (2 * (1 + |z|))  instead of the
#    logistic — built only from IEEE-754 + - * / abs, which are CORRECTLY
#    ROUNDED and therefore bit-identical in numpy and DuckDB, unlike exp()
#    (libm-dependent). Monotone, s(0)=0.5, range (0,1): the same link shape.
# 2. residuals / hessians / squared residuals are quantized to the dyadic
#    grid 2^-24 before any summation: every addend is an exact multiple of
#    2^-24 with |sum| < 2^36, so EVERY partial sum in ANY association order
#    is exactly representable — sums become order-independent EXACT values.
#    numpy's pairwise sums, Spark's any-order aggregation and DuckDB's
#    window/group sums all produce the same bits.
#
# Everything else (split SSE formula, first-best tie-breaks, Newton leaves,
# midpoint thresholds) is kept operation-for-operation identical to the SQL
# twin, so the full 5-round promotion loop matches bitwise.

_QGRID = 16777216.0  # 2^24


def _q24(x: np.ndarray) -> np.ndarray:
    """Round to the 2^-24 dyadic grid via floor(x*2^24 + 0.5)/2^24 — each
    step a single IEEE op (scaling by a power of two is exact), so both
    engines land on the same grid point."""
    return np.floor(x * _QGRID + 0.5) / _QGRID


def _sig_rat(z: np.ndarray) -> np.ndarray:
    """Rational sigmoid: only correctly-rounded IEEE ops, no libm."""
    return 0.5 + z / (2.0 * (1.0 + np.abs(z)))


def _fit_boosted_stumps_q(
    X: np.ndarray, y: np.ndarray, n_estimators: int = 25, lr: float = 0.3
) -> np.ndarray:
    """Deterministic-across-engines variant of _fit_boosted_stumps; returns
    the final margin of the TRAINING rows (the quality loop only ever scores
    its own candidate table). Features are consumed RAW: depth-1 threshold
    splits are invariant under per-feature monotone transforms, so the
    z-normalization of the legacy path is a no-op for stumps and is skipped
    (it would re-introduce order-dependent mean/std sums)."""
    n = len(y)
    p0 = min(max(y.mean(), 1e-6), 1.0 - 1e-6)
    u = 2.0 * p0 - 1.0
    f0 = u / (1.0 - abs(u))  # inverse of the rational sigmoid at p0
    margin = np.full(n, f0)
    order = [np.argsort(X[:, j], kind="stable") for j in range(X.shape[1])]
    for _ in range(n_estimators):
        p = _sig_rat(margin)
        r = _q24(y - p)
        h = _q24(p * (1.0 - p))
        rsq = _q24(r * r)
        best = None  # (sse, j, thr)
        for j in range(X.shape[1]):
            xs = X[order[j], j]
            csum = np.cumsum(r[order[j]])
            csq = np.cumsum(rsq[order[j]])
            total, total_sq = csum[-1], csq[-1]
            cut = np.nonzero(xs[1:] > xs[:-1])[0]
            if cut.size == 0:
                continue
            nl = cut + 1.0
            nr = n - nl
            sl = csum[cut]
            sse = (csq[cut] - sl * sl / nl) + (
                (total_sq - csq[cut]) - (total - sl) * (total - sl) / nr
            )
            k = int(np.argmin(sse))
            if best is None or sse[k] < best[0]:
                best = (float(sse[k]), j, (xs[cut[k]] + xs[cut[k] + 1]) / 2.0)
        if best is None:
            break
        _, j, thr = best
        left = X[:, j] <= thr
        gl = r[left].sum() / max(h[left].sum(), 1e-12)
        gr = r[~left].sum() / max(h[~left].sum(), 1e-12)
        margin = margin + np.where(left, lr * gl, lr * gr)
    return margin


def phrase_quality_scores(
    docs: DataFrame,
    quality_phrases: set[str],
    max_n: int = 3,
    min_freq: int = 3,
    threshold: float = 0.9,
    max_rounds: int = 5,
    epochs: int = 200,
    lr: float = 0.5,
    topk: int = 10_000,
    stats: DataFrame | None = None,
    classifier: str = "stumps",
) -> pd.DataFrame:
    """AutoPhrase-style distant-supervision loop (autophrase.py:63-148,
    168-228 semantics, re-implemented):

      pos pool = candidates in the quality set, neg pool = the rest
      (autophrase.py:184-216); per round: fit a classifier on pos vs neg,
      score the neg pool, PROMOTE prob > threshold into pos
      (autophrase.py:168-182); stop when nothing promotes (early stopping,
      callbacks.py) or max_rounds.

    The feature table is distributed aggregation output; the candidate set is
    small (reference: topk phrases), so the training loop runs driver-side —
    same topology as the reference's in-process GBDT over collected stats.
    sklearn is not shipped here; ``classifier`` picks the deterministic
    numpy stand-in: "stumps" (default) = gradient-boosted depth-1 trees
    with logistic loss — the reference GBDT's inductive bias
    (_fit_boosted_stumps); "logistic" = full-batch GD logistic regression
    (the round-1/2 scorer, kept for comparison).

    Returns a pandas DataFrame (ngram, prob, is_quality, round_promoted),
    sorted by (-prob, ngram) — prediction ranking (autophrase.py:143-144).
    """
    # cap candidates BEFORE collecting: the reference trains over the topk
    # frequent candidates only (selector.py:125-135); "every n-gram with
    # freq >= min_freq" over a 100 TB corpus is billions of rows and must
    # never reach the driver. Deterministic order: (freq desc, ngram asc).
    feats = (
        phrase_features(docs, max_n, min_freq, stats=stats)
        .orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(topk)
        .toPandas()
    )
    cols = ["freq", "doc_freq", "pmi", "idf", "left_entropy", "right_entropy"]
    X = feats[cols].to_numpy(dtype=np.float64)
    if classifier != "stumps_q":
        # stumps are invariant to per-feature monotone transforms; the
        # certified variant skips normalization (see _fit_boosted_stumps_q)
        mu, sd = X.mean(axis=0), X.std(axis=0)
        sd[sd == 0] = 1.0
        X = (X - mu) / sd
        X = np.hstack([X, np.ones((len(X), 1))])
    pos = feats["ngram"].isin(quality_phrases).to_numpy()
    promoted_round = np.where(pos, 0, -1)

    if classifier not in ("stumps", "stumps_q", "logistic"):
        raise ValueError(f"unknown classifier {classifier!r}")

    def fit_predict(y: np.ndarray) -> np.ndarray:
        if classifier == "stumps_q":
            return _fit_boosted_stumps_q(X, y)
        if classifier == "stumps":
            return _fit_boosted_stumps(X, y)(X)
        w = np.zeros(X.shape[1])
        for _ in range(epochs):
            z = 1.0 / (1.0 + np.exp(-X @ w))
            w -= lr * (X.T @ (z - y)) / len(y)
        return X @ w

    def link(m: np.ndarray) -> np.ndarray:
        if classifier == "stumps_q":
            return _sig_rat(m)
        return 1.0 / (1.0 + np.exp(-np.clip(m, -500, 500)))

    prob = np.zeros(len(X))
    for rnd in range(1, max_rounds + 1):
        y = pos.astype(np.float64)
        if y.sum() == 0 or y.sum() == len(y):
            break
        prob = link(fit_predict(y))
        promote = (~pos) & (prob > threshold)
        if not promote.any():
            break
        promoted_round[promote] = rnd
        pos = pos | promote

    out = pd.DataFrame(
        {
            "ngram": feats["ngram"],
            "prob": np.round(prob, 6),
            "is_quality": pos,
            "round_promoted": promoted_round,
        }
    )
    return out.sort_values(["prob", "ngram"], ascending=[False, True]).reset_index(
        drop=True
    )


def phrase_candidates(
    docs: DataFrame,
    min_freq: int = 3,
    min_len: int = 2,
    max_n: int = 3,
    topk: int = 200,
    stopwords: tuple[str, ...] = ("a", "the"),
    stats: DataFrame | None = None,
) -> DataFrame:
    """Frequent-phrase selection (selector.py:51-70, 107-135): n-grams with
    freq >= min_freq, token length >= min_len, containing no stopword; global
    top-k by (freq desc, ngram asc) for determinism. Pass a cached `stats`
    built at a LARGER max_n to reuse its corpus scan (the n <= max_n filter
    keeps results identical)."""
    stats = stats if stats is not None else ngram_stats(docs, max_n)
    stats = stats.filter(
        (F.col("freq") >= min_freq)
        & (F.col("n") >= min_len)
        & (F.col("n") <= max_n)
    )
    stop_arr = ", ".join(f"'{s}'" for s in stopwords)
    kept = stats.filter(
        F.expr(f"size(array_intersect(split(ngram, ' '), array({stop_arr}))) = 0")
    )
    return (
        kept.orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(topk)
        .select("ngram", "n", "freq")
    )


def _D(v: float | int) -> str:
    """A DOUBLE literal DuckDB parses to the exact same IEEE double numpy
    holds (bare decimal literals parse as DECIMAL in DuckDB 1.x — every
    constant must be cast)."""
    return f"CAST({float(v)!r} AS DOUBLE)"


def _sig_sql(m: str) -> str:
    """SQL twin of _sig_rat, operation-for-operation."""
    return f"({_D(0.5)} + {m} / ({_D(2.0)} * ({_D(1.0)} + abs({m}))))"


def _q24_sql(x: str) -> str:
    """SQL twin of _q24, operation-for-operation."""
    return f"(floor(({x}) * {_D(_QGRID)} + {_D(0.5)}) / {_D(_QGRID)})"


def _fit_cte_sql(r: int, n_estimators: int, lr: float) -> str:
    """One boosting fit as a recursive CTE over per-candidate margins.

    Mirrors _fit_boosted_stumps_q bitwise: the recursive working table is
    (it, ngram, margin); each iteration derives quantized residuals /
    hessians (exact dyadic sums -> association-order-free), scores every
    strict-increase split boundary with the identical SSE expression, picks
    the global lexicographic (sse, j, x) minimum (== numpy's
    first-min-per-feature + strict-< across features), and applies the
    Newton leaf values through the same CASE the numpy np.where applies.
    Termination mirrors the `best is None` break: no candidate boundaries
    -> the recursive term yields zero rows and m{r} reads max(it)."""
    sig_b = _sig_sql("b.margin")
    return f"""
fit{r} AS (
  SELECT 0 AS it, ngram, (SELECT f0 FROM f0_{r}) AS margin FROM lab{r}
  UNION ALL
  SELECT * FROM (
    WITH w AS MATERIALIZED (
      SELECT b.it, b.ngram, b.margin, l.y, {sig_b} AS p
      FROM fit{r} b JOIN lab{r} l USING (ngram)
      WHERE b.it < {n_estimators}
    ),
    rq AS MATERIALIZED (
      SELECT it, ngram, margin, r,
             {_q24_sql('r * r')} AS rsq,
             {_q24_sql(f'p * ({_D(1.0)} - p)')} AS h
      FROM (SELECT *, {_q24_sql('y - p')} AS r FROM w)
    ),
    tot AS MATERIALIZED (
      SELECT sum(r) AS tr, sum(rsq) AS tq, CAST(count(*) AS DOUBLE) AS tn FROM rq
    ),
    vals AS MATERIALIZED (
      SELECT f.j, f.x, sum(q.r) AS sr, sum(q.rsq) AS sq, count(*) AS c
      FROM rq q JOIN feat f USING (ngram) GROUP BY f.j, f.x
    ),
    cum AS MATERIALIZED (
      SELECT j, x,
             sum(sr) OVER (PARTITION BY j ORDER BY x) AS sl,
             sum(sq) OVER (PARTITION BY j ORDER BY x) AS sq2,
             CAST(sum(c) OVER (PARTITION BY j ORDER BY x) AS DOUBLE) AS nl,
             lead(x) OVER (PARTITION BY j ORDER BY x) AS nx
      FROM vals
    ),
    best AS MATERIALIZED (
      SELECT j, (x + nx) / {_D(2.0)} AS thr
      FROM cum CROSS JOIN tot
      WHERE nx IS NOT NULL
      ORDER BY (sq2 - sl * sl / nl)
               + ((tq - sq2) - (tr - sl) * (tr - sl) / (tn - nl)) ASC,
               j ASC, x ASC
      LIMIT 1
    ),
    leaves AS MATERIALIZED (
      SELECT coalesce(sum(q.r) FILTER (WHERE f.x <= b.thr), {_D(0.0)})
               / greatest(coalesce(sum(q.h) FILTER (WHERE f.x <= b.thr), {_D(0.0)}), {_D(1e-12)}) AS gl,
             coalesce(sum(q.r) FILTER (WHERE NOT (f.x <= b.thr)), {_D(0.0)})
               / greatest(coalesce(sum(q.h) FILTER (WHERE NOT (f.x <= b.thr)), {_D(0.0)}), {_D(1e-12)}) AS gr
      FROM rq q JOIN feat f USING (ngram) CROSS JOIN best b
      WHERE f.j = b.j
    )
    SELECT q.it + 1 AS it, q.ngram,
           q.margin + (CASE WHEN f.x <= b.thr THEN {_D(lr)} * l.gl ELSE {_D(lr)} * l.gr END) AS margin
    FROM rq q JOIN feat f USING (ngram) CROSS JOIN best b CROSS JOIN leaves l
    WHERE f.j = b.j
  )
)""".strip()


def phrase_quality_duck_sql(
    docs_rel: str,
    quality_sql: str,
    max_n: int = 3,
    min_freq: int = 3,
    threshold: float = 0.9,
    max_rounds: int = 5,
    topk: int = 10_000,
    n_estimators: int = 25,
    lr: float = 0.3,
) -> str:
    """Exact DuckDB twin of phrase_quality_scores(classifier="stumps_q"):
    the ENTIRE AutoPhrase distant-supervision loop — capped feature table,
    per-round boosted-stump fits, threshold promotion
    (autophrasex/autophrase.py:53-56, 168-228 semantics) — as one SQL
    statement, max_rounds unrolled with one recursive CTE per fit.

    Cross-engine equality is engineered, not hoped for (see the
    _fit_boosted_stumps_q block comment): the rational sigmoid keeps every
    op correctly-rounded IEEE, the 2^-24 quantization grid makes every sum
    exact in any association order, and Python's early `break`s are
    replaced by their fixpoint equivalents — identical labels refit to
    identical margins, so running all max_rounds unconditionally returns
    the same rows Python returns after breaking (degenerate label pools
    are guarded with the `deg` flag, under which a round passes the prior
    round's probabilities through unchanged and promotes nothing).

    `quality_sql` is any query yielding the seed dictionary's ngrams."""
    blocks = [
        f"""featsall AS MATERIALIZED ({phrase_features_duck_sql(docs_rel, max_n, min_freq)}),
cap AS MATERIALIZED (
  SELECT ngram, freq, doc_freq, pmi, idf, left_entropy, right_entropy
  FROM (SELECT *, row_number() OVER (ORDER BY freq DESC, ngram ASC) AS rn
        FROM featsall)
  WHERE rn <= {topk}
),
qd AS MATERIALIZED (SELECT ngram FROM ({quality_sql})),
feat AS MATERIALIZED (
  SELECT ngram, 0 AS j, CAST(freq AS DOUBLE) AS x FROM cap
  UNION ALL SELECT ngram, 1, CAST(doc_freq AS DOUBLE) FROM cap
  UNION ALL SELECT ngram, 2, pmi FROM cap
  UNION ALL SELECT ngram, 3, idf FROM cap
  UNION ALL SELECT ngram, 4, left_entropy FROM cap
  UNION ALL SELECT ngram, 5, right_entropy FROM cap
),
st0 AS MATERIALIZED (
  SELECT c.ngram, (q.ngram IS NOT NULL) AS pos, {_D(0.0)} AS prob,
         CASE WHEN q.ngram IS NOT NULL THEN 0 ELSE -1 END AS rp
  FROM cap c LEFT JOIN qd q USING (ngram)
)""".strip()
    ]
    for r in range(1, max_rounds + 1):
        sig_m = _sig_sql("m.margin")
        blocks.append(
            f"""lab{r} AS MATERIALIZED (
  SELECT ngram, CASE WHEN pos THEN {_D(1.0)} ELSE {_D(0.0)} END AS y FROM st{r - 1}
),
f0_{r} AS MATERIALIZED (
  SELECT u / ({_D(1.0)} - abs(u)) AS f0, deg FROM (
    SELECT {_D(2.0)} * least(greatest(sy / nn, {_D(1e-6)}), {_D(1.0 - 1e-6)}) - {_D(1.0)} AS u,
           (sy <= {_D(0.0)} OR sy >= nn) AS deg
    FROM (SELECT sum(y) AS sy, CAST(count(*) AS DOUBLE) AS nn FROM lab{r})
  )
),
{_fit_cte_sql(r, n_estimators, lr)},
m{r} AS MATERIALIZED (
  SELECT ngram, margin FROM fit{r} WHERE it = (SELECT max(it) FROM fit{r})
),
st{r} AS MATERIALIZED (
  SELECT ngram, pos OR promote AS pos, prob,
         CASE WHEN promote THEN {r} ELSE rp END AS rp
  FROM (
    SELECT s.ngram, s.pos, s.rp,
           CASE WHEN (SELECT deg FROM f0_{r}) THEN s.prob ELSE {sig_m} END AS prob,
           (NOT s.pos) AND (NOT (SELECT deg FROM f0_{r}))
             AND (CASE WHEN (SELECT deg FROM f0_{r}) THEN s.prob ELSE {sig_m} END
                  > {_D(threshold)}) AS promote
    FROM st{r - 1} s JOIN m{r} m USING (ngram)
  )
)""".strip()
        )
    body = ",\n".join(blocks)
    return f"""
WITH RECURSIVE
{body}
SELECT ngram, round(prob, {ROUND}) AS prob, pos AS is_quality,
       CAST(rp AS BIGINT) AS round_promoted
FROM st{max_rounds}
ORDER BY round(prob, {ROUND}) DESC, ngram ASC
""".strip()


def phrase_candidates_duck_sql(
    docs_rel: str,
    min_freq: int = 3,
    min_len: int = 2,
    max_n: int = 3,
    topk: int = 200,
    stopwords: tuple[str, ...] = ("a", "the"),
) -> str:
    stop_arr = ", ".join(f"'{s}'" for s in stopwords)
    return f"""
WITH stats AS ({ngram_stats_duck_sql(docs_rel, max_n)})
SELECT ngram, n, freq FROM stats
WHERE freq >= {min_freq} AND n >= {min_len}
  AND len(list_intersect(string_split(ngram, ' '), [{stop_arr}])) = 0
ORDER BY freq DESC, ngram ASC
LIMIT {topk}
""".strip()
