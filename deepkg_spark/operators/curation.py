"""Training-data curation operators (LLM-pipeline additions).

Five operators a 100 TB training-data pipeline needs beyond the reference's
KG stages, each with a bit-identical DuckDB oracle twin:

- ``repetition_stats``  — Gopher-style repetition quality signals per doc
  (top-unigram fraction, top-2-gram fraction, duplicate-3-gram fraction);
  the "Repetition removal" filters of Rae et al. 2021 (public paper), here
  as one single-scan flattened explode + two hash aggregations whose keys
  all include doc_id (no hot keys possible — a doc's grams land together).
- ``decontaminate``     — eval-set n-gram collision flagging (the GPT-3 /
  PaLM style 'remove training docs sharing an n-gram with the test set').
  Eval-side distinct n-gram hashes are tiny relative to the corpus ->
  broadcast semi-style join; train side stays embarrassingly parallel.
- ``sample_stratified`` — deterministic per-stratum hash sampling
  (keep iff md5-hash(stratum:doc_id) % 1000 < rate_permille[stratum]).
  A pure narrow filter: NO shuffle, NO rand() — reproducible across
  cluster sizes and re-runs, unlike df.sample.
- ``pack_sequences``    — next-fit sequence packing into token-budget bins
  (training-batch construction). Inherently sequential per shard, so the
  corpus is sharded (shard = doc_id // shard_size) and a grouped Arrow
  stage packs each shard independently; oracle = DuckDB recursive CTE.
- ``unigram_logprob``   — unigram-LM quality score per doc (the CCNet-style
  'LM perplexity' corpus filter with a corpus-trained unigram model):
  top-V vocabulary broadcast-joined to exploded tokens, OOV floored at
  1/total. Two aggs + one broadcast join; the vocab cap bounds driver and
  executor memory at any corpus size.

Reference analogues: stopword/low-frequency filtering and corpus statistics
(Normalization/recall/tools/text_preprocess.py:17-116,
AutoPhraseX-main/autophrasex/extractors.py:101-213); sampling discipline
mirrors the engine-wide seeded-hash rule (no rand, ExtractionEntities/
utils/tools.py:17-22 pins seeds).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepkg_spark.functions.hashing import duck_h31, duck_h60, spark_h31, spark_h60
from deepkg_spark.functions.text import duck_ngrams, duck_tokens, spark_ngrams, spark_tokens

ROUND = 6


# ------------------------------------------------------------- repetition

def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, top_tok_frac, top_2gram_frac, dup_3gram_frac).

    top_tok_frac    = count of the most frequent token / token count
    top_2gram_frac  = count of the most frequent 2-gram / 2-gram count
    dup_3gram_frac  = 1 - distinct 3-grams / total 3-grams
    Missing gram sizes (short docs) report 0.0. One corpus scan: all three
    gram sizes are flattened into a single tagged explode (the ngram_stats
    trick), then two aggs keyed on (doc_id, ...) — skew-free by key design.
    """
    toks = docs.select("doc_id", F.expr(spark_tokens("text")).alias("toks"))
    tagged = ", ".join(
        f"transform({spark_ngrams('toks', n)}, g -> struct({n} AS n, g AS gram))"
        for n in (1, 2, 3)
    )
    occ = toks.select(
        "doc_id", F.explode(F.expr(f"flatten(array({tagged}))")).alias("o")
    ).select("doc_id", "o.n", "o.gram")
    cnt = occ.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    per = cnt.groupBy("doc_id", "n").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("tot"),
        F.count(F.lit(1)).alias("dist"),
    )
    agg = per.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("tot"))).cast("bigint").alias("n_tokens"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == 1, F.col("max_c") / F.col("tot"))), F.lit(0.0)
            ),
            ROUND,
        ).alias("top_tok_frac"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == 2, F.col("max_c") / F.col("tot"))), F.lit(0.0)
            ),
            ROUND,
        ).alias("top_2gram_frac"),
        F.round(
            F.coalesce(
                F.max(F.when(F.col("n") == 3, 1.0 - F.col("dist") / F.col("tot"))),
                F.lit(0.0),
            ),
            ROUND,
        ).alias("dup_3gram_frac"),
    )
    # docs with zero tokens never reach the explode; re-attach them with zeros
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("top_tok_frac", F.lit(0.0)).alias("top_tok_frac"),
            F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
            F.coalesce("dup_3gram_frac", F.lit(0.0)).alias("dup_3gram_frac"),
        )
    )


def repetition_stats_duck_sql(docs_rel: str) -> str:
    toks = duck_tokens("text")
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, unnest({duck_ngrams('toks', n)}) AS gram "
        f"FROM (SELECT doc_id, {toks} AS toks FROM {docs_rel})"
        for n in (1, 2, 3)
    )
    return f"""
WITH occ AS ({unions}),
cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM occ GROUP BY ALL),
per AS (SELECT doc_id, n, max(c) AS max_c, sum(c) AS tot, count(*) AS dist
        FROM cnt GROUP BY doc_id, n),
agg AS (
  SELECT doc_id,
         CAST(max(CASE WHEN n = 1 THEN tot END) AS BIGINT) AS n_tokens,
         round(coalesce(max(CASE WHEN n = 1 THEN CAST(max_c AS DOUBLE) / tot END), 0.0), {ROUND}) AS top_tok_frac,
         round(coalesce(max(CASE WHEN n = 2 THEN CAST(max_c AS DOUBLE) / tot END), 0.0), {ROUND}) AS top_2gram_frac,
         round(coalesce(max(CASE WHEN n = 3 THEN 1.0 - CAST(dist AS DOUBLE) / tot END), 0.0), {ROUND}) AS dup_3gram_frac
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.top_tok_frac, 0.0) AS top_tok_frac,
       coalesce(a.top_2gram_frac, 0.0) AS top_2gram_frac,
       coalesce(a.dup_3gram_frac, 0.0) AS dup_3gram_frac
FROM (SELECT doc_id FROM {docs_rel}) d LEFT JOIN agg a USING (doc_id)
""".strip()


# --------------------------------------------------------- decontamination

def decontaminate(train: DataFrame, eval_docs: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, n_grams, n_hits, contaminated): per training doc, how many of
    its distinct n-grams collide with ANY eval-set n-gram; contaminated =
    n_hits > 0 (the strict n-gram-collision decontamination rule).

    Scale: the eval side is distinct n-gram HASHES only (bytes-bounded:
    |eval docs| x tokens, 8 bytes each) and is explicitly broadcast — the
    train side never shuffles; per-doc distinct + the hit count are one
    partial-aggregable groupBy keyed by doc_id.

    Grams are compared via 60-bit md5-prefix hashes: at 1e10 train x 1e7
    eval distinct grams the expected number of birthday false positives is
    n_train * n_eval / 2^60 ~ 0.09 (a 32-bit hash would flag ~2e4 clean
    docs per eval gram at that scale).
    """
    def grams(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "doc_id",
                F.explode(F.expr(spark_ngrams(spark_tokens("text"), n))).alias("g"),
            )
            .select("doc_id", F.expr(spark_h60("g")).alias("h"))
            .distinct()
        )

    ev = grams(eval_docs).select("h").distinct()
    tg = grams(train)
    hits = (
        tg.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    per_doc = tg.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_duck_sql(train_rel: str, eval_rel: str, n: int = 5) -> str:
    toks = duck_tokens("text")

    def grams(rel: str) -> str:
        return (
            f"SELECT DISTINCT doc_id, {duck_h60('g')} AS h FROM ("
            f"SELECT doc_id, unnest({duck_ngrams(toks, n)}) AS g FROM {rel})"
        )

    return f"""
WITH tg AS ({grams(train_rel)}),
ev AS (SELECT DISTINCT h FROM ({grams(eval_rel)})),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM tg JOIN ev USING (h) GROUP BY doc_id),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tg GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM {train_rel}) t
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN hits h USING (doc_id)
""".strip()


# --------------------------------------------------- stratified sampling

from deepkg_spark.functions.text import sql_quote as _sql_quote  # noqa: E402
# (shared helper: free-text strata may contain quotes; same escaping is
# applied to SSI candidate type names in operators/sel.py)

def sample_stratified(
    docs_with_stratum: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 0,
    stratum_col: str = "stratum",
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep a row iff md5-hash(stratum || ':' || key) % 1000 < the stratum's
    per-mille rate. Deterministic, cluster-size-invariant, zero-shuffle — the
    replacement for df.sample(fraction) in any pipeline that must reproduce
    its corpus exactly (df.sample is partitioning-dependent).
    """
    key = f"concat({stratum_col}, ':', CAST({key_col} AS STRING))"
    cases = " ".join(
        f"WHEN '{_sql_quote(s)}' THEN {int(r)}"
        for s, r in sorted(rates_permille.items())
    )
    rate = f"CASE {stratum_col} {cases} ELSE {int(default_permille)} END"
    return docs_with_stratum.filter(
        F.expr(f"pmod({spark_h31(key)}, 1000) < {rate}")
    )


def sample_stratified_duck_sql(
    rel: str,
    rates_permille: dict[str, int],
    default_permille: int = 0,
    stratum_col: str = "stratum",
    key_col: str = "doc_id",
) -> str:
    key = f"({stratum_col} || ':' || CAST({key_col} AS VARCHAR))"
    cases = " ".join(
        f"WHEN '{_sql_quote(s)}' THEN {int(r)}"
        for s, r in sorted(rates_permille.items())
    )
    rate = f"CASE {stratum_col} {cases} ELSE {int(default_permille)} END"
    return f"""
SELECT * FROM {rel}
WHERE ({duck_h31(key)}) % 1000 < ({rate})
""".strip()


# ----------------------------------------------------- sequence packing

def pack_sequences(
    docs: DataFrame, budget: int = 128, shard_size: int = 50
) -> DataFrame:
    """(shard, doc_id, n_tokens, bin): next-fit packing of documents into
    token-budget bins, in doc_id order within each shard.

    Packing is inherently sequential, so parallelism comes from sharding:
    shard = doc_id // shard_size, each shard packed independently inside a
    grouped Arrow stage (one shuffle on shard, groups bounded by shard_size
    — no skew, no driver collect). Bins never span shards by design; the
    cross-shard waste is at most one underfull bin per shard, which at
    100 TB (millions of shards) is noise while keeping the job
    embarrassingly parallel. First doc of a shard opens bin 0 even when it
    alone exceeds the budget (oversized docs get a bin of their own).
    """
    # `div` = exact integral division (no double roundtrip: exact above 2^53,
    # and truncation matches DuckDB's integer `//` for negative ids too)
    base = docs.select(
        F.expr(f"doc_id div {shard_size}").alias("shard"),
        "doc_id",
        F.expr(f"size({spark_tokens('text')})").cast("bigint").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, running, b = [], 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i == 0:
                running = int(t)
            elif running + int(t) > budget:
                b += 1
                running = int(t)
            else:
                running += int(t)
            bins.append(b)
        pdf["bin"] = pd.Series(bins, dtype="int32")
        return pdf[["shard", "doc_id", "n_tokens", "bin"]]

    return base.groupBy("shard").applyInPandas(
        pack, "shard bigint, doc_id bigint, n_tokens bigint, bin int"
    )


def pack_sequences_duck_sql(
    docs_rel: str, budget: int = 128, shard_size: int = 50
) -> str:
    toks = duck_tokens("text")
    return f"""
WITH RECURSIVE base AS (
  SELECT (doc_id // {shard_size}) AS shard, doc_id,
         CAST(len({toks}) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY (doc_id // {shard_size})
                            ORDER BY doc_id) AS rn
  FROM {docs_rel}
),
packed AS (
  SELECT shard, doc_id, n_tokens, rn, 0 AS bin, n_tokens AS running
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.shard, b.doc_id, b.n_tokens, b.rn,
         CASE WHEN p.running + b.n_tokens > {budget} THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.running + b.n_tokens > {budget} THEN b.n_tokens
              ELSE p.running + b.n_tokens END
  FROM packed p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1
)
SELECT shard, doc_id, n_tokens, CAST(bin AS INT) AS bin FROM packed
""".strip()


# ------------------------------------------------------ unigram LM score

def unigram_logprob(docs: DataFrame, top_v: int = 20) -> DataFrame:
    """(doc_id, n_tokens, oov_tokens, mean_log2p): per-doc mean log2
    probability under a corpus-trained unigram LM — the LM-quality-filter
    shape (CCNet-style) with the n-gram order dropped to 1 so both engines
    agree bit-for-bit.

    Vocabulary = top `top_v` tokens by (freq desc, token asc); everything
    else is OOV and floored at p = 1/total. The cap bounds the broadcast at
    any corpus size; the two aggs (vocab freq, per-doc mean) are classic
    partial+final hash aggs.
    """
    tok = docs.select(
        "doc_id", F.explode(F.expr(spark_tokens("text"))).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total_df = freq.agg(F.sum("freq").cast("double").alias("total"))
    vocab = (
        freq.orderBy(F.desc("freq"), F.asc("token"))
        .limit(top_v)
        .crossJoin(F.broadcast(total_df))
        .select("token", (F.col("freq") / F.col("total")).alias("p"))
    )
    scored = (
        tok.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total_df))
        .select(
            "doc_id",
            F.col("p").isNull().cast("int").alias("oov"),
            F.log2(F.coalesce("p", 1.0 / F.col("total"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("oov_tokens"),
        F.round(F.avg("lp"), ROUND).alias("mean_log2p"),
    )


def unigram_logprob_duck_sql(docs_rel: str, top_v: int = 20) -> str:
    toks = duck_tokens("text")
    return f"""
WITH tok AS (SELECT doc_id, unnest({toks}) AS token FROM {docs_rel}),
freq AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM freq),
vocab AS (SELECT token, freq / (SELECT total FROM tot) AS p
          FROM freq ORDER BY freq DESC, token ASC LIMIT {top_v}),
scored AS (
  SELECT t.doc_id,
         CASE WHEN v.p IS NULL THEN 1 ELSE 0 END AS oov,
         log2(coalesce(v.p, 1.0 / (SELECT total FROM tot))) AS lp
  FROM tok t LEFT JOIN vocab v USING (token)
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS oov_tokens,
       round(avg(lp), {ROUND}) AS mean_log2p
FROM scored GROUP BY doc_id
""".strip()


# ------------------------------------------- DSIR importance scoring

DSIR_BUCKETS = 4096


def dsir_logratio(
    train: DataFrame,
    target: DataFrame,
    n: int = 2,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, n_grams, log_ratio): per training doc, the hashed-n-gram
    importance score of Data Selection via Importance Resampling (DSIR,
    Xie et al. 2023, public paper): features are n-grams hashed into
    `n_buckets` buckets; bucket unigram models are estimated on the target
    (desired-distribution) corpus and the training corpus with add-1
    smoothing, and a doc's score is sum over its grams (with multiplicity)
    of log p_target(bucket) - log p_train(bucket). Selection = keep the
    highest-scoring docs (deterministically — e.g. a threshold or
    sample_stratified on banded scores), so the engine stays rand-free.

    Scale: both bucket models are exactly `n_buckets` rows (broadcast);
    the train side is one narrow explode + per-doc aggregation — the same
    shuffle-free shape as decontaminate. Scores round to 6.
    """
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(F.expr(spark_ngrams(spark_tokens("text"), n))).alias("g"),
        ).select("doc_id", F.expr(f"pmod({spark_h31('g')}, {n_buckets})").alias("b"))

    def bucket_logp(df: DataFrame, out: str) -> DataFrame:
        cnt = df.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        tot = cnt.agg(F.sum("c").cast("double").alias("t"))
        return (
            cnt.crossJoin(F.broadcast(tot))
            .select(
                "b",
                F.log((F.col("c") + 1.0) / (F.col("t") + n_buckets)).alias(out),
                F.col("t").alias(f"_{out}_t"),
            )
        )

    tg = grams(train)
    # unseen buckets still carry smoothed mass: join against ALL buckets via
    # left joins + coalesce to the floor log(1 / (t + B))
    p_t = bucket_logp(grams(target), "lp_t")
    p_s = bucket_logp(tg, "lp_s")
    t_tot = p_t.agg(F.first(f"_lp_t_t").alias("tt"))
    s_tot = p_s.agg(F.first(f"_lp_s_t").alias("st"))
    scored = (
        tg.join(F.broadcast(p_t.select("b", "lp_t")), "b", "left")
        .join(F.broadcast(p_s.select("b", "lp_s")), "b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(s_tot))
        .select(
            "doc_id",
            (
                F.coalesce("lp_t", F.log(1.0 / (F.col("tt") + n_buckets)))
                - F.coalesce("lp_s", F.log(1.0 / (F.col("st") + n_buckets)))
            ).alias("r"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.round(F.sum("r"), ROUND).alias("log_ratio"),
    )
    return (
        train.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("log_ratio", F.lit(0.0)).alias("log_ratio"),
        )
    )


def dsir_logratio_duck_sql(
    train_rel: str, target_rel: str, n: int = 2, n_buckets: int = DSIR_BUCKETS
) -> str:
    toks = duck_tokens("text")

    def grams(rel: str) -> str:
        return (
            f"SELECT doc_id, ({duck_h31('g')}) % {n_buckets} AS b FROM ("
            f"SELECT doc_id, unnest({duck_ngrams(toks, n)}) AS g FROM {rel})"
        )

    return f"""
WITH tg AS ({grams(train_rel)}),
eg AS ({grams(target_rel)}),
ct AS (SELECT b, count(*) AS c FROM eg GROUP BY b),
cs AS (SELECT b, count(*) AS c FROM tg GROUP BY b),
tt AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM ct),
st AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM cs),
pt AS (SELECT b, ln((c + 1.0) / ((SELECT t FROM tt) + {n_buckets})) AS lp_t FROM ct),
ps AS (SELECT b, ln((c + 1.0) / ((SELECT t FROM st) + {n_buckets})) AS lp_s FROM cs),
scored AS (
  SELECT tg.doc_id,
         coalesce(pt.lp_t, ln(1.0 / ((SELECT t FROM tt) + {n_buckets})))
         - coalesce(ps.lp_s, ln(1.0 / ((SELECT t FROM st) + {n_buckets}))) AS r
  FROM tg LEFT JOIN pt USING (b) LEFT JOIN ps USING (b)
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         round(sum(r), {ROUND}) AS log_ratio
  FROM scored GROUP BY doc_id
)
SELECT t.doc_id, coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.log_ratio, 0.0) AS log_ratio
FROM (SELECT doc_id FROM {train_rel}) t LEFT JOIN per_doc p USING (doc_id)
""".strip()


# ------------------------------------------------------- table profiling

def profile_table(
    df,
    num_cols: tuple[str, ...] = (),
    str_cols: tuple[str, ...] = (),
    ts_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(col_name, kind, n_rows, n_null, n_distinct, min_num, max_num,
    min_str, max_str): per-column data-quality profile — the validation
    stats a training pipeline computes before ingesting a new table drop.

    One scan melts every numeric column into (column, val double) structs
    (timestamps become epoch seconds), a second melts the string columns;
    distinct/null counts come from the two-phase (column, val) -> (column)
    aggregation, so the exact distinct count is skew-safe (the wide first
    key level is partial-aggregable; no count(DISTINCT) expand). At 100 TB
    swap n_distinct to approx_count_distinct if exactness is not required —
    here it stays exact so the DuckDB oracle can match bit-for-bit.
    Numeric min/max round to 6; kind in ('num', 'str').
    """
    if not (num_cols or str_cols or ts_cols):
        raise ValueError("at least one of num_cols/str_cols/ts_cols required")
    outs = []
    num_exprs = [f"struct('{c}' AS col_name, CAST({c} AS DOUBLE) AS val)" for c in num_cols]
    # timestamps -> fractional epoch seconds: NTZ won't cast to DOUBLE
    # directly, so go via TIMESTAMP (session tz pinned UTC in session.py,
    # matching the DuckDB twin's naive epoch())
    num_exprs += [
        f"struct('{c}' AS col_name, CAST(CAST({c} AS TIMESTAMP) AS DOUBLE) AS val)"
        for c in ts_cols
    ]
    if num_exprs:
        melted = df.selectExpr(f"explode(array({', '.join(num_exprs)})) AS m").select(
            F.col("m.col_name").alias("col_name"), F.col("m.val").alias("val")
        )
        cnt = melted.groupBy("col_name", "val").agg(F.count(F.lit(1)).alias("c"))
        outs.append(
            cnt.groupBy("col_name").agg(
                F.sum("c").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("val").isNull(), F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("n_null"),
                F.count(F.when(F.col("val").isNotNull(), 1)).cast("bigint").alias("n_distinct"),
                F.round(F.min("val"), ROUND).alias("min_num"),
                F.round(F.max("val"), ROUND).alias("max_num"),
            ).select(
                "col_name", F.lit("num").alias("kind"), "n_rows", "n_null",
                "n_distinct", "min_num", "max_num",
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    if str_cols:
        str_exprs = [f"struct('{c}' AS col_name, CAST({c} AS STRING) AS val)" for c in str_cols]
        melted = df.selectExpr(f"explode(array({', '.join(str_exprs)})) AS m").select(
            F.col("m.col_name").alias("col_name"), F.col("m.val").alias("val")
        )
        cnt = melted.groupBy("col_name", "val").agg(F.count(F.lit(1)).alias("c"))
        outs.append(
            cnt.groupBy("col_name").agg(
                F.sum("c").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("val").isNull(), F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("n_null"),
                F.count(F.when(F.col("val").isNotNull(), 1)).cast("bigint").alias("n_distinct"),
                F.min("val").alias("min_str"),
                F.max("val").alias("max_str"),
            ).select(
                "col_name", F.lit("str").alias("kind"), "n_rows", "n_null",
                "n_distinct",
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                "min_str", "max_str",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def profile_table_duck_sql(
    rel: str,
    num_cols: tuple[str, ...] = (),
    str_cols: tuple[str, ...] = (),
    ts_cols: tuple[str, ...] = (),
) -> str:
    if not (num_cols or str_cols or ts_cols):
        raise ValueError("at least one of num_cols/str_cols/ts_cols required")
    num_sel = [f"SELECT '{c}' AS col_name, CAST({c} AS DOUBLE) AS val FROM {rel}" for c in num_cols]
    num_sel += [f"SELECT '{c}' AS col_name, epoch({c})::DOUBLE AS val FROM {rel}" for c in ts_cols]
    str_sel = [f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS val FROM {rel}" for c in str_cols]
    parts = []
    if num_sel:
        parts.append(f"""
SELECT col_name, 'num' AS kind,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN val IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
       round(min(val), {ROUND}) AS min_num, round(max(val), {ROUND}) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM (SELECT col_name, val, count(*) AS c
      FROM ({' UNION ALL '.join(num_sel)}) GROUP BY col_name, val)
GROUP BY col_name""".strip())
    if str_sel:
        parts.append(f"""
SELECT col_name, 'str' AS kind,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN val IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       min(val) AS min_str, max(val) AS max_str
FROM (SELECT col_name, val, count(*) AS c
      FROM ({' UNION ALL '.join(str_sel)}) GROUP BY col_name, val)
GROUP BY col_name""".strip())
    return "\nUNION ALL\n".join(parts)


# ----------------------------------------------------------- quantiles

QUANTILES = (0.25, 0.5, 0.75)


def profile_quantiles(
    df: DataFrame, num_cols: tuple[str, ...], qs: tuple[float, ...] = QUANTILES
) -> DataFrame:
    """(col_name, n, q_25, q_50, q_75): exact linear-interpolated quantiles
    per numeric column — the distribution half of the `profile_table`
    validation stats.

    Deliberately NOT Spark's `percentile()` aggregate (which buffers every
    value of a group in executor memory — a non-starter on a 100 TB column):
    the same cumulative-count formulation as sts_spearman_ties: per-column
    (val) counts (partial-aggregable, skew-safe: hot values collapse to one
    row) -> cumulative counts over DISTINCT values -> each quantile p reads
    the two bracketing values at continuous index p*(n-1) and interpolates.

    Plan shape: one INDEPENDENT branch per column, unioned at the end.
    Each branch prunes the scan to its single column (total I/O equals one
    multi-column scan), aggregates on a bare double key (no per-row string
    tag, no 8x explode), and the branches run concurrently — on a single
    input file whose row-group count caps row-parallelism, column-parallel
    branches still fill the cluster.

    The cumulative count is a DISTRIBUTED prefix sum, not a single-task
    window: values map to one of B ordered range buckets via a
    deterministic min/max linear rule (subtraction, positive scaling and
    floor are all IEEE-monotone, so bucket order == value order at every
    cluster size); each bucket's local running count is a window
    partitioned BY BUCKET, and the global cum adds the bucket's offset —
    the running total of WHOLE lower buckets, a broadcast-joined window
    over at most B rows. Counts are longs throughout, so cum/n are exact
    integers and the result is bit-identical to the former
    one-task-per-column formulation (verified row-identical at
    sf0.01/0.1/1.0). The min/max pre-pass is ONE aggregate job for all
    columns. Degenerate cases keep a correct (single-bucket) plan:
    constant or non-finite-range columns use bucket 0, NaNs always land
    in a trailing bucket of their own, and an all-NULL column emits no
    row (original semantics). For columns whose distinct values all share
    one bucket the branch degrades to the single-task bound — the regime
    that belongs to approx_percentile (t-digest) anyway; here it stays
    exact so the DuckDB twin (same formulation) matches bit-for-bit.
    """
    import math

    from pyspark.sql import Window

    B = 1024
    mm = df.agg(
        *[
            F.min(F.expr(f"CAST({c} AS DOUBLE)")).alias(f"mn_{i}")
            for i, c in enumerate(num_cols)
        ],
        *[
            F.max(F.expr(f"CAST({c} AS DOUBLE)")).alias(f"mx_{i}")
            for i, c in enumerate(num_cols)
        ],
    ).collect()[0]

    outs = []
    for i, c in enumerate(num_cols):
        mn, mx = mm[f"mn_{i}"], mm[f"mx_{i}"]
        if mn is None:
            continue  # no non-null values -> no output row
        vals = df.selectExpr(f"CAST({c} AS DOUBLE) AS val").filter(
            F.col("val").isNotNull()
        )
        spread = (
            mn is not None
            and math.isfinite(mn)
            and mx is not None
            and math.isfinite(mx)
            and mx > mn
        )
        if spread:
            bucket = F.when(F.isnan("val"), F.lit(B)).otherwise(
                F.least(
                    F.floor((F.col("val") - F.lit(mn)) / F.lit(mx - mn) * B),
                    F.lit(B - 1),
                )
            ).cast("int")
        else:
            bucket = F.when(F.isnan("val"), F.lit(1)).otherwise(F.lit(0)).cast("int")
        vb = vals.select("val", bucket.alias("bucket"))
        cntb = vb.groupBy("bucket", "val").agg(F.count(F.lit(1)).alias("c"))
        btot = vb.groupBy("bucket").agg(F.count(F.lit(1)).alias("bc"))
        wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
        boff = btot.select(
            "bucket",
            F.coalesce(F.sum("bc").over(wo), F.lit(0)).alias("off"),
            F.sum("bc").over(Window.partitionBy(F.lit(0))).cast("bigint").alias("n"),
        )
        wl = Window.partitionBy("bucket").orderBy("val")
        j = cntb.join(F.broadcast(boff), "bucket").select(
            "val",
            "c",
            (F.col("off") + F.sum("c").over(wl)).alias("cum"),
            "n",
        )
        aggs = [F.max("n").cast("bigint").alias("n")]
        for p in qs:
            # continuous index k = p*(n-1); bracketing values live at row
            # indices floor(k) and ceil(k); a value with cumulative count cum
            # covers 0-based row indices [cum - c, cum - 1]. Per-row n feeds
            # the aggregate ARGUMENTS; the group-level frac must re-derive n
            # through an aggregate (max) to satisfy both engines' analyzers.
            k = F.lit(p) * (F.col("n") - 1)
            lo = F.min(F.when(F.col("cum") >= F.floor(k) + 1, F.col("val")))
            hi = F.min(F.when(F.col("cum") >= F.ceil(k) + 1, F.col("val")))
            k_g = F.lit(p) * (F.max("n") - 1)
            frac = k_g - F.floor(k_g)
            name = f"q_{str(p).replace('0.', '')}"
            aggs.append(F.round(lo + frac * (hi - lo), ROUND).alias(name))
        outs.append(
            j.agg(*aggs)
            .where(F.col("n").isNotNull())
            .select(F.lit(c).alias("col_name"), "*")
        )
    if not outs:
        schema = ("col_name string, n bigint, "
                  + ", ".join(f"q_{str(p).replace('0.', '')} double" for p in qs))
        return df.sparkSession.createDataFrame([], schema)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def profile_quantiles_duck_sql(
    rel: str, num_cols: tuple[str, ...], qs: tuple[float, ...] = QUANTILES
) -> str:
    sels = " UNION ALL ".join(
        f"SELECT '{_sql_quote(c)}' AS col_name, CAST({c} AS DOUBLE) AS val FROM {rel}"
        for c in num_cols
    )
    q_exprs = []
    for p in qs:
        name = f"q_{str(p).replace('0.', '')}"
        q_exprs.append(
            f"round(min(CASE WHEN cum >= floor({p} * (n - 1)) + 1 THEN val END)"
            f" + ({p} * (max(n) - 1) - floor({p} * (max(n) - 1)))"
            f" * (min(CASE WHEN cum >= ceil({p} * (n - 1)) + 1 THEN val END)"
            f" - min(CASE WHEN cum >= floor({p} * (n - 1)) + 1 THEN val END)),"
            f" {ROUND}) AS {name}"
        )
    return f"""
WITH melted AS ({sels}),
cnt AS (
  SELECT col_name, val, count(*) AS c FROM melted
  WHERE val IS NOT NULL GROUP BY col_name, val
),
cum AS (
  SELECT col_name, val, c,
         sum(c) OVER (PARTITION BY col_name ORDER BY val) AS cum
  FROM cnt
),
tot AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY col_name)
SELECT col_name, CAST(max(n) AS BIGINT) AS n, {', '.join(q_exprs)}
FROM cum JOIN tot USING (col_name)
GROUP BY col_name
"""


def curate_stages(
    docs: DataFrame,
    eval_docs: DataFrame,
    qmin: float = 0.3,
    rmax: float = 0.5,
    tau: float = 0.5,
    budget: int = 512,
    shard_size: int = 1000,
) -> list:
    """The composed curation chain as an ordered (name, fn) stage list for
    checkpoint.run_staged — quality+repetition gates -> LSH near-dup
    collapse (min-doc_id survivor) -> eval-set 5-gram decontamination ->
    hash-stratified language sampling -> next-fit packing. Stage-boundary
    checkpointing is the correct resume granularity here: dedup /
    decontaminate / pack are cross-document, so split-level replay
    (checkpoint.run_incremental) could not reproduce an interrupted run.
    Every stage is hash-deterministic, making resumed and uninterrupted
    runs bit-identical (tests/test_kill_resume.py pins this with a SIGKILL
    mid-chain)."""
    from deepkg_spark.operators.dedup import minhash_lsh_pairs
    from deepkg_spark.operators.graph import connected_components
    from deepkg_spark.operators.textstats import lang_id, quality_score

    def gate(_):
        return (
            docs.join(quality_score(docs).select("doc_id", "quality"), "doc_id")
            .join(repetition_stats(docs).select("doc_id", "dup_3gram_frac"), "doc_id")
            .filter((F.col("quality") >= qmin) & (F.col("dup_3gram_frac") <= rmax))
            .select("doc_id", "text")
        )

    def dedup(gated):
        pairs = minhash_lsh_pairs(gated, tau=tau).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
        comp = connected_components(gated.select(F.col("doc_id").alias("v")), pairs)
        reps = comp.groupBy("component").agg(F.min("v").alias("doc_id"))
        return gated.join(reps.select("doc_id"), "doc_id", "left_semi")

    def decon(deduped):
        flags = decontaminate(deduped, eval_docs, n=5)
        return deduped.join(
            flags.filter(~F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_semi",
        )

    def sample(clean):
        lang = lang_id(clean).select("doc_id", "pred_lang")
        return sample_stratified(
            clean.join(lang, "doc_id"),
            {"en": 900},
            default_permille=500,
            stratum_col="pred_lang",
        ).select("doc_id", "text")

    def pack(sampled):
        return pack_sequences(sampled, budget=budget, shard_size=shard_size)

    return [
        ("gate", gate),
        ("dedup", dedup),
        ("decontaminate", decon),
        ("sample", sample),
        ("pack", pack),
    ]
