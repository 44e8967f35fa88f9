"""Corpus-scale deduplication suite (training-data pipeline operators).

Five dedup strategies over documents(doc_id, text), each with a DuckDB oracle
twin. The reference's nearest analogue is per-doc tuple dedup
(UIE_torch/uie/evaluation/sel2record.py:463-466) and matched-entity set dedup
(sel2record.py:350-363); corpus-level near-dup is this engine's addition for
the 100 TB training-data use case.

Scale notes per strategy:
- exact:      one hash agg on md5(text). Never shuffles raw text — only the
              16-byte digest and doc_id.
- minhash:    shingle -> 16 universal-hash mins in ONE groupBy (algebraic,
              map-side combined). LSH bands (4 x 4) turn all-pairs into
              equi-join on (band_id, band_key); verification joins shingle
              sets only for candidate pairs. This is the 100 TB path: cost ~
              O(docs * shingles) + O(candidate pairs), never O(docs^2).
- simhash:    60-bit signature via 60 conditional sums in one groupBy; pairs
              via a 4 x 15-bit band equi-join + bit_count(xor) hamming verify.
- jaccard:    exact n-gram Jaccard via shingle self-join — the correctness
              baseline; O(sum df^2) on hot shingles, so the scale path is
              minhash above (documented trade-off).
- embedding:  cosine near-dup; JVM zip_with path for oracle parity, Arrow
              GEMM path for scale (see similarity.py).

All hashes are md5-derived (functions/hashing.py) so Spark and DuckDB agree
bit-for-bit; MinHash coefficients come from a pinned seed (1234, matching the
reference's seed discipline, ExtractionEntities/utils/tools.py:17-22).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepkg_spark.functions.hashing import (
    MERSENNE31,
    duck_h31,
    duck_h60,
    minhash_coeffs,
    spark_h31,
    spark_h60,
)
from deepkg_spark.functions.text import duck_ngrams, duck_tokens, spark_ngrams, spark_tokens

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
SHINGLE_N = 3
COEFFS = minhash_coeffs(NUM_PERM, seed=1234)
SIMHASH_BITS = 60          # md5-prefix h60: the widest clean portable hash
SIMHASH_BAND_BITS = 15     # 4 bands x 15 bits -> 32,768 keys per band
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
ROUND = 6


# ---------------------------------------------------------------- exact

def dedup_exact(docs: DataFrame) -> DataFrame:
    """(content_md5, n_docs, keep_doc_id) for every duplicate group (n > 1)."""
    return (
        docs.select(F.col("doc_id"), F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact_duck_sql(docs_rel: str) -> str:
    return f"""
SELECT md5(text) AS content_md5, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM {docs_rel} GROUP BY md5(text) HAVING count(*) > 1
""".strip()


# ---------------------------------------------------------------- minhash

def _shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(F.expr(spark_ngrams(spark_tokens("text"), n))).alias("sh"),
    ).distinct()


def minhash_signatures(
    docs: DataFrame, n: int = SHINGLE_N, shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, mh0..mh15): one groupBy, 16 algebraic min aggregates.
    Pass `shingles` to reuse an already-computed (persisted) _shingles
    frame instead of re-running the tokenize+shingle+distinct pass."""
    sh = (shingles if shingles is not None else _shingles(docs, n)).withColumn(
        "h", F.expr(spark_h31("sh"))
    )
    aggs = [
        F.min(F.expr(f"({a}L * h + {b}L) % {MERSENNE31}L")).alias(f"mh{i}")
        for i, (a, b) in enumerate(COEFFS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures_duck_sql(docs_rel: str, n: int = SHINGLE_N) -> str:
    toks = duck_tokens("text")
    aggs = ", ".join(
        f"min(({a} * h + {b}) % {MERSENNE31}) AS mh{i}"
        for i, (a, b) in enumerate(COEFFS)
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({duck_ngrams(toks, n)}) AS sh FROM {docs_rel}
), h AS (SELECT doc_id, {duck_h31('sh')} AS h FROM sh)
SELECT doc_id, {aggs} FROM h GROUP BY doc_id
""".strip()


def _band_key_exprs() -> list[str]:
    keys = []
    for b in range(BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        keys.append("concat_ws(',', " + ", ".join(f"CAST({c} AS STRING)" for c in cols) + ")")
    return keys


def minhash_lsh_pairs(
    docs: DataFrame, n: int = SHINGLE_N, tau: float = 0.5
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding + exact Jaccard verify.

    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= tau.
    """
    # signatures and shingles feed multiple joins below: persist both, or a
    # self-join recomputes the full shingle scan once per reference. The
    # SAME persisted shingle frame feeds the signature computation too —
    # previously the tokenize+shingle+distinct pass (the dominant narrow
    # stage) ran once for the signatures and again for the verify join.
    sh = _shingles(docs, n).persist()
    sig = minhash_signatures(docs, n, shingles=sh).persist()
    band_structs = ", ".join(
        f"struct({b} AS band_id, {key} AS band_key)"
        for b, key in enumerate(_band_key_exprs())
    )
    bands = sig.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("b")
    ).select("doc_id", "b.band_id", "b.band_key")
    left = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_key"
    )
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), ROUND
            ),
        )
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs_duck_sql(docs_rel: str, n: int = SHINGLE_N, tau: float = 0.5) -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + "concat_ws(',', "
        + ", ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        )
        + ") AS band_key FROM sig"
        for b in range(BANDS)
    )
    toks = duck_tokens("text")
    return f"""
WITH sig AS ({minhash_signatures_duck_sql(docs_rel, n)}),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r USING (band_id, band_key)
  WHERE l.doc_id < r.doc_id
),
sh AS (SELECT DISTINCT doc_id, unnest({duck_ngrams(toks, n)}) AS sh FROM {docs_rel}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), {ROUND}) >= {tau}
""".strip()


# ---------------------------------------------------------------- simhash

def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint): 60-bit SimHash over whitespace tokens
    (Manku et al. 2007 shape; 60 = the widest md5-prefix hash that stays in
    positive BIGINT territory in both engines, vs the paper's 64).

    Token weight = term frequency; bit b of the signature is 1 iff the
    weighted sum of (+w if bit b of h60(token) else -w) is positive.
    One groupBy with 60 conditional-sum aggregates — a single shuffle of
    (doc_id, token, count), never the raw text.
    """
    tf = (
        docs.select("doc_id", F.explode(F.expr(spark_tokens("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("h", F.expr(spark_h60("tok")))
    )
    sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"((h >> {b}) & 1) = 1"), F.col("w")).otherwise(-F.col("w"))
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bit_terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(bit_terms).alias("simhash"))


def simhash_duck_sql(docs_rel: str) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN w ELSE -w END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS w
  FROM (SELECT doc_id, unnest({duck_tokens('text')}) AS tok FROM {docs_rel})
  GROUP BY doc_id, tok
), h AS (SELECT doc_id, {duck_h60('tok')} AS h, w FROM tf),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, {bit_terms} AS simhash FROM sums
""".strip()


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within hamming distance, via 15-bit
    band LSH (pigeonhole: a pair within distance 3 of 60 bits agrees on
    >= 1 of the 4 bands) + bit_count(xor) verification.

    Scale audit: byte bands over a 32-bit signature give only 256
    keys/band, so bucket population grows as N/256 and the band self-join
    emits O(N^2/256) candidates. 15-bit bands give 32,768 keys/band —
    expected bucket size N/32768 and ~128x fewer candidate pairs at the same
    N; candidate work stays O(N^2/32768) per band, the Manku et al.
    banded-table scheme (4 tables, 15-bit prefixes).
    """
    assert max_hamming < SIMHASH_BANDS, (
        f"{SIMHASH_BANDS} bands only guarantee recall for hamming <= "
        f"{SIMHASH_BANDS - 1}"
    )
    sig = simhash(docs).persist()
    band_structs = ", ".join(
        f"struct({b} AS band_id, shiftright(simhash, {b * SIMHASH_BAND_BITS}) "
        f"& {(1 << SIMHASH_BAND_BITS) - 1} AS band_key)"
        for b in range(SIMHASH_BANDS)
    )
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.expr(f"array({band_structs})")).alias("b")
    ).select("doc_id", "simhash", "b.band_id", "b.band_key")
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        "band_id", "band_key",
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
        "band_id", "band_key",
    )
    return (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.expr("bit_count(sh_a ^ sh_b)").cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_duck_sql(docs_rel: str, max_hamming: int = 3) -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1} "
        f"AS band_key FROM sig"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH sig AS ({simhash_duck_sql(docs_rel)}),
bands AS ({bands})
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
FROM bands l JOIN bands r USING (band_id, band_key)
WHERE l.doc_id < r.doc_id
  AND bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
""".strip()


# ---------------------------------------------------------------- exact jaccard

def jaccard_pairs(docs: DataFrame, n: int = SHINGLE_N, tau: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing a shingle (baseline;
    scale path is minhash_lsh_pairs — see module docstring)."""
    sh = _shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        sh.select(F.col("doc_id").alias("doc_a"), "sh")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), ROUND),
        )
        .filter(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_duck_sql(docs_rel: str, n: int = SHINGLE_N, tau: float = 0.5) -> str:
    toks = duck_tokens("text")
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, unnest({duck_ngrams(toks, n)}) AS sh FROM {docs_rel}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), {ROUND}) >= {tau}
""".strip()


# ---------------------------------------------------------------- embedding

def embedding_neardup(emb: DataFrame, tau: float = 0.95) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with cosine >= tau. JVM zip_with path
    (oracle-parity baseline); the Arrow GEMM variant for large candidate sets
    lives in similarity.brute_force_topk_udf."""
    v = emb.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.sqrt(
            F.expr(
                "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
            )
        ).alias("nrm"),
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(
                F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, b) -> a + b)")
                / (F.col("na") * F.col("nb")),
                ROUND,
            ),
        )
        .filter(F.col("cos") >= tau)
        .select("vec_a", "vec_b", "cos")
    )


def embedding_neardup_duck_sql(emb_rel: str, tau: float = 0.95) -> str:
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), {ROUND}) AS cos
FROM {emb_rel} a JOIN {emb_rel} b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), {ROUND}) >= {tau}
""".strip()


PLANT_OFFSET = 1_000_000


def plant_neardups(emb: DataFrame, every: int = 7, id_offset: int = PLANT_OFFSET) -> DataFrame:
    """Deterministic near-duplicate plants for the embedding-dedup contract:
    every `every`-th vector gets a copy scaled x2 under a shifted id.

    cos(v, 2v) = 1.0, and x2 is EXACT in float (exponent + 1), so a plant is
    provably >= any tau and — because sign(dot(2v, r)) == sign(dot(v, r))
    exactly, scaling distributes over the float sum — provably lands in the
    SAME random-projection bucket as its source (embedding_neardup_lsh's
    completeness argument)."""
    copies = emb.filter(F.col("vec_id") % every == 0).select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))").alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(copies)


def plant_neardups_duck_sql(emb_rel: str, every: int = 7, id_offset: int = PLANT_OFFSET) -> str:
    return f"""
SELECT vec_id, embedding FROM {emb_rel}
UNION ALL
SELECT vec_id + {id_offset} AS vec_id,
       list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding
FROM {emb_rel} WHERE vec_id % {every} = 0
""".strip()


def embedding_neardup_lsh(
    emb: DataFrame, tau: float = 0.8, nbits: int = 8, dim: int | None = None
) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with cosine >= tau — LSH-bucketed scale path.

    Candidate generation is an EQUI-JOIN on the random-projection bucket id
    (sum of bucket sizes squared, never O(N^2) crossJoin); the exact cosine
    is verified only on candidates. Completeness: a pair is emitted iff it
    shares a bucket, which positively-scaled duplicates provably do (see
    plant_neardups); background pairs in the fixtures top out at cos 0.60
    (sf0.1) vs tau 0.8, margins measured in BENCH notes. For corpora where
    near-dups are perturbed rather than scaled, raise nbits bands or lower
    tau — recall is then probabilistic, measured by ann_recall."""
    from deepkg_spark.operators.similarity import _bucket_expr, _hyperplanes

    if dim is None:
        dim = len(emb.select("embedding").head()[0])
    planes = _hyperplanes(dim, nbits)
    v = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.sqrt(
            F.expr(
                "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
            )
        ).alias("nrm"),
        F.expr(_bucket_expr("embedding", planes, "spark")).alias("bucket"),
    )
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.round(
                F.expr(
                    "aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
                )
                / (F.col("na") * F.col("nb")),
                ROUND,
            ),
        )
        .filter(F.col("cos") >= tau)
        .select("vec_a", "vec_b", "cos")
    )


# ------------------------------------------------ exact substring spans

SUBSTR_W = 8  # duplicated-window width, in tokens


def substring_spans(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens): maximal duplicated spans.

    The ExactSubstr dedup of Lee et al. 2021 ("Deduplicating Training Data
    Makes Language Models Better"), re-expressed for Spark. The paper builds
    a suffix array over the concatenated corpus — inherently sequential and
    single-machine; the distributed equivalent used here: slide a w-token
    window over every doc, 60-bit-hash each window, count occurrences
    globally, keep windows whose hash occurs >= 2 times anywhere in the
    corpus (cross-doc or repeated within one doc — the paper's semantics
    flag both), then merge overlapping/adjacent duplicated windows per doc
    into maximal spans (gaps-and-islands). A length-L duplicated substring
    shared by two docs produces the same L-w+1 window hashes in both, so
    the merged span recovers exactly the paper's "substring of >= w tokens
    that occurs twice" up to window granularity.

    span_start/span_end are token indices into the doc's whitespace
    tokenization, end exclusive.

    Scale shape: the window explode is narrow (per-doc); the occurrence
    count groupBy keys on a 60-bit uniform hash (no hot keys — a pathological
    corpus-stopword window still counts as ONE key with a big count, and
    only the count, never a row list, is materialized); the join back is a
    hash equi-join on the same uniform key; the islands merge uses window
    functions partitioned BY DOC (never a global window). Shuffled payload
    per window is (doc_id, pos, 8-byte hash) — raw text never shuffles.
    Reference analogue: per-doc tuple dedup sel2record.py:463-466; this is
    the corpus-level generalization.
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.expr(spark_tokens("text")).alias("toks"))
    win = (
        toks.filter(F.size("toks") >= w)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {w} + 1), "
                    f"i -> struct(i - 1 AS pos, concat_ws(' ', slice(toks, i, {w})) AS gram))"
                )
            ).alias("o"),
        )
        .select("doc_id", "o.pos", F.expr(spark_h60("o.gram")).alias("gh"))
    )
    # win feeds both the occurrence count and the join back: persist it, or
    # the tokenize + window-explode (the most expensive narrow stage of the
    # query) runs twice — same discipline as minhash_lsh_pairs above
    win = win.persist()
    dup_gh = win.groupBy("gh").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 2)
    dup = win.join(dup_gh.select("gh"), "gh").select("doc_id", "pos")
    per_doc = Window.partitionBy("doc_id").orderBy("pos")
    marked = dup.withColumn(
        "new_isl",
        F.when(
            F.lag("pos").over(per_doc).isNull()
            | (F.col("pos") - F.lag("pos").over(per_doc) > w),
            1,
        ).otherwise(0),
    ).withColumn("isl", F.sum("new_isl").over(per_doc))
    return (
        marked.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + w).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start")).cast("bigint").alias("span_tokens"),
        )
    )


def substring_spans_duck_sql(docs_rel: str, w: int = SUBSTR_W) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens('text')} AS toks FROM {docs_rel}
), win AS (
  SELECT doc_id, i AS pos,
         {duck_h60(f"array_to_string(list_slice(toks, i + 1, i + {w}), ' ')")} AS gh
  FROM toks, unnest(range(len(toks) - {w} + 1)) AS u(i)
  WHERE len(toks) >= {w}
), dup_gh AS (
  SELECT gh FROM win GROUP BY gh HAVING count(*) >= 2
), dup AS (
  SELECT doc_id, pos FROM win JOIN dup_gh USING (gh)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER pd IS NULL
                   OR pos - lag(pos) OVER pd > {w} THEN 1 ELSE 0 END AS new_isl
  FROM dup WINDOW pd AS (PARTITION BY doc_id ORDER BY pos)
), grp AS (
  SELECT doc_id, pos,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM marked
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {w} AS BIGINT) AS span_end,
       CAST(max(pos) + {w} - min(pos) AS BIGINT) AS span_tokens
FROM grp GROUP BY doc_id, isl
"""


def substring_stats(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_frac): per-doc duplicated-token load.

    dup_tokens sums the doc's maximal duplicated spans from
    ``substring_spans``; docs with no duplicated window report 0 / 0.0.
    The Lee et al. pipeline drops (or trims) docs above a dup_frac cut;
    this emits the signal and leaves the policy to the caller.
    """
    spans = substring_spans(docs, w=w)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("dup_tokens"))
    counts = docs.select(
        "doc_id", F.expr(f"size({spark_tokens('text')})").cast("bigint").alias("n_tokens")
    )
    return counts.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            ROUND,
        ).alias("dup_frac"),
    )


def substring_stats_duck_sql(docs_rel: str, w: int = SUBSTR_W) -> str:
    return f"""
WITH spans AS ({substring_spans_duck_sql(docs_rel, w)}),
per_doc AS (
  SELECT doc_id, sum(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id
), counts AS (
  SELECT doc_id, CAST(len({duck_tokens('text')}) AS BIGINT) AS n_tokens
  FROM {docs_rel}
)
SELECT doc_id, n_tokens,
       CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(dup_tokens, 0) AS DOUBLE)
             / greatest(n_tokens, 1), {ROUND}) AS dup_frac
FROM counts LEFT JOIN per_doc USING (doc_id)
"""


def substring_clean(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """(doc_id, clean_text, n_tokens, kept_tokens): documents with every
    duplicated span removed — the actionable transform of the Lee et al.
    ExactSubstr pipeline (the paper's simplest policy: drop BOTH copies of
    any >= w-token substring that occurs twice in the corpus).

    tokens posexplode -> equi-join on doc_id against the doc's merged spans
    with a range predicate (pos in [span_start, span_end)) -> surviving
    tokens re-assembled in position order (array_sort of (pos, tok)
    structs; no order-sensitive aggregate). The span join is equi on
    doc_id: each doc meets only its own few spans, so no range-join blowup.
    Docs with no duplicated spans pass through unchanged.
    """
    spans = substring_spans(docs, w=w)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(spark_tokens("text"))).alias("pos", "tok"),
    )
    marked = (
        toks.join(spans, "doc_id", "left")
        .withColumn(
            "in_span",
            F.when(
                (F.col("span_start").isNotNull())
                & (F.col("pos") >= F.col("span_start"))
                & (F.col("pos") < F.col("span_end")),
                1,
            ).otherwise(0),
        )
        .groupBy("doc_id", "pos")
        .agg(F.max("in_span").alias("dropped"), F.first("tok").alias("tok"))
    )
    kept = (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.lit(1) - F.col("dropped")).cast("bigint").alias("kept_tokens"),
            F.expr(
                "concat_ws(' ', transform(array_sort("
                "collect_list(CASE WHEN dropped = 0 THEN struct(pos, tok) END)"
                "), s -> s.tok))"
            ).alias("clean_text"),
        )
    )
    # zero-token docs never reach the explode; re-attach with empty text
    return (
        docs.select("doc_id")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        )
    )


def substring_clean_duck_sql(docs_rel: str, w: int = SUBSTR_W) -> str:
    return f"""
WITH spans AS ({substring_spans_duck_sql(docs_rel, w)}),
toks AS (
  SELECT doc_id, i AS pos, t[i + 1] AS tok
  FROM (SELECT doc_id, {duck_tokens('text')} AS t FROM {docs_rel}),
       unnest(range(len(t))) AS u(i)
),
marked AS (
  SELECT t.doc_id, t.pos, any_value(t.tok) AS tok,
         max(CASE WHEN s.span_start IS NOT NULL
                       AND t.pos >= s.span_start
                       AND t.pos < s.span_end THEN 1 ELSE 0 END) AS dropped
  FROM toks t LEFT JOIN spans s ON t.doc_id = s.doc_id
  GROUP BY t.doc_id, t.pos
),
kept AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(1 - dropped) AS BIGINT) AS kept_tokens,
         coalesce(string_agg(CASE WHEN dropped = 0 THEN tok END, ' '
                             ORDER BY pos), '') AS clean_text
  FROM marked GROUP BY doc_id
)
SELECT doc_id,
       coalesce(clean_text, '') AS clean_text,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM (SELECT doc_id FROM {docs_rel}) LEFT JOIN kept USING (doc_id)
"""
