"""Round-6 optimization guards: each rewritten operator is pinned against
its pre-optimization reference formulation on adversarial inputs, so a
future change that breaks bit-equality fails here before the driver's
oracle run."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# ------------------------------------------------------------- PQ / Arrow

def test_pq_assign_arrow_equals_sql_folds(spark):
    """The Arrow assignment path must reproduce the interpreted SQL folds
    bit-for-bit: same codes, same cell, same mse (down to repr) — including
    the left-fold summation order and first-max tie-breaks."""
    from deepkg_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    dim, m, ks, sub = 64, 8, 16, 8
    vecs = rng.standard_normal((80, dim)).astype(np.float32)
    # adversarial rows: zeros, constants, exact centroid copies (tie-bait)
    pq = S._pq_cents(dim, m, ks)
    vecs[0] = 0.0
    vecs[1] = 1e-30
    vecs[2, :sub] = pq[0][3].astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = S._centroids(dim, 16)
    cols = [
        F.expr(S._pq_fold_expr("embedding", pq[s], s, sub, "spark")).alias(f"s{s}")
        for s in range(m)
    ]
    t = emb.select("vec_id", *cols)
    codes = F.concat_ws(",", *[F.col(f"s{s}.f.j").cast("string") for s in range(m)])
    mse = F.round(
        sum(
            F.col(f"s{s}.xx") - 2 * F.col(f"s{s}.f.dt") + F.col(f"s{s}.f.cc")
            for s in range(m)
        )
        / F.lit(float(dim)),
        6,
    )
    ref = {
        r[0]: (r[1], repr(r[2]))
        for r in t.select("vec_id", codes.alias("codes"), mse.alias("mse")).collect()
    }
    got = {
        r[0]: (r[1], repr(r[2]))
        for r in S.pq_codes(emb, dim=dim).collect()
    }
    assert got == ref

    cell_ref = {
        r[0]: r[1]
        for r in emb.select(
            "vec_id",
            F.expr(
                S._argmax_cell_expr(
                    S._cell_dots_expr("embedding", cents, "spark"), "spark"
                )
            ).alias("cell"),
        ).collect()
    }
    cand = S._pq_assign_frame(
        emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")),
        "cid", "cvec", dim, m, sub, pq, cents=cents,
    )
    cell_got = {r[0]: r[1] for r in cand.select("cid", "cell").collect()}
    assert cell_got == cell_ref


def test_pq_codes_null_vector_raises_clear_error(spark):
    """A NULL vector leaves the Arrow batch short of n * dim values; the
    kernel must fail with a message naming the cause, not a bare assert."""
    from deepkg_spark.operators import similarity as S

    dim = 64
    rows = [(0, [0.5] * dim), (1, None), (2, [-0.25] * dim)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="NULL or wrong-length vector"):
        S.pq_codes(emb, dim=dim).collect()


def test_ivf_pq_topk_matches_join_window_reference(spark):
    """The broadcast-codes ADC search (margin shortlist + JVM rounding and
    ranking) must equal the former qprobe-join-window plan row for row."""
    from deepkg_spark.operators import similarity as S

    rng = np.random.RandomState(11)
    dim, m, ks, sub, n_cells, nprobe = 64, 8, 16, 8, 16, 4
    vecs = rng.standard_normal((120, dim)).astype(np.float32)
    vecs[5] = vecs[4]  # exact duplicate -> adist tie broken by cid
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))

    cents = S._centroids(dim, n_cells)
    pq = S._pq_cents(dim, m, ks)
    cand = c.select(
        "cid",
        F.expr(
            S._argmax_cell_expr(S._cell_dots_expr("cvec", cents, "spark"), "spark")
        ).alias("cell"),
        *[
            F.expr(S._pq_fold_expr("cvec", pq[s], s, sub, "spark")).alias(f"s{s}")
            for s in range(m)
        ],
    ).select("cid", "cell", *[F.col(f"s{s}.f.j").alias(f"c{s}") for s in range(m)])
    q2 = q.select(
        "qid", "qvec",
        F.expr(S._qq_expr("qvec", m, sub, "spark")).alias("qq"),
        *[
            F.expr(S._adc_table_expr("qvec", pq[s], s, sub, "spark")).alias(f"adt{s}")
            for s in range(m)
        ],
    )
    qd = q2.withColumn(
        "cd", F.explode(F.expr(S._cell_dots_expr("qvec", cents, "spark")))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("cd.d"), F.asc("cd.j"))
    qprobe = (
        qd.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qq", *[f"adt{s}" for s in range(m)], F.col("cd.j").alias("cell"))
    )
    lookup = " + ".join(f"element_at(adt{s}, c{s} + 1)" for s in range(m))
    joined = qprobe.join(cand, "cell").withColumn(
        "adist", F.round(F.expr(f"qq + {lookup}"), 6)
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("cid"))
    ref = sorted(
        tuple(r)
        for r in joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", "adist", "rank")
        .collect()
    )
    got = sorted(tuple(r) for r in S.ivf_pq_topk(q, c, k=5, dim=dim).collect())
    assert got == ref and len(got) > 0


# -------------------------------------------------------------- quantiles

def test_profile_quantiles_bucketed_equals_single_task(spark):
    """The distributed prefix-sum (range buckets + offsets) must equal the
    single-task cumulative window on adversarial columns: constants,
    duplicates, negatives, an all-NULL column (which must emit NO row)."""
    from deepkg_spark.operators.curation import profile_quantiles

    rng = np.random.RandomState(3)
    n = 5000
    rows = [
        (
            float(rng.standard_normal() * 1e3),      # spread
            float(rng.randint(0, 7)),                # few distinct
            42.0,                                    # constant
            float(-abs(rng.standard_normal())),      # negative skew
            None,                                    # all-NULL
        )
        for _ in range(n)
    ]
    df = spark.createDataFrame(
        rows, "a double, b double, c double, d double, e double"
    )
    cols = ("a", "b", "c", "d", "e")
    got = sorted(tuple(r) for r in profile_quantiles(df, num_cols=cols).collect())
    assert len(got) == 4  # 'e' emits no row

    # reference: single-task cumulative window (the pre-optimization plan)
    refs = []
    for c in cols[:4]:
        vals = df.selectExpr(f"CAST({c} AS DOUBLE) AS val").filter(
            F.col("val").isNotNull()
        )
        cnt = vals.groupBy("val").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy(F.lit(0)).orderBy("val")
        j = cnt.select(
            "val", "c",
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(Window.partitionBy(F.lit(0))).cast("bigint").alias("n"),
        )
        aggs = [F.max("n").cast("bigint").alias("n")]
        for p in (0.25, 0.5, 0.75):
            k = F.lit(p) * (F.col("n") - 1)
            lo = F.min(F.when(F.col("cum") >= F.floor(k) + 1, F.col("val")))
            hi = F.min(F.when(F.col("cum") >= F.ceil(k) + 1, F.col("val")))
            k_g = F.lit(p) * (F.max("n") - 1)
            frac = k_g - F.floor(k_g)
            aggs.append(
                F.round(lo + frac * (hi - lo), 6).alias(f"q_{str(p).replace('0.', '')}")
            )
        refs.append(j.agg(*aggs).select(F.lit(c).alias("col_name"), "*"))
    ref = refs[0]
    for o in refs[1:]:
        ref = ref.unionByName(o)
    ref_rows = sorted(tuple(r) for r in ref.collect())
    assert got == ref_rows


# ----------------------------------------------------------- fingerprints

def test_fingerprints_array_rewrite_equals_window_formulation(spark):
    """The zero-shuffle array fingerprints must produce exactly the row set
    of the explode+window+DISTINCT formulation, including short docs (no
    shingles), docs shorter than the window, and repeated content."""
    from deepkg_spark.functions.hashing import spark_h32
    from deepkg_spark.functions.text import spark_ngrams, spark_tokens
    from deepkg_spark.operators.textstats import fingerprints

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b"),                      # fewer tokens than k
            (3, "x y z"),                    # exactly k tokens -> one shingle
            (4, "a b c a b c a b c a b c"),  # repeats -> dedup matters
            (5, ""),                         # empty
            (6, "q w e r t"),
        ],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in fingerprints(docs).collect())

    sh = docs.select(
        "doc_id",
        F.posexplode(F.expr(spark_ngrams(spark_tokens("text"), 3))).alias("pos", "sh"),
    ).withColumn("h", F.expr(spark_h32("sh")))
    sh.createOrReplaceTempView("_fp_ref_sh")
    ref = sorted(
        tuple(r)
        for r in spark.sql(
            """
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
FROM _fp_ref_sh
"""
        ).collect()
    )
    assert got == ref and len(got) > 0


# -------------------------------------------------------------- top terms

def test_top_terms_single_pass_equals_two_branch(spark):
    from deepkg_spark.functions.text import spark_tokens
    from deepkg_spark.operators.textstats import top_terms

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b b"), (3, "c c c c"), (4, "")],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in top_terms(docs, k=10).collect())
    occ = docs.select("doc_id", F.explode(F.expr(spark_tokens("text"))).alias("term"))
    tf = occ.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    df_ = (
        occ.select("term", "doc_id").distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    ref = sorted(
        tuple(r)
        for r in tf.join(df_, "term")
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(10)
        .collect()
    )
    assert got == ref
    assert set(got) == {("a", 3, 2), ("b", 3, 2), ("c", 5, 2)}


# --------------------------------------------------------------- asof join

def test_asof_join_single_scan_equals_union_formulation(spark):
    """The tag-expression asof plan must equal the former union-of-filters
    formulation — including NULL right-side values, where the per-column
    IGNORE NULLS semantics pick prior_value from an EARLIER right event
    than prior_event_id."""
    from deepkg_spark.operators.events import asof_join

    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, 1000, 7, "click", 5.0),
        (2, 2000, 7, "click", None),   # later click with NULL value
        (3, 3000, 7, "purchase", 9.9),
        (4, 500, 8, "purchase", 1.0),  # purchase with no prior click
        (5, 3000, 7, "click", None),   # same-ts click, NULL value
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["event_id"]: tuple(r) for r in asof_join(events).collect()}
    # purchase 3: prior_event_id = click 5 (same ts, right-before-left),
    # but prior_value = 5.0 from click 1 (IGNORE NULLS skips 2 and 5)
    assert got[3][3] == 5 and got[3][4] == 5.0
    assert got[4][3] is None and got[4][4] is None and got[4][5] is None


def test_asof_join_equal_types_raises(spark):
    """Equal left/right types would tag every event as a right row and
    silently return nothing; the operator refuses them instead."""
    from deepkg_spark.operators.events import asof_join

    events = spark.createDataFrame(
        [(1, 7, "click", 1.0)],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn("ts", F.lit(1000).cast("timestamp"))
    with pytest.raises(ValueError, match="left_type and right_type"):
        asof_join(events, left_type="click", right_type="click")
