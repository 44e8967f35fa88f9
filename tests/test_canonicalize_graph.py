"""Canonicalization (salted groupBy) + graph materialize + checkpoint resume."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from deepkg_spark.checkpoint import (
    MANIFEST_SCHEMA,
    read_manifest,
    run_incremental,
    run_staged,
)
from deepkg_spark.operators.canonicalize import (
    canonical_entities,
    canonical_entities_duck_sql,
)
from deepkg_spark.operators.graph import (
    edge_table,
    edge_table_duck_sql,
    node_table,
    node_table_duck_sql,
    write_graph,
)
from deepkg_spark.operators.mentions import mentions_frame
from deepkg_spark.operators.relations import triples_duck_sql, triples_frame
from deepkg_spark.sources.corpus import corpus_sql, load_corpus
from tests.compare import compare_spark_duck, duck_connect


def _con_with_corpus(sf_dir):
    con = duck_connect(sf_dir)
    con.execute(f"CREATE VIEW corpus AS {corpus_sql()}")
    return con


def test_canonical_entities_matches_duckdb(spark, sf_dir):
    mentions = mentions_frame(load_corpus(spark, sf_dir))
    con = _con_with_corpus(sf_dir)
    con.execute(f"CREATE VIEW m AS SELECT * FROM ({__import__('deepkg_spark.operators.mentions', fromlist=['mentions_duck_sql']).mentions_duck_sql()})")
    compare_spark_duck(
        canonical_entities(mentions, n_salts=4), con, canonical_entities_duck_sql("m")
    )


def test_salting_invariant(spark, sf_dir):
    mentions = mentions_frame(load_corpus(spark, sf_dir))
    a = {tuple(r) for r in canonical_entities(mentions, n_salts=1).collect()}
    b = {tuple(r) for r in canonical_entities(mentions, n_salts=32).collect()}
    assert a == b and len(a) > 0


def test_graph_tables_match_duckdb(spark, sf_dir):
    triples = triples_frame(load_corpus(spark, sf_dir))
    con = _con_with_corpus(sf_dir)
    con.execute(f"CREATE VIEW t AS {triples_duck_sql()}")
    compare_spark_duck(node_table(triples), con, node_table_duck_sql("t"))
    compare_spark_duck(edge_table(triples), con, edge_table_duck_sql("t"))


def test_write_graph_partitioned(spark, sf_dir, tmp_path):
    triples = triples_frame(load_corpus(spark, sf_dir))
    write_graph(node_table(triples), edge_table(triples), str(tmp_path))
    edges = spark.read.parquet(f"{tmp_path}/edges")
    assert edges.filter(F.col("pred") == "imports").count() > 0
    # partition pruning: predicate on the partition column prunes files
    plan = (
        edges.filter(F.col("pred") == "imports")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan or "pred" in plan


def test_checkpoint_resume_exact(spark, sf_dir):
    """Killed-run simulation: partial commit, resume, equality with one-shot."""
    corpus = load_corpus(spark, sf_dir)
    pipeline = lambda df: triples_frame(df)  # noqa: E731
    d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
    try:
        # one-shot run
        run_incremental(spark, corpus, pipeline, d1, "job", n_splits=8)
        full = {tuple(r) for r in spark.read.parquet(f"{d1}/data").drop("split_id").collect()}

        # partial run (simulates kill after 3 of 8 splits), then resume
        r1 = run_incremental(spark, corpus, pipeline, d2, "job", n_splits=8,
                             only_splits={0, 1, 2})
        assert 0 < r1["processed"] <= 3
        r2 = run_incremental(spark, corpus, pipeline, d2, "job", n_splits=8)
        resumed = {tuple(r) for r in spark.read.parquet(f"{d2}/data").drop("split_id").collect()}
        assert resumed == full

        # idempotence: nothing pending on a third call
        r3 = run_incremental(spark, corpus, pipeline, d2, "job", n_splits=8)
        assert r3 == {"pending": 0, "processed": 0, "rows": 0}

        # manifest lineage: counts + checksums cover every split exactly once
        man = spark.read.parquet(f"{d2}/_manifest")
        rows = man.groupBy("split_id").count().collect()
        assert all(r["count"] == 1 for r in rows)
        assert man.agg(F.sum("row_count")).collect()[0][0] == len(full)
        m1 = {(r["split_id"], r["row_count"], r["checksum"])
              for r in spark.read.parquet(f"{d1}/_manifest").collect()}
        m2 = {(r["split_id"], r["row_count"], r["checksum"])
              for r in man.collect()}
        assert m1 == m2
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def _manifest_write_plans(spark, manifest_path):
    """Physical plans of every finished SQL execution that wrote to
    `manifest_path`, read from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    plans = [e.physicalPlanDescription() for e in conv.asJava(store.executionsList())]
    return [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p and manifest_path in p]


def test_manifest_commit_stays_in_jvm(spark):
    """Manifest rows are a JVM frame of literals, never a Python list: no
    commit plan scans an ExistingRDD, each commit appends one part file, the
    missing-manifest frame is typed, and a manifest that mixes files written
    the old way (createDataFrame of a list) with new ones reads back."""
    d = tempfile.mkdtemp()
    try:
        manifest = f"{d}/_manifest"
        empty = read_manifest(spark, manifest, "j")
        assert empty.count() == 0
        want = spark.createDataFrame([], MANIFEST_SCHEMA).schema
        assert [(f.name, f.dataType) for f in empty.schema] == [
            (f.name, f.dataType) for f in want
        ]

        stages = [("s0", lambda _: spark.range(40, numPartitions=3))] + [
            (f"s{k}", lambda prev, k=k: prev.filter(prev.id % (k + 1) != 0))
            for k in range(1, 5)
        ]
        counts, _ = run_staged(spark, stages, d, "j")
        assert list(counts.values()) == [40, 20, 13, 13, 10]
        parts = [f for f in os.listdir(manifest) if f.startswith("part-")]
        assert len(parts) == 5
        plans = _manifest_write_plans(spark, os.path.abspath(manifest))
        assert len(plans) == 5
        assert not [p for p in plans if "ExistingRDD" in p]

        # resume across the upgrade: stage 0 committed the old way
        d2 = tempfile.mkdtemp(dir=d)
        spark.range(40, numPartitions=3).write.parquet(f"{d2}/stage_00_s0")
        spark.createDataFrame([("j", 0, 40, 0, "ok", 1)], MANIFEST_SCHEMA).coalesce(
            1
        ).write.parquet(f"{d2}/_manifest")
        counts2, _ = run_staged(spark, stages[:2], d2, "j")
        assert counts2 == {"s0": 40, "s1": 20}
        resumed = read_manifest(spark, f"{d2}/_manifest", "j").collect()
        got = {(r["split_id"], r["row_count"]) for r in resumed}
        assert got == {(0, 40), (1, 20)}
        raw = spark.read.parquet(f"{d2}/_manifest")
        assert raw.columns == want.names
        assert {(r["split_id"], r["row_count"]) for r in raw.collect()} == got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_run_incremental_leaves_session_overwrite_mode(spark):
    """run_incremental overwrites its splits dynamically through a writer
    option: the session conf is unchanged afterwards, so a later
    partitioned overwrite in the same session still replaces old
    partitions."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    d = tempfile.mkdtemp()
    try:
        corpus = spark.createDataFrame(
            [("r", f"f{i}.py") for i in range(8)], "repo string, path string"
        )
        r = run_incremental(spark, corpus, lambda df: df, f"{d}/inc", "j", n_splits=4)
        assert r["rows"] == 8
        assert spark.conf.get(key) == before

        out = f"{d}/t"
        spark.createDataFrame([(1, "a"), (2, "b")], "v int, p string").write.mode(
            "overwrite"
        ).partitionBy("p").parquet(out)
        spark.createDataFrame([(3, "a")], "v int, p string").write.mode(
            "overwrite"
        ).partitionBy("p").parquet(out)
        assert spark.read.parquet(out).collect() == [(3, "a")]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_connected_components_chain_and_singletons(spark):
    """Long chain (needs several hash-min rounds), a triangle, and isolated
    vertices; components = min reachable id."""
    from deepkg_spark.operators.graph import connected_components

    # chain 0-1-2-...-9, triangle 20-21-22, singletons 30, 31
    chain = [(i, i + 1) for i in range(9)]
    tri = [(20, 21), (21, 22), (20, 22)]
    edges = spark.createDataFrame(chain + tri, "a long, b long")
    verts = spark.createDataFrame(
        [(v,) for v in list(range(10)) + [20, 21, 22, 30, 31]], "v long"
    )
    got = {r["v"]: r["component"] for r in connected_components(verts, edges).collect()}
    assert all(got[v] == 0 for v in range(10))
    assert all(got[v] == 20 for v in (20, 21, 22))
    assert got[30] == 30 and got[31] == 31


def test_star_contraction_equals_hashmin(spark):
    """Star contraction labels == hash-min labels on a mixed graph
    (two components + singletons)."""
    from deepkg_spark.operators.graph import connected_components

    verts = spark.createDataFrame([(v,) for v in range(12)], "v long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 5), (9, 10)], "a long, b long"
    )
    hm = {r["v"]: r["component"]
          for r in connected_components(verts, edges).collect()}
    st = {r["v"]: r["component"]
          for r in connected_components(verts, edges, algorithm="star").collect()}
    assert hm == st
    assert st[3] == 1 and st[7] == 5 and st[0] == 0 and st[10] == 9


def test_star_contraction_chain_logarithmic_rounds(spark):
    """A chain of 1000 vertices (diameter 999 — hash-min would need ~999
    rounds) converges in O(log n) star rounds with the right single
    component."""
    from deepkg_spark.operators.graph import connected_components_star

    n = 1000
    verts = spark.range(n).selectExpr("id AS v")
    edges = spark.range(n - 1).selectExpr("id AS a", "id + 1 AS b")
    comp, rounds = connected_components_star(verts, edges)
    assert rounds <= 20  # ~2*log2(1000), not ~1000
    rows = comp.collect()
    assert len(rows) == n and all(r["component"] == 0 for r in rows)


def test_pagerank_matches_duckdb_and_properties(spark, sf_dir):
    """PageRank over the KG edge table: exact oracle parity (unrolled CTE
    power iteration), ranks sum to ~1, and a hand-checkable hub ranks above
    a leaf."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from deepkg_spark.operators.graph import pagerank
    from tests.compare import compare_spark_duck, duck_connect

    df = entrymod._q_pagerank(spark, sf_dir)
    compare_spark_duck(df, duck_connect(sf_dir), entrymod.oracle_sql()["kg_pagerank"])
    total = df.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-3
    # star graph: center receives all mass -> highest rank
    verts = spark.createDataFrame([(i,) for i in range(5)], "v long")
    edges = spark.createDataFrame([(i, 0) for i in range(1, 5)], "src long, dst long")
    ranks = {r["v"]: r["rank"] for r in pagerank(verts, edges).collect()}
    assert ranks[0] == max(ranks.values())
    assert all(abs(ranks[i] - ranks[1]) < 1e-12 for i in (2, 3, 4))


def test_dsir_logratio_planted_copies_score_highest(spark, sf_dir):
    """DSIR importance: verbatim copies of target (eval) docs in the train
    split land at the TOP of the per-gram-normalized score ranking, and the
    oracle matches exactly."""
    import __spark_entry__ as entrymod
    from tests.compare import compare_spark_duck, duck_connect

    df = entrymod._q_dsir_logratio(spark, sf_dir)
    compare_spark_duck(
        df, duck_connect(sf_dir), entrymod.oracle_sql()["text_dsir_logratio"]
    )
    rows = [r for r in df.collect() if r["n_grams"] > 0]
    # normalize by gram count (doc length confounds the raw sum)
    scored = sorted(rows, key=lambda r: -r["log_ratio"] / r["n_grams"])
    planted = {r["doc_id"] for r in rows if r["doc_id"] >= 500000}
    assert planted
    top = {r["doc_id"] for r in scored[: max(len(planted) * 3, 10)]}
    # most planted copies sit inside the top tier
    assert len(planted & top) >= len(planted) * 2 // 3


import pytest as _pytest


@_pytest.mark.parametrize(
    "scale_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_iterative_graph_oracles_at_two_fixture_scales(spark, scale_dir):
    """The two iterative plans (star-contraction CC, PageRank) hold their
    exact oracles at BOTH fixture scales — guarding the convergence logic
    against fixture-specific luck (different edge densities, cluster sizes
    and dangling-mass profiles at sf0.001 vs sf0.01)."""
    import __spark_entry__ as entrymod

    for name in ("kg_pagerank", "dedup_clusters_star"):
        df = entrymod.queries()[name](spark, scale_dir)
        compare_spark_duck(
            df, duck_connect(scale_dir), entrymod.oracle_sql()[name]
        )
