"""Kill-and-resume: a separate process is SIGKILLed with the manifest in a
partial state; a fresh process resumes and the final output equals an
uninterrupted run (north_rule: resumable from checkpoint with per-partition
lineage)."""

import shutil
import signal
import subprocess
import sys
import pathlib
import tempfile
import time

REPO_ROOT = str(pathlib.Path(__file__).resolve().parents[1])

CHILD = r"""
import sys, time
sys.path.insert(0, sys.argv[3])
from deepkg_spark.checkpoint import run_incremental
from deepkg_spark.operators.relations import triples_frame
from deepkg_spark.session import get_spark
from deepkg_spark.sources.corpus import load_corpus

sf_dir, out_dir = sys.argv[1], sys.argv[2]
spark = get_spark(master="local[2]", shuffle_partitions=2, app_name="kill-child")
corpus = load_corpus(spark, sf_dir)
# commit 3 of 8 splits, then hang: the parent SIGKILLs us mid-"job"
run_incremental(spark, corpus, triples_frame, out_dir, "kj", n_splits=8,
                only_splits={0, 1, 2})
print("PARTIAL_COMMITTED", flush=True)
time.sleep(120)
"""


def test_sigkill_then_resume(spark, sf_dir):
    out_dir = tempfile.mkdtemp()
    ref_dir = tempfile.mkdtemp()
    try:
        proc = subprocess.Popen(
            [sys.executable, "-c", CHILD, sf_dir, out_dir, REPO_ROOT],
            stdout=subprocess.PIPE, text=True,
        )
        # wait for the partial commit, then SIGKILL (no cleanup, no atexit)
        line = ""
        t0 = time.time()
        while time.time() - t0 < 180:
            line = proc.stdout.readline()
            if "PARTIAL_COMMITTED" in line:
                break
        assert "PARTIAL_COMMITTED" in line
        proc.send_signal(signal.SIGKILL)
        proc.wait()

        # resume in THIS process; then compare against an uninterrupted run
        from deepkg_spark.checkpoint import run_incremental
        from deepkg_spark.operators.relations import triples_frame
        from deepkg_spark.sources.corpus import load_corpus

        corpus = load_corpus(spark, sf_dir)
        r = run_incremental(spark, corpus, triples_frame, out_dir, "kj", n_splits=8)
        assert 0 < r["processed"] <= 5
        run_incremental(spark, corpus, triples_frame, ref_dir, "kj", n_splits=8)

        resumed = {
            tuple(x)
            for x in spark.read.parquet(f"{out_dir}/data").drop("split_id").collect()
        }
        oneshot = {
            tuple(x)
            for x in spark.read.parquet(f"{ref_dir}/data").drop("split_id").collect()
        }
        assert resumed == oneshot and len(resumed) > 0

        # manifests agree on lineage counters
        m1 = {
            (x["split_id"], x["row_count"], x["checksum"])
            for x in spark.read.parquet(f"{out_dir}/_manifest").collect()
        }
        m2 = {
            (x["split_id"], x["row_count"], x["checksum"])
            for x in spark.read.parquet(f"{ref_dir}/_manifest").collect()
        }
        assert m1 == m2
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ref_dir, ignore_errors=True)


def test_empty_split_commits_and_stale_data_removed(spark, sf_dir):
    """A pending split whose pipeline output is empty must still get a
    manifest row (row_count 0) — otherwise it re-pends forever — and any
    stale half-written data for it must be deleted, not silently kept."""
    import pyspark.sql.functions as F

    from deepkg_spark.checkpoint import run_incremental
    from deepkg_spark.sources.corpus import load_corpus

    out_dir = tempfile.mkdtemp()
    try:
        corpus = load_corpus(spark, sf_dir)

        # plant stale half-written data for split 3 (simulated prior crash)
        stale = corpus.limit(5).select("repo", "path", "content")
        stale.write.parquet(f"{out_dir}/data/split_id=3")

        def empties_split_3(df):
            keep = df.withColumn(
                "_s", F.expr("pmod(conv(substring(md5(concat_ws('/', repo, path)), 1, 8), 16, 10), 8)")
            )
            return keep.filter(F.col("_s") != 3).drop("_s").select("repo", "path", "content")

        r1 = run_incremental(spark, corpus, empties_split_3, out_dir, "ej", n_splits=8)
        assert r1["processed"] == 8

        man = spark.read.parquet(f"{out_dir}/_manifest")
        by_split = {x["split_id"]: x["row_count"] for x in man.collect()}
        assert by_split.get(3) == 0, by_split
        assert len(by_split) == 8

        # stale data gone; split 3 contributes no rows
        data = spark.read.parquet(f"{out_dir}/data")
        assert data.filter(F.col("split_id") == 3).count() == 0

        # second invocation: nothing pending (the empty split committed)
        r2 = run_incremental(spark, corpus, empties_split_3, out_dir, "ej", n_splits=8)
        assert r2 == {"pending": 0, "processed": 0, "rows": 0}
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_row_digest_null_position_sensitivity(spark):
    """(a, NULL, b) and (a, b, NULL) must produce different digests."""
    from deepkg_spark.checkpoint import _row_digest

    df = spark.createDataFrame(
        [("a", None, "b"), ("a", "b", None)], "c1 string, c2 string, c3 string"
    )
    digs = [r[0] for r in df.selectExpr(_row_digest(["c1", "c2", "c3"])).collect()]
    assert digs[0] != digs[1]


CURATE_CHILD = r"""
import sys, time
sys.path.insert(0, sys.argv[3])
from pyspark.sql import functions as F
from deepkg_spark.checkpoint import run_staged
from deepkg_spark.operators.curation import curate_stages
from deepkg_spark.session import get_spark

sf_dir, out_dir = sys.argv[1], sys.argv[2]
spark = get_spark(master="local[2]", shuffle_partitions=2, app_name="curate-kill")
all_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
ev = all_docs.filter(F.col("doc_id") % 20 == 0)
docs = all_docs.filter(F.col("doc_id") % 20 != 0)
# commit only the first two stages (gate, dedup), then hang: the parent
# SIGKILLs us mid-"chain" — stages 3-5 never get manifest rows
stages = curate_stages(docs, ev, qmin=0.0, rmax=1.0)
run_staged(spark, stages[:2], out_dir, "curate")
print("PARTIAL_COMMITTED", flush=True)
time.sleep(120)
"""


def test_curate_chain_sigkill_then_resume(spark, sf_dir):
    """The composed curate chain (stage-boundary checkpoints): SIGKILL after
    two committed stages; a fresh process resumes, runs only the remaining
    stages, and the packed output is identical to an uninterrupted run."""
    import pyspark.sql.functions as F

    from deepkg_spark.checkpoint import run_staged
    from deepkg_spark.operators.curation import curate_stages

    out_dir = tempfile.mkdtemp()
    ref_dir = tempfile.mkdtemp()
    try:
        proc = subprocess.Popen(
            [sys.executable, "-c", CURATE_CHILD, sf_dir, out_dir, REPO_ROOT],
            stdout=subprocess.PIPE, text=True,
        )
        line = ""
        t0 = time.time()
        while time.time() - t0 < 180:
            line = proc.stdout.readline()
            if "PARTIAL_COMMITTED" in line:
                break
        assert "PARTIAL_COMMITTED" in line
        proc.send_signal(signal.SIGKILL)
        proc.wait()

        all_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        ev = all_docs.filter(F.col("doc_id") % 20 == 0)
        docs = all_docs.filter(F.col("doc_id") % 20 != 0)

        counts, packed = run_staged(
            spark, curate_stages(docs, ev, qmin=0.0, rmax=1.0), out_dir, "curate"
        )
        ref_counts, ref_packed = run_staged(
            spark, curate_stages(docs, ev, qmin=0.0, rmax=1.0), ref_dir, "curate"
        )
        assert counts == ref_counts
        resumed = {tuple(x) for x in packed.collect()}
        oneshot = {tuple(x) for x in ref_packed.collect()}
        assert resumed == oneshot and len(resumed) > 0

        # the resumed manifest holds exactly one row per stage, and the two
        # runs agree on every stage's lineage counters
        m1 = {
            (x["split_id"], x["row_count"], x["checksum"])
            for x in spark.read.parquet(f"{out_dir}/_manifest").collect()
        }
        m2 = {
            (x["split_id"], x["row_count"], x["checksum"])
            for x in spark.read.parquet(f"{ref_dir}/_manifest").collect()
        }
        assert m1 == m2 and len(m1) == 5
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ref_dir, ignore_errors=True)
