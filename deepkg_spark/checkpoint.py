"""Per-split checkpoint manifest + exact resume (required by north_rule).

The reference's nearest analogue is pickle-resume of fitted stats
(Normalization/recall/model/BM25_Model.py:88-130) and best-checkpoint logic
(ExtractionEntities/main.py:145-163); neither survives partial failure over a
partitioned corpus. This module provides the cluster-scale version:

- The corpus is bucketed into ``n_splits`` deterministic splits by
  pmod(h32(repo/path), n_splits) — stable across runs AND cluster sizes.
- One Spark job processes ALL pending splits at once (pending = anti-join of
  splits against the manifest), so resume granularity is the split but the
  scheduler still sees a single wide job — no driver-side per-split loop.
- Output is written with dynamic partition overwrite on the split column, so
  re-processing a split after a crash is idempotent (the half-written split
  directory is atomically replaced).
- The manifest row carries lineage + counters:
    (job_id, split_id, row_count, checksum, status, attempt)
  where checksum is an order-independent content digest
  (sum of md5-derived row hashes mod 2^61). It is recorded as lineage:
  neither entry point re-verifies it on resume; tests compare resumed and
  one-shot manifests by it.
- Commit order: data first, manifest second. A crash between the two replays
  the split (idempotent); a manifest row therefore PROVES its split's data is
  complete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepkg_spark.functions.hashing import spark_h32

SPLIT_COL = "split_id"
_CHECK_MOD = (1 << 61) - 1
MANIFEST_SCHEMA = (
    "job_id string, split_id int, row_count long, checksum long, "
    "status string, attempt int"
)


def split_expr(n_splits: int, key_expr: str = "concat_ws('/', repo, path)") -> str:
    return f"pmod({spark_h32(key_expr)}, {n_splits})"


def _row_digest(cols: list[str]) -> str:
    # NULL-safe: concat_ws silently drops NULL args, so (a, NULL, b) and
    # (a, b, NULL) would otherwise collide. Tag every cell — NULL -> chr(0),
    # value -> 'v' || value (a value can never equal the bare NULL sentinel).
    parts = ", ".join(
        f"IF({c} IS NULL, chr(0), concat('v', CAST({c} AS STRING)))" for c in cols
    )
    return spark_h32(f"md5(concat_ws(chr(31), {parts}))")


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for `path`'s scheme — works on local/HDFS/S3A/ABFS,
    unlike os.path which silently reports False for every remote URI."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _manifest_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Manifest `rows` (possibly none) as a one-partition JVM frame of typed
    literals (Range -> Generate inline). A Python list would go through
    sc.parallelize and start a Python worker to unpickle rows the driver
    already holds; this frame never leaves the JVM, and an append of it
    writes exactly one part file."""
    structs = [F.struct(*map(F.lit, row)) for row in rows]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs).cast(f"array<struct<{MANIFEST_SCHEMA}>>"))
    )


def read_manifest(spark: SparkSession, manifest_path: str, job_id: str) -> DataFrame:
    if path_exists(spark, manifest_path):
        df = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
        return df.filter((F.col("job_id") == job_id) & (F.col("status") == "ok"))
    return _manifest_frame(spark, [])


def run_incremental(
    spark: SparkSession,
    corpus: DataFrame,
    pipeline_fn,
    out_dir: str,
    job_id: str,
    n_splits: int = 32,
    only_splits: set[int] | None = None,
) -> dict:
    """Process pending splits of `corpus` through `pipeline_fn`, commit data +
    manifest. `pipeline_fn(df) -> DataFrame` must keep repo+path columns
    (split is re-derived from them, so the pipeline never needs to thread
    bookkeeping columns). `only_splits` restricts processing — the test hook
    simulating a run killed partway (those splits commit; the rest stay
    pending for the next invocation).

    Returns counters: {pending, processed, rows}.
    """
    manifest_path = f"{out_dir}/_manifest"
    data_path = f"{out_dir}/data"
    done = read_manifest(spark, manifest_path, job_id).select(SPLIT_COL).distinct()

    src = corpus.withColumn(SPLIT_COL, F.expr(split_expr(n_splits)).cast("int"))
    pending_df = src.join(done, SPLIT_COL, "left_anti")
    if only_splits is not None:
        pending_df = pending_df.filter(F.col(SPLIT_COL).isin(list(only_splits)))

    pend_splits = [r[0] for r in pending_df.select(SPLIT_COL).distinct().collect()]
    if not pend_splits:
        return {"pending": 0, "processed": 0, "rows": 0}

    # Pre-delete pending split directories: a pending split has no manifest
    # row, so any data under it is an unproven remnant of a prior crash.
    # Dynamic overwrite only replaces partitions PRESENT in this run's output
    # — a split whose new output is empty would otherwise keep its stale
    # half-written files and have them counted into the manifest stats.
    fs, _ = _hadoop_fs(spark, data_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    for s in pend_splits:
        part = jpath(f"{data_path}/{SPLIT_COL}={s}")
        if fs.exists(part):
            fs.delete(part, True)

    result = pipeline_fn(pending_df.drop(SPLIT_COL)).withColumn(
        SPLIT_COL, F.expr(split_expr(n_splits)).cast("int")
    )
    # writer option, not session conf: the caller's later partitioned
    # overwrites keep their own mode
    result.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        SPLIT_COL
    ).parquet(data_path)

    out_cols = [c for c in result.columns if c != SPLIT_COL]
    stats = {
        r[SPLIT_COL]: (r["row_count"], r["checksum"])
        for r in spark.read.parquet(data_path)
        .filter(F.col(SPLIT_COL).isin(pend_splits))
        .groupBy(SPLIT_COL)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            (F.sum(F.expr(_row_digest(out_cols))) % _CHECK_MOD).alias("checksum"),
        )
        .collect()
    }
    # Commit EVERY pending split — a split whose pipeline output is empty
    # writes no data partition, but it must still get a manifest row
    # (row_count 0) or it would re-pend (and be re-processed) forever.
    manifest_rows = []
    for s in sorted(pend_splits):
        row_count, checksum = stats.get(s, (0, 0))
        manifest_rows.append((job_id, int(s), int(row_count), int(checksum), "ok", 1))
    _manifest_frame(spark, manifest_rows).write.mode("append").parquet(manifest_path)
    rows = sum(r[2] for r in manifest_rows)
    return {"pending": len(pend_splits), "processed": len(pend_splits), "rows": rows}


def run_staged(
    spark: SparkSession,
    stages: list,
    out_dir: str,
    job_id: str,
) -> tuple[dict, DataFrame | None]:
    """Stage-boundary checkpointing for chains whose stages are NOT
    per-partition independent (near-dup clustering, decontamination,
    packing — the composed curate job). Split-level resume
    (run_incremental) would be wrong there: a doc's survival depends on
    OTHER docs, so the unit of idempotent replay is the whole stage.

    `stages` is an ordered list of (name, fn) with fn(prev: DataFrame|None)
    -> DataFrame; each stage's output is parquet-materialized at
    out_dir/stage_<i>_<name>, then manifested (data first, manifest second
    — same commit protocol as run_incremental, manifest split_id column
    reused as the stage index). Resume skips the longest CONTIGUOUS
    manifested prefix and reloads its last output; anything after the first
    missing stage re-runs (mode=overwrite makes a half-written crash
    remnant harmless). Stages must be deterministic for the lineage
    checksums to be meaningful — every stage here is (hash-gated filters,
    hash sampling, min-id survivors).

    Per-stage commit cost: one stage write, one read-back job for the row
    count + checksum, and one JVM-only manifest append (no Python worker).

    Returns ({stage_name: row_count}, final stage DataFrame).
    """
    manifest_path = f"{out_dir}/_manifest"
    done = {
        r[SPLIT_COL]: r["row_count"]
        for r in read_manifest(spark, manifest_path, job_id).collect()
    }
    prefix = 0
    while prefix in done:
        prefix += 1
    counts: dict = {}
    prev: DataFrame | None = None
    for i, (name, fn) in enumerate(stages):
        path = f"{out_dir}/stage_{i:02d}_{name}"
        if i < prefix:
            prev = spark.read.parquet(path)
            counts[name] = int(done[i])
            continue
        fn(prev).write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)
        agg = out.agg(
            F.count(F.lit(1)).alias("c"),
            (F.sum(F.expr(_row_digest(out.columns))) % _CHECK_MOD).alias("k"),
        ).collect()[0]
        _manifest_frame(
            spark, [(job_id, i, int(agg["c"]), int(agg["k"] or 0), "ok", 1)]
        ).write.mode("append").parquet(manifest_path)
        prev = out
        counts[name] = int(agg["c"])
    return counts, prev
