"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints exactly ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "loadavg": {"start": l, "end": l},
   "query_loadavg": {name: [before, after]}}

The loadavg fields make a storm-poisoned run machine-detectable in the
recorded BENCH_r{N}.json itself (this host's neighbors pulse loadavg
0.1 <-> 30+; see BENCH.md): "loadavg" brackets the whole run, and
"query_loadavg" carries the 1-min loadavg immediately before/after the
BEST (reported) sample of each query — a reported number whose bracket
shows loadavg >> cpu count was starved and should not be read as a
regression.

Each query is forced end-to-end with the noop sink (full materialization —
count() alone can prune expensive expressions). Run `python bench_scaling.py`
for the N-vs-4N throughput scaling report (BENCH.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from deepkg_spark.operators.curation import profile_quantiles  # noqa: E402
from deepkg_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    simhash_pairs,
    substring_spans,
)
from deepkg_spark.operators.events import asof_join  # noqa: E402
from deepkg_spark.operators.graph import edge_table, node_table  # noqa: E402
from deepkg_spark.operators.linking import bm25_topn, dense_topk_udf  # noqa: E402
from deepkg_spark.operators.phrases import pmi  # noqa: E402
from deepkg_spark.operators.relations import triples_frame  # noqa: E402
from deepkg_spark.operators.sel import sel_roundtrip_triples  # noqa: E402
from deepkg_spark.operators.similarity import ivf_pq_topk, pq_codes  # noqa: E402
from deepkg_spark.operators.textstats import (  # noqa: E402
    fingerprints,
    quality_score,
    top_terms,
)
from deepkg_spark.session import get_spark  # noqa: E402
from deepkg_spark.sources.corpus import load_corpus  # noqa: E402


PROFILE_NUM = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
               "l_quantity", "l_extendedprice", "l_discount", "l_tax")

QUIET_LOAD = 2.0  # 1-min loadavg below this at start = un-poisoned run


Sink = Callable[[DataFrame], None]


def force(df: DataFrame) -> None:
    """Materialize ``df`` end-to-end through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def _wait_for_quiet(max_wait_sec: float) -> float:
    """Best-effort quiet-window gate: poll until 1-min loadavg < QUIET_LOAD
    or the budget runs out (the shared host's neighbor storms pulse on a
    minutes scale — see BENCH.md steal tables). Returns seconds waited; the
    run proceeds either way and records quiet_start so a poisoned official
    number is machine-detectable."""
    t0 = time.monotonic()
    while os.getloadavg()[0] >= QUIET_LOAD:
        if time.monotonic() - t0 >= max_wait_sec:
            break
        time.sleep(5.0)
    return round(time.monotonic() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="deepkg-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    queries = headline(spark, sf_dir, cpus)

    # best-of-N: the sandbox host is shared and its delivered CPU varies
    # minute-to-minute (see BENCH.md); min over repeats reports the engine,
    # not the neighbors. Repeats are INTERLEAVED (full pass over all queries
    # per cycle) so one multi-minute noise burst cannot poison every sample
    # of a single query — its samples land minutes apart.
    repeats = int(os.environ.get("DEEPKG_BENCH_REPEATS", "3"))
    waited = _wait_for_quiet(float(os.environ.get("DEEPKG_BENCH_QUIET_WAIT", "120")))
    run_load0 = round(os.getloadavg()[0], 2)
    timings: dict[str, float] = {}
    query_loadavg: dict[str, list[float]] = {}
    for _ in range(repeats):
        for name, fn in queries.items():
            l0 = round(os.getloadavg()[0], 2)
            t0 = time.monotonic()
            fn(force)
            dt = time.monotonic() - t0
            l1 = round(os.getloadavg()[0], 2)
            if name not in timings or dt < timings[name]:
                timings[name] = round(dt, 3)
                query_loadavg[name] = [l0, l1]

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "deepkg_headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "loadavg": {
                    "start": run_load0,
                    "end": round(os.getloadavg()[0], 2),
                },
                "quiet_start": run_load0 < QUIET_LOAD,
                "quiet_waited_sec": waited,
                "query_loadavg": query_loadavg,
            }
        )
    )
    spark.stop()


def headline(
    spark: SparkSession, sf_dir: str, cpus: int
) -> dict[str, Callable[[Sink], None]]:
    """The headline query table: name -> run(sink). Each run builds its
    output frame(s) over inputs read from ``sf_dir`` and hands every frame
    to ``sink``; ``force`` materializes them, bench_extra.py can capture the
    plans instead."""
    # testdata ships one parquet file per table -> Spark would scan with a
    # single partition and serialize every narrow stage. A real 100 TB corpus
    # arrives in thousands of splits; emulate that split-parallel input here.
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(cpus)
        .persist()
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(cpus)
    events = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(cpus)
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("term_id"), F.col("p_name").alias("name")
    )
    corpus = load_corpus(spark, sf_dir).repartition(cpus).persist()

    q_docs = docs.select(F.col("doc_id").alias("qid"), F.col("text").alias("qtext"))
    ann_q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ann_c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))

    def _kg_pipeline(sink: Sink) -> None:
        # persist the extraction once: edge AND node tables consume the same
        # triple stream, and without the cache each sink re-runs the full
        # scan+regex extraction (the single most expensive stage) — the same
        # persist a production job uses (cli.py graph job)
        t = triples_frame(corpus).persist()
        try:
            sink(edge_table(t))
            sink(node_table(t))
        finally:
            t.unpersist()

    return {
        "kg_pipeline": _kg_pipeline,
        "kg_sel_udf_pipeline": lambda sink: sink(sel_roundtrip_triples(corpus)),
        "link_bm25": lambda sink: sink(bm25_topn(q_docs, part, topn=5)),
        "ann_dense_topk": lambda sink: sink(dense_topk_udf(ann_q, ann_c, k=10)),
        "dedup_minhash_lsh": lambda sink: sink(minhash_lsh_pairs(docs, tau=0.5)),
        "dedup_simhash_pairs": lambda sink: sink(simhash_pairs(docs, max_hamming=3)),
        "dedup_substring": lambda sink: sink(substring_spans(docs)),
        "ph_pmi": lambda sink: sink(pmi(docs, 3)),
        "text_fingerprints": lambda sink: sink(fingerprints(docs)),
        "text_quality": lambda sink: sink(quality_score(docs)),
        "ann_ivf_pq": lambda sink: sink(ivf_pq_topk(ann_q, ann_c, k=5, dim=64)),
        "ann_pq_codes": lambda sink: sink(pq_codes(emb, dim=64)),
        "ev_asof_join": lambda sink: sink(asof_join(events)),
        "profile_quantiles": lambda sink: sink(
            profile_quantiles(lineitem, num_cols=PROFILE_NUM)
        ),
        "text_top_terms": lambda sink: sink(top_terms(docs, k=20)),
    }

if __name__ == "__main__":
    main()
