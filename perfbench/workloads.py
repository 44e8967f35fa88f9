"""The workloads: set-up (inputs + expected digests), one run, and the
output check of a run.

Two workloads, both listed in BENCHMARK.json: ``kg_build`` (the graph job,
canonicalization and candidate-recall batches) and ``curate``.

Each run calls the engine's public functions the way the matching CLI job
does and writes its outputs as parquet, so ``exec`` phases are real writes.
Output checks read those files back with DuckDB and compare an
order-independent digest (column names, row count and the sum of per-row
hashes, floats rounded to 6 decimals as ``tests/compare.canon_rows`` does)
with the digest of the package's DuckDB oracle over the same inputs, or,
for ``curate``, with the first run of the same seed.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

_MOD = (1 << 61) - 1
TOPN = 5
TOPK = 10
INPUT_FILES = 8


def digest(con, sql: str) -> tuple:
    """(sorted lower-case column names, row count, sum of row hashes mod
    2^61-1) of a DuckDB query. Floating columns are rounded to 6 decimals
    (and -0.0 folded into 0.0) before hashing; everything is hashed through
    its text form, so INT and BIGINT columns of equal value agree."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, rel.types), key=lambda c: c[0].lower())
    parts = []
    for name, typ in cols:
        q = '"' + name.replace('"', '""') + '"'
        t = str(typ)
        if t in ("DOUBLE", "FLOAT") or t.startswith("DECIMAL"):
            q = f"round(CAST({q} AS DOUBLE), 6) + 0.0"
        parts.append(f"coalesce(CAST({q} AS VARCHAR), chr(0))")
    row = f"concat_ws(chr(31), {', '.join(parts)})"
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) % {_MOD} FROM ({sql})"
    ).fetchone()
    return tuple(c.lower() for c, _ in cols), int(n), int(h)


def parquet_rel(path: Path, layout: str = "flat") -> str:
    """DuckDB relation over a Spark parquet output directory: ``flat`` (one
    directory of part files), ``hive`` (partitioned by column) or
    ``batches`` (one sub-directory per query batch)."""
    if layout == "hive":
        return f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    glob = "*/*.parquet" if layout == "batches" else "*.parquet"
    return f"SELECT * FROM read_parquet('{path}/{glob}')"


def _write(tables: dict, inp: Path) -> dict[str, Path]:
    """Write each table as a directory of INPUT_FILES parquet files, the
    way a corpus arrives in splits: Spark packs a small single file into
    one scan task, which would serialize every narrow stage."""
    paths = {}
    for name, table in tables.items():
        d = inp / name
        d.mkdir(parents=True, exist_ok=True)
        step = -(-table.num_rows // INPUT_FILES)
        for i in range(INPUT_FILES):
            pq.write_table(table.slice(i * step, step), d / f"part-{i:02d}.parquet")
        paths[name] = d
    return paths


@contextmanager
def _patched(module, name: str, wrap):
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class Workload:
    name = ""

    def __init__(self, work: Path):
        self.work = work
        self.paths: dict[str, Path] = {}
        self.props: dict = {}
        self.expected: dict = {}
        self.rows = 0

    def setup(self, seed: int, con) -> None:
        tables, self.props = inputs.GENERATORS[self.name](np.random.default_rng(seed))
        self.rows = sum(t.num_rows for t in tables.values())
        self.props["input_rows"] = self.rows
        self.paths = _write(tables, self.work / "inputs")
        for name, p in self.paths.items():
            con.execute(f"CREATE OR REPLACE VIEW {name} AS {parquet_rel(p)}")
        self.expected = self.oracle(con)

    def oracle(self, con) -> dict:
        return {}

    def prepare(self, spark) -> None:
        """Frames that live across runs (none unless a workload says so)."""

    def run(self, spark, tr, out: Path) -> dict:
        raise NotImplementedError

    def check(self, con, result: dict, out: Path) -> bool:
        return all(digest(con, parquet_rel(out / k, layout)) == v
                   for (k, layout), v in self.expected.items())

    def after_run(self, spark) -> None:
        """Housekeeping between runs, outside the timed region."""

    def layer_extras(self, tr, result: dict, executions: list[dict]) -> dict:
        """Workload-specific per-layer metrics of one traced run."""
        return {}


class KgBuild(Workload):
    """The KG-construction chain: the graph job (triples, persisted ->
    node/edge tables written partitioned), mentions -> canonical entities,
    then candidate recall in query batches against one dictionary and one
    candidate set: bm25_topn, dense_topk_udf and ivf_pq_topk per batch. The
    same dictionary DataFrame is passed every time, so the first batch of
    the first run builds the BM25 index and every later call reuses it."""

    name = "kg_build"

    def oracle(self, con) -> dict:
        from deepkg_spark.operators.canonicalize import canonical_entities_duck_sql
        from deepkg_spark.operators.graph import edge_table_duck_sql, node_table_duck_sql
        from deepkg_spark.operators.mentions import mentions_duck_sql
        from deepkg_spark.operators.relations import triples_duck_sql

        # tables, not views: the node and edge oracles both read the triples
        con.execute(f"CREATE OR REPLACE TEMP TABLE triples AS {triples_duck_sql('corpus')}")
        con.execute(f"CREATE OR REPLACE TEMP TABLE mentions AS {mentions_duck_sql('corpus')}")
        return {
            ("nodes", "hive"): digest(con, node_table_duck_sql("triples")),
            ("edges", "hive"): digest(con, edge_table_duck_sql("triples")),
            ("canonical", "flat"): digest(con, canonical_entities_duck_sql("mentions")),
            **self._link_oracle(con),
        }

    def _link_oracle(self, con) -> dict:
        from deepkg_spark.operators.linking import bm25_duck_sql, dense_topk_duck_sql
        from deepkg_spark.operators.similarity import ivf_pq_topk_duck_sql

        nb = self.props["batches"]
        for kind in ("queries", "vqueries"):
            files = ", ".join(f"'{self.paths[f'{kind}_{b}']}/*.parquet'" for b in range(nb))
            con.execute(f"CREATE OR REPLACE VIEW {kind} AS SELECT * FROM read_parquet([{files}])")
        return {
            ("bm25", "batches"): digest(con, bm25_duck_sql("queries", "dictionary", topn=TOPN)),
            ("dense", "batches"): digest(con, dense_topk_duck_sql("vqueries", "candidates", k=TOPK)),
            ("ivf_pq", "batches"): digest(con, ivf_pq_topk_duck_sql(
                "vqueries", "candidates", dim=self.props["dim"], k=TOPK)),
        }

    def prepare(self, spark) -> None:
        self.dictionary = spark.read.parquet(str(self.paths["dictionary"]))
        self.candidates = spark.read.parquet(str(self.paths["candidates"]))

    def run(self, spark, tr, out: Path) -> dict:
        from deepkg_spark.operators.canonicalize import canonical_entities
        from deepkg_spark.operators.graph import edge_table, node_table, write_graph
        from deepkg_spark.operators.mentions import mentions_frame
        from deepkg_spark.operators.relations import triples_frame
        from deepkg_spark.sources.io import read_corpus_parquet

        with tr.span("sources", "build", "read_corpus_parquet"):
            corpus = read_corpus_parquet(spark, str(self.paths["corpus"]))
        with tr.span("relations", "build", "triples_frame"):
            t = triples_frame(corpus).persist()
        with tr.span("relations", "exec", "triples_frame.persist"):
            t.write.format("noop").mode("overwrite").save()
        with tr.span("graph", "build", "node_table+edge_table"):
            nodes, edges = node_table(t), edge_table(t)
        with tr.span("graph", "exec", "write_graph"):
            write_graph(nodes, edges, str(out))
        t.unpersist()
        with tr.span("mentions", "build", "mentions_frame"):
            m = mentions_frame(corpus)
        with tr.span("canonicalize", "build", "canonical_entities"):
            c = canonical_entities(m)
        with tr.span("canonicalize", "exec", "canonical_entities.write"):
            c.write.mode("overwrite").parquet(str(out / "canonical"))
        return self._link_run(spark, tr, out)

    def _link_run(self, spark, tr, out: Path) -> dict:
        from deepkg_spark.operators.linking import bm25_topn, dense_topk_udf
        from deepkg_spark.operators.similarity import ivf_pq_topk

        batch_s = []
        for b in range(self.props["batches"]):
            q = spark.read.parquet(str(self.paths[f"queries_{b}"]))
            vq = spark.read.parquet(str(self.paths[f"vqueries_{b}"]))
            t0 = time.perf_counter()
            with tr.span("linking", "build", "bm25_topn"):
                ranked = bm25_topn(q, self.dictionary, topn=TOPN)
            with tr.span("linking", "exec", "bm25_topn.write"):
                ranked.write.mode("overwrite").parquet(str(out / "bm25" / f"b{b}"))
            with tr.span("linking", "build", "dense_topk_udf"):
                dense = dense_topk_udf(vq, self.candidates, k=TOPK)
            with tr.span("linking", "exec", "dense_topk_udf.write"):
                dense.write.mode("overwrite").parquet(str(out / "dense" / f"b{b}"))
            batch_s.append(time.perf_counter() - t0)
            with tr.span("similarity", "build", "ivf_pq_topk"):
                ann = ivf_pq_topk(vq, self.candidates, k=TOPK, dim=self.props["dim"])
            with tr.span("similarity", "exec", "ivf_pq_topk.write"):
                ann.write.mode("overwrite").parquet(str(out / "ivf_pq" / f"b{b}"))
        return {"linking_batch_s": batch_s}


CURATE_STAGES = ("gate", "dedup", "decontaminate", "sample", "pack")
# workload-specific per-layer metrics (0 on workloads that do not run them)
EXTRA_METRICS = {**{f"curation.keep_ratio.{s}": "ratio" for s in CURATE_STAGES},
                 "checkpoint.bytes_written": "B"}


class Curate(Workload):
    """curate job: curate_stages run by run_staged into a fresh output
    directory per run (resume would otherwise skip every stage). Checked
    against the first run of the same seed: per-stage row counts, manifest
    checksums and the digest of the packed output."""

    name = "curate"

    def run(self, spark, tr, out: Path) -> dict:
        from pyspark.sql import functions as F

        from deepkg_spark.checkpoint import run_staged
        from deepkg_spark.operators import dedup, graph
        from deepkg_spark.operators.curation import curate_stages

        all_docs = spark.read.parquet(str(self.paths["documents"])).select("doc_id", "text")
        ev = all_docs.filter(F.col("doc_id") % inputs.CUR_EVAL_EVERY == 0)
        docs = all_docs.filter(F.col("doc_id") % inputs.CUR_EVAL_EVERY != 0).persist()
        n0 = docs.count()
        if tr.enabled:
            with _patched(dedup, "minhash_lsh_pairs", lambda f: self._traced_minhash(tr, f)), \
                    _patched(graph, "connected_components", lambda f: self._traced_cc(tr, f)):
                stages = [(name, self._traced_stage(tr, name, fn))
                          for name, fn in curate_stages(docs, ev)]
                with tr.span("checkpoint", "exec", "run_staged"):
                    counts, packed = run_staged(spark, stages, str(out), job_id="curate")
        else:
            counts, packed = run_staged(spark, curate_stages(docs, ev), str(out), job_id="curate")
        n_bins = packed.select("shard", "bin").distinct().count()
        return {"input": n0, "counts": counts, "bins": n_bins}

    @staticmethod
    def _traced_stage(tr, name, fn):
        def stage(prev):
            with tr.span("curation", "build", f"stage.{name}"):
                df = fn(prev)
            # run_staged writes the stage and its manifest row next: tag
            # those jobs as this stage's
            tr.set_group("curation", "write")
            return df
        return stage

    @staticmethod
    def _traced_minhash(tr, f):
        # materialize the LSH pairs at the layer boundary so that the dedup
        # layer's work runs under its own job group instead of inside the
        # first connected-components round
        def minhash_lsh_pairs(*a, **k):
            with tr.span("dedup", "build", "minhash_lsh_pairs"):
                pairs = f(*a, **k)
            with tr.span("dedup", "exec", "minhash_lsh_pairs.localCheckpoint"):
                return pairs.localCheckpoint()
        return minhash_lsh_pairs

    @staticmethod
    def _traced_cc(tr, f):
        def connected_components(*a, **k):
            with tr.span("graph", "build", "connected_components"):
                return f(*a, **k)
        return connected_components

    def _fingerprint(self, con, result: dict, out: Path) -> tuple:
        manifest = con.sql(
            f"SELECT split_id, row_count, checksum FROM read_parquet('{out}/_manifest/*.parquet') "
            "ORDER BY split_id"
        ).fetchall()
        packed = digest(con, parquet_rel(out / f"stage_04_{CURATE_STAGES[-1]}"))
        return result["input"], tuple(sorted(result["counts"].items())), tuple(manifest), \
            packed, result["bins"]

    def check(self, con, result: dict, out: Path) -> bool:
        fp = self._fingerprint(con, result, out)
        counts = [result["counts"][s] for s in CURATE_STAGES]
        sane = (0 < counts[0] <= result["input"]
                and all(0 < b <= a for a, b in zip(counts[:-2], counts[1:-1]))
                and counts[-1] == counts[-2]
                and len(fp[2]) == len(CURATE_STAGES))
        if "first_run" not in self.expected:
            self.expected["first_run"] = fp
            return sane
        return sane and fp == self.expected["first_run"]

    def after_run(self, spark) -> None:
        # every run reads its stages back from a fresh directory, so the
        # frames the dedup operators persist are never reused: drop them to
        # keep runs independent and memory flat
        spark.catalog.clearCache()

    def layer_extras(self, tr, result: dict, executions: list[dict]) -> dict:
        """Stage writes as exec spans (taken from the SQL status store: the
        first 'write' execution after each stage's build), per-stage keep
        ratios and the checkpoint's bytes on disk."""
        run = [s for s in tr.spans if s["run"] == tr.run_id]
        cp = next(s for s in run if s["layer"] == "checkpoint")
        writes = sorted((e for e in executions if e["description"] == "write" and e["end"]),
                        key=lambda e: e["id"])
        for s in (s for s in run if s["layer"] == "curation" and s["phase"] == "build"):
            w = next((e for e in writes if e["start"] >= s["end"] - 1e-3), None)
            if w is not None:
                writes.remove(w)
                tr.add_span(f"{s['name']}.write", "curation", "exec", w["start"], w["end"], cp["id"])
        extras = {}
        prev = result["input"]
        for stage in CURATE_STAGES:
            n = result["counts"][stage]
            extras[f"curation.keep_ratio.{stage}"] = n / prev if prev else 0.0
            prev = n
        return extras


WORKLOADS = {w.name: w for w in (KgBuild, Curate)}


def remove(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
