"""Source-code corpus source (the engine's primary input).

Shape per BASELINE.json input_hint:
    corpus(repo string, path string, commit string, lang string, content string)

Two constructors:

1. ``corpus_sql()`` — deterministic derivation from the driver-provided
   ``documents`` table. The SQL is engine-portable: the exact same string runs
   under Spark SQL and DuckDB, which makes every downstream operator
   oracle-checkable without duplicated logic. Content is a small synthetic
   python-ish file with a controlled grammar (imports / def / call / class)
   so extraction semantics are exactly derivable.

2. ``scaled_corpus(spark, n_rows)`` — standalone generator from ``spark.range``
   for benchmark scaling runs (no documents input needed; same grammar).

The ``content`` column is NEVER mutated downstream (sha256 invariant,
BASELINE.json: "per-row invariant vs the reference: content sha256 equality").
All normalization happens in derived columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Engine-portable (Spark SQL == DuckDB SQL). chr/md5/concat/substr/CAST agree.
# Grammar per row (doc_id d, a = d % 97, b = (7d+3) % 97, s = first 48 chars of text):
#   import mod<a>
#   import mod<b>
#   def fn<d>(x):
#       return mod<a>.call(x) + "<s>"
#   class Cls<d>(Base<b>):
#       pass
_CONTENT_EXPR = """
concat(
  'import mod', CAST(doc_id % 97 AS STRING), chr(10),
  'import mod', CAST((doc_id * 7 + 3) % 97 AS STRING), chr(10),
  'def fn', CAST(doc_id AS STRING), '(x):', chr(10),
  '    return mod', CAST(doc_id % 97 AS STRING), '.call(x) + "', substr(text, 1, 48), '"', chr(10),
  'class Cls', CAST(doc_id AS STRING), '(Base', CAST((doc_id * 7 + 3) % 97 AS STRING), '):', chr(10),
  '    pass', chr(10)
)
""".strip()


def corpus_sql(documents_rel: str = "documents") -> str:
    """Portable SELECT producing the corpus table from `documents`."""
    return f"""
SELECT
  concat('org/repo', CAST(doc_id % 20 AS STRING))      AS repo,
  concat('src/file_', CAST(doc_id AS STRING), '.py')   AS path,
  md5(CAST(doc_id AS STRING))                          AS commit,
  lang                                                 AS lang,
  {_CONTENT_EXPR}                                      AS content
FROM {documents_rel}
""".strip()


def load_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read documents parquet and derive the corpus DataFrame."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(corpus_sql())


def scaled_corpus(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Deterministic corpus of arbitrary size for bench/scaling runs.

    Uses spark.range (narrow, no shuffle); the synthetic snippet replaces the
    documents.text dependency with md5-derived words so the row is a pure
    function of its id at any scale.
    """
    rng = spark.range(n_rows, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    rng.createOrReplaceTempView("_ids")
    return spark.sql(
        f"""
SELECT
  concat('org/repo', CAST(doc_id % 20 AS STRING))      AS repo,
  concat('src/file_', CAST(doc_id AS STRING), '.py')   AS path,
  md5(CAST(doc_id AS STRING))                          AS commit,
  element_at(array('en','fr','es','de','zh'), CAST(doc_id % 5 AS INT) + 1) AS lang,
  {_CONTENT_EXPR}                                      AS content
FROM (SELECT id AS doc_id, substr(md5(CAST(id AS STRING)), 1, 16) AS text FROM _ids)
""".strip()
    )


def scaled_documents(
    spark: SparkSession, n_rows: int, partitions: int | None = None
) -> DataFrame:
    """Deterministic (doc_id, text) table of arbitrary size for the curate
    scaling workload.

    Pure function of doc_id (spark.range, narrow, no shuffle):
    - 20 + seed % 30 md5-derived words per doc, so quality / repetition /
      n-gram stages do real token work;
    - docs with doc_id % 11 < 3 share a word seed with up to two neighbors
      and differ only in a trailing per-doc word -> planted NEAR-duplicate
      groups (~27% of rows) that exercise the LSH band join and the
      connected-components collapse with realistic cluster sizes;
    - a per-doc trailing word keeps shared-seed docs near-dups (Jaccard
      ~0.95 > tau) instead of exact dups.
    """
    rng = spark.range(
        n_rows, numPartitions=partitions or spark.sparkContext.defaultParallelism
    )
    rng.createOrReplaceTempView("_doc_ids")
    return spark.sql(
        """
SELECT doc_id,
       concat(
         array_join(
           transform(sequence(0, 19 + CAST(seed % 30 AS INT)),
                     i -> substr(md5(concat(CAST(seed AS STRING), '/', CAST(i AS STRING))), 1, 8)),
           ' '),
         ' tail', CAST(doc_id AS STRING)) AS text
FROM (
  SELECT id AS doc_id,
         id - (CASE WHEN id % 11 < 3 THEN id % 11 ELSE 0 END) AS seed
  FROM _doc_ids
)
""".strip()
    )
