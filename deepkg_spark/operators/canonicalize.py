"""Canonicalization / dedup: normalized surface forms -> canonical entity ids.

Reference semantics: surface normalization chains (full->half width, lower,
NFD Mn-strip: ExtractionEntities/utils/tools.py:47-75, AutoPhraseX tokenizer
Q2B autophrasex/utils.py:33-42) followed by grouping equal normalized forms.

Scale design (the part the reference never faces — it holds dicts in RAM):
- Canonical ids are CONTENT-DERIVED (md5 of the normalized surface), never
  monotonically_increasing_id / zipWithIndex: ids are identical across runs,
  partitionings, and cluster sizes — the determinism requirement.
- ``salted_group_stats`` implements the explicit two-phase salted groupBy the
  north star names. Spark's hash aggregate already does partial (map-side)
  combine for algebraic aggregates, which covers most skew; the explicit salt
  phase matters when (a) a single hot key dominates even the FINAL agg's one
  reducer with non-algebraic state (collect_*/exact distinct), or (b) a
  downstream JOIN keys on the hot surface. We therefore salt with
  pmod(h32(surface), n_salts) — deterministic, engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NORM = "lower(trim(surface))"


def canonical_entities(mentions: DataFrame, n_salts: int = 16) -> DataFrame:
    """mentions(surface, mention_type, ...) ->
    (canonical_id, norm_surface, mention_type, n_mentions, n_variants).

    Two-phase salted aggregation:
      phase 1: groupBy(norm, type, salt)  -- spreads a hot surface over
               n_salts reducers; count + min(variant-hash) are algebraic.
      phase 2: groupBy(norm, type)        -- at most n_salts rows per key.
    Distinct-variant counting runs on the (norm, surface) dedup'd frame whose
    key is strictly wider (hence strictly less skewed) than norm alone.
    """
    # the salt must vary WITHIN a key (a salt that is a function of the key
    # would re-concentrate the hot key into one group). It is physical-only:
    # phase 2 folds the salts back together, so row-position-derived salts
    # never influence results — monotonically_increasing_id is banned for
    # OUTPUT ids, not for partial-aggregation spreading.
    base = mentions.select(
        F.expr(NORM).alias("norm_surface"),
        F.col("mention_type"),
        F.col("surface"),
        (F.monotonically_increasing_id() % n_salts).alias("_salt"),
    )
    phase1 = base.groupBy("norm_surface", "mention_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.md5("surface")).alias("_min_md5"),
    )
    phase2 = phase1.groupBy("norm_surface", "mention_type").agg(
        F.sum("_n").cast("bigint").alias("n_mentions"),
        F.min("_min_md5").alias("_vmin"),
    )
    variants = (
        base.select("norm_surface", "mention_type", "surface")
        .distinct()
        .groupBy("norm_surface", "mention_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_variants"))
    )
    return (
        phase2.join(variants, ["norm_surface", "mention_type"])
        .select(
            F.md5(F.concat_ws("|", "norm_surface", "mention_type")).alias(
                "canonical_id"
            ),
            "norm_surface",
            "mention_type",
            "n_mentions",
            "n_variants",
            F.col("_vmin").alias("rep_surface_md5"),
        )
    )


def canonical_entities_duck_sql(mentions_rel: str) -> str:
    """DuckDB oracle: plain GROUP BY — salting is physical-only, results equal."""
    return f"""
SELECT md5(concat(norm_surface, '|', mention_type)) AS canonical_id,
       norm_surface, mention_type,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT surface) AS BIGINT) AS n_variants,
       min(md5(surface)) AS rep_surface_md5
FROM (SELECT lower(trim(surface)) AS norm_surface, mention_type, surface
      FROM {mentions_rel})
GROUP BY norm_surface, mention_type
""".strip()


def normalize_surfaces(df: DataFrame, col: str = "surface") -> DataFrame:
    """Adds `norm_full`: full-fidelity normalization (Q2B full->half width +
    NFD + combining-mark strip + lower; reference chains
    ExtractionEntities/utils/tools.py:47-75 and autophrasex/utils.py:33-42)
    as an Arrow-batched stage — neither engine exposes NFD in SQL, so this
    path is covered by python-reference tests instead of a DuckDB oracle."""
    from collections.abc import Iterator

    import pandas as pd

    from deepkg_spark.functions.text import normalize_series

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", norm_full string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["norm_full"] = normalize_series(pdf[col])
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def salted_repartition(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Hot-key spreading for joins: adds a row-varying salt column and
    repartitions on (key, salt); the other (small) join side is exploded over
    the full salt range [0, n_salts). Use when AQE skew-join cannot see the
    skew (e.g. after a UDF stage with no stats). The salt is physical-only —
    join results are unchanged because every salt value carries the full
    small-side row set."""
    return df.withColumn(
        "_salt", F.monotonically_increasing_id() % n_salts
    ).repartition(F.col(key), F.col("_salt"))
