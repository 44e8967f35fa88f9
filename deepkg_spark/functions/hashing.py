"""Engine-portable deterministic hashing.

Spark's builtin ``hash``/``xxhash64`` have no DuckDB counterpart, so every
operator that must be oracle-checkable (driver compares Spark output against
DuckDB SQL) hashes through md5, which both engines implement identically:

    h32(s)  = int(md5(s)[:8], 16)          in [0, 2^32)
    h31(s)  = h32(s) & 0x7FFFFFFF          in [0, 2^31)  — safe for modmul

MinHash permutations use the classic universal family
    perm_i(h) = (a_i * h + b_i) mod P,  P = 2^31 - 1 (Mersenne prime)
with a_i, b_i drawn once from a seeded PRNG and embedded as constants in both
the Spark expression and the generated oracle SQL, so signatures agree bit-for
-bit across engines and across cluster sizes.

This mirrors the reference's deterministic-seed discipline
(ExtractionEntities/utils/tools.py:17-22 pins seed 1234) without copying any
code: all hashing here is pure SQL arithmetic, JVM-side in Spark.
"""

from __future__ import annotations

import random

MERSENNE31 = (1 << 31) - 1
MASK31 = 0x7FFFFFFF


def minhash_coeffs(num_perm: int, seed: int = 1234) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31)) for _ in range(num_perm)]


# ---- Spark SQL expression snippets (strings usable in F.expr / spark.sql) ----

def spark_h32(col: str) -> str:
    return f"CAST(conv(substring(md5({col}), 1, 8), 16, 10) AS BIGINT)"


def spark_h31(col: str) -> str:
    return f"({spark_h32(col)} & {MASK31})"


def spark_h60(col: str) -> str:
    """60-bit md5-prefix hash (15 hex chars). Use where 32 bits would admit
    birthday collisions at corpus scale (e.g. decontamination over billions
    of n-grams: expected collisions ~ n_train*n_eval / 2^60, which at
    1e10 x 1e7 grams is ~0.09 — vs ~2e4 *per eval gram* under h32)."""
    return f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)"


# ---- DuckDB SQL snippets (identical numeric results) ----

def duck_h32(col: str) -> str:
    return f"(('0x' || substr(md5({col}), 1, 8))::BIGINT)"


def duck_h31(col: str) -> str:
    return f"({duck_h32(col)} & {MASK31})"


def duck_h60(col: str) -> str:
    """DuckDB twin of spark_h60 (identical 60-bit value)."""
    return f"(('0x' || substr(md5({col}), 1, 15))::BIGINT)"
