"""Portable deterministic hashing + MinHash / SimHash signatures.

Design constraint: every hash here must be computable bit-identically in
DuckDB SQL so the driver's oracle comparison can hash-match. We therefore
build everything on md5 (present in both engines) instead of Spark's
xxhash64/murmur (engine-specific):

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long      (60 bits)
    DuckDB: ('0x' || substring(md5(s), 1, 15))::BIGINT

MinHash permutations use the classic universal-hash family
h_i(x) = (a_i * x + b_i) mod P with P = 2^31 - 1 and x reduced mod P
first, keeping every intermediate product under 2^62 so 64-bit signed
arithmetic never overflows in either engine. Constants a_i, b_i are
generated from a fixed seed so Spark and the SQL oracle share them.

SimHash is 32-bit over the same base hash (bits 0..31), majority vote of
per-token bit contributions.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F


MERSENNE31 = (1 << 31) - 1
SIMHASH_BITS = 32


def hash64(col: Column | str) -> Column:
    """60-bit portable hash of a string column (md5 prefix as integer)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_perms(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants shared with the SQL oracle."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_perm)
    ]


def band_hashes(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH banding: array of num_bands hashes, band i hashing signature
    values [i*r, (i+1)*r). Two docs sharing any band hash are candidates.
    """
    bands = []
    for i in range(num_bands):
        parts = [
            F.element_at(sig, i * rows_per_band + j + 1).cast("string")
            for j in range(rows_per_band)
        ]
        bands.append(hash64(F.concat_ws("_", *parts)))
    return F.array(*bands)


# ---------------------------------------------------------------------------
# SQL-oracle builders: DuckDB expressions computing the SAME values, used by
# __spark_entry__.oracle_sql() so correctness is checked end-to-end.
# ---------------------------------------------------------------------------


def sql_hash64(expr: str) -> str:
    """DuckDB SQL for hash64()."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def sql_perm(hexpr: str, a: int, b: int) -> str:
    return f"(({a} * (({hexpr}) % {MERSENNE31}) + {b}) % {MERSENNE31})"


def sql_minhash_signature(
    tokens_expr: str, num_perm: int = 16, seed: int = 42
) -> str:
    """DuckDB SQL list expression: per permutation, the minimum of
    ``sql_perm`` over the token hashes (``pipeline.dedup.minhash_signatures``
    computes the same values relationally)."""
    h = sql_hash64("t")
    mins = [
        f"list_min(list_transform({tokens_expr}, t -> {sql_perm(h, a, b)}))"
        for a, b in minhash_perms(num_perm, seed)
    ]
    return "[" + ", ".join(mins) + "]"


def sql_simhash64(tokens_expr: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB SQL SimHash: bit j is set iff the token hashes vote it
    positive (``pipeline.dedup.simhash_signatures`` computes the same
    values relationally)."""
    h = sql_hash64("t")
    hashes = f"list_transform({tokens_expr}, t -> {h})"
    terms = []
    for j in range(bits):
        vote = (
            f"list_sum(list_transform({hashes}, "
            f"h -> (((h >> {j}) & 1) * 2 - 1)))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << j}::BIGINT ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"
