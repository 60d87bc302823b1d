"""Portable hashing primitives shared by the dedup/fingerprint operators.

Every hash here is defined as *the first 8 hex chars of md5, read as a
bigint* — computable identically in Spark (``conv(substr(md5(x),1,8),16,10)``),
DuckDB (``cast(concat('0x', substr(md5(x),1,8)) as bigint)``) and Python
(``int(hashlib.md5(x).hexdigest()[:8], 16)``). Spark's native xxhash64 is
faster but engine-private; correctness oracles need a cross-engine hash.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F


def md5_bigint(col: Column | str) -> Column:
    """32-bit-range bigint hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_bigint_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def md5_bigint_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same hash. Null-safe: DuckDB's
    ``concat`` SKIPS null arguments, so the unguarded form would try to
    cast the literal '0x' and raise — the case-when preserves the Spark
    side's null-in → null-out."""
    return (
        f"case when ({expr}) is null then null "
        f"else cast(concat('0x', substr(md5({expr}), 1, 8)) as bigint) end"
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1: a*h + b stays < 2^62, no overflow


def affine_perms(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameters for k universal-hash permutations
    h_i(x) = (a_i·x + b_i) mod MINHASH_PRIME — the classic MinHash scheme
    that needs ONE base hash per shingle instead of k salted hashes.
    Constants derive from the portable md5 hash so every engine (Spark,
    DuckDB, Python) generates the identical family."""
    return [
        (
            md5_bigint_py(f"minhash-a:{i}") % (MINHASH_PRIME - 1) + 1,
            md5_bigint_py(f"minhash-b:{i}") % MINHASH_PRIME,
        )
        for i in range(k)
    ]


def seeded(col: Column, seed: int) -> Column:
    """Seeded variant: hash of 'seed:value'."""
    return md5_bigint(F.concat(F.lit(f"{seed}:"), col))


def seeded_sql(expr: str, seed: int) -> str:
    return md5_bigint_sql(f"concat('{seed}:', {expr})")
