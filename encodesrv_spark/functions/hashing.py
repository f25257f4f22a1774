"""Cross-engine deterministic hashing.

Spark's native hashes (xxhash64, murmur3) have no DuckDB equivalent, so
oracle-checked operators (MinHash, SimHash, fingerprints) use an
md5-derived 60-bit hash that both engines compute identically:

    Spark : conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex digits = 60 bits, always < 2^63, so the BIGINT cast is safe.
md5 is JVM-side (whole-stage codegen'd) in Spark — this stays on the
fast path; it is ~2x slower than xxhash64 but portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_hash64(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column, portable to DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def stable_hash64_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the same hash as :func:`stable_hash64`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def seeded_hash64(col: Column | str, seed: int) -> Column:
    """Family of independent hash functions h_seed(s) = H(seed || ':' || s)."""
    c = F.col(col) if isinstance(col, str) else col
    return stable_hash64(F.concat(F.lit(f"{seed}:"), c))


def seeded_hash64_sql(expr: str, seed: int) -> str:
    return stable_hash64_sql(f"concat('{seed}:', {expr})")


# Kirsch-Mitzenmacher double hashing: k hash functions from two base
# hashes, h_i = (h1 + i * (h2 mod 2^40)) mod 2^60.  The moduli keep
# every intermediate < 2^61 — no int64 overflow under ANSI arithmetic
# in either engine.  One md5 each for h1/h2 instead of k md5s per key.
_KM_MOD2 = 1 << 40
_KM_MOD = 1 << 60


def km_hash64(h1: Column, h2: Column, i: int) -> Column:
    if i == 0:
        return h1 % F.lit(_KM_MOD)
    return (h1 + F.lit(i) * (h2 % F.lit(_KM_MOD2))) % F.lit(_KM_MOD)


def km_hash64_sql(h1: str, h2: str, i: int) -> str:
    if i == 0:
        return f"({h1} % {_KM_MOD})"
    return f"(({h1} + {i} * ({h2} % {_KM_MOD2})) % {_KM_MOD})"
