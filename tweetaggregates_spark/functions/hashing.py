"""Portable 60-bit hashing.

Dedup/fingerprint operators need a hash both engines (Spark JVM and the
DuckDB oracle) compute identically. Spark's ``F.hash``/``xxhash64`` and
DuckDB's ``hash`` are different algorithms, so we derive a 60-bit int
from md5 (identical everywhere): first 15 hex chars -> BIGINT. 15 chars
(60 bits) keeps the value < 2^60, safely inside signed-64 range in both
engines.

Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: long
DuckDB: ('0x' || substr(md5(x), 1, 15)) :: BIGINT

Verified equal (e.g. 'hello' -> 419982666956583591 in both).

Scale note: md5 is a JVM intrinsic inside whole-stage codegen — no
Python. It is ~2x slower than xxhash64; swap in xxhash64 for production
runs where cross-engine verification isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def seeded_hash64(col: Column | str, seed: int) -> Column:
    """Family of independent hash functions h_seed(x) = hash64(seed:x) —
    the minhash 'permutations'."""
    c = F.col(col) if isinstance(col, str) else col
    return hash64(F.concat(F.lit(f"{seed}:"), c))


def seeded_hash64_pair(col: Column | str, seed: int) -> tuple[Column, Column]:
    """Two independent 60-bit hashes from ONE md5: hex chars [1,15] and
    [16,30] of md5(seed:x). Halves the md5 cost of a minhash signature;
    codegen CSEs the shared md5 call."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.md5(F.concat(F.lit(f"{seed}:"), c))
    return (
        F.conv(F.substring(m, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(m, 16, 15), 16, 10).cast("long"),
    )


def duck_hash64(expr: str) -> str:
    """The DuckDB twin of hash64(), as a SQL fragment."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
