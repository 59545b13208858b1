"""Portable deterministic hashing used by dedup / similarity / fingerprint
operators.

Engine-portable contract (identical values in Spark, DuckDB and Python):

    h(s) = int(md5(s)[:15], 16)          -- 60-bit, non-negative

Spark:  conv(substring(md5(s),1,15),16,10)::long
DuckDB: CAST('0x' || substring(md5(s),1,15) AS BIGINT)

MinHash permutations are affine maps over the Mersenne prime p = 2^31-1:
    perm_i(x) = (a_i * (x mod p) + b_i) mod p
(a_i < p, x mod p < p ⇒ product < 2^62: no int64 overflow.)
Constants are generated from a FIXED seed so the Spark plan, the DuckDB
oracle SQL and tests all share them.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1
NUM_PERMS = 16
# 8 bands of 2: candidate probability 1-(1-j²)^8 — j=0.8 near-dups are
# caught with p≈0.9996 while j=0.2 pairs stay below 0.28 (cheap to verify).
LSH_BAND_SIZE = 2

_rng = random.Random(7)
MINHASH_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE_P), _rng.randrange(0, MERSENNE_P)) for _ in range(NUM_PERMS)
]


def md5_long_col(col: Column) -> Column:
    """Spark side of the portable 60-bit hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_py(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
