"""Deterministic 60-bit string fingerprints computable identically in Spark
and in ANSI-ish SQL (DuckDB) — the foundation for oracle-checkable dedup
(MinHash, exact-hash groups, delivery-hash idempotency).

Spark's builtin ``hash``/``xxhash64`` are Murmur3/xxHash with Spark-specific
seeding, which no oracle can reproduce, so instead we fingerprint with
``md5`` (available in both engines) and fold the first 15 hex chars into a
non-negative int64 (60 bits, always < 2**63):

- Spark:  ``conv(substring(md5(s), 1, 15), 16, 10)`` cast to long, as Column
  code (``fingerprint64``) and as SQL text (``fingerprint64_sql``).
- DuckDB: ``('0x' || substr(md5(s), 1, 15))::BIGINT``.

md5 runs JVM-side in Spark (whole-stage codegen, no Python) — fingerprinting
100 TB of shingles never leaves the executors.

MinHash permutations are the classic universal-hash family
``h_i(x) = (a_i * x + b_i) mod p`` with a Mersenne prime ``p = 2**61 - 1``
(Broder 1997, "On the resemblance and containment of documents"). With
x < 2**60 and a_i < 2**31 the product stays < 2**91 — too big for int64 —
so we reduce x mod p first and use 128-bit-free modular arithmetic via
splitting, which both engines can express with plain int64 ops:
``(a * x) mod p`` where x < p and a < 2**31 never overflows int64 only if
a * x < 2**63 — NOT guaranteed. We instead keep a_i < 2**20 and reduce
x to x mod 2**40 (keep 40 bits): a*x < 2**60 < 2**63. The family is still
pairwise-independent-enough for dedup banding at the scales involved.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne-ish prime > 2**60 for the permutation modulus.
MINHASH_P = (1 << 61) - 1
# a < 2**20, x < 2**40  =>  a*x + b < 2**61  (no int64 overflow anywhere).
_A_BITS = 20
_X_BITS = 40
_X_MASK = (1 << _X_BITS) - 1


def minhash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n permutation hashes (no RNG libs —
    a fixed LCG so Spark-side and SQL-side generation can never drift)."""
    out = []
    state = seed * 2654435761 % (1 << 31)
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = (state % ((1 << _A_BITS) - 1)) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % MINHASH_P
        out.append((a, b))
    return out


def fingerprint64(col: Column) -> Column:
    """Spark: 60-bit non-negative int64 fingerprint of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def fingerprint64_sql(sql_expr: str) -> str:
    """Spark SQL text for ``fingerprint64`` of a string expr: the same fold,
    for plans built as one SQL expression (one gateway call to parse instead
    of one per Column method)."""
    return f"CAST(conv(substring(md5({sql_expr}), 1, 15), 16, 10) AS BIGINT)"


def duck_fingerprint64(sql_expr: str) -> str:
    """DuckDB SQL producing the identical fingerprint for a string expr."""
    return f"(('0x' || substr(md5({sql_expr}), 1, 15))::BIGINT)"
