"""Engine-portable deterministic hashing.

Spark's native ``xxhash64``/``hash`` are fast but Spark-specific;
for operators whose results must be reproducible across engines
(document fingerprints, MinHash signatures — verified against a
DuckDB oracle) we derive a 56-bit integer from ``md5``, which is
bit-identical everywhere:

    stable_hash64(s) = int(md5(s)[:14], 16)        # 56 bits, fits i64

MinHash then applies k independent universal-hash transforms
``(a_k * (x mod p) + b_k) mod p`` with the Mersenne prime
p = 2^31-1 (the 31-bit field keeps every intermediate product under
2^62, i.e. inside int64 — no overflow on either engine).
All of it is Catalyst expressions (md5/conv/transform/array_min):
JVM-side, codegen'd, no UDFs — at 100 TB the signature computation
is a pure map stage that pushes nothing to Python.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Mersenne prime 2^31 - 1; a_k/b_k seeds are small fixed odd numbers.
MERSENNE_P = (1 << 31) - 1
_A0, _B0 = 1_000_003, 12_345_701


def stable_hash64(col: Column) -> Column:
    """56-bit integer hash of a string, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")


def minhash_seed(k: int) -> tuple[int, int]:
    """Deterministic (a, b) pair for hash function k (0-based)."""
    return (_A0 + 2 * k, _B0 + 17 * k)


def base_hashes(tokens: Column) -> Column:
    """``array<bigint>`` of 31-bit base hashes for a token array.

    The md5 work (the expensive part) runs ONCE per token; the k
    universal-hash minima are then cheap arithmetic over this array.
    Project it as its own column (``queries.dedup.minhash_signatures``)
    so each minimum reads the array instead of repeating the md5 pass.
    """
    # single-arg closure: a multi-arg lambda would be taken as the
    # (element, index) form by the higher-order-function binder
    return F.transform(tokens, lambda x: stable_hash64(x) % MERSENNE_P)


def minhash_from_hashes(hashes: Column, k: int) -> Column:
    """k-th MinHash value over pre-hashed tokens (see base_hashes)."""
    a, b = minhash_seed(k)
    return F.array_min(
        F.transform(hashes, lambda h: (h * a + b) % MERSENNE_P))
