"""Arrow MinHash signature kernel — bit-exact XXH64 in numpy.

The signature fold is the measured hot spot of the K2 near-dup
family (~10M interpreted higher-order-function
hash evals ≈ 4.5-6.4 s at sf0.1). Catalyst evaluates `transform` /
`aggregate` lambdas in the interpreter, one element at a time, so the
num_hashes × num_shingles permutation grid never reaches codegen.
This module moves exactly that grid into a vectorized numpy kernel
behind an Arrow UDF (`arrow_udf`), implementing Spark's own
`xxhash64(bigint, int)` bit-for-bit over uint64 arrays:

    F.xxhash64(h, F.lit(i))  ==  xxh64_int(i, xxh64_long(h, seed=42))

Bit-exactness is the design requirement, not an optimization: the
LSH band buckets hash the signature minima, and the fixture-pinned
recall-equality contract of `k2_minhash_lsh` (oracle = exact pair
set, hash-equality certifies recall == 1) holds for THESE permutation
values. A "faster but different" hash family would force re-deriving
that property; an identical one inherits it. Verified against the JVM
in tests/test_extensions.py::test_minhash_kernel_matches_jvm_xxhash64.

Scale shape: the UDF is map-only (no shuffle), each Arrow batch
reads its shingle-hash lists as the flattened values buffer plus the
list offsets, runs num_hashes vectorized passes, and segment-mins via
`np.minimum.reduceat` — ~60 ns per (shingle, permutation) versus
~500 ns interpreted.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, LongType

# XXH64 primes (public constants from the xxHash spec).
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = np.uint64(42)  # Spark's fixed xxhash64 seed

_U = np.uint64  # numpy 1.x: uint64 op python-int promotes to FLOAT —
#                 every scalar in the pipeline below must be wrapped.


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> _U(33))
    h = h * _P2
    h = h ^ (h >> _U(29))
    h = h * _P3
    h = h ^ (h >> _U(32))
    return h


def xxh64_long(v: np.ndarray, seed: np.uint64) -> np.ndarray:
    """XXH64 of one 8-byte (long) input — Spark XXH64.hashLong."""
    h = seed + _P5 + _U(8)
    k1 = v * _P2
    k1 = _rotl(k1, 31)
    k1 = k1 * _P1
    h = h ^ k1
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h)


def xxh64_int(i: int, seed: np.ndarray) -> np.ndarray:
    """XXH64 of one 4-byte (int) input — Spark XXH64.hashInt.
    `seed` is the running hash (array); `i` the permutation index."""
    h = seed + _P5 + _U(4)
    h = h ^ (_U(i & 0xFFFFFFFF) * _P1)
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h)


def perm_hashes(base: np.ndarray, i: int) -> np.ndarray:
    """Spark's F.xxhash64(h, F.lit(i)) for an int64 array h: chain
    seed 42 → hashLong(h) → hashInt(i)."""
    return xxh64_int(i, xxh64_long(base.view(np.uint64), _SEED))


_MAX_LONG = np.int64(2**63 - 1)


def minhash_from_offsets(
    flat: np.ndarray, offsets: np.ndarray, num_hashes: int
) -> np.ndarray:
    """(n_docs, num_hashes) int64 signature matrix from the docs'
    concatenated shingle hashes `flat` and their n_docs + 1 list
    `offsets` (doc i owns flat[offsets[i] - offsets[0] :
    offsets[i + 1] - offsets[0]]). Signed min with identity 2^63-1,
    exactly the JVM fold's `least` over LongType."""
    offsets = np.asarray(offsets, dtype=np.int64) - offsets[0]
    n = len(offsets) - 1
    out = np.full((n, num_hashes), _MAX_LONG, dtype=np.int64)
    nonempty = np.diff(offsets) > 0
    if not nonempty.any():
        return out
    starts = offsets[:-1][nonempty]
    hashed_long = xxh64_long(flat.view(np.uint64), _SEED)  # shared across permutations
    for i in range(num_hashes):
        p = xxh64_int(i, hashed_long).view(np.int64)
        out[nonempty, i] = np.minimum.reduceat(p, starts)
    return out


def minhash_sigs_udf(num_hashes: int):
    """Arrow UDF: array<bigint> shingle hashes → array<bigint>
    MinHash signature, bit-identical to the interpreted
    transform/aggregate/zip_with fold it replaces. A NULL list has a
    NULL signature."""

    @arrow_udf(ArrayType(LongType()))
    def mh(hs: pa.Array) -> pa.Array:
        offsets = hs.offsets.to_numpy()  # index the unsliced values
        flat = hs.values.to_numpy()[offsets[0] : offsets[-1]]
        sig = minhash_from_offsets(flat, offsets, num_hashes)
        step = np.arange(len(hs) + 1, dtype=np.int32) * num_hashes
        return pa.ListArray.from_arrays(
            pa.array(step), pa.array(sig.reshape(-1)), mask=hs.is_null()
        )

    return mh
