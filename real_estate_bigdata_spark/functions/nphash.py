"""Vectorized numpy mirrors of Spark's hash/signature kernels.

Why these exist (r16, guide §4.2 + §7.3): the scale-out MinHash /
SimHash signature formulations used a 64-expression hash aggregate
(``explode`` + 64 conditional sums / 64 ``min(xxhash64(s, i))`` lanes).
The aggregate itself is whole-stage-codegen, but the 64-lane expression
tree costs ~1.1 s of single-threaded DRIVER planning per execution
(measured as a dead gap with zero jobs running — see
OPTIMIZATION_r16.md) plus a full exchange on the doc id. Signatures
are per-document functions of the feature array, so one Arrow batch
kernel computes them with NO shuffle and a ~20-node plan.

Bit-exactness contract: :func:`xxhash64_long` reproduces Spark's
``XXH64.hashLong`` (the kernel behind ``F.xxhash64`` on bigint inputs,
chained left-to-right with seed 42) exactly — pinned against the JVM in
``tests/test_nphash.py`` and transitively by the signature-vs-spec
parity tests. All arithmetic is uint64 with wraparound, matching Java's
two's-complement longs; byte views force little-endian explicitly so
the kernels are endianness-safe.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "xxhash64_long",
    "xxhash64_int",
    "simhash_sims",
    "minhash_sigs",
]

_U = np.uint64
_P1 = _U(0x9E3779B185EBCA87)
_P2 = _U(0xC2B2AE3D27D4EB4F)
_P3 = _U(0x165667B19E3779F9)
_P4 = _U(0x85EBCA77C2B2AE63)
_P5 = _U(0x27D4EB2F165667C5)
_SEED = _U(42)


def _rotl(x, r: int):
    r = _U(r)
    return (x << r) | (x >> (_U(64) - r))


def _fmix(h):
    h = h ^ (h >> _U(33))
    h = h * _P2
    h = h ^ (h >> _U(29))
    h = h * _P3
    h = h ^ (h >> _U(32))
    return h


def xxhash64_long(x, seed=_SEED):
    """Spark ``XXH64.hashLong(input, seed)`` over uint64 scalars/arrays.

    ``F.xxhash64(a, b)`` == ``xxhash64_long(b, xxhash64_long(a))`` (the
    JVM chains each child's hash as the next child's seed, initial seed
    42). Inputs must already be ``np.uint64`` (view int64 data, never
    cast — casting negative longs raises/overflows; viewing reinterprets
    the bits, which is what Java does).
    """
    with np.errstate(over="ignore"):
        h = seed + _P5 + _U(8)
        h = h ^ (_rotl(x * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h)


def xxhash64_int(x, seed=_SEED):
    """Spark ``XXH64.hashInt(input, seed)`` — the 4-byte path an
    IntegerType child takes (``F.lit(i)`` is an int, so the MinHash
    lane index hashes through HERE, not :func:`xxhash64_long`; getting
    this wrong produces well-distributed, plausible, entirely wrong
    signatures). ``x`` is the int value as uint64 (zero-extended 32-bit
    pattern, i.e. ``value & 0xFFFFFFFF`` for negatives).
    """
    with np.errstate(over="ignore"):
        h = seed + _P5 + _U(4)
        h = h ^ ((x & _U(0xFFFFFFFF)) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h)


def _flat_segments(arrays: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate per-doc int64 feature arrays -> (flat uint64 view,
    segment start offsets). Callers must exclude empty arrays."""
    flat = np.concatenate(arrays)
    flat = np.ascontiguousarray(flat, dtype="<i8").view(_U)
    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=len(arrays))
    starts = np.zeros(len(arrays), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return flat, starts


def simhash_sims(arrays: list[np.ndarray]) -> np.ndarray:
    """SimHash signatures for a batch of NON-EMPTY int64 feature arrays.

    Per doc: bit i of the signature is set iff more than half the
    features have bit i set (votes +1/-1, sign) — exactly the per-row
    SimHash Column spec in ``tests/test_dedup_similarity.py``:
    ``2*ones_i > n_feats`` is integer arithmetic, so equality with the
    JVM formulation is exact, not approximate. Returns int64[n_docs] (bit 63 wraps to the
    sign bit, same as the JVM's ``shiftleft(1L, 63)`` addition).
    """
    flat, starts = _flat_segments(arrays)
    # (N, 64) bit matrix: little-endian byte 0 = bits 0..7, so column j
    # is exactly bit position j of the feature hash
    bits = np.unpackbits(
        flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    ones = np.add.reduceat(bits.astype(np.int64, copy=False), starts, axis=0)
    lens = np.diff(np.append(starts, len(flat)))
    simbits = (2 * ones) > lens[:, None]
    return np.packbits(simbits, axis=1, bitorder="little").view("<i8").ravel()


def minhash_sigs(arrays: list[np.ndarray], num_hashes: int) -> np.ndarray:
    """MinHash signatures for a batch of NON-EMPTY int64 shingle arrays.

    Lane i of a doc's signature = signed min over its shingles s of
    ``F.xxhash64(s, lit(i))`` — bit-identical to the 64-min aggregate
    and to the per-row MinHash Column spec in
    ``tests/test_dedup_similarity.py``. The first hash link (shingle,
    seed 42) is shared across all lanes; each lane re-hashes only the
    lane index with the shared link as seed, exactly as the JVM chains
    the two children — and the lane index is an IntegerType literal, so
    it takes the 4-byte ``hashInt`` path.
    """
    flat, starts = _flat_segments(arrays)
    h0 = xxhash64_long(flat)
    out = np.empty((len(arrays), num_hashes), dtype=np.int64)
    for i in range(num_hashes):
        lane = xxhash64_int(_U(i), h0).view(np.int64)
        np.minimum.reduceat(lane, starts, out=out[:, i])
    return out
