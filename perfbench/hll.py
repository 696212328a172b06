"""Spark's ``approx_count_distinct`` of strings, recomputed in Python.

Spark's HyperLogLog++ hashes each value with XXH64 (seed 42, over the
UTF-8 bytes) and, at the default relative standard deviation of 0.05,
keeps 2^9 registers indexed by the hash's top 9 bits. While its
linear-counting estimate ``m ln(m / V)`` (``V`` empty registers) is at
most 400, that estimate, rounded, is the answer. At the workloads'
cardinalities (at most the generator's 100 users) this is always the
case, so the window check can require the engine's exact figure: two
users whose hashes share a register count once, which puts the answer
further from the exact distinct count than the asymptotic error
suggests.
"""

from __future__ import annotations

import math
import struct

M64 = (1 << 64) - 1
P1, P2, P3, P4, P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
SEED = 42
REGISTER_BITS = 9
LINEAR_COUNTING_MAX = 400.0


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * P2) & M64
    return (_rotl(acc, 31) * P1) & M64


def xxh64(data: bytes, seed: int = SEED) -> int:
    """XXH64 of ``data``, as an unsigned 64-bit integer."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed & M64, (seed - P1) & M64]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], struct.unpack_from("<Q", data, i + 8 * k)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * P1 + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    h = ((h ^ (h >> 33)) * P2) & M64
    h = ((h ^ (h >> 29)) * P3) & M64
    return h ^ (h >> 32)


def approx_count_distinct(values) -> int | None:
    """Spark's answer for these distinct strings, or None above the
    linear-counting range."""
    m = 1 << REGISTER_BITS
    empty = m - len({xxh64(v.encode()) >> (64 - REGISTER_BITS) for v in values})
    if empty == 0:
        return None
    estimate = m * math.log(m / empty)
    # rounded half up, as Java's Math.round does
    return math.floor(estimate + 0.5) if estimate <= LINEAR_COUNTING_MAX else None
