"""Hashing primitives shared by the engine and the single-process oracle.

``xxh64`` is a bit-exact pure-Python implementation of XXH64 matching Spark's
built-in ``xxhash64`` expression for STRING input (UTF-8 bytes, seed 42,
result interpreted as signed int64). The oracle crawler uses it so that the
deterministic tie-break ``(priority DESC, url_hash ASC)`` is identical between
the Spark engine and the Python reference — verified by
tests/test_hashing.py against live Spark output.

Also: the splittable hash family for the partitioned Bloom filter.
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = 0xFFFFFFFFFFFFFFFF

SPARK_XXHASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    acc = _rotl(acc, 31)
    return (acc * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK


def xxh64(data: bytes, seed: int = SPARK_XXHASH_SEED) -> int:
    """XXH64 of ``data`` → signed int64 (Spark LongType convention)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    # Spark's LongType is signed.
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_str(s: str, seed: int = SPARK_XXHASH_SEED) -> int:
    """xxhash64 of a Python string, identical to Spark's xxhash64(col)."""
    return xxh64(s.encode("utf-8"), seed)


# ---------------------------------------------------------------------------
# Vectorized 64-bit mixers (numpy) — Bloom hash family / minhash permutations.
# ---------------------------------------------------------------------------

BLOOM_FAMILY = "xb3"  # cache-line-BLOCKED xor-rotate family (persisted
# filters from a different family are discarded on load — mixed-family bits
# would produce false NEGATIVES, which the exactness contract cannot absorb)

# All k probes of one key land inside ONE 512-bit (64-byte = one cache
# line) block: probing costs ~1 memory fetch per key instead of k. The
# unblocked xr2 family measured memory-latency-bound at scale — k=10
# random bit reads across a multi-hundred-KB blob were ~10 cache misses
# per probed row, and the probe pass alone cost 1.5x the whole untiered
# scheduling round at 10^8 rows. Blocking is the standard fix (Putze,
# Sanders & Singler 2007, "Cache-, Hash- and Space-Efficient Bloom
# Filters"); the ~1.3-2x higher false-positive rate at equal bits/key
# only adds rows to the exact confirm — exactness never depends on it.
BLOOM_BLOCK_BITS = 512


def bloom_streams(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Split signed-int64 hashes into two uint64 streams for the Bloom
    probe family g_i = h1 XOR rot64(h2, r_i).

    Deliberately multiplication-free (xorshift64 13/7/17 for h2): every op
    here — xor, logical shifts, rotate, unsigned mod — has a bit-identical
    Spark SQL column expression even under ANSI mode (where a wrapping
    64-bit multiply raises ARITHMETIC_OVERFLOW), so the distributed probe
    can run entirely JVM-side in whole-stage codegen
    (``bloom.probe_words_joined``) while this numpy twin backs the
    driver/build paths and the oracles. The classic Kirsch–Mitzenmacher
    h1 + i*h2 family needs wrapping adds/multiplies, which ANSI forbids."""
    u = h.astype(np.uint64)
    x = u ^ (u << np.uint64(13))
    x = x ^ (x >> np.uint64(7))
    h2 = x ^ (x << np.uint64(17))
    return u, h2


def bloom_rotations(k: int) -> list[int]:
    """Rotation amounts r_i for the k probe functions (spread over [0,64))."""
    return [(13 + 17 * i) % 64 for i in range(k)]


def bloom_indices(h: np.ndarray, m: int, k: int):
    """Yield the k bit-index arrays (int64 in [0, m)) for the given hashes —
    the single numpy definition of the family's index math; the JVM
    expression in ``bloom.probe_words_joined`` mirrors it term for term.

    BLOCKED layout: rotation r_0 picks the key's 512-bit block
    (one cache line) via ``((h1 ^ rot_0) & MAX_LONG) % (m/512)``; rotations
    r_1..r_k pick the k bit positions WITHIN that block via
    ``(h1 ^ rot_i) & 511`` — all probes of a key touch one cache line.
    ``m`` must be a multiple of 512 (PartitionedBloom pads).

    The block value is masked to 63 bits before the mod: the JVM twin works
    on SIGNED longs, and recovering unsigned-mod semantics there needs the
    probe value referenced twice per test (``pmod(g,m) + when(g<0, 2^64%m)``)
    — a duplication that measured 20-25× slower through Spark's generated
    code than a single-reference expression (method-split boundaries defeat
    subexpression reuse and JIT inlining). Dropping the sign bit costs the
    filter nothing (the 63 remaining bits are uniform) and makes the two
    twins the same one-reference expression: ``(g & MAX_LONG) % (m/512)``;
    the in-block positions are plain ``& 511`` on both sides."""
    if m % BLOOM_BLOCK_BITS:
        raise ValueError(f"blocked bloom needs m % {BLOOM_BLOCK_BITS} == 0, got {m}")
    h1, h2 = bloom_streams(h)
    sign_mask = np.uint64((1 << 63) - 1)
    rots = bloom_rotations(k + 1)

    def rotated(r: int) -> np.ndarray:
        return h2 if r == 0 else (h2 << np.uint64(r)) | (h2 >> np.uint64(64 - r))

    base = (
        ((h1 ^ rotated(rots[0])) & sign_mask) % np.uint64(m // BLOOM_BLOCK_BITS)
    ) * np.uint64(BLOOM_BLOCK_BITS)
    for r in rots[1:]:
        yield (base + ((h1 ^ rotated(r)) & np.uint64(BLOOM_BLOCK_BITS - 1))).astype(
            np.int64
        )
