"""XXH64 (public-domain algorithm, Yann Collet) matching Spark's
``F.xxhash64`` semantics (seed 42, and the specialized int/long paths
Spark's XxHash64 expression uses for numeric children), in two forms:

* scalar Python ints (``hash_bytes``, ``hash_int``, ``xxhash64_*``) — the
  single-process golden oracle (oracle_docops.py) computes its MinHash /
  SimHash / hyperplane-LSH goldens with them, independently of any Spark
  plan; ``operators/similarity.py`` uses them for driver-side literals;
* numpy uint64 lanes (``hash_spans``, ``hash_int_lanes``) — the same
  functions over a whole Arrow batch at once, for the MinHash signature
  kernel (``operators/dedup.minhash_signatures``).

Both agree bit-for-bit with the JVM ``xxhash64`` values
(tests/test_scale_valves.py) and with each other (tests/test_minhash_kernel.py).
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def hash_int(value: int, seed: int = SPARK_SEED) -> int:
    """Spark XXH64.hashInt: one 4-byte lane (value treated as unsigned32)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def hash_long(value: int, seed: int = SPARK_SEED) -> int:
    """Spark XXH64.hashLong: one 8-byte lane."""
    h = (seed + _P5 + 8) & _M
    k1 = (_rotl((value & _M) * _P2 & _M, 31) * _P1) & _M
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def hash_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Standard XXH64 over a byte buffer (Spark hashes UTF8String bytes)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = (_rotl((v1 + int.from_bytes(data[i:i + 8], "little") * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8:i + 16], "little") * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16:i + 24], "little") * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24:i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        k1 = (_rotl((int.from_bytes(data[i:i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h ^= k1
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _signed(x: int) -> int:
    """uint64 -> int64 (Spark's xxhash64 returns a signed long)."""
    return x - (1 << 64) if x >= (1 << 63) else x


def xxhash64_str(s: str, seed: int = SPARK_SEED) -> int:
    """Equivalent of ``F.xxhash64(string_col)`` (signed 64-bit result)."""
    return _signed(hash_bytes(s.encode("utf-8"), seed & _M))


def xxhash64_str_int(s: str, i: int) -> int:
    """Equivalent of ``F.xxhash64(string_col, F.lit(i))`` for a small int
    literal: the string hash becomes the seed of the int lane."""
    h = hash_bytes(s.encode("utf-8"), SPARK_SEED)
    return _signed(hash_int(i, h))


def xxhash64_int(i: int) -> int:
    """Equivalent of ``F.xxhash64(F.lit(i))`` for an int literal."""
    return _signed(hash_int(i, SPARK_SEED))


def xxhash64_long(i: int) -> int:
    """Equivalent of ``F.xxhash64(long_col)`` (LongType lane, 8 bytes)."""
    return _signed(hash_long(i, SPARK_SEED))


# ---- numpy uint64 lanes: one lane per input, arithmetic wraps mod 2**64 ----


def _u64(x: int) -> np.uint64:
    return np.uint64(x & _M)


def _rotl_lanes(x, r: int):
    return (x << _u64(r)) | (x >> _u64(64 - r))


def _fmix_lanes(h):
    h = h ^ (h >> _u64(33))
    h = h * _u64(_P2)
    h = h ^ (h >> _u64(29))
    h = h * _u64(_P3)
    return h ^ (h >> _u64(32))


def _round_lanes(acc, word):
    return _rotl_lanes(acc + word * _u64(_P2), 31) * _u64(_P1)


def hash_spans(data, starts, lengths):
    """``hash_bytes(data[s:s + n])`` for every (s, n) in
    ``zip(starts, lengths)``, as a uint64 array: the byte spans of one
    buffer (an Arrow string column's data) hashed in numpy lanes. Lanes of
    32 bytes or more first run the 4-accumulator stripe loop (one numpy
    step per stripe index, over the lanes that still have that stripe);
    then every lane takes its 8-, 4- and 1-byte tail steps."""
    buf = np.asarray(data, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    # Unaligned little-endian words at every byte offset (views, no copy);
    # a read at pos only happens when pos + width <= span end <= len(buf).
    w64 = np.ndarray((max(len(buf) - 7, 0),), "<u8", buf, 0, (1,))
    w32 = np.ndarray((max(len(buf) - 3, 0),), "<u4", buf, 0, (1,))
    h = np.full(len(starts), _u64(SPARK_SEED + _P5), dtype=np.uint64)
    big = np.flatnonzero(lengths >= 32)
    if big.size:
        # Most-stripes-first, so the lanes still striping at step i are a
        # prefix: each step updates slices, not gathered copies.
        stripes = lengths[big] // 32
        order = np.argsort(-stripes, kind="stable")
        big, stripes = big[order], stripes[order]
        p = starts[big]
        v1 = np.full(big.size, _u64(SPARK_SEED + _P1 + _P2), dtype=np.uint64)
        v2 = np.full(big.size, _u64(SPARK_SEED + _P2), dtype=np.uint64)
        v3 = np.full(big.size, _u64(SPARK_SEED), dtype=np.uint64)
        v4 = np.full(big.size, _u64(SPARK_SEED - _P1), dtype=np.uint64)
        active = np.searchsorted(-stripes, -np.arange(1, stripes[0] + 1), side="right")
        for c in active:
            q = p[:c]
            v1[:c] = _round_lanes(v1[:c], w64[q])
            v2[:c] = _round_lanes(v2[:c], w64[q + 8])
            v3[:c] = _round_lanes(v3[:c], w64[q + 16])
            v4[:c] = _round_lanes(v4[:c], w64[q + 24])
            p[:c] += 32
        acc = (
            _rotl_lanes(v1, 1) + _rotl_lanes(v2, 7)
            + _rotl_lanes(v3, 12) + _rotl_lanes(v4, 18)
        )
        for v in (v1, v2, v3, v4):
            acc = (acc ^ _round_lanes(_u64(0), v)) * _u64(_P1) + _u64(_P4)
        h[big] = acc
    h += lengths.astype(np.uint64)
    rem = lengths % 32  # the tail after the stripes
    pos = starts + lengths - rem
    for _ in range(3):  # at most three 8-byte words
        a = np.flatnonzero(rem >= 8)
        if not a.size:
            break
        k1 = _round_lanes(_u64(0), w64[pos[a]])
        h[a] = _rotl_lanes(h[a] ^ k1, 27) * _u64(_P1) + _u64(_P4)
        pos[a] += 8
        rem[a] -= 8
    a = np.flatnonzero(rem >= 4)
    if a.size:
        k = w32[pos[a]].astype(np.uint64) * _u64(_P1)
        h[a] = _rotl_lanes(h[a] ^ k, 23) * _u64(_P2) + _u64(_P3)
        pos[a] += 4
        rem[a] -= 4
    for _ in range(3):
        a = np.flatnonzero(rem >= 1)
        if not a.size:
            break
        k = buf[pos[a]].astype(np.uint64) * _u64(_P5)
        h[a] = _rotl_lanes(h[a] ^ k, 11) * _u64(_P1)
        pos[a] += 1
        rem[a] -= 1
    return _fmix_lanes(h)


def hash_int_lanes(value: int, seeds):
    """``hash_int(value, seed)`` for every seed of a uint64 array — the
    lane form of ``F.xxhash64(s, F.lit(value))`` given the ``s`` hashes."""
    h = seeds + _u64(_P5 + 4)
    h = h ^ _u64((value & 0xFFFFFFFF) * _P1)
    return _fmix_lanes(_rotl_lanes(h, 23) * _u64(_P2) + _u64(_P3))
