"""Vectorised XXH64 over byte strings, matching Spark's ``xxhash64``.

Spark hashes a string column with ``XXH64.hashUnsafeBytes(utf8, seed)``
and a default seed of 42; that is the standard XXH64 algorithm with
little-endian word reads. The engine derives a sequence's event time
as ``2024-01-01 + pmod(xxhash64(doc_id), 30 days)``, so the checker
re-derives event times here, apart from the program, to compute the
expected per-minute rollups.
"""

from __future__ import annotations

import numpy as np

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)

SPARK_SEED = 42
EPOCH_BASE_SECONDS = 1704067200  # 2024-01-01T00:00:00Z
HORIZON_SECONDS = 30 * 86400


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * P2, 31) * P1


def _merge(acc: np.ndarray, val: np.ndarray) -> np.ndarray:
    return (acc ^ _round(np.zeros_like(val), val)) * P1 + P4


def _hash_fixed(buf: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of each row of a (n, L) uint8 array (all rows length L)."""
    n, length = buf.shape
    s = np.full(n, seed, dtype=np.uint64)
    pos = 0
    with np.errstate(over="ignore"):
        if length >= 32:
            v1, v2, v3, v4 = s + P1 + P2, s + P2, s.copy(), s - P1
            while pos + 32 <= length:
                lanes = buf[:, pos:pos + 32].copy().view("<u8")
                v1 = _round(v1, lanes[:, 0])
                v2 = _round(v2, lanes[:, 1])
                v3 = _round(v3, lanes[:, 2])
                v4 = _round(v4, lanes[:, 3])
                pos += 32
            h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            for v in (v1, v2, v3, v4):
                h = _merge(h, v)
        else:
            h = s + P5
        h = h + np.uint64(length)
        while pos + 8 <= length:
            k = buf[:, pos:pos + 8].copy().view("<u8")[:, 0]
            h = h ^ _round(np.zeros(n, dtype=np.uint64), k)
            h = _rotl(h, 27) * P1 + P4
            pos += 8
        if pos + 4 <= length:
            k = buf[:, pos:pos + 4].copy().view("<u4")[:, 0].astype(np.uint64)
            h = h ^ (k * P1)
            h = _rotl(h, 23) * P2 + P3
            pos += 4
        while pos < length:
            h = h ^ (buf[:, pos].astype(np.uint64) * P5)
            h = _rotl(h, 11) * P1
            pos += 1
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        h = h ^ (h >> np.uint64(32))
    return h


def xxhash64(strings, seed: int = SPARK_SEED) -> np.ndarray:
    """Signed int64 XXH64 of each UTF-8 string, as ``F.xxhash64``."""
    raw = [s.encode("utf-8") for s in strings]
    lengths = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
    out = np.empty(len(raw), dtype=np.uint64)
    for length in np.unique(lengths):
        idx = np.flatnonzero(lengths == length)
        joined = b"".join(raw[i] for i in idx)
        buf = np.frombuffer(joined, dtype=np.uint8).reshape(len(idx), int(length))
        out[idx] = _hash_fixed(buf, seed)
    return out.view(np.int64)


def event_epoch(doc_ids) -> np.ndarray:
    """Event time (epoch seconds) the engine assigns to each doc_id."""
    return EPOCH_BASE_SECONDS + np.mod(xxhash64(doc_ids), HORIZON_SECONDS)
