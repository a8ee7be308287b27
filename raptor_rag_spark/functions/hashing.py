"""Stable 64-bit hashing shared by the embedder, minhash, simhash and
fingerprinting.

Uses FNV-1a (public-domain algorithm) so every component hashes
identically across driver, executors and test oracles — Python's
builtin ``hash`` is salted per-process and unusable here.
"""

from __future__ import annotations

import numpy as np

FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
_MASK64 = 0xFFFFFFFFFFFFFFFF


def fnv1a_64(data: bytes, seed: int = 0) -> int:
    h = (FNV_OFFSET ^ (seed * FNV_PRIME)) & _MASK64
    for b in data:
        h = ((h ^ b) * FNV_PRIME) & _MASK64
    return h


def fnv1a_64_str(s: str, seed: int = 0) -> int:
    return fnv1a_64(s.encode("utf-8"), seed)


def fnv1a_64_batch(strs: list[str]) -> np.ndarray:
    """Vectorized FNV-1a over a batch of strings -> uint64 array,
    bit-identical to fnv1a_64_str per element.

    FNV is sequential over BYTES, but across a batch it vectorizes by
    byte POSITION: pad the utf-8 forms into one (n, maxlen) uint8
    matrix and run maxlen vectorized xor-multiply steps (uint64
    multiply wraps mod 2^64 in numpy, which is exactly the FNV mask).
    A 3-word shingle is ~25 bytes, so a 10^5-shingle batch costs ~25
    numpy passes instead of 2.5M Python byte steps — this is what keeps
    the minhash/simhash signature kernels Arrow-speed instead of
    per-token Python."""
    n = len(strs)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in strs]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    maxlen = int(lens.max()) if n else 0
    if maxlen == 0:
        return np.full(n, FNV_OFFSET, dtype=np.uint64)
    # sort by length DESC: at byte position j the still-active strings
    # are a contiguous prefix — a slice, not a boolean gather
    order = np.argsort(-lens, kind="stable")
    lens_s = lens[order]
    flat = np.frombuffer(b"".join(bs[i] for i in order), dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens_s[:-1], out=starts[1:])
    h = np.full(n, FNV_OFFSET, dtype=np.uint64)
    prime = np.uint64(FNV_PRIME)
    neg = -lens_s  # ascending; count(lens > j) = searchsorted(neg, -j)
    with np.errstate(over="ignore"):
        for j in range(maxlen):
            k = int(np.searchsorted(neg, -j, side="left"))
            if k == 0:
                break
            h[:k] = (h[:k] ^ flat[starts[:k] + j].astype(np.uint64)) * prime
    out = np.empty(n, dtype=np.uint64)
    out[order] = h
    return out
