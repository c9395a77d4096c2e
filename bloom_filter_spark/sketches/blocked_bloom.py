"""Cache-blocked Bloom filter variant.

Mirrors /root/reference/filter/blocked-bloom/filter.go:
  - same -n·ln p/(ln 2)² sizing, next-pow-2, floored at one 256-bit block
    (filter.go:25-38)
  - k is FIXED at 4 probes regardless of p (filter.go:32 — quirk Q2: its real
    FPR deliberately differs from the classic-Bloom bound; tests must not
    assert the classic bound on it)
  - a 128-bit hash: lo half selects the block, hi half is double-hashed into
    4 bit positions *within* the 256-bit block (filter.go:40-52)

The reference cannot persist this variant (no serializer — SURVEY.md §2.2);
we add the same LE header discipline as an engine-level extension.

Merge = bitwise OR (same argument as classic Bloom: equal params ⇒ equal bit
positions per key).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..core import hashing, xxh3
from ..core.serde import Reader, pack_u32, pack_u64
from .base import hashed_update_weighted, register

_LN2 = math.log(2.0)

BLOCK_BITS = 64 * 4          # 256-bit block = 4 u64 words (filter.go:10-15)
WORDS_PER_BLOCK = 4
K = 4                        # fixed probe count (filter.go:32)


@dataclass(frozen=True)
class BlockedBloomParams:
    n: int
    p: float
    seed: int = hashing.DEFAULT_SEED
    hash_family: str = "splitmix64"  # "xxh3" = reference Hash128 bit-parity
    m: int = field(init=False)
    n_blocks: int = field(init=False)
    n_words: int = field(init=False)
    k: int = K

    def __post_init__(self):
        if self.n <= 0 or not (0.0 < self.p < 1.0):
            raise ValueError(f"invalid params n={self.n} p={self.p}")
        if self.hash_family not in ("splitmix64", "xxh3"):
            # a typo here would silently build a non-parity filter that
            # answers garbage against Go-built word arrays (bloom.py:59
            # guards the same mistake)
            raise ValueError(f"unknown hash_family {self.hash_family!r}")
        m_pre = math.ceil(-self.n * math.log(self.p) / (_LN2 * _LN2))
        m = max(hashing.next_power_of_two(m_pre), BLOCK_BITS)
        object.__setattr__(self, "m", m)
        object.__setattr__(self, "n_blocks", m // BLOCK_BITS)
        object.__setattr__(self, "n_words", m // 64)


@register
class BlockedBloomSketch:
    kind = "blocked_bloom"
    multiset_pure = True
    weight_mode = "insensitive"

    def __init__(self, params: BlockedBloomParams):
        self.params = params

    def empty(self) -> np.ndarray:
        return np.zeros(self.params.n_words, dtype=np.uint64)

    def _positions(self, h_lo: np.ndarray, h_hi: np.ndarray) -> np.ndarray:
        """(N, 4) absolute bit positions: block base + 4 in-block K-M probes."""
        p = self.params
        block = h_lo & np.uint64(p.n_blocks - 1)
        base = block * np.uint64(BLOCK_BITS)
        inblock = hashing.km_indices(h_hi, BLOCK_BITS, K)  # & 255 mask
        return base[:, None] + inblock

    def _two_hashes(self, values, kind: str) -> tuple[np.ndarray, np.ndarray]:
        # the reference uses one 128-bit xxh3 (filter.go:41-45: Lo selects
        # the block, Hi feeds the in-block double hash).  hash_family="xxh3"
        # reproduces that bit-exactly (UNSEEDED Hash128, matching the Go
        # call); the default engine family derives the two halves from two
        # independent seeded splitmix passes.
        if self.params.hash_family == "xxh3":
            if kind == "i32":
                return xxh3.xxh3_128_i32(values)
            if kind == "i64":
                return xxh3.xxh3_128_i64(values)
            if isinstance(values, hashing.StrBuf):
                return xxh3.xxh3_128_bytes(values)  # zero-copy Arrow path
            enc = [v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                   for v in values]
            return xxh3.xxh3_128_bytes(enc)
        s = self.params.seed
        fn = {"str": hashing.hash64_str, "i32": hashing.hash64_i32,
              "i64": hashing.hash64_i64}[kind]
        return fn(values, s), fn(values, s ^ 0xA5A5A5A5A5A5A5A5)

    def _update(self, state: np.ndarray, pos: np.ndarray) -> None:
        hashing.set_bits(state, pos.ravel(), self.params.m)

    def update_i32(self, state: np.ndarray, values: np.ndarray) -> None:
        lo, hi = self._two_hashes(np.asarray(values, np.int32), "i32")
        self._update(state, self._positions(lo, hi))

    def update_i64(self, state: np.ndarray, values: np.ndarray) -> None:
        lo, hi = self._two_hashes(np.asarray(values, np.int64), "i64")
        self._update(state, self._positions(lo, hi))

    def update_str(self, state: np.ndarray, values) -> None:
        lo, hi = self._two_hashes(values, "str")
        self._update(state, self._positions(lo, hi))

    update_weighted = hashed_update_weighted

    def _contains(self, state: np.ndarray, pos: np.ndarray) -> np.ndarray:
        words = state[(pos >> np.uint64(6)).astype(np.int64)]
        hit = (words >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=1)

    def contains_i32(self, state: np.ndarray, values: np.ndarray) -> np.ndarray:
        lo, hi = self._two_hashes(np.asarray(values, np.int32), "i32")
        return self._contains(state, self._positions(lo, hi))

    def contains_i64(self, state: np.ndarray, values: np.ndarray) -> np.ndarray:
        lo, hi = self._two_hashes(np.asarray(values, np.int64), "i64")
        return self._contains(state, self._positions(lo, hi))

    def contains_str(self, state: np.ndarray, values) -> np.ndarray:
        lo, hi = self._two_hashes(values, "str")
        return self._contains(state, self._positions(lo, hi))

    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return np.bitwise_or(a, b)

    header_len = 16  # u32 m | u32 k | u64 seed
    state_bytes_max = property(lambda self: 16 + self.params.n_words * 8)

    def serialize(self, state: np.ndarray) -> bytes:
        p = self.params
        return pack_u32(p.m) + pack_u32(K) + pack_u64(p.seed) + state.astype("<u8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes, hash_family: str = "splitmix64"):
        if hash_family not in ("splitmix64", "xxh3"):
            raise ValueError(f"unknown hash_family {hash_family!r}")
        r = Reader(blob)
        m = r.u32()
        _k = r.u32()
        seed = r.u64()
        state = r.array("<u8", m // 64)
        params = object.__new__(BlockedBloomParams)
        object.__setattr__(params, "n", 0)
        object.__setattr__(params, "p", 0.0)
        object.__setattr__(params, "seed", seed)
        object.__setattr__(params, "hash_family", hash_family)
        object.__setattr__(params, "m", m)
        object.__setattr__(params, "n_blocks", m // BLOCK_BITS)
        object.__setattr__(params, "n_words", m // 64)
        r.end()
        return cls(params), state
