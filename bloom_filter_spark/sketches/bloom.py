"""Classic Bloom filter — the reference's core artifact, vectorized.

Reproduces the reference's sizing math, index expansion, bit layout and byte
format exactly (/root/reference/filter/bloom/filter.go):

  m_pre  = ceil(-n·ln p / (ln 2)²)          filter.go:23
  k      = round((m_pre / n) · ln 2)        filter.go:24  (from PRE-pow2 m —
           quirk Q3: measured FPR lands below configured p)
  m      = next_power_of_two(m_pre)         filter.go:25, utils.go:23-31
  words  = (m >> 6) + 1                     filter.go:29  (quirk Q4 spare word)
  idx_i  = (h1 + i·h2) & (m-1)              filter.go:40-46, hash.go:5-14
  serde  = LE u32 M | u32 K | u64 Seed | words×u64   filter.go:63-92

Deviation (documented, SURVEY.md Q1): the reference stores a Seed it never
feeds to xxh3 (filter.go:30,39) — hashing here actually uses the seed, with a
fixed default, so independent sketches are possible while default behavior
stays deterministic.

Distributed semantics: two filters with equal (m, k, seed) agree bit-for-bit
on shared keys, so union = bitwise OR — the associative merge the operator
layer's tree reduction uses.  Invariants: zero false negatives; measured
FPR ≤ configured p (reference rounds m UP, so real FPR < p).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..core import hashing, xxh3
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register

_LN2 = math.log(2.0)


@dataclass(frozen=True)
class BloomParams:
    n: int
    p: float
    seed: int = hashing.DEFAULT_SEED
    # "splitmix64" (engine default, seeded) or "xxh3" (reference bit-parity:
    # hashes are UNSEEDED exactly like the Go filter, which stores a Seed it
    # never feeds to xxh3 — quirk Q1).  xxh3 mode covers keys of ANY length
    # (core/xxh3.py implements every length class incl. the 129-240 ladder
    # and the >240 stripe accumulator); it makes a filter built by the Go
    # reference probe-compatible after deserialize(hash_family="xxh3").
    hash_family: str = "splitmix64"
    m_pre: int = field(init=False)
    k: int = field(init=False)
    m: int = field(init=False)
    n_words: int = field(init=False)

    def __post_init__(self):
        if self.n <= 0 or not (0.0 < self.p < 1.0):
            raise ValueError(f"invalid Bloom params n={self.n} p={self.p}")
        if self.hash_family not in ("splitmix64", "xxh3"):
            raise ValueError(f"unknown hash_family {self.hash_family!r}")
        m_pre = math.ceil(-self.n * math.log(self.p) / (_LN2 * _LN2))
        k = max(1, round((m_pre / self.n) * _LN2))
        m = hashing.next_power_of_two(m_pre)
        object.__setattr__(self, "m_pre", m_pre)
        object.__setattr__(self, "k", k)
        object.__setattr__(self, "m", m)
        object.__setattr__(self, "n_words", (m >> 6) + 1)

    @property
    def bits_per_item(self) -> float:
        return self.m / self.n

    def analytic_fpr(self) -> float:
        """(1 - e^{-kn/m})^k with the post-round-up m."""
        return (1.0 - math.exp(-self.k * self.n / self.m)) ** self.k


@register
class BloomSketch:
    kind = "bloom"
    multiset_pure = True

    def __init__(self, params: BloomParams):
        self.params = params

    # -- state ------------------------------------------------------------
    def empty(self) -> np.ndarray:
        return np.zeros(self.params.n_words, dtype=np.uint64)

    # -- build ------------------------------------------------------------
    def _update_hashes(self, state: np.ndarray, h: np.ndarray) -> None:
        """Allocation-light K-M loop: k vectorized passes reusing one index
        buffer, bits staged in a bool array and packed once (measured ~2×
        faster than materializing the (N,k) index matrix; see
        core/hashing.py timing notes)."""
        p = self.params
        mask = np.uint64(p.m - 1)
        h1, h2 = hashing.split_h1_h2(h)
        # bool-staging is O(m) per call: only worth it when this batch's
        # k·N updates are dense relative to the filter (measured crossover
        # ≈ m/64..m/32) — sparse batches (small Arrow batch, huge m) route
        # to the O(updates) set_bits/.at path
        if 64 <= p.m <= hashing._PACKBITS_MAX_BITS \
                and h.size * p.k >= (p.m >> 5):
            bb = np.zeros(p.m, dtype=bool)
            idx = np.empty(h.size, np.uint64)
            with np.errstate(over="ignore"):
                np.bitwise_and(h1, mask, out=idx)
                bb[idx] = True
                for i in range(1, p.k):
                    np.multiply(h2, np.uint64(i), out=idx)
                    np.add(idx, h1, out=idx)
                    np.bitwise_and(idx, mask, out=idx)
                    bb[idx] = True
            state[: p.m >> 6] |= np.packbits(bb, bitorder="little").view(np.uint64)
        else:
            idx = hashing.km_indices(h, p.m, p.k).ravel()
            hashing.set_bits(state, idx, p.m)

    def _hash(self, values, kind: str) -> np.ndarray:
        p = self.params
        if p.hash_family == "xxh3":
            # reference parity: UNSEEDED xxh3 regardless of p.seed (quirk Q1)
            if kind == "i32":
                return xxh3.xxh3_64_i32(values)
            if kind == "i64":
                return xxh3.xxh3_64_i64(values)
            if isinstance(values, hashing.StrBuf):
                return xxh3.xxh3_64_bytes(values)  # zero-copy Arrow path
            enc = [v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                   for v in values]
            return xxh3.xxh3_64_bytes(enc)
        fn = {"i32": hashing.hash64_i32, "i64": hashing.hash64_i64,
              "str": hashing.hash64_str}[kind]
        return fn(values, p.seed)

    def update_i32(self, state: np.ndarray, values: np.ndarray) -> None:
        # a key's multiplicity never matters to a bit filter: collapse
        # duplicates first so hash + K-M expansion + scatter run on the
        # distinct domain (zipfian token batches shrink ~31×, bit-identical
        # final state — same bits set either way)
        packed = hashing.compact_i32_counts(values)
        if packed is not None:
            values = packed[0]
        self._update_hashes(state, self._hash(values, "i32"))

    def update_i64(self, state: np.ndarray, values: np.ndarray) -> None:
        self._update_hashes(state, self._hash(values, "i64"))

    def update_str(self, state: np.ndarray, values) -> None:
        self._update_hashes(state, self._hash(values, "str"))

    # -- probe ------------------------------------------------------------
    def _contains_hashes(self, state: np.ndarray, h: np.ndarray) -> np.ndarray:
        """k vectorized probe passes with an AND accumulator (no (N,k)
        matrix); the reference's per-key short-circuit (filter.go:56-58) is
        replaced by skipping later passes once the accumulator is all-False."""
        p = self.params
        mask = np.uint64(p.m - 1)
        h1, h2 = hashing.split_h1_h2(h)
        alive = np.ones(h.size, dtype=bool)
        idx = np.empty(h.size, np.uint64)
        with np.errstate(over="ignore"):
            for i in range(p.k):
                np.multiply(h2, np.uint64(i), out=idx)
                np.add(idx, h1, out=idx)
                np.bitwise_and(idx, mask, out=idx)
                words = state[(idx >> np.uint64(6)).astype(np.int64)]
                hit = ((words >> (idx & np.uint64(63))) & np.uint64(1)).astype(bool)
                alive &= hit
                if not alive.any():
                    break
        return alive

    def contains_i32(self, state: np.ndarray, values: np.ndarray) -> np.ndarray:
        return self._contains_hashes(state, self._hash(values, "i32"))

    def contains_i64(self, state: np.ndarray, values: np.ndarray) -> np.ndarray:
        return self._contains_hashes(state, self._hash(values, "i64"))

    def contains_str(self, state: np.ndarray, values) -> np.ndarray:
        return self._contains_hashes(state, self._hash(values, "str"))

    # -- merge ------------------------------------------------------------
    def merge(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return np.bitwise_or(a, b)

    def intersect(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Approximate set intersection: bitwise AND of two filters with
        identical (m, k, seed).  Every key of the TRUE intersection has all
        its bits set in both filters, so membership keeps zero false
        negatives; keys of only one side false-positive at ≈ the other
        side's fill rate (the AND filter is a subset of both inputs'
        member sets).  Associative and commutative like merge."""
        return np.bitwise_and(a, b)

    # -- cardinality (Swamidass & Baldi 2007) ------------------------------
    def estimate_cardinality(self, state: np.ndarray) -> float:
        """n̂ = -(m/k)·ln(1 − X/m) from the fill ratio (X = set bits): the
        filter doubles as a distinct counter, and because merge is bitwise
        OR the estimate composes over unions.  Saturated filter → inf."""
        p = self.params
        # count bits [0, m) from the little-endian words — a whole-word
        # slice (m >> 6 words) would be empty for sub-word filters (m < 64)
        bits = np.unpackbits(state.view(np.uint8), bitorder="little")
        x = int(bits[: p.m].sum())
        if x >= p.m:
            return float("inf")
        return -(p.m / p.k) * math.log1p(-x / p.m)

    # -- serde (reference byte layout, bloom/filter.go:63-92) --------------
    header_len = 16  # u32 m | u32 k | u64 seed
    state_bytes_max = property(lambda self: 16 + self.params.n_words * 8)

    def serialize(self, state: np.ndarray) -> bytes:
        p = self.params
        if p.m >= 1 << 32:
            # the reference format stores M as u32 (bloom/filter.go:67);
            # a >512 MiB single filter should be sharded upstream anyway.
            raise ValueError("m exceeds the reference's u32 header field")
        header = pack_u32(p.m) + pack_u32(p.k) + pack_u64(p.seed)
        return header + state.astype("<u8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes, n: int | None = None, p: float | None = None,
                    hash_family: str = "splitmix64"):
        """Rebuild (sketch, state) from the reference-layout blob.

        m and k are authoritative from the header; (n, p) are only needed to
        reconstruct a params object for documentation — sizing is overridden
        to the serialized values exactly as the reference's Deserialize does
        (/root/reference/filter/bloom/filter.go:77-92).  The layout carries
        no hash-family field; pass hash_family="xxh3" for blobs produced by
        the Go reference so probes use its (unseeded) xxh3 hashing.
        """
        r = Reader(blob)
        m = r.u32()
        k = r.u32()
        seed = r.u64()
        n_words = (m >> 6) + 1
        state = r.array("<u8", n_words)
        params = object.__new__(BloomParams)
        object.__setattr__(params, "n", n or 0)
        object.__setattr__(params, "p", p or 0.0)
        object.__setattr__(params, "seed", seed)
        object.__setattr__(params, "hash_family", hash_family)
        object.__setattr__(params, "m_pre", m)
        object.__setattr__(params, "k", k)
        object.__setattr__(params, "m", m)
        object.__setattr__(params, "n_words", n_words)
        r.end()
        return cls(params), state
