"""Cuckoo filter — 8-bit fingerprints, 4-way buckets, delete support.

Mirrors /root/reference/filter/cuckoo/filter.go:
  M = nextpow2(ceil(n / 4 / loadFactor)) buckets        filter.go:29
  4 slots × 1-byte fingerprint, 0 = empty sentinel       filter.go:12-19
  Hash: h1 = hi32(hash(key, seed)) & (M-1);
        fp = low byte, with 0 remapped to 1              filter.go:108-118
  AlternateIndex(h1, fp) = h1 ^ (hi32(hash([fp], fp_seed)) & (M-1))
        — an involution (partial-key cuckoo)             filter.go:120-124
  Insert: try both buckets, then random-walk eviction,
        give up after MaxKicks=500 → returns False       filter.go:39-66
  Delete removes ONE copy (multiset semantics)           filter.go:87-106
  serde: LE u32 M | u64 FpSeed | u64 Seed | M×4 bytes    filter.go:143-158

Distributed scoping (SURVEY.md §2.3): cuckoo filters are NOT safely
union-mergeable (bucket overflow breaks the ≤8-copies-per-fingerprint
invariant), and the reference never merges them.  This engine builds cuckoo
filters single-writer — per group via ``groupBy(key).applyInArrow`` — and
registers no merge.  The eviction random walk uses a seeded generator so
builds are deterministic.

Insert is bulk-vectorized for the common case (keys whose primary/alternate
bucket has a free slot are placed in one numpy pass); only keys that still
collide fall back to the per-key eviction walk, matching the reference's
kick semantics.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register

SLOTS = 4          # filter.go:13
MAX_KICKS = 500    # filter.go:16
FP_NULL = 0        # empty-slot sentinel, filter.go:18


@dataclass(frozen=True)
class CuckooParams:
    n: int
    load_factor: float
    seed: int = hashing.DEFAULT_SEED
    fp_seed: int = 0x0F1E2D3C4B5A6978
    # "splitmix64" (engine default) or "metro" (reference bit-parity:
    # metro.Hash64(data, Seed) / metro.Hash64([fp], FpSeed) exactly as
    # /root/reference/filter/cuckoo/filter.go:109-124 — a Go-built cuckoo
    # blob deserialized with hash_family="metro" probes and deletes
    # correctly).  Unlike Bloom's quirk Q1, cuckoo DOES use its seeds.
    hash_family: str = "splitmix64"
    m: int = field(init=False)  # bucket count

    def __post_init__(self):
        if self.n <= 0 or not (0.0 < self.load_factor <= 1.0):
            raise ValueError("invalid cuckoo params")
        if self.hash_family not in ("splitmix64", "metro"):
            raise ValueError(f"unknown hash_family {self.hash_family!r}")
        m = hashing.next_power_of_two(math.ceil(self.n / SLOTS / self.load_factor))
        object.__setattr__(self, "m", max(m, 1))


@register
class CuckooFilter:
    kind = "cuckoo"
    # no union merge and a sequential eviction walk: single-writer only
    multiset_pure = False

    def __init__(self, params: CuckooParams):
        self.params = params
        # 256-entry fp → bucket-offset table; alt = h1 ^ table[fp]
        # (reference recomputes metro64([fp]) per call, filter.go:120-124 —
        # same function, precomputed once here).
        if params.hash_family == "metro":
            from ..core import metro
            offs = metro.metro64_bytes([bytes([f]) for f in range(256)],
                                       seed=params.fp_seed)
        else:
            offs = hashing.hash64_i32(np.arange(256, dtype=np.int32), params.fp_seed)
        self._alt_table = ((offs >> np.uint64(32)) & np.uint64(params.m - 1)).astype(np.uint64)

    def empty(self) -> np.ndarray:
        return np.zeros((self.params.m, SLOTS), dtype=np.uint8)

    # -- hashing ------------------------------------------------------------
    def _fingerprints(self, values, kind) -> tuple[np.ndarray, np.ndarray]:
        """→ (h1 bucket index uint64, fp uint8) per key — filter.go:108-118."""
        p = self.params
        if p.hash_family == "metro":
            from ..core import metro
            if kind == "i64":
                h = metro.metro64_i64(np.asarray(values, np.int64), p.seed)
            elif kind in (True, "str"):
                if isinstance(values, hashing.StrBuf):
                    h = metro.metro64_bytes(values, p.seed)  # zero-copy
                else:
                    enc = [v if isinstance(v, (bytes, bytearray))
                           else str(v).encode() for v in values]
                    h = metro.metro64_bytes(enc, p.seed)
            else:
                h = metro.metro64_i32(np.asarray(values, np.int32), p.seed)
        elif kind is True or kind == "str":
            h = hashing.hash64_str(values, p.seed)
        elif kind == "i64":
            h = hashing.hash64_i64(np.asarray(values, np.int64), p.seed)
        else:
            h = hashing.hash64_i32(np.asarray(values, np.int32), p.seed)
        h1 = (h >> np.uint64(32)) & np.uint64(p.m - 1)
        fp = (h & np.uint64(0xFF)).astype(np.uint8)
        fp[fp == FP_NULL] = 1  # sentinel remap, filter.go:114-116
        return h1, fp

    def alt_index(self, h: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (h ^ self._alt_table[fp.astype(np.intp)]) & np.uint64(self.params.m - 1)

    # -- insert ---------------------------------------------------------------
    def insert_i32(self, state: np.ndarray, values: np.ndarray, rng_seed: int = 0) -> int:
        h1, fp = self._fingerprints(values, "i32")
        return self._insert(state, h1, fp, rng_seed)

    def insert_i64(self, state: np.ndarray, values: np.ndarray, rng_seed: int = 0) -> int:
        h1, fp = self._fingerprints(values, "i64")
        return self._insert(state, h1, fp, rng_seed)

    def insert_str(self, state: np.ndarray, values, rng_seed: int = 0) -> int:
        h1, fp = self._fingerprints(values, "str")
        return self._insert(state, h1, fp, rng_seed)

    def _insert(self, state: np.ndarray, h1: np.ndarray, fp: np.ndarray, rng_seed: int) -> int:
        """Insert all keys; returns the number that FAILED (capacity)."""
        rng = np.random.default_rng((self.params.seed, rng_seed))
        failed = 0
        # bulk pass: groups of keys are placed vectorized per round; a key
        # whose target bucket ran out of slots this round is retried next
        # round against the refreshed occupancy.
        pending_h = h1.astype(np.uint64)
        pending_fp = fp
        for which in ("primary", "alternate"):
            if pending_h.size == 0:
                break
            pending_h, pending_fp = self._bulk_place(state, pending_h, pending_fp)
            if which == "primary" and pending_h.size:
                pending_h = self.alt_index(pending_h, pending_fp)
        # eviction walk for the stragglers (reference filter.go:39-66)
        for i in range(pending_h.size):
            if not self._insert_with_kicks(state, int(pending_h[i]), int(pending_fp[i]), rng):
                failed += 1
        return failed

    def _bulk_place(self, state, h, fp):
        """Vectorized first-empty-slot placement; returns unplaced (h, fp)."""
        remaining_h, remaining_fp = h, fp
        for _ in range(SLOTS):
            if remaining_h.size == 0:
                break
            buckets = state[remaining_h.astype(np.intp)]          # (N,4)
            empty = buckets == FP_NULL
            has_free = empty.any(axis=1)
            slot = empty.argmax(axis=1)
            # collision: several keys target the same (bucket, slot) this
            # round — keep the first occurrence only, retry the rest.
            key = remaining_h * np.uint64(SLOTS) + slot.astype(np.uint64)
            order = np.arange(remaining_h.size)
            first = np.zeros(remaining_h.size, dtype=bool)
            _, first_idx = np.unique(key, return_index=True)
            first[first_idx] = True
            place = has_free & first
            state[remaining_h[place].astype(np.intp), slot[place]] = remaining_fp[place]
            retry = ~place & has_free
            keep_full = ~has_free
            # keys whose bucket is flat-out full exit the loop (caller moves
            # them to the alternate bucket / eviction walk)
            nxt = retry
            out_h = remaining_h[keep_full | nxt]
            out_fp = remaining_fp[keep_full | nxt]
            if not nxt.any():
                return out_h, out_fp
            remaining_h, remaining_fp = out_h, out_fp
        return remaining_h, remaining_fp

    def _bucket_insert(self, state, h: int, fp: int) -> bool:
        """First empty slot wins — filter.go:126-134."""
        row = state[h]
        for s in range(SLOTS):
            if row[s] == FP_NULL:
                row[s] = fp
                return True
        return False

    def _insert_with_kicks(self, state, h1: int, fp: int, rng) -> bool:
        h2 = int(self.alt_index(np.array([h1], np.uint64), np.array([fp], np.uint8))[0])
        if self._bucket_insert(state, h1, fp) or self._bucket_insert(state, h2, fp):
            return True
        h = h1 if rng.integers(0, 2) == 0 else h2  # RandomChoise, filter.go:48,136-141
        for _ in range(MAX_KICKS):  # iterative form of filter.go:51-66
            victim_slot = int(rng.integers(0, SLOTS))
            victim_fp = int(state[h, victim_slot])
            state[h, victim_slot] = fp
            fp = victim_fp
            h = int(self.alt_index(np.array([h], np.uint64), np.array([fp], np.uint8))[0])
            if self._bucket_insert(state, h, fp):
                return True
        return False

    # -- lookup / delete ------------------------------------------------------
    def _lookup(self, state, h1, fp) -> np.ndarray:
        h2 = self.alt_index(h1, fp)
        b1 = state[h1.astype(np.intp)]
        b2 = state[h2.astype(np.intp)]
        return ((b1 == fp[:, None]).any(axis=1)) | ((b2 == fp[:, None]).any(axis=1))

    def contains_i32(self, state, values) -> np.ndarray:
        h1, fp = self._fingerprints(values, "i32")
        return self._lookup(state, h1, fp)

    def contains_i64(self, state, values) -> np.ndarray:
        h1, fp = self._fingerprints(values, "i64")
        return self._lookup(state, h1, fp)

    def contains_str(self, state, values) -> np.ndarray:
        h1, fp = self._fingerprints(values, "str")
        return self._lookup(state, h1, fp)

    def delete_i32(self, state, values) -> np.ndarray:
        """Remove ONE copy per key (multiset semantics, filter.go:87-106).
        Returns per-key success.  Single-writer only."""
        h1, fp = self._fingerprints(np.asarray(values, np.int32), "i32")
        return self._delete(state, h1, fp)

    def delete_i64(self, state, values) -> np.ndarray:
        h1, fp = self._fingerprints(np.asarray(values, np.int64), "i64")
        return self._delete(state, h1, fp)

    def delete_str(self, state, values) -> np.ndarray:
        h1, fp = self._fingerprints(values, "str")
        return self._delete(state, h1, fp)

    def _delete(self, state, h1, fp) -> np.ndarray:
        out = np.zeros(h1.shape[0], dtype=bool)
        for i in range(h1.shape[0]):  # deletes are rare; per-key is fine
            f = fp[i]
            for h in (int(h1[i]), int(self.alt_index(h1[i:i+1], fp[i:i+1])[0])):
                row = state[h]
                hits = np.flatnonzero(row == f)
                if hits.size:
                    row[hits[0]] = FP_NULL
                    out[i] = True
                    break
        return out

    # -- serde (filter.go:143-179) ---------------------------------------------
    header_len = 20  # u32 m | u64 fp_seed | u64 seed
    state_bytes_max = property(lambda self: 20 + self.params.m * SLOTS)

    def serialize(self, state: np.ndarray) -> bytes:
        p = self.params
        return (pack_u32(p.m) + pack_u64(p.fp_seed) + pack_u64(p.seed)
                + state.astype(np.uint8).tobytes())

    @classmethod
    def deserialize(cls, blob: bytes, hash_family: str = "splitmix64"):
        """The reference layout carries no hash-family field; pass
        hash_family="metro" for blobs produced by the Go reference so probes
        and deletes use its metro hashing with the stored seeds."""
        r = Reader(blob)
        m = r.u32()
        fp_seed = r.u64()
        seed = r.u64()
        state = r.array(np.uint8, m * SLOTS).reshape(m, SLOTS)
        params = object.__new__(CuckooParams)
        object.__setattr__(params, "n", 0)
        object.__setattr__(params, "load_factor", 0.0)
        object.__setattr__(params, "seed", seed)
        object.__setattr__(params, "fp_seed", fp_seed)
        object.__setattr__(params, "hash_family", hash_family)
        object.__setattr__(params, "m", m)
        r.end()
        return cls(params), state
