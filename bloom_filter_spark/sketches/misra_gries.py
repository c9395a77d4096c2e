"""Misra–Gries heavy-hitters sketch (engine extension, same mergeable shape).

Tracks at most k counters; batch update folds exact batch counts in, then
trims to k by subtracting the (k+1)-largest count from every counter and
dropping non-positives (the batch/merge form of the classic decrement).

Guarantees (Misra & Gries 1982; merge form per Agarwal et al. 2013,
"Mergeable Summaries"):
  - any key with true count > N/(k+1) is tracked;
  - tracked estimates UNDER-estimate by at most the accumulated decrement
    offset ≤ N/(k+1)  (the sketch carries the offset so the bound is
    queryable);
  - merge = counter sum + one trim: associative up to the bound, and the
    offset adds — exactly the property the merge-permutation tests check.

Complements CMS: CMS answers point queries for ANY key (overestimate);
MG enumerates the heavy keys themselves (underestimate) — together they
bracket the true count.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register


@dataclass(frozen=True)
class MGParams:
    k: int = 1024  # max tracked counters

    def __post_init__(self):
        if self.k < 8:
            raise ValueError("MG k must be >= 8")


class MGState:
    __slots__ = ("keys", "counts", "n", "offset")

    def __init__(self, keys=None, counts=None, n=0, offset=0):
        self.keys = keys if keys is not None else np.empty(0, np.int64)
        self.counts = counts if counts is not None else np.empty(0, np.int64)
        self.n = n          # total items ingested
        self.offset = offset  # accumulated decrement (max underestimate)


@register
class MGSketch:
    kind = "mg"
    # the k-th-count decrement depends on the order keys arrive in
    multiset_pure = False

    def __init__(self, params: MGParams):
        self.params = params

    def empty(self) -> MGState:
        return MGState()

    def _fold(self, state: MGState, keys: np.ndarray, counts: np.ndarray) -> None:
        all_keys = np.concatenate([state.keys, keys])
        all_counts = np.concatenate([state.counts, counts])
        if all_keys.size == 0:  # e.g. merging two empty partials
            return
        order = np.argsort(all_keys, kind="stable")
        k_sorted = all_keys[order]
        c_sorted = all_counts[order]
        starts = np.flatnonzero(np.r_[True, k_sorted[1:] != k_sorted[:-1]])
        uniq = k_sorted[starts]
        sums = np.add.reduceat(c_sorted, starts)
        if uniq.size > self.params.k:
            # subtract the (k+1)-largest count, drop non-positive
            kth = np.partition(sums, uniq.size - self.params.k - 1)[
                uniq.size - self.params.k - 1]
            sums = sums - kth
            keep = sums > 0
            uniq, sums = uniq[keep], sums[keep]
            state.offset += int(kth)
        state.keys, state.counts = uniq, sums

    def update_i64(self, state: MGState, values: np.ndarray) -> None:
        vals = np.asarray(values, np.int64)
        if vals.size == 0:
            return
        uniq, counts = np.unique(vals, return_counts=True)
        self._fold(state, uniq, counts.astype(np.int64))
        state.n += int(vals.size)

    update_i32 = update_i64

    def merge(self, a: MGState, b: MGState) -> MGState:
        out = MGState(a.keys.copy(), a.counts.copy(), a.n + b.n,
                      a.offset + b.offset)
        self._fold(out, b.keys, b.counts)
        return out

    # -- queries ---------------------------------------------------------------
    def top_k(self, state: MGState, k: int):
        """[(key, est_count)] sorted by est desc, key asc; est underestimates
        true count by ≤ state.offset ≤ n/(k_cap+1)."""
        if state.keys.size == 0:
            return []
        order = np.lexsort((state.keys, -state.counts))
        sel = order[:k]
        return [(int(state.keys[i]), int(state.counts[i])) for i in sel]

    def estimate(self, state: MGState, keys: np.ndarray) -> np.ndarray:
        """Lower-bound count estimate per key (0 if untracked)."""
        keys = np.asarray(keys, np.int64)
        pos = np.searchsorted(state.keys, keys)
        pos = np.minimum(pos, max(state.keys.size - 1, 0))
        out = np.zeros(keys.size, np.int64)
        if state.keys.size:
            hit = state.keys[pos] == keys
            out[hit] = state.counts[pos[hit]]
        return out

    def error_bound(self, state: MGState) -> int:
        return state.offset

    # -- serde ------------------------------------------------------------------
    header_len = 4  # u32 k (n/offset follow, may differ)
    state_bytes_max = property(lambda self: 24 + self.params.k * 16)

    def serialize(self, state: MGState) -> bytes:
        head = (pack_u32(self.params.k) + pack_u64(state.n)
                + pack_u64(state.offset) + pack_u32(state.keys.size))
        return (head + state.keys.astype("<i8").tobytes()
                + state.counts.astype("<i8").tobytes())

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        k = r.u32()
        n = r.u64()
        offset = r.u64()
        size = r.u32()
        keys = r.array("<i8", size)
        counts = r.array("<i8", size)
        r.end()
        return cls(MGParams(k=k)), MGState(keys, counts, n, offset)
