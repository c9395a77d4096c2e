"""Count-min sketch — frequency point queries (north-rule extension,
SURVEY.md §2.7).

Cormode & Muthukrishnan 2005: d×w int64 counter matrix,
  w = ceil(e / eps), d = ceil(ln(1/delta))
  update: counts[j, h_j(x) % w] += 1 for each of the d rows
  point estimate: min_j counts[j, h_j(x)]  — never underestimates;
  overestimate ≤ eps·N with probability ≥ 1-delta.
  merge = element-wise + (associative, commutative).

Row indices derive from ONE 64-bit hash via the Kirsch–Mitzenmacher
expansion (idx_j = (h1 + j·h2) mod w — the same argument the reference's
Bloom filter uses, /root/reference/filter/hash.go:5-14; K-M 2006 shows the
ε-δ analysis survives the derived family), so a batch costs one mixer pass
instead of d.  Updates are vectorized with np.bincount per row.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64, pack_f64
from .base import register


@dataclass(frozen=True)
class CMSParams:
    eps: float = 0.0001
    delta: float = 0.001
    seed: int = hashing.DEFAULT_SEED
    # conservative update (Estan & Varghese 2002): bump each row only up to
    # min-row-estimate + weight — strictly tighter point estimates, same
    # no-underestimate guarantee.  Still sum-mergeable across partitions:
    # each partition's cells dominate that partition's true counts, so the
    # sum dominates the total (the bound degrades toward plain CMS as
    # partition count grows, never below it).  Not serialized — an update-
    # time policy, not a state property.
    conservative: bool = False
    w: int = field(init=False)
    d: int = field(init=False)

    def __post_init__(self):
        if not (0 < self.eps < 1) or not (0 < self.delta < 1):
            raise ValueError("invalid CMS params")
        object.__setattr__(self, "w", int(math.ceil(math.e / self.eps)))
        object.__setattr__(self, "d", int(math.ceil(math.log(1.0 / self.delta))))


@register
class CMSSketch:
    kind = "cms"

    # conservative update raises cells against the running estimate, so
    # its state depends on how the stream is batched
    multiset_pure = property(lambda self: not self.params.conservative)

    def __init__(self, params: CMSParams):
        self.params = params

    def empty(self) -> np.ndarray:
        return np.zeros((self.params.d, self.params.w), dtype=np.int64)

    def _hash(self, values, kind) -> np.ndarray:
        if kind is True or kind == "str":
            return hashing.hash64_str(values, self.params.seed)
        if kind == "i64":
            return hashing.hash64_i64(np.asarray(values, np.int64), self.params.seed)
        return hashing.hash64_i32(np.asarray(values, np.int32), self.params.seed)

    def _row_idx_from(self, h: np.ndarray, j: int) -> np.ndarray:
        h1, h2 = hashing.split_h1_h2(h)
        with np.errstate(over="ignore"):
            mixed = h1 + np.uint64(j) * h2
        return (mixed % np.uint64(self.params.w)).astype(np.int64)

    def _update(self, state, values, kind, weights=None) -> None:
        if weights is None and kind == "i32":
            # counters are weight-additive: collapsing duplicates to
            # (unique, count) and adding counts yields bit-identical cells
            # while hash + d-row index/scatter run on the distinct domain
            packed = hashing.compact_i32_counts(values)
            if packed is not None:
                values, weights = packed
        h = self._hash(values, kind)
        p = self.params
        if p.conservative:
            # vectorized conservative update: aggregate the batch per
            # distinct key, read each key's current min-row estimate, then
            # raise every row cell to at most est+weight (np.maximum.at
            # resolves distinct keys colliding in a cell conservatively —
            # the result never exceeds the sequential update and never
            # drops below any key's true count)
            uh, inv = np.unique(h, return_inverse=True)
            if weights is None:
                wagg = np.bincount(inv, minlength=uh.size).astype(np.int64)
            else:
                wagg = np.zeros(uh.size, np.int64)
                np.add.at(wagg, inv, np.asarray(weights, np.int64))
            idx = [self._row_idx_from(uh, j) for j in range(p.d)]
            est = np.stack([state[j, idx[j]] for j in range(p.d)]).min(axis=0)
            new = est + wagg
            for j in range(p.d):
                np.maximum.at(state[j], idx[j], new)
            return
        w64 = None if weights is None else np.asarray(weights, np.int64)
        # float64-weighted bincount is exact while every partial per-cell sum
        # stays an integer below 2^53 — guaranteed when the batch's total
        # weight is; the (never-seen-in-practice) overflow-risk batch falls
        # back to the slower int64-exact np.add.at
        w_exact = w64 is not None and int(w64.sum()) < (1 << 52)
        for j in range(p.d):
            idx = self._row_idx_from(h, j)
            if w64 is None:
                state[j] += np.bincount(idx, minlength=p.w)
            elif w_exact:
                state[j] += np.bincount(idx, weights=w64,
                                        minlength=p.w).astype(np.int64)
            else:
                np.add.at(state[j], idx, w64)

    def update_i32(self, state, values, weights=None) -> None:
        self._update(state, values, "i32", weights)

    def update_i64(self, state, values, weights=None) -> None:
        self._update(state, values, "i64", weights)

    def update_str(self, state, values, weights=None) -> None:
        self._update(state, values, "str", weights)

    def _point(self, state, h: np.ndarray) -> np.ndarray:
        ests = np.stack([state[j, self._row_idx_from(h, j)]
                         for j in range(self.params.d)])
        return ests.min(axis=0)

    def point_i32(self, state, values) -> np.ndarray:
        return self._point(state, self._hash(values, "i32"))

    def point_i64(self, state, values) -> np.ndarray:
        return self._point(state, self._hash(values, "i64"))

    def point_str(self, state, values) -> np.ndarray:
        return self._point(state, self._hash(values, "str"))

    def merge(self, a, b) -> np.ndarray:
        return a + b

    header_len = 32  # u32 d | u32 w | u64 seed | f64 eps | f64 delta
    state_bytes_max = property(
        lambda self: 32 + self.params.d * self.params.w * 8)

    def serialize(self, state: np.ndarray) -> bytes:
        p = self.params
        header = (pack_u32(p.d) + pack_u32(p.w) + pack_u64(p.seed)
                  + pack_f64(p.eps) + pack_f64(p.delta))
        return header + state.astype("<i8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        d = r.u32()
        w = r.u32()
        seed = r.u64()
        eps = r.f64()
        delta = r.f64()
        state = r.array("<i8", d * w).reshape(d, w)
        params = object.__new__(CMSParams)
        object.__setattr__(params, "eps", eps)
        object.__setattr__(params, "delta", delta)
        object.__setattr__(params, "seed", seed)
        object.__setattr__(params, "conservative", False)
        object.__setattr__(params, "w", w)
        object.__setattr__(params, "d", d)
        r.end()
        return cls(params), state
