"""KLL quantile sketch (Karnin–Lang–Liberty 2016; north-rule extension,
SURVEY.md §2.7; KLL± VLDB 2021 listed in PAPERS.md).

Level-wise compactors: an item at level h carries weight 2^h.  Level
capacities shrink geometrically (c = 2/3) from k at the top; when total size
exceeds total capacity the lowest over-full level is compacted — sort, keep
every other item (random even/odd offset), promote survivors one level up.

merge = per-level concatenation + re-compaction: associative/commutative up
to the published rank-error bound (verified by merge-permutation tests).
Normalized rank error ≈ 2.296 / k^0.9 at 99% confidence (Apache DataSketches
published formula for the same construction).

Randomness (the even/odd coin) is drawn from a counter-seeded generator so
builds are deterministic; the counter is part of the serialized state.
Values are float64 (int32 tokens / int64 counts embed exactly).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register

_C = 2.0 / 3.0


@dataclass(frozen=True)
class KLLParams:
    k: int = 200
    seed: int = hashing.DEFAULT_SEED

    def __post_init__(self):
        if self.k < 8:
            raise ValueError("KLL k must be >= 8")

    @property
    def rank_error(self) -> float:
        """Normalized rank error at ~99% confidence."""
        return 2.296 / (self.k ** 0.9)


class KLLState:
    __slots__ = ("levels", "n", "counter")

    def __init__(self, levels=None, n=0, counter=0):
        self.levels: list[np.ndarray] = levels or [np.empty(0, np.float64)]
        self.n: int = n
        self.counter: int = counter


@register
class KLLSketch:
    kind = "kll"
    # compaction depends on the order values arrive in
    multiset_pure = False

    def __init__(self, params: KLLParams):
        self.params = params

    def empty(self) -> KLLState:
        return KLLState()

    # -- capacities ---------------------------------------------------------
    def _cap(self, level: int, num_levels: int) -> int:
        depth = num_levels - 1 - level
        return max(2, int(math.ceil(self.params.k * (_C ** depth))))

    def _total_cap(self, num_levels: int) -> int:
        return sum(self._cap(h, num_levels) for h in range(num_levels))

    # -- build ----------------------------------------------------------------
    def update(self, state: KLLState, values: np.ndarray) -> None:
        vals = np.asarray(values, np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return
        state.levels[0] = np.concatenate([state.levels[0], vals])
        state.n += int(vals.size)
        self._compress(state)

    update_i32 = update
    update_f64 = update

    def _compress(self, state: KLLState) -> None:
        while sum(a.size for a in state.levels) > self._total_cap(len(state.levels)):
            # find lowest level exceeding its capacity
            for h in range(len(state.levels)):
                if state.levels[h].size > self._cap(h, len(state.levels)):
                    break
            else:
                break
            buf = np.sort(state.levels[h])
            rng = np.random.default_rng((self.params.seed, state.counter))
            state.counter += 1
            off = int(rng.integers(0, 2))
            promoted = buf[off::2]
            state.levels[h] = np.empty(0, np.float64)
            if h + 1 == len(state.levels):
                state.levels.append(np.empty(0, np.float64))
            state.levels[h + 1] = np.concatenate([state.levels[h + 1], promoted])

    # -- merge ------------------------------------------------------------------
    def merge(self, a: KLLState, b: KLLState) -> KLLState:
        levels = []
        for h in range(max(len(a.levels), len(b.levels))):
            xs = a.levels[h] if h < len(a.levels) else np.empty(0, np.float64)
            ys = b.levels[h] if h < len(b.levels) else np.empty(0, np.float64)
            levels.append(np.concatenate([xs, ys]))
        out = KLLState(levels, a.n + b.n, a.counter + b.counter)
        self._compress(out)
        return out

    # -- queries ------------------------------------------------------------------
    def _weighted(self, state: KLLState) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, arr in enumerate(state.levels):
            if arr.size:
                items.append(arr)
                weights.append(np.full(arr.size, 1 << h, np.int64))
        if not items:
            return np.empty(0, np.float64), np.empty(0, np.int64)
        x = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(x, kind="stable")
        return x[order], w[order]

    def rank(self, state: KLLState, values: np.ndarray) -> np.ndarray:
        """Estimated normalized rank (fraction of items ≤ v) per value."""
        x, w = self._weighted(state)
        if x.size == 0:
            return np.zeros(np.asarray(values).shape, np.float64)
        cum = np.cumsum(w)
        pos = np.searchsorted(x, np.asarray(values, np.float64), side="right")
        total = cum[-1]
        le = np.where(pos > 0, cum[np.maximum(pos - 1, 0)], 0)
        return le / total

    def quantiles(self, state: KLLState, qs) -> np.ndarray:
        x, w = self._weighted(state)
        if x.size == 0:
            return np.full(len(qs), np.nan)
        cum = np.cumsum(w)
        total = cum[-1]
        targets = np.clip(np.asarray(qs, np.float64), 0, 1) * total
        pos = np.searchsorted(cum, targets, side="left")
        return x[np.minimum(pos, x.size - 1)]

    # -- serde -----------------------------------------------------------------
    header_len = 12  # u32 k | u64 seed (n/counter follow, may differ)
    # every mutation ends in _compress, leaving at most _total_cap(levels)
    # items; an item at level h weighs 2^h of the u64 n, so ≤ 64 levels
    state_bytes_max = property(
        lambda self: 32 + 64 * 4 + self._total_cap(64) * 8)

    def serialize(self, state: KLLState) -> bytes:
        head = (pack_u32(self.params.k) + pack_u64(self.params.seed)
                + pack_u64(state.n) + pack_u64(state.counter)
                + pack_u32(len(state.levels)))
        lens = b"".join(pack_u32(a.size) for a in state.levels)
        body = np.concatenate(state.levels) if state.levels else np.empty(0, np.float64)
        return head + lens + body.astype("<f8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        k = r.u32()
        seed = r.u64()
        n = r.u64()
        counter = r.u64()
        n_levels = r.u32()
        sizes = [r.u32() for _ in range(n_levels)]
        flat = r.array("<f8", sum(sizes))
        levels, off = [], 0
        for s in sizes:
            levels.append(flat[off:off + s].copy())
            off += s
        r.end()
        return cls(KLLParams(k=k, seed=seed)), KLLState(levels, n, counter)
