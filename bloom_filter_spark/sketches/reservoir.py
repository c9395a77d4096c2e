"""Mergeable uniform reservoir sample (engine extension).

Vitter's reservoir per partition, merged with the weighted-draw rule from
Agarwal et al. 2013 ("Mergeable Summaries"): when combining reservoirs
(R_a, n_a) and (R_b, n_b), each output slot draws from A with probability
n_a/(n_a+n_b), consuming sampled items without replacement — the result is
a uniform k-sample of the union.  n is tracked exactly.

Randomness is counter-seeded for reproducibility; the SAMPLE varies with
merge order by construction (any uniform sample is correct), so the
merge-invariance tests assert exact n, sample-size, and membership validity
plus statistical uniformity — not byte equality.

Values are int64 (sample doc ids / tokens); sampling strings at scale is
done by sampling row ids then semi-joining.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register


@dataclass(frozen=True)
class ReservoirParams:
    k: int = 1024
    seed: int = hashing.DEFAULT_SEED

    def __post_init__(self):
        if self.k < 1:
            raise ValueError("reservoir k must be >= 1")


class ReservoirState:
    __slots__ = ("sample", "n", "counter")

    def __init__(self, sample=None, n=0, counter=0):
        self.sample = sample if sample is not None else np.empty(0, np.int64)
        self.n = n
        self.counter = counter


@register
class ReservoirSketch:
    kind = "reservoir"
    # a seeded random draw over arrival order
    multiset_pure = False

    def __init__(self, params: ReservoirParams):
        self.params = params

    def empty(self) -> ReservoirState:
        return ReservoirState()

    def _rng(self, state: ReservoirState) -> np.random.Generator:
        rng = np.random.default_rng((self.params.seed, state.counter))
        state.counter += 1
        return rng

    def update_i64(self, state: ReservoirState, values: np.ndarray) -> None:
        """Batch Vitter: fill the reservoir, then each further item i (global
        index n+i) replaces a random slot with probability k/(n+i+1)."""
        vals = np.asarray(values, np.int64)
        if vals.size == 0:
            return
        k = self.params.k
        rng = self._rng(state)
        fill = min(k - state.sample.size, vals.size)
        if fill > 0:
            state.sample = np.concatenate([state.sample, vals[:fill]])
        rest = vals[fill:]
        if rest.size:
            # global indices of the remaining items (1-based position)
            pos = state.n + fill + 1 + np.arange(rest.size, dtype=np.int64)
            j = (rng.random(rest.size) * pos).astype(np.int64)  # 0 ≤ j < pos
            take = j < k
            # apply sequentially-equivalent replacements; later items with
            # the same slot overwrite earlier ones exactly as the sequential
            # algorithm would
            idx = np.flatnonzero(take)
            state.sample[j[idx]] = rest[idx]
        state.n += int(vals.size)

    update_i32 = update_i64

    def merge(self, a: ReservoirState, b: ReservoirState) -> ReservoirState:
        k = self.params.k
        out = ReservoirState(counter=a.counter + b.counter + 1)
        rng = np.random.default_rng((self.params.seed, out.counter, a.n, b.n))
        out.n = a.n + b.n
        if a.n == 0 or b.n == 0:
            src = a if b.n == 0 else b
            out.sample = src.sample.copy()
            return out
        # a k-subset of A∪B contains S ~ Hypergeometric(n_a, n_b, k) items
        # from A; a uniform S-subset of A's uniform sample is uniform in A,
        # so drawing S from R_a and k-S from R_b is an exact uniform k-sample
        # of the union (bounded by the available sample sizes)
        k_out = min(k, a.sample.size + b.sample.size)
        s = int(rng.hypergeometric(a.n, b.n, min(k_out, a.n + b.n)))
        s = min(max(s, k_out - b.sample.size), a.sample.size)
        out.sample = np.concatenate([
            rng.permutation(a.sample)[:s],
            rng.permutation(b.sample)[:k_out - s],
        ])
        return out

    header_len = 12  # u32 k | u64 seed
    state_bytes_max = property(lambda self: 32 + self.params.k * 8)

    def serialize(self, state: ReservoirState) -> bytes:
        head = (pack_u32(self.params.k) + pack_u64(self.params.seed)
                + pack_u64(state.n) + pack_u64(state.counter)
                + pack_u32(state.sample.size))
        return head + state.sample.astype("<i8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        k = r.u32()
        seed = r.u64()
        n = r.u64()
        counter = r.u64()
        size = r.u32()
        sample = r.array("<i8", size)
        r.end()
        return cls(ReservoirParams(k=k, seed=seed)), ReservoirState(sample, n, counter)
