"""KMV / theta sketch — distinct counts WITH set operations (engine
extension, same mergeable shape as the rest; SURVEY.md §2.8).

K-Minimum-Values (Bar-Yossef et al. 2002; theta-sketch framing per
Dasgupta/Lang/Rhodes/Thaler, "Theta-Sketch Framework", and the Apache
DataSketches theta design): keep the k smallest DISTINCT 64-bit hash values
seen.  The k-th smallest, scaled to (0,1], estimates the sampled fraction
θ of hash space, so distinct ≈ (k-1)/θ with RSE ≈ 1/√(k-2).

What HLL cannot do and KMV can: the retained values are a uniform hash
SAMPLE of the distinct universe, so SET OPERATIONS compose —
  union:        merge = keep k smallest of the union (associative,
                commutative, idempotent: exactly the operator-layer merge)
  intersection: θ = min(θ_a, θ_b); |{v ∈ A∩B : v < θ·2^64}| / θ
  difference:   same with set minus
Per-source KMV sketches therefore answer "how many distinct tokens do
sources X and Y share?" from state alone — the driver query
`kmv_source_intersection` checks the estimate against the exact SQL count.

State: KMVState holding a sorted uint64 array of ≤ k distinct hashes
(exact while < k).  Serde: LE u32 k | u64 seed | u32 count | count × u64.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register

_SPAN = float(1 << 64)


@dataclass(frozen=True)
class KMVParams:
    k: int = 1024
    seed: int = hashing.DEFAULT_SEED

    def __post_init__(self):
        if self.k < 16:
            raise ValueError("KMV k must be >= 16")

    @property
    def rse(self) -> float:
        return 1.0 / ((self.k - 2) ** 0.5)


class KMVState:
    __slots__ = ("hashes",)

    def __init__(self, hashes=None):
        self.hashes = hashes if hashes is not None else np.empty(0, np.uint64)


@register
class KMVSketch:
    kind = "kmv"
    # the state is the k smallest distinct hashes of the input
    multiset_pure = True

    def __init__(self, params: KMVParams):
        self.params = params

    def empty(self) -> KMVState:
        return KMVState()

    # -- build --------------------------------------------------------------
    def _update_hashes(self, state: KMVState, h: np.ndarray) -> None:
        merged = np.union1d(state.hashes, h)  # sorted + deduplicated
        state.hashes = merged[: self.params.k]

    def update_i32(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_i32(values, self.params.seed))

    def update_i64(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_i64(values, self.params.seed))

    def update_str(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_str(values, self.params.seed))

    def merge(self, a: KMVState, b: KMVState) -> KMVState:
        """Union: k smallest of the combined distinct sets — associative,
        commutative and idempotent (bit-identical under any merge order)."""
        return KMVState(np.union1d(a.hashes, b.hashes)[: self.params.k])

    # -- estimates ------------------------------------------------------------
    def theta(self, state: KMVState) -> float:
        """Sampled fraction of hash space: 1.0 while exact (< k values)."""
        if state.hashes.size < self.params.k:
            return 1.0
        return (float(state.hashes[-1]) + 1.0) / _SPAN

    def estimate(self, state: KMVState) -> float:
        """Distinct-count estimate: exact below k, else (k-1)/θ."""
        if state.hashes.size < self.params.k:
            return float(state.hashes.size)
        return (self.params.k - 1) / self.theta(state)

    def intersection_estimate(self, a: KMVState, b: KMVState) -> float:
        """|A ∩ B| from two same-param states: count common retained hashes
        below the smaller θ, scale by 1/θ.  Exact when both sides are
        below k (θ = 1 and the retained sets ARE the universes)."""
        theta = min(self.theta(a), self.theta(b))
        if theta >= 1.0:  # both exact: retained sets ARE the universes
            return float(np.intersect1d(a.hashes, b.hashes).size)
        cut = np.uint64(theta * _SPAN)
        ah, bh = a.hashes, b.hashes
        common = np.intersect1d(ah[ah <= cut], bh[bh <= cut])
        return common.size / theta

    def difference_estimate(self, a: KMVState, b: KMVState) -> float:
        """|A \\ B| — same θ-cut rule with a set minus."""
        theta = min(self.theta(a), self.theta(b))
        if theta >= 1.0:
            return float(np.setdiff1d(a.hashes, b.hashes).size)
        cut = np.uint64(theta * _SPAN)
        ah, bh = a.hashes, b.hashes
        only = np.setdiff1d(ah[ah <= cut], bh[bh <= cut])
        return only.size / theta

    # -- serde ----------------------------------------------------------------
    header_len = 12  # u32 k | u64 seed (count follows, may differ)
    state_bytes_max = property(lambda self: 16 + self.params.k * 8)

    def serialize(self, state: KMVState) -> bytes:
        p = self.params
        return (pack_u32(p.k) + pack_u64(p.seed) + pack_u32(state.hashes.size)
                + state.hashes.astype("<u8").tobytes())

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        k = r.u32()
        seed = r.u64()
        cnt = r.u32()
        state = KMVState(r.array("<u8", cnt))
        r.end()
        return cls(KMVParams(k=k, seed=seed)), state
