"""t-digest — quantile sketch with tight tail accuracy (Dunning & Ertl;
north-rule extension, SURVEY.md §2.7).

Merging-digest formulation with the k1 (arcsine) scale function, fully
vectorized: incoming values are sorted, cumulative mid-quantiles are mapped
through k(q) = δ·(asin(2q-1)/π + ½) ∈ [0, δ], and consecutive points sharing
⌊k⌋ collapse into one centroid (weighted mean).  Each bucket spans a
k-interval ≤ 1, which is the t-digest size invariant; centroid count ≤ δ+1.

merge = concatenate centroids + one re-compression pass — associative and
commutative up to the digest's estimate error (merge-permutation tests assert
estimate agreement within bound, not byte equality).

Quantile estimates interpolate linearly between centroid mid-ranks, clamped
to the exact tracked min/max.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..core.serde import Reader, pack_u32, pack_u64, pack_f64
from .base import register


@dataclass(frozen=True)
class TDigestParams:
    compression: float = 200.0

    def __post_init__(self):
        if self.compression < 20:
            raise ValueError("compression too small")


class TDigestState:
    __slots__ = ("means", "weights", "n", "vmin", "vmax")

    def __init__(self, means=None, weights=None, n=0, vmin=math.inf, vmax=-math.inf):
        self.means = means if means is not None else np.empty(0, np.float64)
        self.weights = weights if weights is not None else np.empty(0, np.float64)
        self.n = n
        self.vmin = vmin
        self.vmax = vmax


@register
class TDigestSketch:
    kind = "tdigest"
    # centroid boundaries depend on the order values are compressed in
    multiset_pure = False
    weight_mode = "additive"

    def __init__(self, params: TDigestParams):
        self.params = params

    def empty(self) -> TDigestState:
        return TDigestState()

    def _kscale(self, q: np.ndarray) -> np.ndarray:
        d = self.params.compression
        return d * (np.arcsin(2.0 * q - 1.0) / np.pi + 0.5)

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if means.size == 0:
            return means, weights
        order = np.argsort(means, kind="stable")
        x = means[order]
        w = weights[order]
        total = w.sum()
        qmid = (np.cumsum(w) - 0.5 * w) / total
        bucket = np.floor(self._kscale(np.clip(qmid, 0.0, 1.0))).astype(np.int64)
        bucket = np.minimum(bucket, int(self.params.compression))
        # qmid is nondecreasing ⇒ bucket is nondecreasing ⇒ consecutive grouping
        starts = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
        new_w = np.add.reduceat(w, starts)
        new_x = np.add.reduceat(w * x, starts) / new_w
        return new_x, new_w

    def update(self, state: TDigestState, values: np.ndarray,
               weights=None) -> None:
        """Insert values (NaN dropped); ``weights`` gives each one an integer
        multiplicity (rows with weight ≤ 0 dropped), else 1."""
        vals = np.asarray(values, np.float64)
        w = (np.ones(vals.size, np.int64) if weights is None
             else np.asarray(weights, np.int64))
        keep = ~np.isnan(vals) & (w > 0)
        vals, w = vals[keep], w[keep]
        if vals.size == 0:
            return
        state.vmin = min(state.vmin, float(vals.min()))
        state.vmax = max(state.vmax, float(vals.max()))
        state.n += int(w.sum())
        means = np.concatenate([state.means, vals])
        weights = np.concatenate([state.weights, w.astype(np.float64)])
        state.means, state.weights = self._compress(means, weights)

    update_i32 = update
    update_f64 = update

    def update_weighted(self, state: TDigestState, values, weights,
                        value_kind: str = "f64") -> None:
        self.update(state, values, weights)

    def merge(self, a: TDigestState, b: TDigestState) -> TDigestState:
        means = np.concatenate([a.means, b.means])
        weights = np.concatenate([a.weights, b.weights])
        m, w = self._compress(means, weights)
        return TDigestState(m, w, a.n + b.n, min(a.vmin, b.vmin), max(a.vmax, b.vmax))

    def quantiles(self, state: TDigestState, qs) -> np.ndarray:
        qs = np.asarray(qs, np.float64)
        if state.means.size == 0:
            return np.full(qs.shape, np.nan)
        x, w = state.means, state.weights
        total = w.sum()
        # centroid mid-rank positions
        mid = np.cumsum(w) - 0.5 * w
        targets = np.clip(qs, 0.0, 1.0) * total
        out = np.interp(targets, mid, x)
        out = np.where(targets <= 0.5 * w[0], state.vmin, out)
        out = np.where(targets >= total - 0.5 * w[-1], state.vmax, out)
        return np.clip(out, state.vmin, state.vmax)

    def rank(self, state: TDigestState, values) -> np.ndarray:
        """Estimated normalized rank of each value."""
        vals = np.asarray(values, np.float64)
        if state.means.size == 0:
            return np.zeros(vals.shape, np.float64)
        x, w = state.means, state.weights
        total = w.sum()
        mid = np.cumsum(w) - 0.5 * w
        r = np.interp(vals, x, mid, left=0.0, right=total)
        return r / total

    header_len = 8  # f64 compression
    # _compress keeps one centroid per bucket 0..int(compression)
    state_bytes_max = property(
        lambda self: 36 + (int(self.params.compression) + 1) * 16)

    def serialize(self, state: TDigestState) -> bytes:
        head = (pack_f64(self.params.compression) + pack_u64(state.n)
                + pack_f64(state.vmin) + pack_f64(state.vmax)
                + pack_u32(state.means.size))
        return (head + state.means.astype("<f8").tobytes()
                + state.weights.astype("<f8").tobytes())

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        compression = r.f64()
        n = r.u64()
        vmin = r.f64()
        vmax = r.f64()
        size = r.u32()
        means = r.array("<f8", size)
        weights = r.array("<f8", size)
        r.end()
        return cls(TDigestParams(compression=compression)), TDigestState(means, weights, n, vmin, vmax)
