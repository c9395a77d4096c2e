"""DDSketch — relative-error quantiles (engine extension, SURVEY.md §2.11).

Masson, Rim & Lee, "DDSketch: a fast and fully-mergeable quantile sketch
with relative-error guarantees" (VLDB 2019).  Completes the quantile
family: KLL bounds RANK error, t-digest is a centroid heuristic, DDSketch
bounds VALUE error — est is within α relative error of a true q-quantile
value, which is the guarantee latency/size distributions want (a p99 of
1.01 s reported for a true 1.00 s, at any magnitude).

Logarithmic bucketing with γ = (1+α)/(1−α):

  key(x)   = ceil(log_γ x)            for x > 0, so γ^(k−1) < x ≤ γ^k
  est(k)   = 2·γ^k / (γ+1)            (geometric midpoint of the bucket:
                                       max relative error exactly α)
  update   = bucket histogram += 1    (per batch: one log + one bincount)
  merge    = key-wise counter sum     — bit-identical under any merge
                                       order (fully mergeable, like CMS)
  quantile = walk cumulative counts to rank ⌊q·(n−1)⌋, return est(key)

Negative values mirror into a second store on |x| (exact same guarantee);
values in (−min_value, +min_value) land in an exact zero counter.  When
the store exceeds ``max_bins`` the LOWEST positive (highest-magnitude
negative) buckets collapse into one — the α guarantee then holds for all
quantiles above the collapsed mass (the paper's collapsing variant; with
α = 0.01 a span of 2048 bins covers >19 orders of magnitude before any
collapse).

State is a pair of sorted (keys int64, counts int64) arrays per sign plus
the zero counter — O(#bins) bytes, independent of n.  Fully deterministic
and a pure function of the input MULTISET: no RNG anywhere, and the
collapse is order-free too.  It keeps the ``max_bins`` largest keys
present and adds all lower mass to the lowest kept key; a key drops only
once ``max_bins`` larger keys are present, so spilled mass can only settle
on the ``max_bins``-th largest key of the whole input.  The final store is
therefore the top ``max_bins`` keys of the input's key set, under any
batch split, partition split and merge order — distributed ≡ local
bit-for-bit (unlike KLL/t-digest, whose merges are only bound-equivalent).
``DDState.collapsed`` rides the serialized blob and records whether a
store's key set exceeded ``max_bins`` (estimates are then α-valid only
above the collapsed mass).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..core.serde import Reader, pack_f64, pack_u32, pack_u64
from .base import register


@dataclass(frozen=True)
class DDSketchParams:
    alpha: float = 0.01
    max_bins: int = 2048
    min_value: float = 1e-9

    def __post_init__(self):
        if not (0 < self.alpha < 1):
            raise ValueError("alpha must be in (0, 1)")
        if self.max_bins < 16:
            raise ValueError("max_bins must be >= 16")
        if not (self.min_value > 0):
            raise ValueError("min_value must be > 0 (it separates the "
                             "exact-zero counter from the log stores)")

    @property
    def gamma(self) -> float:
        return (1.0 + self.alpha) / (1.0 - self.alpha)


class DDState:
    __slots__ = ("pos_keys", "pos_cnts", "neg_keys", "neg_cnts", "zero", "n",
                 "collapsed")

    def __init__(self, pos_keys=None, pos_cnts=None, neg_keys=None,
                 neg_cnts=None, zero=0, n=0, collapsed=False):
        z64 = np.empty(0, np.int64)
        self.pos_keys = z64 if pos_keys is None else pos_keys
        self.pos_cnts = z64 if pos_cnts is None else pos_cnts
        self.neg_keys = z64 if neg_keys is None else neg_keys
        self.neg_cnts = z64 if neg_cnts is None else neg_cnts
        self.zero = int(zero)
        self.n = int(n)
        # True iff a store's key set exceeded max_bins: estimates stay
        # α-valid above the collapsed mass (see module docstring)
        self.collapsed = bool(collapsed)


def _fold(keys_a, cnts_a, keys_b, cnts_b):
    """Union-sum two sorted (key, count) runs — stays sorted."""
    if keys_a.size == 0:
        return keys_b, cnts_b
    if keys_b.size == 0:
        return keys_a, cnts_a
    allk = np.concatenate([keys_a, keys_b])
    allc = np.concatenate([cnts_a, cnts_b])
    uk, inv = np.unique(allk, return_inverse=True)
    out = np.zeros(uk.size, np.int64)
    np.add.at(out, inv, allc)
    return uk, out


@register
class DDSketch:
    kind = "ddsketch"
    multiset_pure = True

    def __init__(self, params: DDSketchParams):
        self.params = params

    def empty(self) -> DDState:
        return DDState()

    # -- build ---------------------------------------------------------------
    def _keys_of(self, mag: np.ndarray) -> np.ndarray:
        # ceil(log_gamma(x)): log in float64, the +1e-12 nudge absorbs the
        # representation error of log(gamma) so exact powers stay put
        lg = math.log(self.params.gamma)
        return np.ceil(np.log(mag) / lg - 1e-12).astype(np.int64)

    def _collapse(self, keys, cnts, descending: bool):
        """Collapse over-budget buckets into the lowest-value end.
        → (keys, cnts, did_collapse) — the flag feeds DDState.collapsed."""
        mb = self.params.max_bins
        if keys.size <= mb:
            return keys, cnts, False
        if descending:
            # negative store: highest keys are the most-negative values —
            # collapse the TOP end into one bucket
            spill = int(cnts[mb - 1:].sum())
            keys, cnts = keys[:mb].copy(), cnts[:mb].copy()
            cnts[mb - 1] = spill
            return keys, cnts, True
        spill = int(cnts[:keys.size - mb + 1].sum())
        keys, cnts = keys[keys.size - mb:].copy(), cnts[keys.size - mb:].copy()
        cnts[0] = spill
        return keys, cnts, True

    def update(self, state: DDState, values) -> None:
        # NaN AND ±inf are dropped: log(inf) int64-casts to INT64_MIN,
        # which would file an infinite value at the wrong EXTREME of the
        # distribution (observed: +inf reported as the minimum)
        v = np.asarray(values, np.float64)
        v = v[np.isfinite(v)]
        if v.size == 0:
            return
        mv = self.params.min_value
        for sign, sel in (("pos", v >= mv), ("neg", v <= -mv)):
            if not sel.any():
                continue
            mag = v[sel] if sign == "pos" else -v[sel]
            uk, cnt = np.unique(self._keys_of(mag), return_counts=True)
            if sign == "pos":
                state.pos_keys, state.pos_cnts, did = self._collapse(
                    *_fold(state.pos_keys, state.pos_cnts, uk, cnt), False)
            else:
                state.neg_keys, state.neg_cnts, did = self._collapse(
                    *_fold(state.neg_keys, state.neg_cnts, uk, cnt), True)
            state.collapsed |= did
        state.zero += int((np.abs(v) < mv).sum())
        state.n += int(v.size)

    update_i32 = update
    update_f64 = update

    # -- merge ---------------------------------------------------------------
    def merge(self, a: DDState, b: DDState) -> DDState:
        pk, pc, cp = self._collapse(*_fold(a.pos_keys, a.pos_cnts,
                                           b.pos_keys, b.pos_cnts), False)
        nk, nc, cn = self._collapse(*_fold(a.neg_keys, a.neg_cnts,
                                           b.neg_keys, b.neg_cnts), True)
        return DDState(pk, pc, nk, nc, a.zero + b.zero, a.n + b.n,
                       a.collapsed or b.collapsed or cp or cn)

    # -- queries -------------------------------------------------------------
    def _est(self, key: np.ndarray) -> np.ndarray:
        g = self.params.gamma
        return 2.0 * np.power(g, key.astype(np.float64)) / (g + 1.0)

    def quantiles(self, state: DDState, qs) -> np.ndarray:
        """Per q: the estimate for the bucket holding the ⌊q·(n−1)⌋-rank
        item, walking negatives (most-negative first), zeros, positives."""
        if state.n == 0:
            return np.full(len(qs), np.nan)
        # negative store sorted by key ascending = magnitude ascending;
        # value order is most-negative FIRST = key DESCENDING
        segs = []
        if state.neg_keys.size:
            segs.append((-self._est(state.neg_keys[::-1]),
                         state.neg_cnts[::-1]))
        if state.zero:
            segs.append((np.zeros(1), np.array([state.zero], np.int64)))
        if state.pos_keys.size:
            segs.append((self._est(state.pos_keys), state.pos_cnts))
        vals = np.concatenate([s[0] for s in segs])
        cum = np.cumsum(np.concatenate([s[1] for s in segs]))
        ranks = np.floor(np.clip(np.asarray(qs, np.float64), 0, 1)
                         * (state.n - 1)).astype(np.int64)
        pos = np.searchsorted(cum, ranks + 1, side="left")
        return vals[np.minimum(pos, vals.size - 1)]

    def bracket(self, state: DDState, qs):
        """Per q: (q, rank, lo, hi) where the α guarantee holds iff the
        true ⌊q·(n−1)⌋-rank item x satisfies lo ≤ x ≤ hi, checkable
        distributed as count(v < lo) ≤ rank AND count(v ≤ hi) ≥ rank+1.
        The cushion absorbs the float64 representation error of the
        est/(1±α) division; min/max orders the bracket for negative
        estimates.  Single source of truth for every gated bound check."""
        a = self.params.alpha * (1 + 1e-9) + 1e-12
        out = []
        for q, e in zip(qs, self.quantiles(state, qs)):
            lo = min(float(e) / (1 + a), float(e) / (1 - a))
            hi = max(float(e) / (1 + a), float(e) / (1 - a))
            out.append((float(q), int(np.floor(q * (state.n - 1))), lo, hi))
        return out

    # -- serde ---------------------------------------------------------------
    header_len = 20  # f64 alpha | u32 max_bins | f64 min_value
    # two stores of at most max_bins (key, count) i64 pairs
    state_bytes_max = property(lambda self: 48 + self.params.max_bins * 32)

    def serialize(self, state: DDState) -> bytes:
        p = self.params
        head = (pack_f64(p.alpha) + pack_u32(p.max_bins)
                + pack_f64(p.min_value) + pack_u64(state.n)
                + pack_u64(state.zero)
                + pack_u32(state.pos_keys.size)
                + pack_u32(state.neg_keys.size)
                # collapse flag rides AFTER the 20-byte param header that
                # merge_blobs equality-checks, so a collapsed partial still
                # merges with a clean one (header_len above)
                + pack_u32(1 if state.collapsed else 0))
        return (head
                + state.pos_keys.astype("<i8").tobytes()
                + state.pos_cnts.astype("<i8").tobytes()
                + state.neg_keys.astype("<i8").tobytes()
                + state.neg_cnts.astype("<i8").tobytes())

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        alpha = r.f64()
        max_bins = r.u32()
        min_value = r.f64()
        n = r.u64()
        zero = r.u64()
        np_, nn = r.u32(), r.u32()
        collapsed = bool(r.u32())
        pk = r.array("<i8", np_)
        pc = r.array("<i8", np_)
        nk = r.array("<i8", nn)
        nc = r.array("<i8", nn)
        r.end()
        return (cls(DDSketchParams(alpha, max_bins, min_value)),
                DDState(pk, pc, nk, nc, zero, n, collapsed))
