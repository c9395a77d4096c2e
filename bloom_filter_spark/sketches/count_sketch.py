"""Count-Sketch — unbiased frequency point queries + AMS second-moment
estimate (engine extension beyond the CMS mandate, SURVEY.md §2.11).

Charikar, Chen & Farach-Colton 2002 ("Finding frequent items in data
streams"): a d×w int64 counter matrix where each row j has a bucket hash
h_j and a ±1 sign hash s_j:

  update:   counts[j, h_j(x)] += s_j(x) · weight      (all d rows)
  point:    median_j( s_j(x) · counts[j, h_j(x)] )    — UNBIASED (unlike
            CMS, which only overestimates); |err| ≤ sqrt(F2/w) per row
            (variance ≤ F2/w), so the d-row median concentrates sharply.
  F2:       median_j( Σ_i counts[j,i]² )              — the AMS (Alon–
            Matias–Szegedy 1996) second-moment estimator; per-row
            variance ≤ 2·F2²/w.
  merge:    element-wise +  (associative, commutative — bit-identical
            under any merge order, like CMS).

Bucket indices derive from ONE 64-bit hash per batch via the
Kirsch–Mitzenmacher expansion (idx_j = (h1 + j·h2) mod w — the same
derived-family argument the reference's Bloom filter uses,
/root/reference/filter/hash.go:5-14).  Signs come from an INDEPENDENT
mixer pass (seed XOR a fixed odd constant) expanded the same way, taking
the top bit — sign and bucket of the same key are decorrelated, which the
unbiasedness argument needs.  d is forced odd so the median of integer
per-row estimates is itself an integer (deterministic, no .5 averaging).

Updates are vectorized with np.bincount (weighted by the sign) per row —
one pass per row over the batch, no per-key Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register

_SIGN_SEED_MIX = 0x9E3779B97F4A7C15  # golden-ratio odd constant


@dataclass(frozen=True)
class CountSketchParams:
    """Explicit (w, d) sizing, like KLL's k: err ≤ ~sqrt(F2/w) per row
    with failure prob exp(-Ω(d)) for the median.  d is rounded up to odd."""
    w: int = 1 << 15
    d: int = 5
    seed: int = hashing.DEFAULT_SEED

    def __post_init__(self):
        if self.w < 2 or self.d < 1:
            raise ValueError("invalid CountSketch params")
        object.__setattr__(self, "d", self.d | 1)  # force odd for the median


@register
class CountSketch:
    kind = "countsketch"
    multiset_pure = True

    def __init__(self, params: CountSketchParams):
        self.params = params

    def empty(self) -> np.ndarray:
        return np.zeros((self.params.d, self.params.w), dtype=np.int64)

    def _hashes(self, values, kind) -> tuple[np.ndarray, np.ndarray]:
        """(bucket hash, sign hash) — two independent mixer passes."""
        p = self.params
        sign_seed = (p.seed ^ _SIGN_SEED_MIX) & 0xFFFFFFFFFFFFFFFF
        if kind == "str":
            return (hashing.hash64_str(values, p.seed),
                    hashing.hash64_str(values, sign_seed))
        if kind == "i64":
            v = np.asarray(values, np.int64)
            return (hashing.hash64_i64(v, p.seed),
                    hashing.hash64_i64(v, sign_seed))
        v = np.asarray(values, np.int32)
        return (hashing.hash64_i32(v, p.seed),
                hashing.hash64_i32(v, sign_seed))

    def _row(self, h: np.ndarray, j: int, mod: int) -> np.ndarray:
        h1, h2 = hashing.split_h1_h2(h)
        with np.errstate(over="ignore"):
            mixed = h1 + np.uint64(j) * h2
        return (mixed % np.uint64(mod)).astype(np.int64)

    def _signs(self, hs: np.ndarray, j: int) -> np.ndarray:
        h1, h2 = hashing.split_h1_h2(hs)
        with np.errstate(over="ignore"):
            mixed = h1 + np.uint64(j) * h2
        # split_h1_h2 yields 32-bit halves (reference filter/hash.go:7-8), so
        # the well-mixed bits of the K-M expansion live in the low 32 —
        # bit 31 → {+1, -1} (bit 63 would be constant 0 at j=0)
        return 1 - 2 * ((mixed >> np.uint64(31)) & np.uint64(1)).astype(np.int64)

    def _update(self, state, values, kind, weights=None) -> None:
        """One fused pass for all d rows: bucket index and sign bit are
        combined into a single flat bin id (row j, sign s, bucket b) →
        j·2w + s·w + b, counted with ONE unweighted integer bincount —
        no per-row float accumulation, no ±1 multiply for the unit-weight
        case.  Produces bit-identical counters to the per-row reference
        loop (pytest pins merge/serde/point equality)."""
        if weights is None and kind == "i32":
            # signed counters are weight-additive: collapse duplicates to
            # (unique, count) — bit-identical cells, all d hash/scatter
            # passes on the distinct domain instead of the raw stream
            packed = hashing.compact_i32_counts(values)
            if packed is not None:
                values, weights = packed
        h, hs = self._hashes(values, kind)
        p = self.params
        if h.size == 0:
            return
        h1, h2 = hashing.split_h1_h2(h)
        s1, s2 = hashing.split_h1_h2(hs)
        wv = None if weights is None else np.asarray(weights, np.int64)
        # float64-weighted bincount is exact while every partial per-bucket
        # sum is an integer with magnitude < 2^53 — guaranteed when the
        # batch's total |weight| is (ADVICE r5's precision hazard applies
        # only beyond that); overflow-risk batches keep the int64 add.at
        w_exact = wv is not None and int(np.abs(wv).sum()) < (1 << 52)
        uw = np.uint64(p.w)
        pow2 = (p.w & (p.w - 1)) == 0
        wmask = np.uint64(p.w - 1)
        with np.errstate(over="ignore"):
            for row in range(p.d):
                uj = np.uint64(row)
                mixed = h1 + uj * h2
                bucket = (mixed & wmask) if pow2 else (mixed % uw)
                sbit = ((s1 + uj * s2) >> np.uint64(31)) & np.uint64(1)
                if wv is None:
                    comb = (bucket + uw * sbit).astype(np.int64)
                    c = np.bincount(comb, minlength=2 * p.w)
                    state[row] += c[:p.w]
                    state[row] -= c[p.w:]
                elif w_exact:
                    sw = (1 - 2 * sbit.astype(np.int64)) * wv
                    state[row] += np.bincount(
                        bucket.astype(np.int64), weights=sw,
                        minlength=p.w).astype(np.int64)
                else:
                    sw = (1 - 2 * sbit.astype(np.int64)) * wv
                    np.add.at(state[row], bucket.astype(np.int64), sw)

    def update_i32(self, state, values, weights=None) -> None:
        self._update(state, values, "i32", weights)

    def update_i64(self, state, values, weights=None) -> None:
        self._update(state, values, "i64", weights)

    def update_str(self, state, values, weights=None) -> None:
        self._update(state, values, "str", weights)

    def _point(self, state, h: np.ndarray, hs: np.ndarray) -> np.ndarray:
        p = self.params
        ests = np.stack([self._signs(hs, j) * state[j, self._row(h, j, p.w)]
                         for j in range(p.d)])
        ests.sort(axis=0)
        return ests[p.d // 2]  # d odd → true integer median

    def point_i32(self, state, values) -> np.ndarray:
        return self._point(state, *self._hashes(values, "i32"))

    def point_i64(self, state, values) -> np.ndarray:
        return self._point(state, *self._hashes(values, "i64"))

    def point_str(self, state, values) -> np.ndarray:
        return self._point(state, *self._hashes(values, "str"))

    def f2_estimate(self, state) -> float:
        """AMS second moment: median over rows of Σ counts².  float64
        accumulation — at 10^12-token scale per-cell counts can square
        past int64."""
        sq = np.square(state.astype(np.float64)).sum(axis=1)
        return float(np.median(sq))

    def merge(self, a, b) -> np.ndarray:
        return a + b

    header_len = 16  # u32 d | u32 w | u64 seed
    state_bytes_max = property(
        lambda self: 16 + self.params.d * self.params.w * 8)

    def serialize(self, state: np.ndarray) -> bytes:
        p = self.params
        header = pack_u32(p.d) + pack_u32(p.w) + pack_u64(p.seed)
        return header + state.astype("<i8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        d = r.u32()
        w = r.u32()
        seed = r.u64()
        # validate BEFORE constructing: a blob carrying an even d would
        # bypass the force-odd invariant and turn _point's ests[d//2] into
        # a biased upper-median (ADVICE r5) — reject rather than "repair",
        # since d|1 would reinterpret the matrix shape and corrupt rows
        if d < 1 or (d & 1) == 0 or w < 2:
            raise ValueError(
                f"corrupt CountSketch blob: d={d} (must be odd ≥1), "
                f"w={w} (must be ≥2)")
        state = r.array("<i8", d * w).reshape(d, w)
        r.end()
        return cls(CountSketchParams(w=w, d=d, seed=seed)), state
