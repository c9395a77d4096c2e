"""HyperLogLog — distinct-count sketch (north-rule extension, not in the
reference; SURVEY.md §2.7).

Flajolet–Fuss–Gandouet–Meunier 2007, with the 64-bit-hash variant used by
modern implementations (no large-range correction needed) and the standard
small-range linear-counting correction.  State: m = 2^b uint8 registers.

  register index = top b bits of the 64-bit hash
  rank           = leading zeros of the remaining 64-b bits + 1
  merge          = element-wise max (associative, commutative, idempotent)
  estimate       = alpha_m · m² / Σ 2^-reg   (± 1.04/√m std error)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register


@dataclass(frozen=True)
class HLLParams:
    b: int = 14  # precision: m = 2^b registers
    seed: int = hashing.DEFAULT_SEED
    m: int = field(init=False)

    def __post_init__(self):
        if not (4 <= self.b <= 18):
            raise ValueError("HLL precision b must be in [4, 18]")
        object.__setattr__(self, "m", 1 << self.b)

    @property
    def std_error(self) -> float:
        return 1.04 / (self.m ** 0.5)


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


@register
class HLLSketch:
    kind = "hll"
    multiset_pure = True

    def __init__(self, params: HLLParams):
        self.params = params

    def empty(self) -> np.ndarray:
        return np.zeros(self.params.m, dtype=np.uint8)

    def _update_hashes(self, state: np.ndarray, h: np.ndarray) -> None:
        b = self.params.b
        idx = (h >> np.uint64(64 - b)).astype(np.int64)
        rest = (h << np.uint64(b)).astype(np.uint64)
        rank = np.minimum(hashing.clz64(rest), 64 - b).astype(np.uint8) + np.uint8(1)
        hashing.max_reduce_at(state, idx, rank)

    def update_i32(self, state, values) -> None:
        # registers are a max over hashed values — multiplicity never
        # matters, so collapse duplicates before hashing (bit-identical
        # state; zipfian token batches shrink ~31×)
        packed = hashing.compact_i32_counts(values)
        if packed is not None:
            values = packed[0]
        self._update_hashes(state, hashing.hash64_i32(values, self.params.seed))

    def update_i64(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_i64(values, self.params.seed))

    def update_str(self, state, values) -> None:
        self._update_hashes(state, hashing.hash64_str(values, self.params.seed))

    def merge(self, a, b) -> np.ndarray:
        return np.maximum(a, b)

    def estimate(self, state: np.ndarray) -> float:
        m = float(self.params.m)
        raw = _alpha(self.params.m) * m * m / np.power(2.0, -state.astype(np.float64)).sum()
        if raw <= 2.5 * m:
            zeros = int((state == 0).sum())
            if zeros:
                return m * np.log(m / zeros)  # linear counting
        return float(raw)

    header_len = 12  # u32 b | u64 seed
    # the dense layout: the sparse one is only chosen when it is smaller
    state_bytes_max = property(lambda self: 13 + self.params.m)

    def serialize(self, state: np.ndarray) -> bytes:
        """LE u32 b | u64 seed | u8 mode | payload.

        Format v2 (round 2): NOT backward-compatible with v1 blobs (which
        had registers directly after the seed) — v1 blobs were never
        persisted beyond a single run (checkpoints are per-run), so no
        migration path is carried.

        mode 0 = dense (m raw registers); mode 1 = SPARSE — u32 count then
        count × (u32 idx | u8 rank).  Sparse is chosen automatically when it
        is smaller (occupied < ~m/5): per-group sketches over small groups
        dominate grouped-build shuffle volume at scale, and a b=14 group
        with 100 distinct items shrinks from 16 KiB to ~500 B.
        """
        p = self.params
        head = pack_u32(p.b) + pack_u64(p.seed)
        nz = np.flatnonzero(state)
        if nz.size * 5 + 4 < p.m:
            return (head + b"\x01" + pack_u32(nz.size)
                    + nz.astype("<u4").tobytes()
                    + state[nz].astype(np.uint8).tobytes())
        return head + b"\x00" + state.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes):
        r = Reader(blob)
        b = r.u32()
        seed = r.u64()
        mode = int(r.array(np.uint8, 1)[0])
        if mode == 1:
            cnt = r.u32()
            idx = r.array("<u4", cnt).astype(np.int64)
            ranks = r.array(np.uint8, cnt)
            state = np.zeros(1 << b, dtype=np.uint8)
            state[idx] = ranks
        else:
            state = r.array(np.uint8, 1 << b)
        r.end()
        return cls(HLLParams(b=b, seed=seed)), state
