"""Counting Bloom filter — deletable approximate membership, union-mergeable.

Fan, Cao, Almeida & Broder 2000 ("Summary Cache"): replace each bit of the
classic filter with a counter; insert increments the k counters, delete
decrements them, membership = all k counters ≥ 1.  Same sizing math, index
expansion and FPR analysis as the reference's Bloom filter
(/root/reference/filter/bloom/filter.go:23-25, hash.go:5-14) — this sketch
reuses ``BloomParams`` verbatim, so k/m/FPR behavior is identical to the
reference's insert-only filter; only the per-cell state widens.

Why it exists next to the cuckoo filter (which also deletes,
/root/reference/filter/cuckoo/filter.go:87-106): cuckoo states are NOT
union-mergeable (bucket overflow), so distributed cuckoo is scoped to
single-writer grouped builds.  Counting-bloom states merge by element-wise
counter SUM — associative and commutative — which makes *distributed
deletes* expressible: partitions fold inserts as +1 and deletes as −1
(``update_delta_*``, no per-partition presence check), the merge sums the
deltas, and the merged filter answers membership for the global multiset.
The required discipline is the classic one: globally, a key must never be
deleted more times than it was inserted (counters would go negative and the
guarantee degrades exactly like an underflowed 4-bit counting bloom).

Checked semantics (``delete_*``): batch-checks presence first and only
decrements keys whose k counters are all ≥ 1, returning the per-key "was
present" mask — the cuckoo delete contract (multiset: removes ONE copy).

Invariants (insert-only or disciplined delete): zero false negatives for
live keys; FPR ≤ the classic filter's at equal (m, k); ``point()`` =
min over the k counters never underestimates a key's live multiplicity
(the CMS argument restricted to k cells).
"""

from __future__ import annotations

import numpy as np

from ..core import hashing
from ..core.serde import Reader, pack_u32, pack_u64
from .base import register
from .bloom import BloomParams

# Counters are int32: a cell's expected load is n·k/m < 1 (the filter is
# sized for ~0.5 bits set per cell), so int32 overflow would need ~2^31
# same-cell inserts — unreachable before the filter is useless anyway.
_DTYPE = np.int32

# dense bytes per column-range shard (see shard_count); a module constant so
# a test can shrink it to get several shards out of a small filter
SHARD_TARGET_BYTES = 8 << 20


@register
class CountingBloomSketch:
    kind = "cbloom"
    multiset_pure = True
    weight_mode = None

    def __init__(self, params: BloomParams):
        # _hash below is splitmix64-only; silently accepting an xxh3-family
        # BloomParams would hand back a non-parity filter (ADVICE r3)
        if params.hash_family != "splitmix64":
            raise ValueError(
                "CountingBloomSketch hashes with splitmix64 only; got "
                f"hash_family={params.hash_family!r}")
        self.params = params

    # -- state ------------------------------------------------------------
    def empty(self) -> np.ndarray:
        return np.zeros(self.params.m, dtype=_DTYPE)

    # -- hashing (same K-M expansion as BloomSketch) -----------------------
    def _hash(self, values, kind: str) -> np.ndarray:
        p = self.params
        fn = {"i32": hashing.hash64_i32, "i64": hashing.hash64_i64,
              "str": hashing.hash64_str}[kind]
        if kind == "i32":
            return fn(np.asarray(values, np.int32), p.seed)
        if kind == "i64":
            return fn(np.asarray(values, np.int64), p.seed)
        return fn(values, p.seed)

    def _indices(self, h: np.ndarray) -> np.ndarray:
        """(k, N) int64 cell indices via the K-M expansion
        (idx_i = (h1 + i·h2) & (m-1) — hash.go:5-14)."""
        p = self.params
        mask = np.uint64(p.m - 1)
        h1, h2 = hashing.split_h1_h2(h)
        out = np.empty((p.k, h.size), np.int64)
        idx = np.empty(h.size, np.uint64)
        with np.errstate(over="ignore"):
            for i in range(p.k):
                np.multiply(h2, np.uint64(i), out=idx)
                np.add(idx, h1, out=idx)
                np.bitwise_and(idx, mask, out=idx)
                out[i] = idx.astype(np.int64)
        return out

    # -- build ------------------------------------------------------------
    def _apply_delta(self, state, h: np.ndarray, delta) -> None:
        idx, d = self._cells(h, delta)
        if isinstance(state, ShardFold):
            state.add(idx, d)
        else:
            np.add.at(state, idx, d)

    def update_i32(self, state, values) -> None:
        self._apply_delta(state, self._hash(values, "i32"), 1)

    def update_i64(self, state, values) -> None:
        self._apply_delta(state, self._hash(values, "i64"), 1)

    def update_str(self, state, values) -> None:
        self._apply_delta(state, self._hash(values, "str"), 1)

    # -- distributed delete fold (no presence check — see module doc) ------
    def update_delta_i32(self, state, values, signs) -> None:
        self._apply_delta(state, self._hash(values, "i32"), signs)

    def update_delta_str(self, state, values, signs) -> None:
        self._apply_delta(state, self._hash(values, "str"), signs)

    # -- probe ------------------------------------------------------------
    def _min_counter(self, state, h: np.ndarray) -> np.ndarray:
        idx = self._indices(h)
        acc = state[idx[0]]
        for i in range(1, idx.shape[0]):
            np.minimum(acc, state[idx[i]], out=acc)
        return acc

    def contains_i32(self, state, values) -> np.ndarray:
        return self._min_counter(state, self._hash(values, "i32")) >= 1

    def contains_i64(self, state, values) -> np.ndarray:
        return self._min_counter(state, self._hash(values, "i64")) >= 1

    def contains_str(self, state, values) -> np.ndarray:
        return self._min_counter(state, self._hash(values, "str")) >= 1

    # -- frequency upper bound (CMS argument on k cells) -------------------
    def point_str(self, state, values) -> np.ndarray:
        return np.maximum(self._min_counter(state, self._hash(values, "str")), 0)

    def point_i32(self, state, values) -> np.ndarray:
        return np.maximum(self._min_counter(state, self._hash(values, "i32")), 0)

    # -- checked delete (cuckoo contract: remove ONE copy if present) ------
    # NB the presence check guards against deleting keys whose counters are
    # already exhausted; it can NOT protect against deleting a key that was
    # never inserted but false-positives (its decrements then corrupt other
    # keys' cells — the classic counting-filter caveat, identical for
    # sequential deletes and for the cuckoo filter's fingerprint deletes).
    # The delete-≤-insert-per-key discipline remains the caller's contract.
    def _delete_hashes(self, state, h: np.ndarray) -> np.ndarray:
        present = self._min_counter(state, h) >= 1
        # Within-batch duplicate deletes of a key present once both pass the
        # batch-start check; the second decrement would underflow.  Decrement
        # sequentially per distinct key copy instead: cap each distinct
        # key's decrements at its batch-start min counter.
        if present.any():
            hp = h[present]
            uh, inv, cnt = np.unique(hp, return_inverse=True, return_counts=True)
            start = self._min_counter(state, uh)
            allowed = np.minimum(cnt.astype(np.int64), start.astype(np.int64))
            # first `allowed[j]` occurrences of key j decrement; later
            # duplicates report not-present (multiset exhausted mid-batch)
            order = np.argsort(inv, kind="stable")
            occ = np.empty(hp.size, np.int64)
            ranks = np.arange(hp.size) - np.repeat(
                np.concatenate(([0], np.cumsum(cnt)[:-1])), cnt)
            occ[order] = ranks
            do_del = occ < allowed[inv]
            dele = np.flatnonzero(present)[do_del]
            self._apply_delta(state, h[dele], -1)
            full = np.zeros(h.size, bool)
            full[dele] = True
            return full
        return present

    def delete_str(self, state, values) -> np.ndarray:
        return self._delete_hashes(state, self._hash(values, "str"))

    def delete_i32(self, state, values) -> np.ndarray:
        return self._delete_hashes(state, self._hash(values, "i32"))

    # -- merge ------------------------------------------------------------
    def merge(self, a, b) -> np.ndarray:
        return a + b

    # -- sharded serde (the changelog fold's layout at every width) --------
    # A full-capacity counting bloom at 10^7+ keys serializes to hundreds of
    # MB; shipping that as ONE blob per partition forces the merge to either
    # coalesce the scan (losing parallelism) or funnel GB-scale rows through
    # a serial fanin tree.  Sharding splits the counter array into
    # column-range segments emitted as (shard_id, bytes) rows, so a merge
    # past the driver budget is a single groupBy(shard_id) — state WIDTH
    # converts to merge PARALLELISM, and per-merge-task memory is one shard,
    # not the filter (within the budget the driver folds the shard rows).
    # Segments with few touched cells ship sparse ((u32 rel-idx, i4 val)
    # pairs): a partition's shard volume is bounded by its row count × k,
    # not by m — at scale the shuffle carries the data actually written.
    # Layout (LE): u32 m | u32 k | u64 seed | u32 n_shards | u32 shard_id |
    #              u8 mode | mode 0: dense <i4 cells[lo:hi]
    #                       | mode 1: u32 nnz | <u4 rel_idx×nnz | <i4 val×nnz
    def shard_count(self) -> int:
        """Number of column-range shards so a dense shard ≈
        SHARD_TARGET_BYTES."""
        return max(1, -(-self.params.m * 4 // SHARD_TARGET_BYTES))

    def shard_bounds(self, shard_id: int, n_shards: int) -> tuple[int, int]:
        m = self.params.m
        return shard_id * m // n_shards, (shard_id + 1) * m // n_shards

    def _emit_segment(self, seg: np.ndarray, shard_id: int,
                      n_shards: int) -> bytes:
        p = self.params
        header = (pack_u32(p.m) + pack_u32(p.k) + pack_u64(p.seed)
                  + pack_u32(n_shards) + pack_u32(shard_id))
        nz = np.flatnonzero(seg)
        if nz.size * 8 < seg.size * 4:  # sparse wins below 50% fill
            return (header + b"\x01" + pack_u32(nz.size)
                    + nz.astype("<u4").tobytes()
                    + seg[nz].astype("<i4").tobytes())
        return header + b"\x00" + seg.astype("<i4").tobytes()

    def serialize_shard(self, state: np.ndarray, shard_id: int,
                        n_shards: int) -> bytes:
        lo, hi = self.shard_bounds(shard_id, n_shards)
        return self._emit_segment(state[lo:hi], shard_id, n_shards)

    # -- sparse accumulation (per-task memory ∝ data, not filter width) ----
    def delta_cells(self, values, signs, kind: str
                    ) -> tuple[np.ndarray, np.ndarray]:
        """Hashed (cell index, ±delta) pairs for a batch — k entries per
        key, NO dense array.  np.add.at of these pairs reproduces
        _apply_delta exactly (addition commutes over duplicates)."""
        return self._cells(self._hash(values, kind), signs)

    def _cells(self, h: np.ndarray, delta) -> tuple[np.ndarray, np.ndarray]:
        d = np.broadcast_to(np.asarray(delta, _DTYPE), h.shape)
        return self._indices(h).ravel(), np.tile(d, self.params.k)

    def serialize_shard_from_cells(self, idx: np.ndarray, delta: np.ndarray,
                                   shard_id: int, n_shards: int) -> bytes:
        """Shard blob straight from sparse (cell, delta) pairs: transient
        memory = one shard segment + the pairs, never the full counter
        array.  ``idx`` may contain cells outside the shard (they are
        masked) and duplicate cells (they sum)."""
        lo, hi = self.shard_bounds(shard_id, n_shards)
        seg = np.zeros(hi - lo, dtype=_DTYPE)
        m_ = (idx >= lo) & (idx < hi)
        if m_.any():
            np.add.at(seg, idx[m_] - lo, delta[m_])
        return self._emit_segment(seg, shard_id, n_shards)

    def shard_fold(self) -> "ShardFold":
        """Empty state of the sharded changelog fold: ``update_delta_*``
        folds into it like into ``empty()``, ``shard_blobs`` emits it."""
        return ShardFold(self)

    _SHARD_HEADER_LEN = 24

    @classmethod
    def _shard_header(cls, blob) -> tuple[bytes, int, int, int]:
        """(header bytes, n_shards, shard_id, cells in the shard) of a shard
        blob; the body starts after the header and its mode byte."""
        if len(blob) < cls._SHARD_HEADER_LEN + 1:
            raise ValueError(f"truncated cbloom shard blob ({len(blob)} B)")
        head = bytes(blob[:cls._SHARD_HEADER_LEN])
        r = Reader(head)
        m, _, _ = r.u32(), r.u32(), r.u64()
        n_shards, shard_id = r.u32(), r.u32()
        if not 0 <= shard_id < n_shards:
            raise ValueError(
                f"cbloom shard id {shard_id} outside 0..{n_shards - 1}")
        lo, hi = shard_id * m // n_shards, (shard_id + 1) * m // n_shards
        return head, n_shards, shard_id, hi - lo

    @classmethod
    def merge_shard_blobs(cls, blobs: list) -> bytes:
        """Counter-sum N same-shard blobs → one DENSE shard blob.  All blobs
        must agree on (m, k, seed, n_shards, shard_id) — header-checked like
        merge_blobs — and each body must end exactly at its blob's end
        (dense: 4 B per cell; sparse: u32 nnz + 8 B per pair, every
        index inside the shard)."""
        head, _, _, width = cls._shard_header(blobs[0])
        body = cls._SHARD_HEADER_LEN + 1
        acc = np.zeros(width, dtype=_DTYPE)
        for b in blobs:
            b = memoryview(b)
            if len(b) < body or b[:cls._SHARD_HEADER_LEN] != head:
                raise ValueError(
                    "refusing to merge cbloom shards with different "
                    "params/seeds/shard identity")
            mode = b[cls._SHARD_HEADER_LEN]
            if mode == 0:
                if len(b) != body + 4 * width:
                    raise ValueError(
                        f"dense cbloom shard body is {len(b) - body} B, "
                        f"expected {4 * width}")
                acc += np.frombuffer(b, "<i4", width, body)
            elif mode == 1:
                nnz = int.from_bytes(b[body:body + 4], "little")
                if len(b) != body + 4 + 8 * nnz:
                    raise ValueError(
                        f"sparse cbloom shard body is {len(b) - body} B, "
                        f"not 4 + 8 × its nnz")
                idx = np.frombuffer(b, "<u4", nnz, body + 4)
                if nnz and int(idx.max()) >= width:
                    raise ValueError(
                        f"sparse cbloom shard index {int(idx.max())} outside "
                        f"its {width} cells")
                np.add.at(acc, idx.astype(np.intp),
                          np.frombuffer(b, "<i4", nnz, body + 4 + 4 * nnz))
            else:
                raise ValueError(f"unknown cbloom shard mode byte {mode}")
        return b"".join([head, b"\x00", acc.astype("<i4", copy=False)])

    @classmethod
    def reassemble_shards(cls, blobs: list) -> bytes:
        """DENSE shard blobs (one per shard_id, any order) → the monolithic
        serialize() layout, bit-for-bit, copying each body once."""
        if not blobs:
            raise ValueError("no cbloom shard blobs to reassemble")
        bodies = {}
        filt = None
        for b in blobs:
            head, n_shards, sid, width = cls._shard_header(b)
            if filt is None:
                filt = head[:20]  # m | k | seed | n_shards
            elif head[:20] != filt:
                raise ValueError("mixed-filter shards in reassembly")
            b = memoryview(b)
            if b[cls._SHARD_HEADER_LEN] != 0:
                raise ValueError("reassembly expects dense shard blobs")
            if len(b) != cls._SHARD_HEADER_LEN + 1 + 4 * width:
                raise ValueError(
                    f"dense cbloom shard {sid} is {len(b)} B, expected "
                    f"{cls._SHARD_HEADER_LEN + 1 + 4 * width}")
            if sid in bodies:
                raise ValueError(f"duplicate cbloom shard {sid} in reassembly")
            bodies[sid] = b[cls._SHARD_HEADER_LEN + 1:]
        if sorted(bodies) != list(range(n_shards)):
            raise ValueError(
                f"incomplete shard set: have {sorted(bodies)} of {n_shards}")
        # the serialize() header (m | k | seed) is the shard header's prefix
        return b"".join([filt[:16], *(bodies[i] for i in range(n_shards))])

    # -- serde (engine layout; the reference has no counting filter) -------
    header_len = 16  # u32 m | u32 k | u64 seed (counters follow)
    state_bytes_max = property(lambda self: 16 + self.params.m * 4)

    def serialize(self, state: np.ndarray) -> bytes:
        p = self.params
        header = pack_u32(p.m) + pack_u32(p.k) + pack_u64(p.seed)
        return header + state.astype("<i4").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes, n: int | None = None,
                    p: float | None = None):
        r = Reader(blob)
        m = r.u32()
        k = r.u32()
        seed = r.u64()
        state = r.array("<i4", m).astype(_DTYPE)
        params = object.__new__(BloomParams)
        object.__setattr__(params, "n", n or 0)
        object.__setattr__(params, "p", p or 0.0)
        object.__setattr__(params, "seed", seed)
        object.__setattr__(params, "hash_family", "splitmix64")
        object.__setattr__(params, "m_pre", m)
        object.__setattr__(params, "k", k)
        object.__setattr__(params, "m", m)
        object.__setattr__(params, "n_words", (m >> 6) + 1)
        r.end()
        return cls(params), state


class ShardFold:
    """Per-task state of the sharded changelog fold: sparse (cell, ±delta)
    pairs (12 B per key-hash) until they would outweigh the dense counter
    array (4 B per cell, so m/3 pairs), then that array — a small
    partition against a 10^10-cell filter never allocates the filter.
    Both regimes emit the same shard blobs (counter addition commutes over
    duplicate cells)."""

    def __init__(self, sketch: CountingBloomSketch):
        self.sketch, self.dense, self.cells, self.entries = sketch, None, [], 0

    def _pairs(self) -> tuple[np.ndarray, np.ndarray]:
        return (np.concatenate([c[0] for c in self.cells]
                               or [np.empty(0, np.int64)]),
                np.concatenate([c[1] for c in self.cells]
                               or [np.empty(0, _DTYPE)]))

    def add(self, idx: np.ndarray, delta: np.ndarray) -> None:
        """Fold flat (cell index, ±delta) pairs."""
        if self.dense is None:
            self.cells.append((idx, delta))
            self.entries += idx.size
            if self.entries <= self.sketch.params.m // 3:
                return
            self.dense = self.sketch.empty()  # sparse no longer pays
            idx, delta = self._pairs()
            self.cells = []
        np.add.at(self.dense, idx, delta)

    def shard_blobs(self, n_shards: int) -> list:
        """One blob per shard id, sparse-encoded where few cells moved."""
        sk = self.sketch
        if self.dense is not None:
            return [sk.serialize_shard(self.dense, i, n_shards)
                    for i in range(n_shards)]
        # one sort, then each shard slices its contiguous cell range —
        # emission is O(E log E + shards), not O(shards × E)
        idx, delta = self._pairs()
        order = np.argsort(idx, kind="stable")
        idx, delta = idx[order], delta[order]
        lows = [sk.shard_bounds(i, n_shards)[0] for i in range(n_shards)]
        cuts = np.searchsorted(idx, lows + [sk.params.m])
        return [sk.serialize_shard_from_cells(
            idx[cuts[i]:cuts[i + 1]], delta[cuts[i]:cuts[i + 1]], i, n_shards)
            for i in range(n_shards)]
