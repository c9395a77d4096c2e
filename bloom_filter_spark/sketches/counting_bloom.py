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

    # -- one encoding rule for every blob ----------------------------------
    # Every counter blob picks its body by ONE rule, the shorter of two:
    # sparse where 5 + 8·nnz < 4·cells — below half fill for an even cell
    # count — dense otherwise (``_body``; HLL picks its sparse layout the
    # same way).  It covers the monolithic serialize() blob and each
    # column-range shard blob.
    #   dense body:  <i4 × cells
    #   sparse body: u8 1 | u32 nnz | <u4 idx × nnz | <i4 val × nnz
    #                (indices strictly ascending, no value 0)
    #
    # A full-capacity counting bloom at 10^7+ keys serializes to hundreds of
    # MB; shipping that as ONE blob per partition forces the merge to either
    # coalesce the scan (losing parallelism) or funnel GB-scale rows through
    # a serial fanin tree.  Sharding splits the counter array into
    # column-range segments emitted as (shard_id, bytes) rows, so a merge
    # past the driver budget is a single groupBy(shard_id) — state WIDTH
    # converts to merge PARALLELISM, and per-merge-task memory is one shard,
    # not the filter (within the budget the driver folds the shard rows).
    # With the rule, a partition's shard volume is bounded by its row count
    # × k, not by m: a sparse fold emits its summed cells with no dense
    # segment, the merge sums sparse shards without one, and reassembly
    # concatenates them — no step holds m counters for a lightly filled
    # filter.  Shard layout (LE):
    #   u32 m | u32 k | u64 seed | u32 n_shards | u32 shard_id |
    #   u8 mode 0 | dense body   or   sparse body (its mode byte is 1)
    def shard_count(self) -> int:
        """Number of column-range shards so a dense shard ≈
        SHARD_TARGET_BYTES."""
        return max(1, -(-self.params.m * 4 // SHARD_TARGET_BYTES))

    def shard_bounds(self, shard_id: int, n_shards: int) -> tuple[int, int]:
        m = self.params.m
        return shard_id * m // n_shards, (shard_id + 1) * m // n_shards

    def _emit_cells(self, width: int, shard_id: int, n_shards: int,
                    rel=None, vals=None, seg=None) -> bytes:
        """Shard blob of ``width`` cells, given as in ``_body``."""
        p = self.params
        return b"".join([pack_u32(p.m), pack_u32(p.k), pack_u64(p.seed),
                         pack_u32(n_shards), pack_u32(shard_id),
                         *_body(width, rel, vals, seg, dense_mode=b"\x00")])

    def serialize_shard(self, state: np.ndarray, shard_id: int,
                        n_shards: int) -> bytes:
        lo, hi = self.shard_bounds(shard_id, n_shards)
        return self._emit_cells(hi - lo, shard_id, n_shards,
                                seg=state[lo:hi])

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
    def _shard_cells(cls, b, width: int, what: str = "shard"):
        """→ (dense <i4 cells, None) or (None, (idx, vals)) of shard blob
        ``b`` of ``width`` cells, its body checked: a dense body is exactly
        4 B per cell, a sparse one as ``_sparse_cells`` checks."""
        b = memoryview(b)
        body = cls._SHARD_HEADER_LEN + 1
        if len(b) < body:
            raise ValueError(f"truncated cbloom {what} blob ({len(b)} B)")
        mode = b[cls._SHARD_HEADER_LEN]
        if mode == 0:
            if len(b) != body + 4 * width:
                raise ValueError(f"dense cbloom {what} body is "
                                 f"{len(b) - body} B, expected {4 * width}")
            return np.frombuffer(b, "<i4", width, body), None
        if mode == 1:
            return None, _sparse_cells(b, body, width, what)
        raise ValueError(f"unknown cbloom {what} mode byte {mode}")

    @classmethod
    def merge_shard_blobs(cls, blobs: list) -> bytes:
        """Counter-sum N same-shard blobs → one shard blob by the encoding
        rule.  All blobs must agree on (m, k, seed, n_shards, shard_id) —
        header-checked like merge_blobs — and each body must pass
        ``_shard_cells``.  A lone blob is returned as it is."""
        head, _, _, width = cls._shard_header(blobs[0])
        cells = []
        for b in blobs:
            if bytes(b[:cls._SHARD_HEADER_LEN]) != head:
                raise ValueError(
                    "refusing to merge cbloom shards with different "
                    "params/seeds/shard identity")
            cells.append(cls._shard_cells(b, width))
        if len(blobs) == 1:
            return bytes(blobs[0])
        acc = np.zeros(width, dtype=_DTYPE)
        for seg, sparse in cells:
            if seg is not None:
                acc += seg
            else:  # distinct indices: a plain fancy add is exact
                acc[sparse[0]] += sparse[1]
        return b"".join([head, *_body(width, seg=acc, dense_mode=b"\x00")])

    @classmethod
    def reassemble_shards(cls, blobs: list) -> bytes:
        """Shard blobs (one per shard_id, any order, either encoding) → the
        monolithic serialize() blob, bit-for-bit.  The rule applies to the
        filter's total nonzero cells: below half fill the shards' cells
        are concatenated at their offsets; otherwise dense bodies are
        copied as they are and only sparse shards are expanded.  A dense
        shard holds at least ``_dense_min`` of its cells (the rule), so
        when every shard is dense and has an even width no cell is
        counted."""
        if not blobs:
            raise ValueError("no cbloom shard blobs to reassemble")
        shards = {}
        filt = None
        for b in blobs:
            head, n_shards, sid, width = cls._shard_header(b)
            if filt is None:
                filt = head[:20]  # m | k | seed | n_shards
            elif head[:20] != filt:
                raise ValueError("mixed-filter shards in reassembly")
            if sid in shards:
                raise ValueError(f"duplicate cbloom shard {sid} in reassembly")
            shards[sid] = cls._shard_cells(b, width, f"shard {sid}")
        if sorted(shards) != list(range(n_shards)):
            raise ValueError(
                f"incomplete shard set: have {sorted(shards)} of {n_shards}")
        m = int.from_bytes(filt[:4], "little")
        ordered = [shards[i] for i in range(n_shards)]
        # a dense shard holds at least _dense_min of its cells: where those
        # floors reach the filter's (always, for even widths) the blob is
        # dense without a count
        if any(seg is None for seg, _ in ordered) or sum(
                _dense_min(seg.size) for seg, _ in ordered) < _dense_min(m):
            nnz = sum(c[0].size if seg is None else np.count_nonzero(seg)
                      for seg, c in ordered)
            if _sparse_wins(nnz, m):
                rel, vals = [], []
                for sid, (seg, c) in enumerate(ordered):
                    if seg is not None:
                        nz = np.flatnonzero(seg)
                        c = nz, seg[nz]
                    rel.append(c[0].astype(np.int64) + sid * m // n_shards)
                    vals.append(c[1])
                # the serialize() header (m | k | seed) is the shard
                # header's prefix
                return b"".join([filt[:16], *_body(m, np.concatenate(rel),
                                                   np.concatenate(vals))])
        bodies = []
        for sid, (seg, c) in enumerate(ordered):
            if seg is None:
                lo, hi = sid * m // n_shards, (sid + 1) * m // n_shards
                seg = np.zeros(hi - lo, dtype=_DTYPE)
                seg[c[0]] = c[1]
            bodies.append(seg)
        return b"".join([filt[:16], *bodies])

    # -- serde (engine layout; the reference has no counting filter) -------
    header_len = 16  # u32 m | u32 k | u64 seed (the body follows)
    # the dense layout: the sparse one is only chosen when it is shorter
    state_bytes_max = property(lambda self: 16 + self.params.m * 4)

    def serialize(self, state: np.ndarray) -> bytes:
        """LE u32 m | u32 k | u64 seed | body by the encoding rule: the
        dense body (16 + 4m B, even — the layout every older blob has) at
        or past half fill (always, for m = 1), else the sparse one
        (21 + 8·nnz B, odd and shorter)."""
        p = self.params
        return b"".join([pack_u32(p.m), pack_u32(p.k), pack_u64(p.seed),
                         *_body(p.m, seg=state)])

    @classmethod
    def deserialize(cls, blob: bytes, n: int | None = None,
                    p: float | None = None):
        """Either layout of ``serialize`` → (sketch, dense counters).  A
        blob of 16 + 4m bytes (or longer: refused) is dense, a shorter one
        whose mode byte is 1 sparse (its length is then odd); any other,
        and one that the sparse layout does not fit, ends inside its
        layout."""
        r = Reader(blob)
        m = r.u32()
        k = r.u32()
        seed = r.u64()
        dense = 16 + 4 * m
        if len(blob) < dense:
            # a truncated dense blob can look sparse: the error says both
            try:
                if len(blob) <= 16 or blob[16] != 1:
                    raise ValueError("no mode byte 1")
                idx, vals = _sparse_cells(memoryview(blob), 17, m, "blob")
            except ValueError as e:
                raise ValueError(
                    f"cbloom blob ends at byte {len(blob)}, inside its "
                    f"layout: a dense one needs {dense} B; as sparse: {e}"
                ) from None
            state = np.zeros(m, dtype=_DTYPE)
            state[idx] = vals
        else:
            # Reader.array returns its own writable copy: no second one
            state = r.array("<i4", m).astype(_DTYPE, copy=False)
            r.end()
        params = object.__new__(BloomParams)
        object.__setattr__(params, "n", n or 0)
        object.__setattr__(params, "p", p or 0.0)
        object.__setattr__(params, "seed", seed)
        object.__setattr__(params, "hash_family", "splitmix64")
        object.__setattr__(params, "m_pre", m)
        object.__setattr__(params, "k", k)
        object.__setattr__(params, "m", m)
        object.__setattr__(params, "n_words", (m >> 6) + 1)
        return cls(params), state


def _dense_min(width: int) -> int:
    """Fewest nonzero cells a dense body of ``width`` cells holds: from
    there on the sparse body (5 + 8·nnz B) is no shorter than the dense
    cells (4·width B).  Half of ``width`` when it is even."""
    return (2 * width + 1) // 4


def _sparse_wins(nnz: int, width: int) -> bool:
    """THE encoding rule: sparse only where it is shorter — below half
    fill for an even width, never for a width of 1."""
    return nnz < _dense_min(width)


def _body(width: int, rel=None, vals=None, seg=None,
          dense_mode: bytes = b"") -> list:
    """Body of ``width`` cells by the encoding rule, as parts for
    ``b"".join``: the sparse body, or ``dense_mode`` (the shard layout's
    mode byte 0; nothing in the monolithic one) and the dense cells.  The
    cells come as ``rel`` (nonzero, strictly ascending) holding ``vals``,
    or as the dense ``seg``, copied as it is and searched for its nonzero
    cells only when the body is sparse."""
    nnz = np.count_nonzero(seg) if rel is None else rel.size
    if _sparse_wins(nnz, width):
        if rel is None:
            rel = np.flatnonzero(seg)
        vals = seg[rel] if vals is None else vals
        return [b"\x01", pack_u32(rel.size), rel.astype("<u4"),
                vals.astype("<i4")]
    if seg is None:
        seg = np.zeros(width, dtype=_DTYPE)
        seg[rel] = vals
    return [dense_mode, seg.astype("<i4", copy=False)]


def _sparse_cells(b: memoryview, off: int, width: int, what: str
                  ) -> tuple[np.ndarray, np.ndarray]:
    """(idx, vals) of the sparse body after its mode byte at ``off`` in
    ``b``, checked: it ends exactly at the blob's end, is shorter than the
    dense body of ``width`` cells (the rule), and its indices are strictly
    ascending and inside ``width``, its values nonzero."""
    if len(b) < off + 4:
        raise ValueError(f"sparse cbloom {what} body is {len(b) - off} B, "
                         f"not 4 + 8 × its nnz")
    nnz = int.from_bytes(b[off:off + 4], "little")
    if len(b) != off + 4 + 8 * nnz:
        raise ValueError(
            f"sparse cbloom {what} body is {len(b) - off} B, not 4 + 8 × "
            f"its nnz {nnz}: it ends "
            + ("inside its layout" if len(b) < off + 4 + 8 * nnz
               else f"{len(b) - off - 4 - 8 * nnz} bytes past its layout"))
    if not _sparse_wins(nnz, width):
        raise ValueError(f"sparse cbloom {what} holds {nnz} of {width} "
                         f"cells: its dense body is no longer")
    idx = np.frombuffer(b, "<u4", nnz, off + 4)
    vals = np.frombuffer(b, "<i4", nnz, off + 4 + 4 * nnz)
    if nnz > 1 and not (idx[1:] > idx[:-1]).all():
        raise ValueError(
            f"sparse cbloom {what} indices are not strictly ascending")
    if nnz and int(idx[-1]) >= width:
        raise ValueError(f"sparse cbloom {what} index {int(idx[-1])} "
                         f"outside its {width} cells")
    if not vals.all():
        raise ValueError(f"sparse cbloom {what} holds a zero value")
    return idx, vals


def _sum_cells(idx: np.ndarray, vals: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
    """(cells, sums) of (cell, delta) pairs: strictly ascending cells, the
    deltas of a cell summed, zero sums dropped.  Sums commute, so an
    unstable sort gives the same cells."""
    order = np.argsort(idx)
    idx, vals = idx[order], vals[order]
    if idx.size:
        starts = np.flatnonzero(np.concatenate(([True],
                                                idx[1:] != idx[:-1])))
        idx = idx[starts]
        vals = np.add.reduceat(vals, starts, dtype=_DTYPE)
        live = vals != 0
        idx, vals = idx[live], vals[live]
    return idx, vals


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
        # one sort, duplicate cells summed and zero sums dropped, then each
        # shard emits its contiguous slice — O(E log E + shards), and no
        # dense segment for a shard under half full
        idx, delta = _sum_cells(*self._pairs())
        bounds = [sk.shard_bounds(i, n_shards) for i in range(n_shards)]
        cuts = np.searchsorted(idx, [lo for lo, _ in bounds] + [sk.params.m])
        return [sk._emit_cells(hi - lo, i, n_shards,
                               idx[cuts[i]:cuts[i + 1]] - lo,
                               delta[cuts[i]:cuts[i + 1]])
                for i, (lo, hi) in enumerate(bounds)]
