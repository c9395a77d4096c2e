"""Vectorized 64-bit hashing kernels (pure numpy, no per-row Python).

Structure mirrors the reference (one 64-bit hash → lo32/hi32 split →
Kirsch–Mitzenmacher index expansion → power-of-two mask):
  - /root/reference/filter/hash.go:5-14   (DoubleHash)
  - /root/reference/filter/bloom/filter.go:34-47 (xxh3 → h1/h2 → k indices)

The engine-default mixer is splitmix64 (Steele/Lea/Vigna, public domain) —
fast, seedable, and behaviorally identical in structure (determinism,
k-index expansion, pow-2 masking).  For BIT-parity with the reference's
xxh3 (so a Go-built Bloom blob probes correctly), core/xxh3.py implements
vectorized XXH3-64 for keys ≤ 128 bytes (vector-pinned through 64),
validated against the published sanity vectors; select it with
BloomParams(hash_family="xxh3").  core/metro.py does the same for the
cuckoo filter's MetroHash64 (any key length).

Unlike the reference's Bloom filter — whose stored Seed is never actually
used in hashing (quirk Q1, /root/reference/filter/bloom/filter.go:30,39) —
hashing here is explicitly seeded; with the default seed everything is
globally deterministic, matching the reference's observable behavior.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

U64 = np.uint64
_MASK64 = U64(0xFFFFFFFFFFFFFFFF)

# splitmix64 constants
_SM_GAMMA = U64(0x9E3779B97F4A7C15)
_SM_M1 = U64(0xBF58476D1CE4E5B9)
_SM_M2 = U64(0x94D049BB133111EB)

# FNV-1a 64-bit
_FNV_OFFSET = U64(0xCBF29CE484222325)
_FNV_PRIME = U64(0x100000001B3)

DEFAULT_SEED = 0x5EED_B10F_11E2_0001


def splitmix64(x: np.ndarray | int) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    z = (np.asarray(x, dtype=U64) + _SM_GAMMA).astype(U64)
    with np.errstate(over="ignore"):
        z = (z ^ (z >> U64(30))) * _SM_M1
        z = (z ^ (z >> U64(27))) * _SM_M2
        z = z ^ (z >> U64(31))
    return z


def mix_seed(seed: int) -> np.uint64:
    """Derive a well-mixed 64-bit seed word from an arbitrary int."""
    return splitmix64(np.array([seed & 0xFFFFFFFFFFFFFFFF], dtype=U64))[0]


def hash64_i32(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Hash a vector of int32 tokens to uint64.

    A token is treated as its 4-byte two's-complement pattern (the reference
    takes opaque ``[]byte`` keys — /root/reference/filter/bloom/filter.go:38;
    an int32 key is its little-endian bytes), i.e. -1 hashes as 0xFFFFFFFF.
    """
    x = np.ascontiguousarray(values, dtype=np.int32).view(np.uint32).astype(U64)
    return splitmix64(x ^ mix_seed(seed))


def hash64_i64(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    x = np.ascontiguousarray(values, dtype=np.int64).view(U64)
    return splitmix64(x ^ mix_seed(seed))


def hash64_bytes(values, seed: int = DEFAULT_SEED,
                 lengths: np.ndarray | None = None) -> np.ndarray:
    """Hash variable-length byte-string keys (e.g. doc_id) to uint64.

    Vectorized FNV-1a: keys are packed into a padded (N, maxlen) uint8 matrix
    (numpy 'S' dtype) and folded column-by-column — O(maxlen) vectorized
    passes, zero per-row Python.  Length is folded into the final mix so a
    key is distinguished from itself + trailing padding.  Interior NUL bytes
    are folded correctly (length = last non-NUL position + 1, so NUL columns
    inside the key still multiply by the FNV prime).

    Trailing NULs: numpy 'S' *storage* preserves them (itemsize covers the
    raw byte length) but their position is indistinguishable from padding,
    so when the input is a Python sequence / object array of bytes the true
    per-key lengths are computed up front (one cheap pass) — keys differing
    only in trailing NULs then hash distinctly, matching the reference's
    opaque ``[]byte`` semantics.  Callers holding a pre-packed 'S' array may
    pass explicit ``lengths``; without them trailing NULs are treated as
    padding (documented limitation of that input form).
    """
    if lengths is None and not (isinstance(values, np.ndarray)
                                and values.dtype.kind == "S"):
        vlist = values if isinstance(values, (list, tuple)) else list(values)
        if vlist and isinstance(vlist[0], (bytes, bytearray)):
            lengths = np.fromiter((len(v) for v in vlist), np.intp, len(vlist))
    arr = np.asarray(values, dtype=bytes)
    n = arr.shape[0]
    if n == 0:
        return np.empty(0, dtype=U64)
    width = arr.dtype.itemsize
    mat = arr.view(np.uint8).reshape(n, width)
    if lengths is not None:
        lengths = np.asarray(lengths, np.intp)
    elif width:
        # true length = index of last non-NUL byte + 1 (0 for all-NUL rows)
        rev_nonzero = mat[:, ::-1] != 0
        lengths = np.where(rev_nonzero.any(axis=1),
                           width - rev_nonzero.argmax(axis=1), 0)
    else:
        lengths = np.zeros(n, np.intp)
    h = np.full(n, _FNV_OFFSET ^ mix_seed(seed), dtype=U64)
    with np.errstate(over="ignore"):
        for j in range(width):
            active = lengths > j
            if not active.any():
                break
            hj = h[active]
            hj = (hj ^ mat[active, j].astype(U64)) * _FNV_PRIME
            h[active] = hj
    return splitmix64(h ^ lengths.astype(U64))


class StrBuf(NamedTuple):
    """Zero-copy view of a batch of variable-length byte keys: the flat
    UTF-8/bytes buffer plus per-key start offsets and lengths — exactly the
    (values, offsets) layout of an Arrow StringArray, so a ``mapInArrow``
    batch reaches the hash kernels without ever materializing Python string
    objects (the r4 verdict's last Arrow→Python conversion ceiling).

    ``flat`` is uint8; ``starts``/``lengths`` are intp and ABSOLUTE into
    ``flat`` (a sliced Arrow array's offsets stay valid against the shared
    data buffer).  Every str-keyed sketch entry point (``update_str`` /
    ``contains_str`` / delta variants) accepts a StrBuf anywhere it accepts
    a sequence of keys."""

    flat: np.ndarray
    starts: np.ndarray
    lengths: np.ndarray

    def __len__(self) -> int:  # row count, not tuple arity
        return int(self.starts.shape[0])

    def tolist(self) -> list:
        """Decode to Python bytes (slow path — tests / fallbacks only)."""
        return [self.flat[s:s + l].tobytes()
                for s, l in zip(self.starts, self.lengths)]


def arrow_strbuf(arr) -> "StrBuf | None":
    """pyarrow string/binary Array → StrBuf, reading the offsets and data
    buffers directly (no ``to_pylist``).  Nulls are dropped (callers that
    must keep positional alignment filter nulls in-plan first).  Returns
    None for array types without the flat+offsets layout (caller falls back
    to the object path)."""
    import pyarrow as pa
    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        off_dtype = np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        off_dtype = np.int32
    else:
        return None
    if arr.null_count:
        arr = arr.drop_null()
    n = len(arr)
    bufs = arr.buffers()
    if n == 0:
        return StrBuf(np.empty(0, np.uint8), np.empty(0, np.intp),
                      np.empty(0, np.intp))
    itemsize = np.dtype(off_dtype).itemsize
    # a NULL offsets/data buffer with n > 0 rows is a legal Arrow layout
    # (all offsets 0 / all values empty — e.g. IPC from other producers):
    # those are n EMPTY keys, which must still hash and count — not zero
    # rows (code-review r5)
    if bufs[1] is None:
        offsets = np.zeros(n + 1, dtype=off_dtype)
    else:
        offsets = np.frombuffer(bufs[1], dtype=off_dtype, count=n + 1,
                                offset=arr.offset * itemsize)
    flat = (np.empty(0, np.uint8) if bufs[2] is None
            else np.frombuffer(bufs[2], dtype=np.uint8))
    return StrBuf(flat, offsets[:-1].astype(np.intp, copy=False),
                  (offsets[1:] - offsets[:-1]).astype(np.intp))


def hash64_flat_bytes(flat: np.ndarray, starts: np.ndarray,
                      lengths: np.ndarray, seed: int = DEFAULT_SEED
                      ) -> np.ndarray:
    """FNV-1a fold straight off a flat byte buffer with per-key offsets —
    bit-identical to ``hash64_bytes`` (same per-byte XOR-multiply sequence,
    same length fold) but with NO padded-matrix copy and no Python object
    in sight: byte position j is one masked gather ``flat[starts+j]``
    across all still-active keys."""
    n = starts.shape[0]
    if n == 0:
        return np.empty(0, dtype=U64)
    starts = np.asarray(starts, np.intp)
    lengths = np.asarray(lengths, np.intp)
    h = np.full(n, _FNV_OFFSET ^ mix_seed(seed), dtype=U64)
    maxlen = int(lengths.max(initial=0))
    with np.errstate(over="ignore"):
        if maxlen and int(lengths.min()) == maxlen:
            # uniform-length batch (the id-key common case): no masks, and
            # when the keys are back-to-back in the buffer (un-sliced Arrow
            # array) each column is a strided VIEW — zero gathers
            if n == 1 or bool(((starts[1:] - starts[:-1]) == maxlen).all()):
                first = int(starts[0])
                mat = flat[first:first + n * maxlen].reshape(n, maxlen)
                for j in range(maxlen):
                    h = (h ^ mat[:, j].astype(U64)) * _FNV_PRIME
            else:
                for j in range(maxlen):
                    h = (h ^ flat[starts + j].astype(U64)) * _FNV_PRIME
        else:
            for j in range(maxlen):
                active = lengths > j
                if not active.any():
                    break
                hj = h[active]
                hj = (hj ^ flat[starts[active] + j].astype(U64)) * _FNV_PRIME
                h[active] = hj
    return splitmix64(h ^ lengths.astype(U64))


def packed_from_flat(flat: np.ndarray, starts: np.ndarray,
                     lengths: np.ndarray, width: int) -> np.ndarray:
    """(flat, starts, lengths) → zero-padded (N, width) uint8 matrix via ONE
    vectorized gather (clipped indices + validity mask) — the bridge from a
    StrBuf to the padded-matrix kernels (xxh3 / metro parity families).
    ``width`` must be ≥ max length (+ whatever slack the kernel gathers)."""
    n = starts.shape[0]
    mat = np.zeros((n, width), np.uint8)
    maxlen = int(np.asarray(lengths).max(initial=0))
    if n == 0 or maxlen == 0 or flat.size == 0:
        return mat
    if maxlen > width:
        raise ValueError(f"packed width {width} < max key length {maxlen}")
    colj = np.arange(maxlen, dtype=np.intp)
    idx = np.asarray(starts, np.intp)[:, None] + colj[None, :]
    valid = colj[None, :] < np.asarray(lengths, np.intp)[:, None]
    np.clip(idx, 0, flat.size - 1, out=idx)
    mat[:, :maxlen] = np.where(valid, flat[idx], 0)
    return mat


def padded_key_matrix(values, lengths: np.ndarray | None = None,
                      min_width: int = 0, slack: int = 8
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Byte keys (list/tuple of bytes, or a StrBuf) → (zero-padded uint8
    matrix, true lengths) — the shared input shape of the padded-matrix
    kernels (xxh3 / metro).  Width = max(maxlen, min_width) + slack so the
    kernels' fixed-size gathers never run off the row.  StrBuf inputs pack
    via ONE vectorized gather; list inputs fall back to the per-row fill."""
    if isinstance(values, StrBuf):
        lengths = values.lengths
        width = max(int(lengths.max(initial=0)), min_width) + slack
        return packed_from_flat(values.flat, values.starts, lengths,
                                width), lengths
    vlist = values if isinstance(values, (list, tuple)) else list(values)
    n = len(vlist)
    if lengths is None:
        lengths = np.fromiter((len(v) for v in vlist), np.intp, n)
    else:
        lengths = np.asarray(lengths, np.intp)
    width = max(int(lengths.max(initial=0)), min_width) + slack
    mat = np.zeros((n, width), np.uint8)
    for i, v in enumerate(vlist):
        if len(v):
            mat[i, :len(v)] = np.frombuffer(bytes(v), np.uint8)
    return mat, lengths


def hash64_str(values, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Hash unicode strings (UTF-8 encoded) or bytes keys to uint64.

    Object inputs whose elements are ``bytes`` route through the exact-length
    bytes path (trailing NULs distinct); str inputs use the vectorized
    np.char.encode fast path (np.char strips trailing-NUL *codepoints* — a
    pathological case for text keys, use bytes keys for opaque blobs).
    A ``StrBuf`` routes through the zero-copy flat-buffer fold.
    """
    if isinstance(values, StrBuf):
        return hash64_flat_bytes(values.flat, values.starts, values.lengths,
                                 seed)
    arr = np.asarray(values) if not isinstance(values, np.ndarray) else values
    if arr.dtype.kind == "U":
        enc = np.char.encode(arr, "utf-8")
    elif arr.dtype.kind == "S":
        enc = arr
    elif arr.dtype.kind == "O" and arr.size and isinstance(arr.flat[0], (bytes, bytearray)):
        return hash64_bytes(arr, seed)
    else:  # object array of python strs (pandas)
        enc = np.char.encode(arr.astype("U"), "utf-8")
    return hash64_bytes(enc, seed)


def compact_i32_counts(values) -> tuple[np.ndarray, np.ndarray] | None:
    """Collapse duplicate int32 keys to (unique values, int64 counts) with ONE
    O(N + range) bincount pass — no sort.  Returns None when collapsing cannot
    pay: small batches (fixed overhead beats the savings) or a value range so
    wide the counting array would cost more than the duplicates save.

    Zipfian token batches (the engine's hot input shape: ~1.3M draws from a
    ~50k vocab per Arrow batch) collapse ~31×, so every downstream
    hash/index/scatter pass runs on the distinct domain instead of the raw
    stream.  Safe ONLY for multiset-insensitive updates (Bloom/blocked-bloom/
    HLL bits and registers ignore multiplicity) or weight-additive ones
    (CMS/Count-Sketch counters fold the counts back in) — callers own that
    argument; order-sensitive sketches (KLL/t-digest/MG) must not use this.
    """
    v = np.asarray(values)
    if v.dtype != np.int32 or v.size < 4096:
        return None
    n = v.size
    vmin = int(v.min())
    vmax = int(v.max())
    rng = vmax - vmin + 1
    if rng > 2 * n + 65536:
        return None
    c = np.bincount(v - np.int32(vmin), minlength=rng)
    nz = np.flatnonzero(c)
    return (nz + vmin).astype(np.int32, copy=False), c[nz]


def split_h1_h2(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Split a 64-bit hash into (lo32, hi32) — reference filter/hash.go:7-8."""
    h1 = h & U64(0xFFFFFFFF)
    h2 = h >> U64(32)
    return h1, h2


def km_indices(h: np.ndarray, m: int, k: int) -> np.ndarray:
    """Kirsch–Mitzenmacher double hashing: (N,) uint64 hash → (N, k) indices.

    index_i = (h1 + i*h2) & (m-1), m a power of two — exactly the reference's
    expansion (/root/reference/filter/hash.go:9-13, bloom/filter.go:40-46),
    as one broadcast matrix op per Arrow batch.
    """
    h1, h2 = split_h1_h2(h)
    i = np.arange(k, dtype=U64)
    with np.errstate(over="ignore"):
        idx = (h1[:, None] + i[None, :] * h2[:, None]) & U64(m - 1)
    return idx


def clz64(w: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (exact, no float tricks)."""
    w = np.asarray(w, dtype=U64)
    n = np.zeros(w.shape, dtype=np.uint8)
    v = w.copy()
    for s in (32, 16, 8, 4, 2, 1):
        big = v >= (U64(1) << U64(s))
        n[big] += np.uint8(s)
        v[big] >>= U64(s)
    out = np.where(w == 0, np.uint8(64), np.uint8(63) - n)
    return out.astype(np.uint8)


def next_power_of_two(n: int) -> int:
    """Identical semantics to the reference (/root/reference/filter/utils.go:23-31):
    0 → 0, exact powers map to themselves, else round up."""
    if n <= 0:
        return 0
    return 1 << (int(n) - 1).bit_length()


# measured on this box (numpy 1.26, 9M updates into 2^20 bits):
#   bool-fancy-assign + packbits  0.045 s
#   np.bitwise_or.at              0.081 s
#   argsort + reduceat            3.6 s
# numpy ≥1.25 vectorizes ufunc.at, so the .at forms are the right primitive;
# the packbits path wins when the whole bit array fits comfortably in memory
# as one byte per bit (m ≤ 2^27 = 16 MiB of bool).
_PACKBITS_MAX_BITS = 1 << 27


def set_bits(bits: np.ndarray, idx: np.ndarray, m: int) -> None:
    """Set bit positions ``idx`` (duplicates fine) in an LSB-first u64-word
    bit array of m bits (reference layout: Bits[i>>6] |= 1<<(i&63),
    /root/reference/filter/bloom/filter.go:43-46)."""
    if idx.size == 0:
        return
    # staging is O(m) per call regardless of batch size — a 10k-row Arrow
    # batch against a 2^26-bit filter would pay a 67 MB bool alloc +
    # packbits for 70k updates.  Measured crossover ≈ updates = m/64..m/32
    # (single-core kernel timing); route sparse batches to the O(updates)
    # ufunc.at path instead.
    if 64 <= m <= _PACKBITS_MAX_BITS and idx.size >= (m >> 5):
        bb = np.zeros(m, dtype=bool)
        bb[idx.astype(np.int64)] = True
        packed = np.packbits(bb, bitorder="little").view(np.uint64)
        bits[: m >> 6] |= packed
    else:
        words = (idx >> U64(6)).astype(np.int64)
        vals = U64(1) << (idx & U64(63))
        # vectorized OR-scatter: fancy in-place |= lands ONE write per
        # distinct word (duplicate words may drop bits), then the exact
        # ufunc.at finishes only the verified stragglers — ~10× faster
        # than bitwise_or.at on everything (numpy has no specialized
        # indexed loop for bitwise_or, so .at runs ~94 ns/element)
        bits[words] |= vals
        lost = (bits[words] & vals) != vals
        if lost.any():
            np.bitwise_or.at(bits, words[lost], vals[lost])


def max_reduce_at(regs: np.ndarray, idx: np.ndarray, vals: np.ndarray) -> None:
    """regs[idx] = max(regs[idx], vals) with duplicate-index correctness.

    Same verify-retry shape as set_bits: one vectorized gather/max/scatter
    handles each distinct index once; duplicate indices that lost their
    larger value are finished by the exact (but per-element) ufunc.at."""
    regs[idx] = np.maximum(regs[idx], vals)
    lost = regs[idx] < vals
    if lost.any():
        np.maximum.at(regs, idx[lost], vals[lost])
