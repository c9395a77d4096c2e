"""MergeableSketch protocol — the one abstraction all sketches share.

The reference exposes (construct, Insert, Exist, Serialize, Deserialize) on a
mutable struct (/root/reference/filter/bloom/filter.go:20-92).  Distributing
that on Spark requires exactly one extra algebraic property: an associative,
commutative *merge* of sketch states built with identical params.  The shape
is therefore:

    params (frozen, broadcast)  →  empty() state (numpy)
    update_i32 / update_str (vectorized batch insert)
    merge(a, b)                (associative + commutative)
    serialize / deserialize    (LE blob, checkpointable)
    + sketch-specific queries  (contains / estimate / point / quantile)

Bloom/HLL/CMS merges are bit-identical under any merge order; t-digest/KLL
merges are associative up to their published estimate bound (verified by the
merge-permutation tests, SURVEY.md §2.7).  Cuckoo is NOT union-mergeable
(bucket overflow) and is scoped to single-writer grouped builds — it does not
register a merge.

Each registered class also declares what it is; the operators route on
these declarations, never on kind names:

    multiset_pure   the merged state depends only on the input multiset, so
                    re-partitioned routes (the native parquet scan's own
                    splits) give bit-identical blobs.  False is always
                    safe: the native scan then replays the JVM scan's
                    partitions and batches instead.
    header_len      bytes of serialized params/seed that must be equal
                    before two blobs may merge (merge_blobs).
    state_bytes_max the serialized worst case, derived from the class's own
                    layout and params (exact for fixed-size states).  Every
                    merge plan reads it: the driver-fold vs merge-level
                    route, the byte fanin, the wide-state and grouped
                    strategy guards.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

import numpy as np


@runtime_checkable
class MergeableSketch(Protocol):
    kind: str
    multiset_pure: bool
    header_len: int
    state_bytes_max: int

    def empty(self): ...

    def update_i32(self, state, values: np.ndarray) -> None: ...

    def merge(self, a, b): ...

    def serialize(self, state) -> bytes: ...


# kind-tag → sketch class registry (populated by each module at import time).
SKETCH_KINDS: dict[str, type] = {}


def register(cls):
    SKETCH_KINDS[cls.kind] = cls
    return cls


def sketch_for_kind(kind: str):
    return SKETCH_KINDS[kind]
