"""Broadcast probe operators — the Exist/estimate side of the lifecycle.

Every probe surface takes one Arrow path into the numpy kernels:

* scalar probes (``membership_udf``, ``cms_point_udf``, ``rank_udf`` and
  their SQL registrations) are ``arrow_udf``s built by ONE factory
  (``_probe_udf``): each Arrow batch is null-filled, extracted and cast
  exactly as the build's ``_update`` does (string keys as a zero-copy
  ``StrBuf``), probed in one kernel call, and NULL keys get the probe's
  miss value;
* ``membership_scan`` folds whole RecordBatches through one per-task probe
  function, fed either by the build's native parquet scan or by the JVM
  (``mapInArrow``).

Both ship the sketch through one driver-side registry (``_handle``): a
blob is digested and broadcast once per Spark application, however many
probes are made from it.  A ``bytes`` blob seen before is found by
identity with no digest; an equal blob rebuilt since (or a mutable
``bytearray``) pays one SHA-1 and reuses the broadcast.  The registry holds
at most ``_BLOB_BYTES_MAX`` blob bytes, least recently used out first, and
unpersists what it lets go (lazy DataFrames built from it re-fetch it).

Deserialization is cached per executor process, keyed by the blob's
content digest, so each task reuses the shared state array instead of
re-parsing the blob per batch — the distributed analog of the reference's
in-memory ``Exist`` loop (filter/bloom/filter.go:49-61, main.go:39-52 of
the Go reference).  That cache holds at most ``_STATE_BYTES_MAX`` state
bytes, least recently used out first, and always keeps the state just
fetched.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StructField, StructType)

from ..core.hashing import compact_i32_counts
from ..sketches.base import SKETCH_KINDS, sketch_for_kind
from .build import (_arrow_values, _check_key_column, _check_key_type,
                    _elem_kind, _keys, _native_scan)

# executor process: content key → (sketch, state, state bytes), least
# recently used first
_CACHE: OrderedDict[tuple, tuple] = OrderedDict()
_STATE_BYTES_MAX = 256 << 20

# driver: (application id, content key) → _Handle, least recently used first
_HANDLES: OrderedDict[tuple, "_Handle"] = OrderedDict()
_HANDLES_LOCK = threading.Lock()
_BLOB_BYTES_MAX = 256 << 20

# probe method → (SQL result type, numpy dtype, result at a NULL key).  NaN
# becomes SQL NULL on the way out (``from_pandas``).
_PROBES = {
    "contains": (BooleanType(), np.bool_, False),
    "point": (LongType(), np.int64, 0),
    "rank": (DoubleType(), np.float64, np.nan),
}
# the key a NULL is replaced by before extraction (its result is discarded)
_NULL_FILL = {"str": ""}


def _cache_key(blob: bytes, kind: str, dkw: dict | None = None) -> tuple:
    # computed driver-side (``_handle``); stable across executors.
    # cryptographic digest — same-kind sketches with identical params always
    # have identical length, so a weak checksum would be the sole
    # discriminator and a 32-bit collision would silently probe wrong state.
    # deserialize kwargs (e.g. hash_family) are part of the identity: the
    # same blob probed under two families is two different probers.
    return (kind, len(blob), hashlib.sha1(blob).hexdigest(),
            tuple(sorted((dkw or {}).items())))


@dataclass
class _Handle:
    blob: object  # the caller's latest equal blob: identity hits skip SHA-1
    bc: object


def _handle(spark: SparkSession, blob: bytes, kind: str,
            deserialize_kwargs: dict | None = None) -> tuple:
    """→ (broadcast, content key) of ``blob`` probed as ``kind``: one
    broadcast per distinct content and deserializer per application.  The
    entry holds the blob, so an identity match cannot alias a freed one;
    only ``bytes`` match by identity (a bytearray can change in place)."""
    sc = spark.sparkContext
    app = sc.applicationId
    dkw = tuple(sorted((deserialize_kwargs or {}).items()))
    with _HANDLES_LOCK:
        # a stopped context's broadcasts are dead: never hand one out
        for k in [k for k in _HANDLES if k[0] != app]:
            del _HANDLES[k]
        if type(blob) is bytes:
            for (_, key), h in reversed(_HANDLES.items()):
                if h.blob is blob and key[0] == kind and key[3] == dkw:
                    _HANDLES.move_to_end((app, key))
                    return h.bc, key
        key = _cache_key(blob, kind, deserialize_kwargs)
        h = _HANDLES.get((app, key))
        if h is not None:
            h.blob = blob  # the next call hits by identity; the old blob frees
            _HANDLES.move_to_end((app, key))
            return h.bc, key
        bc = sc.broadcast(blob)
        if key[1] > _BLOB_BYTES_MAX:
            return bc, key
        _HANDLES[(app, key)] = _Handle(blob, bc)
        held = sum(k[1][1] for k in _HANDLES)
        while held > _BLOB_BYTES_MAX:
            (_, old), h = _HANDLES.popitem(last=False)
            held -= old[1]
            # never destroy(): a lazy DataFrame built on it may still run
            h.bc.unpersist()
        return bc, key


def _get(bc, key: tuple):
    """→ (sketch, state) of the broadcast blob with content key ``key``,
    deserialized once per executor process while it stays cached."""
    hit = _CACHE.get(key)
    if hit is not None:
        _CACHE.move_to_end(key)
        return hit[:2]
    sk, state = sketch_for_kind(key[0]).deserialize(bytes(bc.value),
                                                    **dict(key[3]))
    _CACHE[key] = (sk, state, getattr(state, "nbytes", key[1]))
    held = sum(e[2] for e in _CACHE.values())
    while held > _STATE_BYTES_MAX and len(_CACHE) > 1:
        held -= _CACHE.popitem(last=False)[1][2]
    return sk, state


def _probe_method(kind: str, probe: str, key_kind: str | None) -> str:
    """→ the sketch method answering ``probe`` for ``key_kind`` keys (the
    bare ``probe`` when there is no key kind), or ValueError when the kind's
    class does not define it — raised at creation, never inside a task."""
    method = probe if key_kind is None else f"{probe}_{key_kind}"
    if not callable(getattr(SKETCH_KINDS.get(kind), method, None)):
        raise ValueError(f"{kind!r} sketches have no {method} probe")
    return method


def _probe_udf(spark: SparkSession, blob: bytes, kind: str, probe: str,
               key_kind: str | None, deserialize_kwargs: dict | None = None):
    """The one scalar probe factory → ``arrow_udf`` answering ``probe``
    (contains | point | rank) for every key of each Arrow batch in one
    kernel call.  ``key_kind`` None probes float64 values (rank).  A key
    column the cast would change (``_check_key_type``) fails the task with
    ValueError."""
    method = _probe_method(kind, probe, key_kind)
    rtype, dtype, miss = _PROBES[probe]
    cast = key_kind or "f64"
    bc, key = _handle(spark, blob, kind, deserialize_kwargs)

    @F.arrow_udf(rtype)
    def probe_fn(a: pa.Array) -> pa.Array:
        _check_key_type(a.type, cast, "probed")
        sk, state = _get(bc, key)
        nulls = None
        if a.null_count:
            # fill BEFORE extraction: arrow_strbuf (and _arrow_values) drop
            # nulls, which would shift every later key onto the wrong row
            nulls = a.is_null().to_numpy(zero_copy_only=False)
            a = a.fill_null(_NULL_FILL.get(cast, 0))
        out = np.asarray(getattr(sk, method)(
            state, _keys(_arrow_values(a, cast), cast)), dtype)
        if nulls is not None:
            # a NULL key was never inserted: not key 0's / ""'s answer
            out[nulls] = miss
        return pa.array(out, from_pandas=True)

    return probe_fn


def membership_udf(spark: SparkSession, blob: bytes, kind: str,
                   key_kind: str = "i32",
                   deserialize_kwargs: dict | None = None):
    """→ arrow_udf(BooleanType): does the sketch contain each key?  A NULL
    key is never a member (False).  ``deserialize_kwargs`` forwards serde
    options the blob layout does not carry (e.g. hash_family='xxh3' for
    Go-parity blobs).  Raises ValueError at creation when ``kind`` has no
    ``contains_<key_kind>``."""
    return _probe_udf(spark, blob, kind, "contains", key_kind,
                      deserialize_kwargs)


def cms_point_udf(spark: SparkSession, blob: bytes, key_kind: str = "i32",
                  kind: str = "cms"):
    """→ arrow_udf(LongType): frequency point estimate per key; a NULL key
    has frequency 0.  Works for any sketch exposing ``point_<key_kind>``
    (CMS min-row estimate, Count-Sketch signed median) — ``kind`` selects
    the deserializer.  Raises ValueError at creation when it has none."""
    return _probe_udf(spark, blob, kind, "point", key_kind)


def rank_udf(spark: SparkSession, blob: bytes, kind: str):
    """→ arrow_udf(DoubleType): estimated normalized rank (KLL / t-digest)
    of each value, cast to float64; a NULL value has a NULL rank.  Raises
    ValueError at creation when ``kind`` has no ``rank``."""
    return _probe_udf(spark, blob, kind, "rank", None)


def register_sql_probes(spark: SparkSession, prefix: str, blob: bytes, kind: str,
                        key_kind: str = "i32") -> None:
    """Expose a sketch's probe surface to Spark SQL:

        register_sql_probes(spark, "tok", blob, "bloom")
        spark.sql("SELECT * FROM t WHERE tok_contains(token)")

    Routes on the probe methods the kind's class defines, first match wins:
    ``contains_*`` registers <prefix>_contains, ``point_*`` <prefix>_count,
    ``rank`` <prefix>_rank.  A class with none raises ValueError."""
    names = dir(SKETCH_KINDS.get(kind))
    if any(n.startswith("contains_") for n in names):
        name, udf = "contains", membership_udf(spark, blob, kind, key_kind)
    elif any(n.startswith("point_") for n in names):
        name, udf = "count", cms_point_udf(spark, blob, key_kind, kind)
    elif "rank" in names:
        name, udf = "rank", rank_udf(spark, blob, kind)
    else:
        raise ValueError(f"{kind!r} sketches have no probe method")
    spark.udf.register(f"{prefix}_{name}", udf)


# membership_scan's per-task count row
_COUNT_SCHEMA = StructType([StructField("n_probed", LongType()),
                            StructField("n_member", LongType())])


def membership_scan(df, col: str, spark: SparkSession, blob: bytes, kind: str,
                    value_kind: str = "i32_array"):
    """Bulk membership over a whole table — the Exist() hot loop at scale.

    One per-task function folds the column's Arrow batches into
    (n_probed, n_member): the token stream never explodes into per-row
    records (which multiplies exchange row count ~250×); each batch's flat
    values buffer is probed in one vectorized pass, keys extracted and cast
    exactly as the build inserted them.  A bare projected parquet scan feeds
    it row groups natively (the build's ``_native_scan``); any other plan
    through ``mapInArrow``.  NULL keys (and NULL arrays) are not probed.
    Returns a one-row-per-task DataFrame (n_probed, n_member); aggregate for
    totals.  Raises ValueError at creation when ``kind`` has no
    ``contains_<element kind>``, or when the cast to ``value_kind`` would
    change the column's keys (``_check_key_type``).
    """
    elem_kind = _elem_kind(value_kind)
    method = _probe_method(kind, "contains", elem_kind)
    sel = df.select(col)
    _check_key_column(df, col, value_kind, "probed")
    bc, key = _handle(spark, blob, kind)

    def scan(batches):
        contains = state = None
        n = hits = 0
        for b in batches:
            if contains is None:  # no state fetch for an empty partition
                sk, state = _get(bc, key)
                contains = getattr(sk, method)
            vals = _keys(_arrow_values(b.column(0), value_kind), elem_kind)
            # only the (n_probed, n_member) aggregate leaves this scan, so
            # duplicate int32 keys can be probed once and counted back in —
            # identical totals, k probe passes on the distinct domain
            packed = (compact_i32_counts(vals)
                      if isinstance(vals, np.ndarray) else None)
            if packed is not None:
                uvals, cnts = packed
                n += int(cnts.sum())
                hits += int(cnts[contains(state, uvals)].sum())
            else:
                member = contains(state, vals)
                n += len(member)
                hits += int(member.sum())
        yield pa.RecordBatch.from_pydict({
            "n_probed": pa.array([n], pa.int64()),
            "n_member": pa.array([hits], pa.int64()),
        })

    # no state-bytes hint: the count rows are near-free to ship, so the
    # native scan's splits follow the input's bytes alone (_task_count); an
    # input under one open cost is one task and the caller's agg one stage
    native = _native_scan(sel, [col], scan, _COUNT_SCHEMA)
    if native is not None:
        return native[0]
    return sel.mapInArrow(scan, _COUNT_SCHEMA)
