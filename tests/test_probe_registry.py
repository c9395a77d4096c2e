"""operators/probe.py's handle registry and executor state cache: a blob is
digested and broadcast once per application however many probes are built
from it, and both caches hold a bounded number of bytes, least recently
used out first."""

import hashlib
import types
from collections import OrderedDict

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filter_spark.operators import membership_scan, membership_udf
from bloom_filter_spark.operators import probe
from bloom_filter_spark.sketches import BloomParams, BloomSketch

PROBED = [1, 2, 3, 9]


def _blob(keys):
    """A fresh Bloom blob over ``keys``: equal length for any keys."""
    sk = BloomSketch(BloomParams(n=1000, p=0.01))
    state = sk.empty()
    sk.update_i32(state, np.asarray(keys, np.int32))
    return sk.serialize(state)


def _members(scan) -> int:
    return scan.agg(F.sum("n_member")).collect()[0][0]


@pytest.fixture
def keys_df(spark):
    return spark.createDataFrame([(k,) for k in PROBED], "k int")


@pytest.fixture
def spies(spark, monkeypatch):
    """Counts of ``sc.broadcast`` calls and of the SHA-1 digests probe.py
    takes."""
    sc = spark.sparkContext
    counts = {"broadcast": 0, "sha1": 0}
    broadcast = sc.broadcast

    def spy_broadcast(value):
        counts["broadcast"] += 1
        return broadcast(value)

    def spy_sha1(data):
        counts["sha1"] += 1
        return hashlib.sha1(data)

    monkeypatch.setattr(sc, "broadcast", spy_broadcast)
    monkeypatch.setattr(probe, "hashlib", types.SimpleNamespace(sha1=spy_sha1))
    return counts


def test_probes_of_one_blob_broadcast_and_digest_it_once(spark, keys_df,
                                                          spies):
    blob = _blob([1, 2, 3])
    for _ in range(2):
        assert _members(membership_scan(keys_df, "k", spark, blob,
                                        "bloom", "i32")) == 3
    udf = membership_udf(spark, blob, "bloom", "i32")
    assert [r[0] for r in keys_df.select(udf("k")).collect()] == [
        True, True, True, False]
    assert spies == {"broadcast": 1, "sha1": 1}
    # another blob of the same length and kind is another handle
    other = _blob([9])
    assert len(other) == len(blob)
    assert _members(membership_scan(keys_df, "k", spark, other, "bloom",
                                    "i32")) == 1
    assert spies == {"broadcast": 2, "sha1": 2}


def test_deserialize_kwargs_are_part_of_the_handle(spark, spies):
    blob = _blob([4, 5])
    plain = probe._handle(spark, blob, "bloom")
    xxh3 = probe._handle(spark, blob, "bloom", {"hash_family": "xxh3"})
    assert plain[0] is not xxh3[0] and plain[1] != xxh3[1]
    assert probe._handle(spark, blob, "bloom", {"hash_family": "xxh3"}) == xxh3
    assert probe._handle(spark, blob, "bloom") == plain
    assert spies == {"broadcast": 2, "sha1": 2}


def test_equal_copy_reuses_the_broadcast_and_bytearray_is_digested(
        spark, keys_df, spies):
    blob = _blob([1, 9])
    bc, key = probe._handle(spark, blob, "bloom")
    copy = bytes(bytearray(blob))
    assert copy is not blob
    # one digest finds the broadcast, then the copy hits by identity
    assert probe._handle(spark, copy, "bloom") == (bc, key)
    assert probe._handle(spark, copy, "bloom") == (bc, key)
    assert spies == {"broadcast": 1, "sha1": 2}
    # a bytearray can change in place: every call digests it
    mutable = bytearray(blob)
    for _ in range(2):
        assert _members(membership_scan(keys_df, "k", spark, mutable,
                                        "bloom", "i32")) == 2
    assert spies == {"broadcast": 1, "sha1": 4}
    mutable[:] = _blob([2, 3, 9])
    assert _members(membership_scan(keys_df, "k", spark, mutable,
                                    "bloom", "i32")) == 3
    assert spies == {"broadcast": 2, "sha1": 5}


def test_eviction_unpersists_and_earlier_scans_still_run(spark, keys_df,
                                                        monkeypatch, spies):
    first, second = _blob([1]), _blob([2, 3])
    monkeypatch.setattr(probe, "_BLOB_BYTES_MAX", len(first) * 3 // 2)
    # built, not run: its tasks fetch the state only after the eviction
    early = membership_scan(keys_df, "k", spark, first, "bloom", "i32")
    bc, _ = probe._handle(spark, first, "bloom")
    unpersisted = []
    unpersist = bc.unpersist

    def spy_unpersist(*args):
        unpersisted.append(args)
        unpersist(True)  # blocking: gone before the early scan runs

    monkeypatch.setattr(bc, "unpersist", spy_unpersist)
    assert _members(membership_scan(keys_df, "k", spark, second,
                                    "bloom", "i32")) == 2
    assert len(unpersisted) == 1
    assert _members(early) == 1
    assert spies["broadcast"] == 2
    # evicted: the next probe of it broadcasts anew
    probe._handle(spark, first, "bloom")
    assert spies["broadcast"] == 3
    # a blob past the whole bound is broadcast but never retained
    monkeypatch.setattr(probe, "_BLOB_BYTES_MAX", len(first) - 1)
    big = _blob([7])
    assert probe._handle(spark, big, "bloom")[0] is not probe._handle(
        spark, big, "bloom")[0]
    assert spies["broadcast"] == 5


def test_a_new_application_drops_the_old_handles(spark, monkeypatch, spies):
    blob = _blob([6])
    bc, _ = probe._handle(spark, blob, "bloom")
    app = spark.sparkContext.applicationId
    with monkeypatch.context() as m:
        m.setattr(type(spark.sparkContext), "applicationId",
                  property(lambda self: "another-application"))
        assert probe._handle(spark, blob, "bloom")[0] is not bc
        assert {k[0] for k in probe._HANDLES} == {"another-application"}
    assert spies["broadcast"] == 2
    assert probe._handle(spark, blob, "bloom")[0] is not bc
    assert {k[0] for k in probe._HANDLES} == {app}
    assert spies["broadcast"] == 3


def test_executor_cache_keeps_the_hot_state_past_its_bound(monkeypatch):
    """The executor cache evicts its least recently used states once they
    pass _STATE_BYTES_MAX, never the state just fetched, and a cached state
    is not deserialized again."""
    monkeypatch.setattr(probe, "_CACHE", OrderedDict())
    blobs = [_blob([i]) for i in range(3)]
    keys = [probe._cache_key(b, "bloom") for b in blobs]
    bcs = [types.SimpleNamespace(value=b) for b in blobs]
    nbytes = BloomSketch.deserialize(blobs[0])[1].nbytes
    monkeypatch.setattr(probe, "_STATE_BYTES_MAX", 2 * nbytes)
    hot = probe._get(bcs[0], keys[0])[1]
    probe._get(bcs[1], keys[1])
    assert probe._get(bcs[0], keys[0])[1] is hot
    probe._get(bcs[2], keys[2])
    assert list(probe._CACHE) == [keys[0], keys[2]]
    assert probe._get(bcs[0], keys[0])[1] is hot
    # a state past the whole bound still stays while it is the hot one
    monkeypatch.setattr(probe, "_STATE_BYTES_MAX", 1)
    probe._get(bcs[1], keys[1])
    assert list(probe._CACHE) == [keys[1]]
