"""Property-based tests (hypothesis) over the sketch kernels — no Spark.

The reference's invariants, quantified over the parameter space instead of
at fixed literals: zero FN for arbitrary key sets, serde round-trips for
arbitrary params/states, merge==whole under arbitrary splits, sizing-math
monotonicity, next-power-of-two semantics.
"""

import numpy as np
from hypothesis import given, settings, strategies as st

from bloom_filter_spark.core import hashing
from bloom_filter_spark.sketches import (
    BloomParams, BloomSketch, CMSParams, CMSSketch, CuckooFilter, CuckooParams,
    HLLParams, HLLSketch, KLLParams, KLLSketch,
)

keys = st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=500)


@given(st.integers(1, 2**31 - 1))
def test_next_power_of_two_properties(n):
    m = hashing.next_power_of_two(n)
    assert m >= n and m & (m - 1) == 0
    if n & (n - 1) == 0:
        assert m == n  # exact powers map to themselves (utils.go:23-31)


@given(keys, st.integers(10, 100_000),
       st.floats(0.001, 0.3, allow_nan=False))
@settings(max_examples=50, deadline=None)
def test_bloom_zero_fn_any_keys_any_params(vals, n, p):
    sk = BloomSketch(BloomParams(n=n, p=p))
    state = sk.empty()
    arr = np.array(vals, np.int32)
    sk.update_i32(state, arr)
    assert sk.contains_i32(state, arr).all()


@given(keys, st.integers(2, 7))
@settings(max_examples=30, deadline=None)
def test_bloom_split_merge_equals_whole(vals, n_splits):
    sk = BloomSketch(BloomParams(n=10_000, p=0.01))
    arr = np.array(vals, np.int32)
    whole = sk.empty()
    sk.update_i32(whole, arr)
    merged = sk.empty()
    for chunk in np.array_split(arr, n_splits):
        st_ = sk.empty()
        if chunk.size:
            sk.update_i32(st_, chunk)
        merged = sk.merge(merged, st_)
    np.testing.assert_array_equal(whole, merged)


@given(keys)
@settings(max_examples=30, deadline=None)
def test_bloom_serde_roundtrip_any_state(vals):
    sk = BloomSketch(BloomParams(n=5000, p=0.02))
    state = sk.empty()
    sk.update_i32(state, np.array(vals, np.int32))
    sk2, state2 = BloomSketch.deserialize(sk.serialize(state))
    np.testing.assert_array_equal(state, state2)
    assert sk2.params.m == sk.params.m and sk2.params.k == sk.params.k


@given(keys)
@settings(max_examples=30, deadline=None)
def test_hll_merge_commutes_bitwise(vals):
    sk = HLLSketch(HLLParams(b=10))
    arr = np.array(vals, np.int32)
    a, b = sk.empty(), sk.empty()
    half = len(arr) // 2
    sk.update_i32(a, arr[:half])
    sk.update_i32(b, arr[half:])
    np.testing.assert_array_equal(sk.merge(a, b), sk.merge(b, a))


@given(keys)
@settings(max_examples=30, deadline=None)
def test_cms_point_at_least_true_count(vals):
    sk = CMSSketch(CMSParams(eps=0.01, delta=0.01))
    state = sk.empty()
    arr = np.array(vals, np.int32)
    sk.update_i32(state, arr)
    uniq, cnt = np.unique(arr, return_counts=True)
    assert (sk.point_i32(state, uniq) >= cnt).all()


@given(st.lists(st.floats(-1e9, 1e9, allow_nan=False), min_size=1, max_size=800),
       st.integers(2, 5))
@settings(max_examples=30, deadline=None)
def test_kll_n_exact_under_splits(vals, n_splits):
    sk = KLLSketch(KLLParams(k=64))
    arr = np.array(vals, np.float64)
    states = []
    for chunk in np.array_split(arr, n_splits):
        s = sk.empty()
        sk.update(s, chunk)
        states.append(s)
    merged = states[0]
    for s in states[1:]:
        merged = sk.merge(merged, s)
    assert merged.n == arr.size
    q = sk.quantiles(merged, [0.0, 1.0])
    assert q[0] >= arr.min() - 1e-9 and q[1] <= arr.max() + 1e-9


@given(st.lists(st.integers(0, 1000), min_size=1, max_size=300, unique=True))
@settings(max_examples=30, deadline=None)
def test_cuckoo_insert_then_delete_all(vals):
    cf = CuckooFilter(CuckooParams(n=4000, load_factor=0.5))
    state = cf.empty()
    arr = np.array(vals, np.int32)
    assert cf.insert_i32(state, arr) == 0
    assert cf.contains_i32(state, arr).all()
    assert cf.delete_i32(state, arr).all()
    assert (state == 0).all()  # every fingerprint removed


@given(st.binary(min_size=0, max_size=64).filter(lambda b: b'\x00' not in b))
@settings(max_examples=100, deadline=None)
def test_bytes_hash_injective_on_length_extension(b):
    # h(x) != h(x + '.') — trailing-byte sensitivity incl. empty keys
    h1 = hashing.hash64_bytes(np.array([b], dtype=bytes), 1)[0]
    h2 = hashing.hash64_bytes(np.array([b + b"."], dtype=bytes), 1)[0]
    assert h1 != h2


@given(keys,
       st.lists(st.integers(-1, 1).filter(lambda s: s != 0),
                min_size=1, max_size=500),
       st.integers(1, 9), st.integers(2, 5))
@settings(max_examples=40, deadline=None)
def test_cbloom_shard_cycle_any_state(vals, signs, n_shards, n_parts):
    """Sharded serde cycle quantified over arbitrary signed states, shard
    counts (including non-dividing) and partition splits: per-partition
    shard fold emission → per-shard merge → reassembly must equal the
    monolithic serialize() of the sequential fold bit-for-bit — even when
    intermediate partitions hold locally-negative counters."""
    from bloom_filter_spark.sketches import CountingBloomSketch
    cb = CountingBloomSketch(BloomParams(n=200, p=0.02))
    m = min(len(vals), len(signs))
    arr = np.array(vals[:m], np.int32)
    sgn = np.array(signs[:m], np.int32)
    whole = cb.empty()
    cb.update_delta_i32(whole, arr, sgn)

    bounds = np.linspace(0, m, n_parts + 1).astype(int)
    shard_blobs = []
    for p_ in range(n_parts):
        part, ps = arr[bounds[p_]:bounds[p_ + 1]], sgn[bounds[p_]:bounds[p_ + 1]]
        fold = cb.shard_fold()
        if part.size:
            cb.update_delta_i32(fold, part, ps)
        shard_blobs.append(fold.shard_blobs(n_shards))
    merged = [CountingBloomSketch.merge_shard_blobs(
        [shard_blobs[p_][i] for p_ in range(n_parts)])
        for i in range(n_shards)]
    assert CountingBloomSketch.reassemble_shards(merged) == cb.serialize(whole)
