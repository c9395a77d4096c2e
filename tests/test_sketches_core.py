"""Core kernel tests for blocked-bloom, cuckoo, HLL, CMS, KLL, t-digest.

Ports the reference's cuckoo/blocked-bloom test patterns
(/root/reference/filter/cuckoo/filter_test.go, blocked-bloom/filter_test.go)
and adds the north-rule error-bound + merge-permutation tests (SURVEY.md §2.7).
"""

import numpy as np
import pytest

from bloom_filter_spark.sketches import (
    BlockedBloomParams, BlockedBloomSketch,
    CuckooParams, CuckooFilter,
    HLLParams, HLLSketch,
    CMSParams, CMSSketch,
    KLLParams, KLLSketch,
    TDigestParams, TDigestSketch,
)


# ---------------------------------------------------------------- blocked bloom
def test_blocked_bloom_zero_fn_and_merge():
    sk = BlockedBloomSketch(BlockedBloomParams(n=10_000, p=0.01))
    assert sk.params.k == 4  # fixed k regardless of p (quirk Q2)
    rng = np.random.default_rng(2)
    vals = rng.integers(0, 50_000, 10_000).astype(np.int32)
    whole = sk.empty()
    sk.update_i32(whole, vals)
    assert sk.contains_i32(whole, vals).all()
    # FPR sane (not asserting the classic bound — Q2), just bounded
    foreign = np.arange(60_000, 70_000, dtype=np.int32)
    assert sk.contains_i32(whole, foreign).mean() < 0.05
    # split-merge equals whole bit-for-bit
    parts = []
    for chunk in np.array_split(vals, 5):
        st = sk.empty()
        sk.update_i32(st, chunk)
        parts.append(st)
    merged = parts[0]
    for st in parts[1:]:
        merged = sk.merge(merged, st)
    np.testing.assert_array_equal(whole, merged)


def test_blocked_bloom_serde():
    sk = BlockedBloomSketch(BlockedBloomParams(n=1000, p=0.01))
    st = sk.empty()
    sk.update_i32(st, np.arange(100, dtype=np.int32))
    sk2, st2 = BlockedBloomSketch.deserialize(sk.serialize(st))
    np.testing.assert_array_equal(st, st2)


# ---------------------------------------------------------------- cuckoo
def test_cuckoo_sizing_reference_literals():
    # cuckoo/filter_test.go:20-34: (100, .95)→M=32, (10000, .8)→M=4096
    assert CuckooParams(n=100, load_factor=0.95).m == 32
    assert CuckooParams(n=10_000, load_factor=0.8).m == 4096


def test_cuckoo_alt_index_involution():
    # cuckoo/filter_test.go:83-109
    cf = CuckooFilter(CuckooParams(n=10_000, load_factor=0.8))
    h = np.arange(4096, dtype=np.uint64)
    fp = ((h * np.uint64(37)) % np.uint64(255) + np.uint64(1)).astype(np.uint8)
    alt = cf.alt_index(h, fp)
    back = cf.alt_index(alt, fp)
    np.testing.assert_array_equal(h, back)


def test_cuckoo_insert_lookup_zero_fn():
    n = 10_000
    cf = CuckooFilter(CuckooParams(n=n, load_factor=0.8))
    state = cf.empty()
    rng = np.random.default_rng(3)
    vals = rng.choice(50_000, n, replace=False).astype(np.int32)
    failed = cf.insert_i32(state, vals)
    assert failed == 0
    assert cf.contains_i32(state, vals).all()
    foreign = np.arange(60_000, 70_000, dtype=np.int32)
    # cuckoo FPR bound ~ 2*4/2^8 ≈ 3% (8-bit fp, 2 buckets × 4 slots)
    assert cf.contains_i32(state, foreign).mean() < 0.05


def test_cuckoo_duplicates_and_delete():
    # multiset semantics: cuckoo/filter_test.go:155-231,398-425
    cf = CuckooFilter(CuckooParams(n=100, load_factor=0.5))
    state = cf.empty()
    dup = np.array([7, 7, 7], np.int32)
    assert cf.insert_i32(state, dup) == 0
    assert cf.contains_i32(state, np.array([7], np.int32)).all()
    assert cf.delete_i32(state, np.array([7], np.int32)).all()
    assert cf.contains_i32(state, np.array([7], np.int32)).all()  # 2 copies left
    assert cf.delete_i32(state, np.array([7], np.int32)).all()
    assert cf.delete_i32(state, np.array([7], np.int32)).all()
    assert not cf.contains_i32(state, np.array([7], np.int32)).any()
    assert not cf.delete_i32(state, np.array([7], np.int32)).any()  # nothing left


def test_cuckoo_capacity_failure():
    # overfill: insert must eventually return failures, not corrupt state
    # (cuckoo/filter_test.go:233-262)
    cf = CuckooFilter(CuckooParams(n=100, load_factor=0.95))  # M=32 → 128 slots
    state = cf.empty()
    vals = np.arange(1000, dtype=np.int32)
    failed = cf.insert_i32(state, vals)
    assert failed > 0
    assert (state != 0).sum() <= 128


def test_cuckoo_serde_round_trip():
    # cuckoo/filter_test.go:543-571
    cf = CuckooFilter(CuckooParams(n=1000, load_factor=0.8))
    state = cf.empty()
    vals = np.arange(800, dtype=np.int32)
    cf.insert_i32(state, vals)
    blob = cf.serialize(state)
    assert len(blob) == 20 + cf.params.m * 4  # u32 M | u64 FpSeed | u64 Seed | M×4
    cf2, state2 = CuckooFilter.deserialize(blob)
    np.testing.assert_array_equal(state, state2)
    np.testing.assert_array_equal(
        cf.contains_i32(state, vals), cf2.contains_i32(state2, vals)
    )


def test_cuckoo_string_and_edge_keys():
    # edge keys: empty, single-char (cuckoo/filter_test.go:122-124,427-456)
    cf = CuckooFilter(CuckooParams(n=100, load_factor=0.5))
    state = cf.empty()
    keys = ["", "a", "doc_0000000001", "x" * 100]
    assert cf.insert_str(state, keys) == 0
    assert cf.contains_str(state, keys).all()


# ---------------------------------------------------------------- HLL
@pytest.mark.parametrize("true_n", [100, 10_000, 200_000])
def test_hll_estimate_within_bound(true_n):
    params = HLLParams(b=14)
    sk = HLLSketch(params)
    state = sk.empty()
    vals = np.arange(true_n, dtype=np.int64)
    sk.update_i64(state, vals)
    est = sk.estimate(state)
    # 1.04/√m std error; allow 4σ
    assert abs(est - true_n) <= max(4 * params.std_error * true_n, 3)


def test_hll_merge_max_and_permutation_invariance():
    sk = HLLSketch(HLLParams(b=12))
    rng = np.random.default_rng(4)
    vals = rng.integers(0, 1 << 30, 50_000).astype(np.int64)
    parts = []
    for chunk in np.array_split(vals, 8):
        st = sk.empty()
        sk.update_i64(st, chunk)
        parts.append(st)
    ref = parts[0]
    for st in parts[1:]:
        ref = sk.merge(ref, st)
    for _ in range(5):
        order = rng.permutation(8)
        m = parts[order[0]]
        for i in order[1:]:
            m = sk.merge(m, parts[i])
        np.testing.assert_array_equal(ref, m)  # bit-identical under any order
    whole = sk.empty()
    sk.update_i64(whole, vals)
    np.testing.assert_array_equal(ref, whole)  # split == whole exactly


def test_hll_serde():
    sk = HLLSketch(HLLParams(b=10))
    st = sk.empty()
    sk.update_i64(st, np.arange(1000, dtype=np.int64))
    sk2, st2 = HLLSketch.deserialize(sk.serialize(st))
    np.testing.assert_array_equal(st, st2)
    assert sk2.estimate(st2) == sk.estimate(st)


# ---------------------------------------------------------------- CMS
def test_cms_never_underestimates_and_bound():
    params = CMSParams(eps=0.001, delta=0.01)
    sk = CMSSketch(params)
    state = sk.empty()
    rng = np.random.default_rng(5)
    vals = (rng.zipf(1.3, 100_000) % 10_000).astype(np.int32)
    sk.update_i32(state, vals)
    uniq, counts = np.unique(vals, return_counts=True)
    est = sk.point_i32(state, uniq)
    assert (est >= counts).all()  # CMS never underestimates
    n_total = vals.size
    within = (est - counts <= params.eps * n_total).mean()
    assert within >= 1 - params.delta * 5  # generous δ slack


def test_cms_merge_and_serde():
    sk = CMSSketch(CMSParams(eps=0.01, delta=0.01))
    vals = np.arange(10_000, dtype=np.int32) % 100
    whole = sk.empty()
    sk.update_i32(whole, vals)
    parts = []
    for chunk in np.array_split(vals, 4):
        st = sk.empty()
        sk.update_i32(st, chunk)
        parts.append(st)
    merged = parts[0]
    for st in parts[1:]:
        merged = sk.merge(merged, st)
    np.testing.assert_array_equal(whole, merged)
    sk2, st2 = CMSSketch.deserialize(sk.serialize(merged))
    np.testing.assert_array_equal(merged, st2)
    np.testing.assert_array_equal(
        sk.point_i32(merged, np.arange(100, dtype=np.int32)),
        np.full(100, 100),
    )


# ---------------------------------------------------------------- KLL
def test_kll_rank_error_within_bound():
    params = KLLParams(k=200)
    sk = KLLSketch(params)
    state = sk.empty()
    rng = np.random.default_rng(6)
    vals = rng.normal(0, 100, 200_000)
    for chunk in np.array_split(vals, 20):
        sk.update(state, chunk)
    assert state.n == vals.size
    qs = np.array([0.01, 0.25, 0.5, 0.75, 0.99])
    est = sk.quantiles(state, qs)
    svals = np.sort(vals)
    true_ranks = np.searchsorted(svals, est, side="right") / vals.size
    assert np.abs(true_ranks - qs).max() <= params.rank_error * 1.5


def test_kll_merge_permutations_within_bound():
    params = KLLParams(k=200)
    sk = KLLSketch(params)
    rng = np.random.default_rng(7)
    vals = rng.exponential(10, 100_000)
    parts = []
    for chunk in np.array_split(vals, 16):
        st = sk.empty()
        sk.update(st, chunk)
        parts.append(st)
    qs = [0.1, 0.5, 0.9]
    svals = np.sort(vals)
    for perm_seed in range(5):
        order = np.random.default_rng((44, perm_seed)).permutation(16)
        m = parts[order[0]]
        for i in order[1:]:
            m = sk.merge(m, parts[i])
        assert m.n == vals.size
        est = sk.quantiles(m, qs)
        ranks = np.searchsorted(svals, est, side="right") / vals.size
        assert np.abs(ranks - np.array(qs)).max() <= params.rank_error * 2


def test_kll_serde():
    sk = KLLSketch(KLLParams(k=128))
    st = sk.empty()
    sk.update(st, np.arange(50_000, dtype=np.float64))
    sk2, st2 = KLLSketch.deserialize(sk.serialize(st))
    assert st2.n == st.n
    np.testing.assert_array_equal(sk.quantiles(st, [0.5]), sk2.quantiles(st2, [0.5]))


# ---------------------------------------------------------------- t-digest
def test_tdigest_quantile_accuracy():
    params = TDigestParams(compression=200)
    sk = TDigestSketch(params)
    state = sk.empty()
    rng = np.random.default_rng(8)
    vals = rng.lognormal(0, 2, 200_000)
    for chunk in np.array_split(vals, 20):
        sk.update(state, chunk)
    assert state.means.size <= params.compression + 1
    qs = np.array([0.001, 0.01, 0.5, 0.99, 0.999])
    est = sk.quantiles(state, qs)
    svals = np.sort(vals)
    ranks = np.searchsorted(svals, est, side="right") / vals.size
    err = np.abs(ranks - qs)
    # k1 scale: tail accuracy much tighter than mid
    assert err[[0, 1, 3, 4]].max() <= 0.005
    assert err[2] <= 0.02


def test_tdigest_merge_permutations():
    sk = TDigestSketch(TDigestParams(compression=200))
    rng = np.random.default_rng(9)
    vals = rng.normal(0, 1, 100_000)
    parts = []
    for chunk in np.array_split(vals, 10):
        st = sk.empty()
        sk.update(st, chunk)
        parts.append(st)
    svals = np.sort(vals)
    qs = np.array([0.05, 0.5, 0.95])
    for perm_seed in range(5):
        order = np.random.default_rng((45, perm_seed)).permutation(10)
        m = parts[order[0]]
        for i in order[1:]:
            m = sk.merge(m, parts[i])
        assert m.n == vals.size
        est = sk.quantiles(m, qs)
        ranks = np.searchsorted(svals, est, side="right") / vals.size
        assert np.abs(ranks - qs).max() <= 0.02


def test_tdigest_serde_and_minmax():
    sk = TDigestSketch(TDigestParams(compression=100))
    st = sk.empty()
    sk.update(st, np.array([5.0, 1.0, 9.0]))
    assert st.vmin == 1.0 and st.vmax == 9.0
    sk2, st2 = TDigestSketch.deserialize(sk.serialize(st))
    assert st2.vmin == 1.0 and st2.vmax == 9.0 and st2.n == 3
    np.testing.assert_allclose(sk.quantiles(st, [0.0, 1.0]), [1.0, 9.0])


# ---------------------------------------------------------------- Misra-Gries
def test_mg_tracks_heavy_hitters_with_bound():
    from bloom_filter_spark.sketches import MGParams, MGSketch
    sk = MGSketch(MGParams(k=256))
    rng = np.random.default_rng(13)
    vals = (rng.zipf(1.3, 500_000) % 20_000).astype(np.int64)
    state = sk.empty()
    for chunk in np.array_split(vals, 10):
        sk.update_i64(state, chunk)
    assert state.n == vals.size
    assert state.keys.size <= 256
    assert sk.error_bound(state) <= vals.size // (256 + 1) + 1
    uniq, cnt = np.unique(vals, return_counts=True)
    top_true = uniq[np.argsort(-cnt)][:10]
    est = sk.estimate(state, top_true)
    true = cnt[np.argsort(-cnt)][:10]
    assert (est <= true).all()                       # underestimates
    assert (true - est <= sk.error_bound(state)).all()  # within offset
    # any key above N/(k+1) must be tracked
    heavy = uniq[cnt > vals.size // 257]
    assert (sk.estimate(state, heavy) > 0).all()


def test_mg_merge_and_serde():
    from bloom_filter_spark.sketches import MGParams, MGSketch
    sk = MGSketch(MGParams(k=128))
    rng = np.random.default_rng(14)
    vals = (rng.zipf(1.2, 200_000) % 5_000).astype(np.int64)
    parts = []
    for chunk in np.array_split(vals, 8):
        st = sk.empty()
        sk.update_i64(st, chunk)
        parts.append(st)
    merged = parts[0]
    for p in parts[1:]:
        merged = sk.merge(merged, p)
    assert merged.n == vals.size
    uniq, cnt = np.unique(vals, return_counts=True)
    top_true = uniq[np.argsort(-cnt)][:5]
    est = sk.estimate(merged, top_true)
    true = cnt[np.argsort(-cnt)][:5]
    assert (est <= true).all()
    assert (true - est <= sk.error_bound(merged)).all()
    sk2, st2 = MGSketch.deserialize(sk.serialize(merged))
    np.testing.assert_array_equal(st2.keys, merged.keys)
    assert st2.n == merged.n and st2.offset == merged.offset


# ---------------------------------------------------------------- reservoir
def test_reservoir_exact_n_and_membership():
    from bloom_filter_spark.sketches.reservoir import ReservoirParams, ReservoirSketch
    sk = ReservoirSketch(ReservoirParams(k=256, seed=1))
    state = sk.empty()
    vals = np.arange(100_000, dtype=np.int64)
    for chunk in np.array_split(vals, 7):
        sk.update_i64(state, chunk)
    assert state.n == vals.size and state.sample.size == 256
    assert np.isin(state.sample, vals).all()
    sk2, st2 = ReservoirSketch.deserialize(sk.serialize(state))
    np.testing.assert_array_equal(st2.sample, state.sample)
    assert st2.n == state.n


def test_reservoir_uniformity_and_merge():
    from bloom_filter_spark.sketches.reservoir import ReservoirParams, ReservoirSketch
    k = 200
    n_total = 20_000
    hits = np.zeros(n_total, np.int64)
    trials = 150
    for t in range(trials):
        sk = ReservoirSketch(ReservoirParams(k=k, seed=1000 + t))
        parts = []
        for chunk in np.array_split(np.arange(n_total, dtype=np.int64), 4):
            st = sk.empty()
            sk.update_i64(st, chunk)
            parts.append(st)
        merged = parts[0]
        for p in parts[1:]:
            merged = sk.merge(merged, p)
        assert merged.n == n_total and merged.sample.size == k
        assert len(set(merged.sample.tolist())) == k  # no duplicates
        hits[merged.sample] += 1
    # uniformity: each item expected k*trials/n = 1.5 hits; quarter-level
    # inclusion rates must be near-equal (catches merge-weighting bias)
    quarters = hits.reshape(4, -1).sum(axis=1)
    expected = k * trials / 4
    assert np.abs(quarters - expected).max() <= 0.12 * expected, quarters


def test_hll_sparse_serde_roundtrip_and_mixed_merge():
    from bloom_filter_spark.sketches import HLLParams, HLLSketch
    sk = HLLSketch(HLLParams(b=14))
    small = sk.empty()
    sk.update_i64(small, np.arange(100, dtype=np.int64))
    blob_small = sk.serialize(small)
    assert len(blob_small) < (1 << 14) // 4  # sparse actually engaged
    assert blob_small[12] == 1
    _, back = HLLSketch.deserialize(blob_small)
    np.testing.assert_array_equal(back, small)

    big = sk.empty()
    sk.update_i64(big, np.arange(100_000, dtype=np.int64))
    blob_big = sk.serialize(big)
    assert blob_big[12] == 0  # dense when sparse would be larger
    _, back_big = HLLSketch.deserialize(blob_big)
    np.testing.assert_array_equal(back_big, big)

    # mixed sparse/dense blobs merge identically to in-memory states
    merged = sk.merge(back, back_big)
    np.testing.assert_array_equal(merged, sk.merge(small, big))


def test_cms_conservative_never_underestimates_and_is_tighter():
    from bloom_filter_spark.sketches import CMSParams, CMSSketch
    rng = np.random.default_rng(23)
    # small sketch so collisions actually happen
    vals = rng.zipf(1.3, 60_000).astype(np.int64) % 5000
    plain = CMSSketch(CMSParams(eps=0.002, delta=0.01))
    cons = CMSSketch(CMSParams(eps=0.002, delta=0.01, conservative=True))
    sp, sc = plain.empty(), cons.empty()
    for chunk in np.array_split(vals, 7):  # multiple batches: CU reads state
        plain.update_i64(sp, chunk)
        cons.update_i64(sc, chunk)
    keys, exact = np.unique(vals, return_counts=True)
    est_p = plain.point_i64(sp, keys)
    est_c = cons.point_i64(sc, keys)
    assert (est_c >= exact).all(), "conservative update underestimated"
    assert (est_c <= est_p).all(), "conservative must never exceed plain CMS"
    assert est_c.sum() < est_p.sum(), "conservative should be strictly tighter"


def test_cms_conservative_merge_keeps_no_underestimate():
    from bloom_filter_spark.sketches import CMSParams, CMSSketch
    rng = np.random.default_rng(29)
    vals = rng.zipf(1.3, 40_000).astype(np.int64) % 3000
    sk = CMSSketch(CMSParams(eps=0.002, delta=0.01, conservative=True))
    parts = []
    for chunk in np.array_split(vals, 5):
        st = sk.empty()
        sk.update_i64(st, chunk)
        parts.append(st)
    merged = parts[0]
    for st in parts[1:]:
        merged = sk.merge(merged, st)
    keys, exact = np.unique(vals, return_counts=True)
    assert (sk.point_i64(merged, keys) >= exact).all()


def test_kmv_estimate_and_merge_permutations():
    from bloom_filter_spark.sketches import KMVParams, KMVSketch
    sk = KMVSketch(KMVParams(k=1024))
    vals = np.arange(200_000, dtype=np.int64)
    parts = []
    for chunk in np.array_split(vals, 8):
        st = sk.empty()
        sk.update_i64(st, chunk)
        parts.append(st)
    import itertools
    merged_sets = []
    for order in list(itertools.permutations(range(8)))[:5] + [tuple(range(8))]:
        m = parts[order[0]]
        for i in order[1:]:
            m = sk.merge(m, parts[i])
        merged_sets.append(sk.serialize(m))
    # bit-identical under any merge order (union1d is deterministic)
    assert len(set(merged_sets)) == 1
    _, m = KMVSketch.deserialize(merged_sets[0])
    est = sk.estimate(m)
    assert abs(est - 200_000) <= 4 * sk.params.rse * 200_000
    # exact below k
    small = sk.empty()
    sk.update_i64(small, np.arange(500, dtype=np.int64))
    assert sk.estimate(small) == 500.0


def test_kmv_set_operations():
    from bloom_filter_spark.sketches import KMVParams, KMVSketch
    sk = KMVSketch(KMVParams(k=2048))
    a_vals = np.arange(0, 60_000, dtype=np.int64)
    b_vals = np.arange(40_000, 100_000, dtype=np.int64)  # overlap 20k
    sa, sb = sk.empty(), sk.empty()
    sk.update_i64(sa, a_vals)
    sk.update_i64(sb, b_vals)
    inter = sk.intersection_estimate(sa, sb)
    diff = sk.difference_estimate(sa, sb)
    assert abs(inter - 20_000) <= 6 * sk.params.rse * 100_000
    assert abs(diff - 40_000) <= 6 * sk.params.rse * 100_000
    # exact when both below k
    small_a, small_b = sk.empty(), sk.empty()
    sk.update_i64(small_a, np.arange(0, 300, dtype=np.int64))
    sk.update_i64(small_b, np.arange(200, 500, dtype=np.int64))
    assert sk.intersection_estimate(small_a, small_b) == 100.0
    assert sk.difference_estimate(small_a, small_b) == 200.0


def test_bloom_fill_ratio_cardinality():
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    import numpy as np
    sk = BloomSketch(BloomParams(n=50_000, p=0.01))
    state = sk.empty()
    keys = np.arange(40_000, dtype=np.int32)
    sk.update_i32(state, keys)
    est = sk.estimate_cardinality(state)
    assert abs(est - 40_000) / 40_000 < 0.02
    # union-composability: estimate over an OR-merge of halves is identical
    a, b = sk.empty(), sk.empty()
    sk.update_i32(a, keys[:20_000])
    sk.update_i32(b, keys[20_000:])
    assert sk.estimate_cardinality(sk.merge(a, b)) == est
    assert sk.estimate_cardinality(sk.empty()) == 0.0
