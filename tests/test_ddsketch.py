"""DDSketch kernel + distributed-build tests.

The load-bearing property vs KLL/t-digest: merges are BIT-identical under
any order (no RNG), so a distributed partials→merge build equals a local
single-pass build exactly, and the α relative-error guarantee is checked
against the paper's order-statistic definition x_q = sorted(v)[⌊q·(n−1)⌋].
"""

import numpy as np
import pytest

from bloom_filter_spark.sketches import DDSketch, DDSketchParams


def _exact(v, q):
    return np.sort(v)[int(np.floor(q * (v.size - 1)))]


def test_relative_error_bound_lognormal():
    sk = DDSketch(DDSketchParams(alpha=0.01))
    st = sk.empty()
    rng = np.random.default_rng(7)
    v = np.concatenate([rng.lognormal(3, 2, 200_000),
                        -rng.lognormal(1, 1, 50_000), np.zeros(1_000)])
    rng.shuffle(v)
    sk.update(st, v)
    for q in (0.001, 0.01, 0.25, 0.5, 0.9, 0.99, 0.999):
        est = float(sk.quantiles(st, [q])[0])
        x = _exact(v, q)
        assert abs(est - x) <= 0.0101 * abs(x) + 1e-12, (q, est, x)


def test_relative_error_bound_discrete_point_masses():
    """Zipf-ish integers with huge ties — est must stay within α of the
    order statistic even when one value holds 40% of the mass."""
    sk = DDSketch(DDSketchParams(alpha=0.02))
    st = sk.empty()
    rng = np.random.default_rng(3)
    v = np.concatenate([np.full(40_000, 7.0),
                        rng.integers(1, 1000, 60_000).astype(float)])
    rng.shuffle(v)
    sk.update(st, v)
    for q in (0.1, 0.3, 0.5, 0.9):
        est = float(sk.quantiles(st, [q])[0])
        x = _exact(v, q)
        assert abs(est - x) <= 0.0202 * abs(x) + 1e-12


def test_merge_any_order_bit_identical():
    sk = DDSketch(DDSketchParams(alpha=0.01))
    rng = np.random.default_rng(11)
    v = rng.lognormal(2, 3, 100_000)
    one = sk.empty()
    sk.update(one, v)
    parts = []
    for chunk in np.array_split(v, 9):
        s = sk.empty()
        sk.update(s, chunk)
        parts.append(s)
    import random
    for seed in range(3):
        random.seed(seed)
        order = list(range(9))
        random.shuffle(order)
        m = parts[order[0]]
        for i in order[1:]:
            m = sk.merge(m, parts[i])
        assert sk.serialize(m) == sk.serialize(one)


def test_serde_roundtrip_and_params():
    sk = DDSketch(DDSketchParams(alpha=0.005, max_bins=512))
    st = sk.empty()
    sk.update(st, np.array([1e-12, 0.0, 3.5, -2.25, 1e9, 7.0, 7.0]))
    sk2, st2 = DDSketch.deserialize(sk.serialize(st))
    assert sk2.params == sk.params
    assert sk2.serialize(st2) == sk.serialize(st)
    assert st2.zero == 2          # 1e-12 and 0.0 under min_value
    assert st2.n == 7


def test_collapse_keeps_upper_quantiles():
    """Over max_bins the LOWEST buckets collapse; the paper's guarantee:
    quantiles whose rank falls ABOVE the collapsed mass stay α-accurate.
    Log-uniform data over 12 decades ≈ 1380 bins at α=0.01; max_bins=1000
    collapses the bottom ~380 bins ≈ bottom ~27% of the mass, so the
    median and up must still meet the bound."""
    sk = DDSketch(DDSketchParams(alpha=0.01, max_bins=1000))
    st = sk.empty()
    rng = np.random.default_rng(5)
    v = np.power(10.0, rng.uniform(0, 12, 50_000))
    sk.update(st, v)
    assert st.pos_keys.size <= 1000          # cap respected (was ~1380)
    # the collapsed bucket is the lowest surviving key; mass at or below
    # it is the unprotected zone
    collapsed_mass = st.pos_cnts[0] / st.n
    assert 0.1 < collapsed_mass < 0.5        # test premise holds
    for q in (0.5, 0.9, 0.99):
        assert q > collapsed_mass
        est = float(sk.quantiles(st, [q])[0])
        x = _exact(v, q)
        assert abs(est - x) <= 0.0101 * abs(x)


def test_collapse_flag_recorded_and_rides_serde():
    """Once _collapse fires the byte-parity guarantee is conditional
    (ADVICE r5) — the state must say so, survive serde, and infect merges;
    an un-collapsed build over the same sketch params must stay False."""
    sk = DDSketch(DDSketchParams(alpha=0.01, max_bins=1000))
    rng = np.random.default_rng(5)
    wide = np.power(10.0, rng.uniform(0, 12, 50_000))   # ~1380 bins > cap
    st = sk.empty()
    assert not st.collapsed
    sk.update(st, wide)
    assert st.collapsed
    _, back = DDSketch.deserialize(sk.serialize(st))
    assert back.collapsed                                # flag rides the blob
    clean = sk.empty()
    sk.update(clean, np.array([1.0, 2.0, 3.0]))
    assert not clean.collapsed
    assert not sk.merge(clean, sk.empty()).collapsed     # clean ∪ clean clean
    assert sk.merge(clean, st).collapsed                 # collapsed infects
    # narrow data never collapses → parity guarantee unconditional there
    _, back2 = DDSketch.deserialize(sk.serialize(clean))
    assert not back2.collapsed
    # merging two clean states may itself overflow the cap → flag set
    lo, hi = sk.empty(), sk.empty()
    sk.update(lo, np.power(10.0, rng.uniform(0, 6, 30_000)))
    sk.update(hi, np.power(10.0, rng.uniform(6.5, 12, 30_000)))
    if not (lo.collapsed or hi.collapsed):
        m = sk.merge(lo, hi)
        assert m.collapsed == (m.pos_keys.size >= 1000
                               or lo.pos_keys.size + hi.pos_keys.size > 1000)


def test_nan_and_empty_batches_ignored():
    sk = DDSketch(DDSketchParams())
    st = sk.empty()
    sk.update(st, np.array([]))
    sk.update(st, np.array([np.nan, np.nan]))
    assert st.n == 0
    assert np.isnan(sk.quantiles(st, [0.5])[0])


@pytest.mark.usefixtures("spark")
def test_distributed_build_equals_local(spark, sf_small):
    """partials→merge over Spark partitions ≡ one local pass, bit-for-bit
    (the property KLL/t-digest only satisfy up to their bound)."""
    from bloom_filter_spark.operators import build_sketch
    sk = DDSketch(DDSketchParams(alpha=0.01))
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet")
    blob, n = build_sketch(toks.repartition(8), sk, "n_tok", "f64")
    local = sk.empty()
    vals = np.array([r.n_tok for r in toks.select("n_tok").collect()],
                    np.float64)
    sk.update(local, vals)
    assert n == vals.size
    assert blob == sk.serialize(local)


def test_inf_dropped_like_nan():
    """±inf must not corrupt the stores (inf→int64 cast files it at the
    wrong EXTREME: +inf was observed reported as the MINIMUM)."""
    sk = DDSketch(DDSketchParams())
    st = sk.empty()
    sk.update(st, np.array([1.0, 2.0, 3.0, np.inf, -np.inf]))
    assert st.n == 3
    assert float(sk.quantiles(st, [0.0])[0]) > 0.9
    assert float(sk.quantiles(st, [1.0])[0]) < 3.1


def test_min_value_must_be_positive():
    for bad in (0.0, -1e-9):
        with pytest.raises(ValueError):
            DDSketchParams(alpha=0.01, min_value=bad)


def test_bracket_matches_exact_rank():
    sk = DDSketch(DDSketchParams(alpha=0.01))
    st = sk.empty()
    rng = np.random.default_rng(11)
    v = np.concatenate([rng.lognormal(2, 1, 30_000),
                        -rng.lognormal(1, 1, 3_000)])
    sk.update(st, v)
    sv = np.sort(v)
    for q, r, lo, hi in sk.bracket(st, [0.01, 0.5, 0.99]):
        assert lo <= sv[r] <= hi            # the distributed-check contract
        assert int((sv < lo).sum()) <= r
        assert int((sv <= hi).sum()) >= r + 1
