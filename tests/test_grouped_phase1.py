"""Grouped phase 1 (``operators/build.py:_grouped_phase1_fn``) folds each
group of a multiset-pure sketch once per buffer, and each group of an
order-sensitive sketch once per (batch, group), and every grouped route
gives the bytes and ``n_items`` of one fold per group."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from bloom_filter_spark.operators import build as build_mod
from bloom_filter_spark.operators.build import (_grouped_phase1_fn,
                                                _plain_step, build_grouped)
from bloom_filter_spark.sketches import (
    SKETCH_KINDS, BlockedBloomParams, BlockedBloomSketch, BloomParams,
    BloomSketch, CMSParams, CMSSketch, CountingBloomSketch, CountSketch,
    CountSketchParams, DDSketch, DDSketchParams, HLLParams, HLLSketch,
    KLLParams, KLLSketch, KMVParams, KMVSketch, MGParams, MGSketch,
    ReservoirParams, ReservoirSketch, TDigestParams, TDigestSketch)

# (sketch, value column, value kind): every kind that declares
# multiset_pure, and every order-sensitive kind with a merge
PURE = [
    (BloomSketch(BloomParams(n=4096, p=0.01)), "tokens", "i32_array"),
    (BlockedBloomSketch(BlockedBloomParams(n=4096, p=0.01)), "tokens",
     "i32_array"),
    (CountingBloomSketch(BloomParams(n=512, p=0.05)), "tokens", "i32_array"),
    (HLLSketch(HLLParams(b=12)), "tokens", "i32_array"),
    (CMSSketch(CMSParams(eps=0.01, delta=0.01)), "tokens", "i32_array"),
    (CountSketch(CountSketchParams(w=1 << 10, d=5)), "tokens", "i32_array"),
    (KMVSketch(KMVParams(k=64)), "tokens", "i32_array"),
    (DDSketch(DDSketchParams(alpha=0.01, max_bins=64)), "x", "f64"),
]
ORDER_SENSITIVE = [
    (KLLSketch(KLLParams(k=64)), "tokens", "i32_array"),
    (TDigestSketch(TDigestParams(50)), "x", "f64"),
    (MGSketch(MGParams(k=16)), "tokens", "i32_array"),
    (ReservoirSketch(ReservoirParams(k=32)), "tokens", "i32_array"),
    (CMSSketch(CMSParams(eps=0.01, delta=0.01, conservative=True)), "tokens",
     "i32_array"),
]


def test_the_lists_cover_every_declaration():
    pure = {kind for kind, cls in SKETCH_KINDS.items()
            if cls.multiset_pure is not False}  # CMS: a params property
    assert {sk.kind for sk, _, _ in PURE} == pure
    assert all(sk.multiset_pure for sk, _, _ in PURE)
    assert not any(sk.multiset_pure for sk, _, _ in ORDER_SENSITIVE)


def _batches(col: str, n_batches: int = 6, rows: int = 300, seed: int = 5):
    """(group, value) batches: four labels and a null one, null values,
    and batch 2 holds one group only (its slice is the batch itself)."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n_batches):
        groups = rng.choice(np.array(["a", "b", "c", "d", None], object),
                            rows, p=[0.45, 0.25, 0.15, 0.1, 0.05])
        if i == 2:
            groups[:] = "b"
        if col == "tokens":
            values = pa.array(
                [None if j % 29 == 3 else
                 rng.zipf(1.3, rng.integers(0, 12)).clip(max=1 << 20)
                 .astype(np.int32).tolist() for j in range(rows)],
                pa.list_(pa.int32()))
        else:
            values = pa.array([None if j % 31 == 4 else float(v) for j, v in
                               enumerate(rng.lognormal(0, 3, rows))])
        out.append(pa.RecordBatch.from_arrays(
            [pa.array(groups.tolist(), pa.string()), values], ["group", col]))
    return out


def _counted(step):
    calls = []

    def counted(state, b):
        calls.append(b.num_rows)
        return step(state, b)
    return counted, calls


def _rows(out) -> list:
    return list(zip(out.column("group").to_pylist(),
                    out.column("n_items").to_pylist(),
                    out.column("state").to_pylist()))


def _phase1(sketch, kind, batches):
    step, calls = _counted(_plain_step(sketch, kind))
    out = list(_grouped_phase1_fn(sketch, step)(iter(batches)))
    assert len(out) == 1
    return _rows(out[0]), calls


def _per_batch_reference(sketch, kind, batches):
    """Phase 1 as one fold per (batch, group), groups in first-seen
    order, one row per group."""
    step = _plain_step(sketch, kind)
    states: dict = {}
    for b in batches:
        enc = pc.dictionary_encode(b.column(0), null_encoding="encode")
        codes = enc.indices.to_numpy(zero_copy_only=False)
        rest = pa.RecordBatch.from_arrays(b.columns[1:], b.schema.names[1:])
        for gi, g in enumerate(enc.dictionary.to_pylist()):
            st = states.setdefault(g, [sketch.empty(), 0])
            st[1] += step(st[0], rest.filter(pa.array(codes == gi)))
    return [(g, n, sketch.serialize(s)) for g, (s, n) in states.items()]


def _pairs_per_batch(batches) -> int:
    return sum(len(pc.unique(b.column(0))) for b in batches)


@pytest.mark.parametrize("sketch, col, kind", PURE,
                         ids=[sk.kind for sk, _, _ in PURE])
def test_pure_kind_folds_each_group_once_per_partition(sketch, col, kind):
    batches = _batches(col)
    got, calls = _phase1(sketch, kind, batches)
    assert len(calls) == len(got) == 5  # one step per group, null included
    assert None in [g for g, _, _ in got]
    assert got == _per_batch_reference(sketch, kind, batches)


@pytest.mark.parametrize("sketch, col, kind", PURE,
                         ids=[sk.kind for sk, _, _ in PURE])
def test_a_small_bound_flushes_the_buffer_with_equal_bytes(
        sketch, col, kind, monkeypatch):
    """Past a quarter of the map-side budget (buffered Arrow bytes plus
    the G group states) every buffered group folds; where the states
    alone fill it, every batch flushes."""
    batches = _batches(col)
    want = _per_batch_reference(sketch, kind, batches)
    per_batch = _pairs_per_batch(batches)
    states = 5 * sketch.state_bytes_max
    batch_bytes = max(b.nbytes for b in batches)
    monkeypatch.setattr(build_mod, "MAPSIDE_STATE_BUDGET_BYTES",
                        4 * (states + 2 * batch_bytes))
    got, calls = _phase1(sketch, kind, batches)
    assert got == want
    assert 5 < len(calls) < per_batch
    monkeypatch.setattr(build_mod, "MAPSIDE_STATE_BUDGET_BYTES", states)
    got, calls = _phase1(sketch, kind, batches)
    assert got == want
    assert len(calls) == per_batch


@pytest.mark.parametrize("sketch, col, kind", ORDER_SENSITIVE,
                         ids=[sk.kind + ("_conservative" if sk.kind == "cms"
                                         else "")
                              for sk, _, _ in ORDER_SENSITIVE])
def test_order_sensitive_kind_folds_once_per_batch_and_group(sketch, col,
                                                              kind):
    batches = _batches(col)
    got, calls = _phase1(sketch, kind, batches)
    assert len(calls) == _pairs_per_batch(batches)
    assert got == _per_batch_reference(sketch, kind, batches)


def test_one_group_batch_folds_uncopied():
    """A batch of one group is that group's slice as it is, and a group
    with one buffered slice folds it without a concatenation."""
    sk = HLLSketch(HLLParams(b=10))
    b = pa.RecordBatch.from_arrays(
        [pa.array(["g"] * 4), pa.array(["k1", "k2", "k3", "k1"])],
        ["group", "v"])
    seen = []

    def step(state, part):
        seen.append(part)
        return _plain_step(sk, "str")(state, part)

    out = list(_grouped_phase1_fn(sk, step)(iter([b])))[0]
    assert out.column("n_items").to_pylist() == [4]
    assert len(seen) == 1
    assert seen[0].column(0).buffers()[2].address == \
        b.column(1).buffers()[2].address


@pytest.fixture(scope="module")
def tokens_path(sf_small):
    return f"{sf_small}/tokens.parquet"


@pytest.fixture(scope="module")
def tokens_df(spark, tokens_path):
    return spark.read.parquet(tokens_path)


def _one_fold_reference(path: str, sketch, col: str, kind: str) -> dict:
    """group → (n_items, state) of ONE fold of all that group's rows."""
    t = pq.read_table(path, columns=["source", col])
    out = {}
    for g in pc.unique(t.column("source")).to_pylist():
        rows = t.filter(pc.equal(t.column("source"), g))
        b = pa.RecordBatch.from_arrays([rows.column(col).combine_chunks()],
                                       [col])
        state = sketch.empty()
        n = _plain_step(sketch, kind)(state, b)
        out[g] = (n, sketch.serialize(state))
    return out


def _grouped(df, sketch, col, kind, **kw) -> dict:
    return {r.group: (r.n_items, bytes(r.state)) for r in build_grouped(
        df, sketch, "source", col, kind, **kw).collect()}


# PURE over the tokens fixture: DDSketch reads n_tok
PURE_TOKENS = [(sk, "n_tok" if col == "x" else col, kind)
               for sk, col, kind in PURE]


def test_mapside_routes_equal_one_fold_per_group(spark, tokens_df,
                                                 tokens_path, monkeypatch):
    """Every multiset-pure kind on the map-side routes: the native scan
    (one split of two row-group batches, so buffered slices are
    concatenated), the JVM-fed route (three tasks of several Arrow
    batches) and the native scan with a bound that flushes every batch:
    bytes and n_items equal one fold of each group's rows."""
    from bloom_filter_spark.operators.build import _native_grouped_partials
    assert _native_grouped_partials(
        tokens_df, PURE[0][0], "source", "tokens", "i32_array")[1] == 1
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    for sketch, col, kind in PURE_TOKENS:
        want = _one_fold_reference(tokens_path, sketch, col, kind)
        assert _grouped(tokens_df, sketch, col, kind,
                        strategy="mapside") == want, sketch.kind
        spark.conf.set(key, "700")
        try:
            assert _grouped(tokens_df, sketch, col, kind, strategy="mapside",
                            num_partitions=3) == want, sketch.kind
        finally:
            spark.conf.set(key, prev)
    monkeypatch.setattr(build_mod, "MAPSIDE_STATE_BUDGET_BYTES", 0)
    for sketch, col, kind in PURE_TOKENS[:4]:
        assert _grouped(tokens_df, sketch, col, kind, strategy="mapside") \
            == _one_fold_reference(tokens_path, sketch, col, kind)


def test_native_several_splits_equal_one_fold_per_group(
        tokens_df, tokens_path, several_splits):
    from bloom_filter_spark.operators.build import _native_grouped_partials
    assert _native_grouped_partials(
        tokens_df, PURE[0][0], "source", "tokens", "i32_array")[1] > 1
    for sketch, col, kind in PURE_TOKENS:
        assert _grouped(tokens_df, sketch, col, kind, strategy="mapside") \
            == _one_fold_reference(tokens_path, sketch, col, kind), \
            sketch.kind


def test_salted_routes_equal_one_fold_per_group(tokens_df, tokens_path,
                                                salt_regimes):
    for regime in salt_regimes():
        for sketch, col, kind in PURE_TOKENS:
            assert _grouped(tokens_df, sketch, col, kind, n_salts=8,
                            salt_on="doc_id", strategy="salted") \
                == _one_fold_reference(tokens_path, sketch, col, kind), \
                (regime, sketch.kind)
