"""Sketch declarations (multiset_pure, header_len, state_bytes_max) hold
for every registered kind, and the operators route on them instead of on
kind names.  No Spark session needed."""

from __future__ import annotations

import ast
import math
import os

import numpy as np
import pytest

from bloom_filter_spark.operators.build import _update
from bloom_filter_spark.operators.merge import merge_blobs
from bloom_filter_spark.sketches import (
    SKETCH_KINDS, BlockedBloomParams, BloomParams, CMSParams, CMSSketch,
    CountSketchParams, CuckooParams, DDSketch, DDSketchParams, HLLParams,
    KLLParams, KMVParams, MGParams, ReservoirParams, TDigestParams,
    TDigestSketch)

# two param sets per kind whose serialized headers differ
PARAMS = {
    "bloom": (BloomParams(n=1000, p=0.01), BloomParams(n=5000, p=0.01)),
    "cbloom": (BloomParams(n=1000, p=0.01), BloomParams(n=5000, p=0.01)),
    "blocked_bloom": (BlockedBloomParams(n=1000, p=0.01),
                      BlockedBloomParams(n=20_000, p=0.01)),
    "cuckoo": (CuckooParams(n=1000, load_factor=0.8),
               CuckooParams(n=1000, load_factor=0.8, seed=7)),
    "hll": (HLLParams(b=10), HLLParams(b=12)),
    "cms": (CMSParams(eps=0.01, delta=0.01), CMSParams(eps=0.001, delta=0.01)),
    "countsketch": (CountSketchParams(w=1 << 10, d=5),
                    CountSketchParams(w=1 << 11, d=5)),
    "kll": (KLLParams(k=200), KLLParams(k=100)),
    "tdigest": (TDigestParams(100), TDigestParams(200)),
    "mg": (MGParams(k=64), MGParams(k=128)),
    "reservoir": (ReservoirParams(k=64), ReservoirParams(k=128)),
    "kmv": (KMVParams(k=64), KMVParams(k=128)),
    "ddsketch": (DDSketchParams(alpha=0.01), DDSketchParams(alpha=0.02)),
}

# the routing the operators had when these facts lived in kind tuples, with
# the three order-free kinds (ddsketch, cbloom, kmv) since declared pure
EXPECTED = {
    "bloom": True,
    "blocked_bloom": True,
    "hll": True,
    "cms": True,
    "countsketch": True,
    "kll": False,
    "tdigest": False,
    "mg": False,
    "ddsketch": True,
    "cbloom": True,
    "cuckoo": False,
    "reservoir": False,
    "kmv": True,
}

KINDS = sorted(SKETCH_KINDS)


def _sketch(kind, which=0):
    return SKETCH_KINDS[kind](PARAMS[kind][which])


def _fill(sk, values):
    state = sk.empty()
    insert = getattr(sk, "update_i32", None) or sk.insert_i32
    insert(state, values)
    return state


def _values(seed=0, n=5000):
    rng = np.random.default_rng(seed)
    return rng.zipf(1.3, n).clip(max=1 << 20).astype(np.int32)


PURE = [k for k in KINDS if _sketch(k).multiset_pure]


def test_every_registered_kind_has_params():
    assert set(PARAMS) == set(SKETCH_KINDS) == set(EXPECTED)


@pytest.mark.parametrize("kind", KINDS)
def test_declares_all_three_attributes(kind):
    cls = SKETCH_KINDS[kind]
    for attr in ("multiset_pure", "header_len", "state_bytes_max"):
        assert hasattr(cls, attr), f"{kind} lacks {attr}"
    sk = _sketch(kind)
    assert isinstance(sk.multiset_pure, bool)
    assert isinstance(cls.header_len, int) and cls.header_len > 0
    assert sk.multiset_pure == EXPECTED[kind]


def test_conservative_cms_is_not_multiset_pure():
    assert not CMSSketch(CMSParams(eps=0.01, delta=0.01,
                                   conservative=True)).multiset_pure


def _has_update(sk, value_kind):
    """Whether the build's ``_update`` dispatch reaches an update of
    ``sk`` for ``value_kind`` (f64 is ``update``, and i64 falls back to
    it)."""
    name = "update" if value_kind == "f64" else f"update_{value_kind}"
    return hasattr(sk, name) or (value_kind == "i64"
                                 and hasattr(sk, "update"))


def _fold(sk, values, value_kind, n_chunks=1):
    st = sk.empty()
    for chunk in np.array_split(values, n_chunks):
        _update(sk, st, chunk, value_kind)
    return st


def _assert_order_free(sk, v, value_kind):
    """The state of ``v`` ignores order, batching and the partial split."""
    ref = sk.serialize(_fold(sk, v, value_kind))
    perm = np.random.default_rng(1).permutation(v)
    assert sk.serialize(_fold(sk, perm, value_kind, 7)) == ref
    # and through a merge of two partials over a different split
    a, b = np.array_split(perm[::-1], [1234])
    merged = sk.merge(_fold(sk, a, value_kind), _fold(sk, b, value_kind, 3))
    assert sk.serialize(merged) == ref


@pytest.mark.parametrize("kind", PURE)
def test_multiset_pure_ignores_order_and_chunking(kind):
    sk = _sketch(kind)
    kinds = [vk for vk in ("i32", "i64", "f64", "str")
             if _has_update(sk, vk)]
    assert kinds
    for value_kind in kinds:
        v = _values()
        _assert_order_free(sk, v.astype(str) if value_kind == "str" else v,
                           value_kind)


def test_collapsed_ddsketch_is_multiset_pure():
    """DDSketch's collapse keeps the top max_bins keys of the input key
    set, so even a collapsed store is order-free."""
    sk = DDSketch(DDSketchParams(alpha=0.01, max_bins=16))
    rng = np.random.default_rng(3)
    v = rng.lognormal(0.0, 6.0, 5000) * rng.choice([-1.0, 1.0], 5000)
    assert _fold(sk, v, "f64").collapsed
    _assert_order_free(sk, v, "f64")


def test_cms_weighted_i64_key_is_never_undercounted():
    """A key beyond int32 counted with a weight through ``update_i64`` is
    never estimated below that weight."""
    sk = CMSSketch(CMSParams(eps=0.01, delta=0.01))
    st = sk.empty()
    sk.update_i64(st, np.array([5_000_000_000], np.int64),
                  np.array([3], np.int64))
    assert sk.point_i64(st, np.array([5_000_000_000], np.int64))[0] >= 3


def test_tdigest_update_drops_nan():
    sk = TDigestSketch(TDigestParams(100))
    with_nan = sk.empty()
    sk.update(with_nan, np.array([1.0, 2.0, math.nan, 3.0, math.nan]))
    without = sk.empty()
    sk.update(without, np.array([1.0, 2.0, 3.0]))
    assert sk.serialize(with_nan) == sk.serialize(without)
    assert with_nan.vmin == 1.0 and with_nan.vmax == 3.0 and with_nan.n == 3
    assert np.isfinite(sk.quantiles(with_nan, [0.1, 0.5, 0.9])).all()


@pytest.mark.parametrize("kind", KINDS)
def test_header_len_covers_params_and_gates_merge(kind):
    cls = SKETCH_KINDS[kind]
    hlen = cls.header_len
    sk_a, sk_b = _sketch(kind, 0), _sketch(kind, 1)
    a, b = sk_a.serialize(sk_a.empty()), sk_b.serialize(sk_b.empty())
    assert a[:hlen] != b[:hlen]
    with pytest.raises(ValueError, match="refusing"):
        merge_blobs(sk_a, [a, b], 0)
    # the header holds params only: data never changes it
    filled = sk_a.serialize(_fill(sk_a, _values()))
    assert filled[:hlen] == a[:hlen]


@pytest.mark.parametrize("kind", KINDS)
def test_deserialize_refuses_bytes_past_the_layout(kind):
    """A blob ends where its layout does: one trailing byte, or a second
    blob joined end to end (which used to read as the first), raises
    ValueError, and a filled state still round-trips."""
    sk = _sketch(kind)
    blob = sk.serialize(_fill(sk, _values()))
    cls = SKETCH_KINDS[kind]
    for bad in (blob + b"\0", blob + blob):
        with pytest.raises(ValueError, match="past"):
            cls.deserialize(bad)
    back, state = cls.deserialize(blob)
    assert back.serialize(state) == blob


@pytest.mark.parametrize("kind", KINDS)
def test_deserialize_refuses_a_truncated_blob(kind):
    """A filled blob cut anywhere — to nothing, inside its header, one byte
    short — raises ValueError, never struct.error."""
    sk = _sketch(kind)
    blob = sk.serialize(_fill(sk, _values()))
    for cut in (0, 5, len(blob) - 1):
        with pytest.raises(ValueError, match="inside its layout"):
            SKETCH_KINDS[kind].deserialize(blob[:cut])


# kinds whose serialized length depends on params alone
FIXED_SIZE = {"bloom", "blocked_bloom", "cbloom", "cms", "countsketch",
              "cuckoo"}


@pytest.mark.parametrize("kind", KINDS)
def test_state_bytes_max_bounds_filled_and_merged_states(kind):
    """``state_bytes_max`` is a true worst case: no state filled with 10^6
    values (in 100 batches, as a partial build folds them), nor a merge of
    8 such partials, serializes longer; fixed-size kinds hit it exactly.
    Half the values are zipfian (heavy hitters survive Misra-Gries), half
    spread over all of int32 (both DDSketch stores, every KLL level)."""
    sk = _sketch(kind)
    if not hasattr(sk, "merge"):
        # cuckoo (single-writer, no merge): its layout is params-only, and
        # inserts past capacity only walk the eviction path
        blob = sk.serialize(_fill(sk, _values(n=sk.params.n)))
        assert len(blob) == sk.state_bytes_max
        return
    rng = np.random.default_rng(7)
    blobs = []
    for seed in range(8):
        r = np.random.default_rng(seed)
        v = np.concatenate([r.zipf(1.3, 500_000).clip(max=1 << 30),
                            r.integers(-(1 << 31), 1 << 31, 500_000)]
                           ).astype(np.int32)
        st = sk.empty()
        for chunk in np.array_split(rng.permutation(v), 100):
            sk.update_i32(st, chunk)
        blobs.append(sk.serialize(st))
    blobs.append(merge_blobs(sk, blobs, 0)[0])
    assert sk.state_bytes_max >= max(len(b) for b in blobs)
    if kind in FIXED_SIZE:
        assert {len(b) for b in blobs} == {sk.state_bytes_max}


def _compares_kind_to_literal(tree):
    def is_kind(x):
        name = x.id if isinstance(x, ast.Name) else getattr(x, "attr", "")
        return name.endswith("kind")

    def is_literal(x):
        elts = x.elts if isinstance(x, (ast.Tuple, ast.List, ast.Set)) else [x]
        return bool(elts) and all(isinstance(e, ast.Constant)
                                  and isinstance(e.value, str) for e in elts)

    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Compare)
            and any(is_kind(x) for x in [node.left, *node.comparators])
            and any(is_literal(x) for x in [node.left, *node.comparators])]


def test_merge_and_checkpoint_operators_plan_from_declarations():
    """operators/merge.py and operators/checkpoint.py plan every merge from
    ``state_bytes_max``: no ``kind`` compared to a string literal, and no
    ``getattr(<sketch>.params, ...)`` probing a params object for fields."""
    import bloom_filter_spark.operators.checkpoint as checkpoint
    import bloom_filter_spark.operators.merge as merge
    for mod in (merge, checkpoint):
        tree = ast.parse(open(os.path.abspath(mod.__file__)).read())
        assert _compares_kind_to_literal(tree) == [], mod.__name__
        probes = [
            node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name) and node.func.id == "getattr"
            and node.args and isinstance(node.args[0], ast.Attribute)
            and node.args[0].attr == "params"]
        assert probes == [], f"{mod.__name__} probes params at {probes}"


def test_build_operators_never_dispatch_on_kind():
    """operators/build.py routes on declarations; a comparison against
    ``.kind`` is a kind tuple creeping back."""
    import bloom_filter_spark.operators.build as build
    tree = ast.parse(open(os.path.abspath(build.__file__)).read())
    offenders = [
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Compare)
        and any(isinstance(x, ast.Attribute) and x.attr == "kind"
                for x in [node.left, *node.comparators])]
    assert offenders == [], f"build.py compares .kind at lines {offenders}"


def test_build_operators_never_reach_into_a_sketch_state():
    """operators/build.py folds changelogs through sketch methods alone:
    no ``np.add.at``, no ``.params``, no counting-Bloom shard-cell helper,
    and no sharding or repartition knob on a ``build_delta*`` function."""
    import bloom_filter_spark.operators.build as build
    tree = ast.parse(open(os.path.abspath(build.__file__)).read())
    helpers = {"shard_bounds", "delta_cells", "_emit_cells"}
    offenders = []
    for node in ast.walk(tree):
        name = (node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.value if isinstance(node, ast.Constant)
                and isinstance(node.value, str) else None)
        if name == "params" and isinstance(node, ast.Attribute):
            offenders.append((node.lineno, ".params"))
        if name in helpers:
            offenders.append((node.lineno, name))
        if (name == "at" and isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "add"):
            offenders.append((node.lineno, "add.at"))
        if (isinstance(node, ast.FunctionDef)
                and node.name.startswith("build_delta")):
            args = node.args
            offenders += [(node.lineno, a.arg)
                          for a in args.posonlyargs + args.args + args.kwonlyargs
                          if a.arg in {"sharded", "n_shards", "repartition"}]
    assert offenders == [], f"build.py: {offenders}"


def test_probe_operators_never_compare_a_kind_to_literals():
    """operators/probe.py routes on the probe methods a class defines; a
    ``kind``/``key_kind``/``value_kind`` compared against a string literal
    is a kind table creeping back."""
    import bloom_filter_spark.operators.probe as probe
    tree = ast.parse(open(os.path.abspath(probe.__file__)).read())
    offenders = _compares_kind_to_literal(tree)
    assert offenders == [], f"probe.py compares a kind at lines {offenders}"


def test_merge_and_build_operators_have_one_arrow_merge_level():
    """Every merge is the one Arrow level in merge._tree_level: the merge
    and build operators call no applyInPandas and no persist(), import no
    pandas, and only _tree_level applies an Arrow group-fold in merge.py."""
    import bloom_filter_spark.operators.build as build
    import bloom_filter_spark.operators.merge as merge
    for mod in (build, merge):
        tree = ast.parse(open(os.path.abspath(mod.__file__)).read())
        attrs = {node.attr for node in ast.walk(tree)
                 if isinstance(node, ast.Attribute)}
        assert not attrs & {"applyInPandas", "persist"}, mod.__name__
        imported = {alias.name.split(".")[0] for node in ast.walk(tree)
                    if isinstance(node, (ast.Import, ast.ImportFrom))
                    for alias in node.names}
        imported |= {node.module.split(".")[0] for node in ast.walk(tree)
                     if isinstance(node, ast.ImportFrom) and node.module}
        assert "pandas" not in imported, mod.__name__
    tree = ast.parse(open(os.path.abspath(merge.__file__)).read())
    folders = {fn.name for fn in tree.body if isinstance(fn, ast.FunctionDef)
               and any(isinstance(n, ast.Attribute) and n.attr == "applyInArrow"
                       for n in ast.walk(fn))}
    assert folders == {"_tree_level"}


@pytest.mark.parametrize("kind", [k for k in KINDS if k != "cuckoo"])
def test_merge_of_one_state_is_that_state(kind):
    """The merge of a single partial returns its bytes unchanged, filled
    or empty — what lets a one-task grouped build skip phase 2."""
    sk = _sketch(kind)
    for state in (sk.empty(), _fill(sk, _values())):
        blob = sk.serialize(state)
        assert merge_blobs(sk, [blob], 7) == (blob, 7)
