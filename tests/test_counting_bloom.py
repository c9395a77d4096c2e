"""Counting Bloom filter kernel tests — deletable membership with
counter-sum merge (sketches/counting_bloom.py)."""

import numpy as np
import pytest

from bloom_filter_spark.sketches import BloomParams, BloomSketch, CountingBloomSketch


def _keys(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.choice(np.arange(10 * n), size=n, replace=False).astype(np.int32)


def test_zero_fn_and_fpr_matches_classic_bloom():
    """Insert-only: identical (m, k, seed) ⇒ membership answers equal the
    classic filter's bit-for-bit (a counter ≥1 exactly where a bit is set)."""
    params = BloomParams(n=5000, p=0.01)
    cb, bl = CountingBloomSketch(params), BloomSketch(params)
    cstate, bstate = cb.empty(), bl.empty()
    keys = _keys(5000)
    cb.update_i32(cstate, keys)
    bl.update_i32(bstate, keys)
    assert cb.contains_i32(cstate, keys).all()
    absent = (np.arange(60000, 80000)).astype(np.int32)
    c_ans = cb.contains_i32(cstate, absent)
    b_ans = bl.contains_i32(bstate, absent)
    np.testing.assert_array_equal(c_ans, b_ans)
    assert c_ans.mean() <= 0.01


def test_delete_removes_only_deleted_keys():
    params = BloomParams(n=2000, p=0.01)
    cb = CountingBloomSketch(params)
    state = cb.empty()
    keys = _keys(2000)
    cb.update_i32(state, keys)
    dele, kept = keys[:1000], keys[1000:]
    found = cb.delete_i32(state, dele)
    assert found.all()                        # every delete finds its key
    assert cb.contains_i32(state, kept).all()  # zero FN on survivors
    # deleted keys may only false-positive at ≤ p-ish rate
    assert cb.contains_i32(state, dele).mean() <= 0.02
    assert (state >= 0).all()


def test_within_batch_duplicate_deletes_are_multiset_exact():
    """Key inserted twice, deleted three times in ONE batch: exactly two
    deletes succeed, the third reports absent, counters never underflow."""
    params = BloomParams(n=100, p=0.01)
    cb = CountingBloomSketch(params)
    state = cb.empty()
    cb.update_str(state, ["dup", "dup", "other"])
    res = cb.delete_str(state, ["dup", "dup", "dup"])
    assert res.sum() == 2
    assert (state >= 0).all()
    assert cb.contains_str(state, ["other"]).all()


def test_point_upper_bounds_multiplicity():
    params = BloomParams(n=1000, p=0.01)
    cb = CountingBloomSketch(params)
    state = cb.empty()
    vals = np.repeat(np.arange(100, dtype=np.int32), np.arange(1, 101))
    cb.update_i32(state, vals)
    est = cb.point_i32(state, np.arange(100, dtype=np.int32))
    assert (est >= np.arange(1, 101)).all()   # never underestimates


def test_delta_fold_merge_equals_sequential():
    """Distributed insert/delete: partition A inserts, partition B deletes
    (no local presence check), merged sum answers the global multiset."""
    params = BloomParams(n=3000, p=0.01)
    cb = CountingBloomSketch(params)
    keys = _keys(3000, seed=1)
    ins, dele = keys, keys[::2]
    a, b = cb.empty(), cb.empty()
    cb.update_i32(a, ins)
    cb.update_delta_i32(b, dele, np.full(dele.size, -1, np.int32))
    merged = cb.merge(a, b)
    seq = cb.empty()
    cb.update_i32(seq, ins)
    assert cb.delete_i32(seq, dele).all()
    np.testing.assert_array_equal(merged, seq)
    survivors = keys[1::2]
    assert cb.contains_i32(merged, survivors).all()


def test_merge_permutation_invariance_and_serde():
    params = BloomParams(n=4000, p=0.01)
    cb = CountingBloomSketch(params)
    keys = _keys(4000, seed=2)
    parts = np.array_split(keys, 4)
    states = []
    for part in parts:
        s = cb.empty()
        cb.update_i32(s, part)
        states.append(s)
    merged1 = states[0]
    for s in states[1:]:
        merged1 = cb.merge(merged1, s)
    merged2 = states[3]
    for s in states[2::-1]:
        merged2 = cb.merge(merged2, s)
    np.testing.assert_array_equal(merged1, merged2)
    blob = cb.serialize(merged1)
    cb2, state2 = CountingBloomSketch.deserialize(blob)
    np.testing.assert_array_equal(state2, merged1)
    assert cb2.params.m == params.m and cb2.params.k == params.k
    assert cb2.contains_i32(state2, keys).all()


def test_mismatched_params_merge_refused():
    from bloom_filter_spark.operators.merge import merge_blobs
    cb1 = CountingBloomSketch(BloomParams(n=1000, p=0.01))
    cb2 = CountingBloomSketch(BloomParams(n=1000, p=0.001))
    s1, s2 = cb1.empty(), cb2.empty()
    b1, b2 = cb1.serialize(s1), cb2.serialize(s2)
    with pytest.raises(ValueError, match="refusing to merge"):
        merge_blobs(cb1, [b1, b2], 0)


def test_shard_serde_roundtrip_and_merge_equivalence():
    """Sharded serde (scale path): splitting a state into column-range
    shards, merging per shard, and reassembling reproduces the monolithic
    serialize() layout bit-for-bit — for both dense and sparse shard
    encodings, at shard counts that don't divide m evenly."""
    params = BloomParams(n=2000, p=0.01)
    cb = CountingBloomSketch(params)
    # two states whose sum is the target: one dense-ish, one sparse
    a, b = cb.empty(), cb.empty()
    cb.update_i32(a, _keys(20_000, seed=1))  # ~99% fill → dense encoding
    cb.update_i32(b, _keys(40, seed=2))
    cb.update_delta_i32(b, _keys(25, seed=3), np.full(25, -1, np.int32))
    for n_shards in (1, 3, 7):
        merged = [CountingBloomSketch.merge_shard_blobs(
            [cb.serialize_shard(a, i, n_shards),
             cb.serialize_shard(b, i, n_shards)]) for i in range(n_shards)]
        # reassembly in scrambled shard order must still line up
        blob = CountingBloomSketch.reassemble_shards(merged[::-1])
        assert blob == cb.serialize(a + b)
    # sparse mode actually engaged for the sparse state
    assert cb.serialize_shard(b, 0, 1)[24] == 1
    assert cb.serialize_shard(a, 0, 1)[24] == 0


def test_shard_merge_refuses_mismatched_identity():
    params = BloomParams(n=2000, p=0.01)
    cb = CountingBloomSketch(params)
    st = cb.empty()
    cb.update_i32(st, _keys(100))
    s0 = cb.serialize_shard(st, 0, 4)
    s1 = cb.serialize_shard(st, 1, 4)
    with pytest.raises(ValueError):
        CountingBloomSketch.merge_shard_blobs([s0, s1])  # different shard_id
    other = CountingBloomSketch(BloomParams(n=2000, p=0.01, seed=99))
    with pytest.raises(ValueError):
        CountingBloomSketch.merge_shard_blobs(
            [s0, other.serialize_shard(other.empty(), 0, 4)])
    with pytest.raises(ValueError):
        CountingBloomSketch.reassemble_shards(
            [CountingBloomSketch.merge_shard_blobs([s0])])  # missing shards


def _shard_blobs_for_strictness():
    """(sketch, state, dense shard-0 blob, sparse shard-0 blob) of a
    4-shard filter: the dense blob from a filled state, the sparse one
    from a few keys."""
    cb = CountingBloomSketch(BloomParams(n=2000, p=0.01))
    full, few = cb.empty(), cb.empty()
    cb.update_i32(full, _keys(20_000, seed=1))
    cb.update_i32(few, _keys(10, seed=2))
    dense, sparse = cb.serialize_shard(full, 0, 4), cb.serialize_shard(few, 0, 4)
    assert dense[24] == 0 and sparse[24] == 1
    return cb, full, dense, sparse


def test_shard_merge_rejects_malformed_bodies():
    """A shard body must end exactly at its blob's end and carry a known
    mode byte; a sparse index must lie inside the shard."""
    cb, _, dense, sparse = _shard_blobs_for_strictness()
    merge = CountingBloomSketch.merge_shard_blobs
    width = (lambda lo, hi: hi - lo)(*cb.shard_bounds(0, 4))
    with pytest.raises(ValueError, match="mode byte 2"):
        merge([dense[:24] + b"\x02" + dense[25:]])
    with pytest.raises(ValueError, match="dense cbloom shard body"):
        merge([dense + b"\x00" * 4])  # trailing bytes
    with pytest.raises(ValueError, match="dense cbloom shard body"):
        merge([dense[:-4]])  # truncated
    with pytest.raises(ValueError, match="sparse cbloom shard body"):
        merge([sparse + b"\x00" * 8])
    with pytest.raises(ValueError, match="sparse cbloom shard body"):
        merge([sparse[:-1]])
    with pytest.raises(ValueError, match="sparse cbloom shard body"):
        merge([sparse[:27]])  # cut inside nnz
    nnz = int(np.frombuffer(sparse, "<u4", 1, 25)[0])
    idx = np.frombuffer(sparse, "<u4", nnz, 29).copy()
    idx[-1] = width  # one past the shard's last cell
    bad = sparse[:29] + idx.tobytes() + sparse[29 + 4 * nnz:]
    with pytest.raises(ValueError, match="outside"):
        merge([bad])
    with pytest.raises(ValueError, match="truncated"):
        merge([dense[:24]])
    # well-formed blobs of both modes still merge
    assert merge([dense, sparse])[24] == 0


def test_reassemble_rejects_wrong_dense_length_and_duplicates():
    """A dense shard with 4 trailing bytes used to reassemble into a filter
    whose later counters were shifted (inserted keys then missed); every
    dense body must be exactly (hi - lo) × 4 bytes, once per shard."""
    cb, full, _, _ = _shard_blobs_for_strictness()
    shards = [cb.serialize_shard(full, i, 4) for i in range(4)]
    assert CountingBloomSketch.reassemble_shards(shards) == cb.serialize(full)
    with pytest.raises(ValueError, match="dense cbloom shard 1"):
        CountingBloomSketch.reassemble_shards(
            [shards[0], shards[1] + b"\x00" * 4, *shards[2:]])
    with pytest.raises(ValueError, match="dense cbloom shard 2"):
        CountingBloomSketch.reassemble_shards(
            [*shards[:2], shards[2][:-4], shards[3]])
    with pytest.raises(ValueError, match="duplicate"):
        CountingBloomSketch.reassemble_shards([*shards, shards[3]])
    with pytest.raises(ValueError):
        CountingBloomSketch.reassemble_shards([])


def test_counting_bloom_rejects_xxh3_params():
    with pytest.raises(ValueError, match="splitmix64"):
        CountingBloomSketch(BloomParams(n=100, p=0.01, hash_family="xxh3"))


def test_delta_cells_equivalence_and_cell_serialization():
    """Sparse accumulation building blocks: np.add.at of delta_cells pairs
    must reproduce _apply_delta exactly, and serialize_shard_from_cells
    must equal serialize_shard of the materialized state (out-of-range and
    duplicate cells included)."""
    cb = CountingBloomSketch(BloomParams(n=2000, p=0.01))
    keys = _keys(1500, seed=5)
    signs = np.where(_keys(1500, seed=6) % 3 == 0, -1, 1).astype(np.int32)
    dense = cb.empty()
    cb.update_delta_i32(dense, keys, signs)
    idx, d = cb.delta_cells(keys, signs, "i32")
    replay = cb.empty()
    np.add.at(replay, idx, d)
    np.testing.assert_array_equal(replay, dense)
    for n_shards in (1, 4, 7):
        for i in range(n_shards):
            assert cb.serialize_shard_from_cells(idx, d, i, n_shards) == \
                cb.serialize_shard(dense, i, n_shards)


def test_resume_refuses_an_older_layout(spark, tmp_path):
    """Checkpoints are per-run, so resume() refuses a run it cannot read
    as the current partial layout instead of guessing: a run in the older
    (level, partition_id) layout, which has no layout column, and a run
    whose layout value it does not know, each raise ValueError naming the
    layout."""
    import os

    from bloom_filter_spark.operators.checkpoint import (PARTIAL_LAYOUT,
                                                         SketchCheckpoint)
    sk = CountingBloomSketch(BloomParams(n=5000, p=0.01))
    ck = SketchCheckpoint(str(tmp_path / "ck"))
    state = bytearray(sk.serialize(sk.empty()))
    lineage = "params_json string, input_desc string, created_utc double"
    runs = {
        "older": spark.createDataFrame(
            [("older", "cbloom", -1, 0, 0, state, "{}", "", 0.0)],
            "sketch_id string, kind string, level int, partition_id long, "
            f"n_items long, state binary, {lineage}"),
        "unknown": spark.createDataFrame(
            [("unknown", "cbloom", PARTIAL_LAYOUT + 1, 0, 0, 0, state, "{}",
              "", 0.0)],
            "sketch_id string, kind string, layout int, shard_id int, "
            f"src long, n_items long, state binary, {lineage}"),
    }
    for sid, run in runs.items():
        base = os.path.join(ck.root, "sketch_state", f"sketch_id={sid}")
        run.write.parquet(os.path.join(base, "run=r0"))
        ck._set_latest_run(base, "r0")
        with pytest.raises(ValueError, match="layout"):
            ck.resume(spark, sid, sk)
