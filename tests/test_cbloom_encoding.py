"""One encoding rule for counting-Bloom blobs (sketches/counting_bloom.py):
sparse below half fill, dense otherwise, for the monolithic serialize()
blob and every shard blob.  Pins: a bad sparse body is refused by every
reader, dense blobs keep their bytes, and every build route gives the
bytes of a single-process fold just below, at and just above half fill."""

from __future__ import annotations

import numpy as np
import pytest

from bloom_filter_spark.sketches import (BloomParams, CountingBloomSketch,
                                         counting_bloom)

CB = CountingBloomSketch
HALF = ("below", "half", "above")  # fills m/2 - 1, m/2 and m/2 + 1


def _sketch():
    return CB(BloomParams(n=50, p=0.01))


def _keys_at(sk, nnz: int) -> list[str]:
    """String keys whose insert-only fold sets exactly ``nnz`` cells."""
    state, keys, i = sk.empty(), [], 0
    while np.count_nonzero(state) < nnz:
        key, i = f"doc_{i:06d}", i + 1
        trial = state.copy()
        sk.update_str(trial, [key])
        if np.count_nonzero(trial) <= nnz:
            state, keys = trial, keys + [key]
    return keys


def _fill(sk, where: str) -> list[str]:
    return _keys_at(sk, sk.params.m // 2 + HALF.index(where) - 1)


def _fold(sk, keys, signs=None) -> np.ndarray:
    state = sk.empty()
    sk.update_delta_str(state, keys, np.ones(len(keys), np.int32)
                        if signs is None else np.asarray(signs, np.int32))
    return state


def _older_blob(sk, state) -> bytes:
    """The layout every blob had before the rule: header and m counters."""
    p = sk.params
    return (np.array([p.m, p.k], "<u4").tobytes()
            + np.array([p.seed], "<u8").tobytes() + state.astype("<i4").tobytes())


@pytest.mark.parametrize("where", HALF)
def test_rule_picks_the_layout_and_dense_keeps_its_bytes(where):
    """Below half fill the blob is sparse (21 + 8·nnz B, odd); at and past
    half it is the older dense layout byte for byte.  A dense blob of
    the older layout, of any fill, still reads as the same state.  A
    one-cell filter is dense even when empty: its sparse blob (21 B) would
    be longer than the dense one (20 B)."""
    sk = _sketch()
    state = _fold(sk, _fill(sk, where))
    nnz = np.count_nonzero(state)
    blob = sk.serialize(state)
    if where == "below":
        assert len(blob) == 21 + 8 * nnz and blob[16] == 1
    else:
        assert blob == _older_blob(sk, state)
    for b in (blob, _older_blob(sk, state)):
        back, got = CB.deserialize(b)
        np.testing.assert_array_equal(got, state)
        assert (back.params.m, back.params.k) == (sk.params.m, sk.params.k)
    assert len(CB.deserialize(sk.serialize(sk.empty()))[1]) == sk.params.m
    one = CB(BloomParams(n=1, p=0.7))
    assert one.params.m == 1
    for state in (one.empty(), np.array([2], np.int32)):
        blob = one.serialize(state)
        assert blob == _older_blob(one, state)
        assert len(blob) <= one.state_bytes_max
        np.testing.assert_array_equal(CB.deserialize(blob)[1], state)
        assert CB.merge_shard_blobs([one.serialize_shard(state, 0, 1)] * 2
                                    )[24] == 0


def _sparse_corruptions(blob: bytes, off: int, width: int) -> dict:
    """Bad variants of a sparse body whose mode byte sits at ``off``."""
    nnz = int.from_bytes(blob[off + 1:off + 5], "little")
    idx = np.frombuffer(blob, "<u4", nnz, off + 5).copy()
    vals = np.frombuffer(blob, "<i4", nnz, off + 5 + 4 * nnz).copy()
    assert nnz >= 2

    def build(i=idx, v=vals, n=nnz, mode=1):
        return (blob[:off] + bytes([mode]) + int(n).to_bytes(4, "little")
                + i.astype("<u4").tobytes() + v.astype("<i4").tobytes())

    swapped, past, zero = idx.copy(), idx.copy(), vals.copy()
    swapped[[0, 1]] = idx[[1, 0]]
    past[-1] = width
    zero[0] = 0
    return {
        "truncated": blob[:-1],
        "cut_in_nnz": blob[:off + 3],
        "nnz_bit_flip_low": build(n=nnz ^ 1),
        "nnz_bit_flip_high": build(n=nnz ^ (1 << 20)),
        "not_ascending": build(i=swapped),
        "index_past_width": build(i=past),
        "zero_value": build(v=zero),
        "unknown_mode": build(mode=2),
    }


def _refuses(call, *args) -> bool:
    try:
        call(*args)
    except ValueError:
        return True
    return False


def test_every_reader_refuses_a_bad_sparse_body():
    """A truncated sparse blob, a bit-flipped nnz, non-ascending indices,
    an index past the cells, a zero value and an unknown mode byte each
    raise ValueError from deserialize, merge_shard_blobs (alone and next
    to a good shard) and reassemble_shards."""
    sk = _sketch()
    state = _fold(sk, _fill(sk, "below")[:10])
    blob = sk.serialize(state)
    bad = _sparse_corruptions(blob, 16, sk.params.m)
    assert [n for n, b in bad.items() if not _refuses(CB.deserialize, b)] == []
    shards = [sk.serialize_shard(state, i, 2) for i in range(2)]
    lo, hi = sk.shard_bounds(0, 2)
    assert shards[0][24] == 1
    for name, b in _sparse_corruptions(shards[0], 24, hi - lo).items():
        for blobs in ([b], [shards[0], b]):
            assert _refuses(CB.merge_shard_blobs, blobs), name
        assert _refuses(CB.reassemble_shards, [b, shards[1]]), name


def test_truncated_dense_blob_ends_inside_its_layout():
    """Also where the cut leaves an odd length and counter 0 is 1, so the
    blob's byte 16 reads as the sparse mode byte.  (Length tells the
    layouts apart, so a cut that leaves a well-formed sparse blob — here
    21 B, counter 1 being 0 — reads as that blob.)"""
    sk = _sketch()
    state = _fold(sk, _fill(sk, "above"))
    state[0] = 1
    blob = sk.serialize(state)
    assert blob[16] == 1 and len(blob) % 2 == 0
    for cut in (len(blob) - 1, len(blob) - 4, len(blob) - 9, 17, 29):
        with pytest.raises(ValueError, match="inside its layout"):
            CB.deserialize(blob[:cut])


def test_a_lone_sparse_shard_passes_through():
    """merge_shard_blobs returns a lone valid shard as it is, and sums
    shards into the shard blob of the summed state by the rule, cancelling
    cells included."""
    sk = _sketch()
    keys = _fill(sk, "below")
    a, b = _fold(sk, keys[:2]), _fold(sk, keys[2:4])
    neg = _fold(sk, keys[:2], [-1, -1])
    full = _fold(sk, keys + _fill(sk, "above"))
    sa, sb, sn, sf = (sk.serialize_shard(s, 0, 1) for s in (a, b, neg, full))
    assert sa[24] == sb[24] == sn[24] == 1 and sf[24] == 0
    assert CB.merge_shard_blobs([sa]) == sa
    for blobs, total in (([sa, sb], a + b), ([sa, sn], a + neg),
                         ([sa, sb, sn], b), ([sa] * 8, 8 * a),
                         ([sf, sa], full + a), ([sf, sn, sa], full)):
        assert CB.merge_shard_blobs(blobs) == sk.serialize_shard(total, 0, 1)


def test_dense_shards_of_odd_width_can_reassemble_sparse():
    """Three shards of 170, 171 and 171 cells, each holding the fewest
    cells a dense body has (85): every shard is dense, yet the 255 cells
    are under half of the 512, so the reassembled blob is sparse."""
    sk = _sketch()
    assert sk.params.m == 512
    state = sk.empty()
    for i in range(3):
        lo, _ = sk.shard_bounds(i, 3)
        state[lo:lo + 85] = 1 + i
    shards = [sk.serialize_shard(state, i, 3) for i in range(3)]
    assert [s[24] for s in shards] == [0, 0, 0]
    assert sk.serialize(state)[16] == 1
    assert CB.reassemble_shards(shards[::-1]) == sk.serialize(state)
    merged = [CB.merge_shard_blobs([s, s]) for s in shards]
    assert CB.reassemble_shards(merged) == sk.serialize(2 * state)


@pytest.mark.parametrize("where", HALF)
def test_shard_cycle_equals_serialize_around_half_fill(where, monkeypatch):
    """Partial states with cancelling ±1 deltas → shard blobs → per-shard
    merge → reassembly equals serialize() of the summed state, for 1, 3
    and 4 shards, mixing sparse and dense shards."""
    sk = _sketch()
    keys = _fill(sk, where)
    extra = [f"gone_{i}" for i in range(30)]
    parts = [_fold(sk, keys[::2] + extra),
             _fold(sk, keys[1::2]),
             _fold(sk, extra, -np.ones(len(extra)))]
    whole = _fold(sk, keys)
    for n_shards in (1, 3, 4):
        monkeypatch.setattr(counting_bloom, "SHARD_TARGET_BYTES",
                            -(-sk.params.m * 4 // n_shards))
        assert sk.shard_count() == n_shards
        folds = []
        for st in parts:
            fold = sk.shard_fold()
            fold.add(np.flatnonzero(st), st[st != 0])
            folds.append(fold.shard_blobs(n_shards))
        merged = [CB.merge_shard_blobs([f[i] for f in folds])
                  for i in range(n_shards)]
        assert CB.reassemble_shards(merged[::-1]) == sk.serialize(whole)


# -- every build route, on both sides of the rule --------------------------

@pytest.fixture(scope="module")
def changelogs(spark, tmp_path_factory):
    """Per fill: (directory of three parquet files — the kept keys'
    inserts, inserts of 40 more keys, and in its own file their deletes,
    in 20-row groups — the kept keys, the insert-only state)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    sk = _sketch()
    out = {}
    for where in HALF:
        root = tmp_path_factory.mktemp(f"cbloom_{where}")
        keys = _fill(sk, where)
        extra = [f"gone_{i}" for i in range(40)]
        for name, ks, sign in (("a_kept", keys, 1), ("b_extra", extra, 1),
                               ("c_gone", extra, -1)):
            pq.write_table(pa.table({"doc_id": pa.array(ks, pa.string()),
                                     "sign": pa.array([sign] * len(ks),
                                                      pa.int32())}),
                           str(root / f"{name}.parquet"), row_group_size=20)
        out[where] = (str(root), keys, _fold(sk, keys))
    return out


@pytest.mark.parametrize("where", HALF)
def test_every_route_gives_the_single_process_bytes(
        spark, changelogs, where, monkeypatch, reference_fold, tmp_path,
        several_splits):
    """The changelog fold over several splits and 4 shards, on the driver
    fold, on the executor merge levels (DRIVER_COLLECT_MAX_BYTES 0),
    through a checkpoint and its resume, through the streaming delta
    accumulator, and the plain insert-only build_sketch: each gives the
    bytes of serialize() of the single-process fold — sparse just below
    half fill, dense at and past it."""
    from bloom_filter_spark.operators import (SketchCheckpoint, build_delta_sketch,
                                              build_sketch)
    from bloom_filter_spark.operators import merge as merge_mod
    from bloom_filter_spark.streaming import streaming_delta_build
    root, keys, state = changelogs[where]
    sk = _sketch()
    want = sk.serialize(state)
    assert len(want) % 2 == (where == "below")
    monkeypatch.setattr(counting_bloom, "SHARD_TARGET_BYTES",
                        sk.params.m * 4 // 4)
    assert sk.shard_count() == 4
    log = spark.read.parquet(root)
    n_rows = len(keys) + 80
    assert reference_fold(log, sk, "doc_id", "sign") == (want, n_rows)
    assert build_delta_sketch(log, sk, "doc_id", "sign", "str") == (want, n_rows)
    with monkeypatch.context() as mp:
        mp.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", 0)
        assert build_delta_sketch(log, sk, "doc_id", "sign",
                                  "str") == (want, n_rows)
    ck = SketchCheckpoint(str(tmp_path / "ck"))
    assert build_delta_sketch(log, sk, "doc_id", "sign", "str", checkpoint=ck,
                              sketch_id="cb") == (want, n_rows)
    assert ck.resume(spark, "cb", _sketch()) == (want, n_rows)
    acc = streaming_delta_build(spark, root, log.schema, _sketch(), "doc_id",
                                "sign", "str")
    assert (acc.blob(), acc.n_items) == (want, n_rows)
    kept = spark.read.parquet(f"{root}/a_kept.parquet").select("doc_id")
    assert build_sketch(kept, sk, "doc_id", "str") == (want, len(keys))
