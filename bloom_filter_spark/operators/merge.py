"""The merge side of the mergeable aggregation: one partial row, one keyed
router, one Arrow merge level.

Every partial row is ``(key columns…, src, n_items, state)`` — no key for
a plain build, ``shard_id`` for a sharded changelog, ``group`` for a
grouped build — and every merge folds in ``src`` order (the origin scan
partition), so KLL / t-digest compaction never sees arrival order.  One
keyed router (``_merge_keyed``) folds plain and shard partials on the
driver or, past its budget, through one keyed, fanin-bounded Arrow
group-fold (``_tree_level``) over *state rows only*, stacked by one planner
(``_merge_levels``, which grouped phase 2 calls directly) into one lazy
plan.  Every merge decision reads the class's declared ``state_bytes_max``:
one route rule (``_fits_driver``) and one fanin rule (``_byte_fanin``).

Safety: partial blobs carry their params in the serialized header; merging
states built under different params silently corrupts estimates, so every
merge first checks that the first ``sketch.header_len`` bytes are equal
(the kernel-level foot-gun found during verification).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

PARTIAL_SCHEMA = "src long, n_items long, state binary"


def merge_blobs(sketch, blobs: list, n_items: int) -> tuple[bytes, int]:
    """Fold-merge serialized states (header-checked); returns (blob, n)."""
    hlen = sketch.header_len
    head = bytes(blobs[0][:hlen])
    cls = type(sketch)
    _, acc = cls.deserialize(bytes(blobs[0]))
    for b in blobs[1:]:
        if bytes(b[:hlen]) != head:
            raise ValueError(
                f"refusing to merge {sketch.kind} states with different params/seeds")
        _, st = cls.deserialize(bytes(b))
        acc = sketch.merge(acc, st)
    return sketch.serialize(acc), int(n_items)


# driver fold above this much partial state would strain driver memory —
# route to the executor-side tree instead.  At p=0.01 / n=10^9 a Bloom
# partial is ~1.2 GB; thousands of such partials must never be collect()ed.
AUTO_TREE_THRESHOLD_BYTES = 256 << 20

# Driver-fold budget — decoupled from AUTO_TREE_THRESHOLD_BYTES because the
# two guard different memories: the tree threshold caps a single MERGE
# TASK's input (executor memory), while this caps one .collect() on the
# driver.  A driver comfortably folds a few hundred MB of state blobs in
# one job (~0.1 s measured for 32 × 8.4 MB), whereas the tree's shuffle
# levels cost seconds of fixed latency — routing
# mid-sized fleets (256-512 MB of partials) to the tree tripled a 3.8M-key
# str-build's merge for no memory benefit.  At 1000 executors × 8 MB
# states (8 GB) the tree still takes over.
DRIVER_COLLECT_MAX_BYTES = 512 << 20


def merge_partials_auto(partials: DataFrame, sketch,
                        est_rows: int | None = None) -> tuple[bytes, int]:
    """Plain partials → (blob, n_items): the keyed router with no key.
    ``est_rows`` is the partial-ROW count when the caller knows it
    (build_sketch passes the pre-checkpoint partition count, resume its
    counted rows — a checkpoint read-back packs many partial files per scan
    partition, so getNumPartitions there would under-count); otherwise P
    is read from the plan (one row per partition on the direct path, no
    job).  Both routes fold in src order, so a resume that passes the
    build's row count replays the build's plan byte for byte."""
    rows = _merge_keyed(partials, sketch, est_rows)
    return rows[0] if rows else (sketch.serialize(sketch.empty()), 0)


def _merge_keyed(partials: DataFrame, sketch, est_rows: int | None,
                 keys: tuple = (), fold=None,
                 row_bytes: int | None = None) -> list[tuple[bytes, int]]:
    """THE merge router → one (state, n_items) per key, in key order,
    planned from ``sketch.state_bytes_max`` alone: while ``est_rows``
    (default: the partition count) partials fit the driver
    (``_fits_driver``), collect them, sort by (*keys, src) and fold each
    key with ``fold(blobs) -> blob`` (default: header-checked
    ``merge_blobs``); else the executor merge levels at the byte fanin of
    ``row_bytes`` (default: ``state_bytes_max``) per row."""
    if est_rows is None:
        est_rows = partials.rdd.getNumPartitions()
    fold = fold or (lambda blobs: merge_blobs(sketch, blobs, 0)[0])

    def key(r):
        return tuple(r[k] for k in keys)

    if _fits_driver(est_rows, sketch):
        rows = sorted(partials.collect(), key=lambda r: (*key(r), r.src))
        return [(fold([r.state for r in grp]), sum(r.n_items for r in grp))
                for grp in (list(g) for _, g in itertools.groupby(rows, key))]
    rows = _merge_levels(partials, sketch,
                         _byte_fanin(row_bytes or sketch.state_bytes_max),
                         est_rows, keys, fold).collect()
    return [(bytes(r.state), int(r.n_items)) for r in sorted(rows, key=key)]


def _fits_driver(est_rows: int, sketch) -> bool:
    """THE route rule: ``est_rows`` partials of at most
    ``sketch.state_bytes_max`` bytes each fit one driver collect()
    (DRIVER_COLLECT_MAX_BYTES), so the driver folds them; otherwise the
    executor merge levels do."""
    return est_rows * sketch.state_bytes_max <= DRIVER_COLLECT_MAX_BYTES


def _byte_fanin(state_bytes: int) -> int:
    """THE fanin rule: rows of ``state_bytes`` one merge task may fold
    within AUTO_TREE_THRESHOLD_BYTES; at least 2, so every level shrinks."""
    return max(2, int(AUTO_TREE_THRESHOLD_BYTES // max(1, state_bytes)))


def _tree_level(df: DataFrame, sketch, fanin: int | None, keys: tuple = (),
                fold=None) -> DataFrame:
    """THE merge level: ``groupBy(*keys, floor(src / fanin))`` (``keys``
    alone when ``fanin`` is None: the final fold), then ``applyInArrow``
    folds each group with ``fold(blobs) -> blob`` (default: header-checked
    ``merge_blobs``) and sums n_items.  FOLD ORDER: sorted by src within a
    group, so KLL / t-digest never see arrival order.  INVARIANT
    (load-bearing for every byte-aware fanin): src is renumbered to the
    group index (0 after the final fold), so the NEXT level again packs at
    most ``fanin`` rows per task — original ids would let level-2 groups
    span fanin² inputs.  Pinned by
    tests/test_spark_build.py::test_merge_tree_level_renumbers_dense."""
    fold = fold or (lambda blobs: merge_blobs(sketch, blobs, 0)[0])
    schema = StructType([df.schema[k] for k in keys] + [
        StructField("src", LongType()), StructField("n_items", LongType()),
        StructField("state", BinaryType())])
    by = list(keys)
    if fanin:
        df = df.withColumn("_grp", F.floor(F.col("src") / fanin))
        by.append("_grp")

    def fold_group(table):
        import pyarrow as pa
        import pyarrow.compute as pc
        table = table.sort_by("src")
        state = table.column("state")
        grp = table.column("_grp")[0].as_py() if fanin else 0
        return pa.Table.from_arrays(
            [*(table.column(k).slice(0, 1) for k in keys),
             pa.array([grp], pa.int64()),
             pa.array([pc.sum(table.column("n_items")).as_py()], pa.int64()),
             pa.array([fold(state.to_pylist())], state.type)],
            names=schema.names)

    return df.groupBy(*by).applyInArrow(fold_group, schema)


def _merge_levels(df: DataFrame, sketch, fanin: int,
                  est_rows: int | None = None, keys: tuple = (),
                  fold=None) -> DataFrame:
    """THE level planner: while the estimated rows per key (default: the
    partition count) exceed ``fanin``, add a ``_tree_level``; then fold
    each key once.  No persist, no count job: the merge runs in the
    caller's one action.  An under-estimate loses no rows, it only loads
    the final fold with more than ``fanin``."""
    if est_rows is None:
        est_rows = df.rdd.getNumPartitions()
    while est_rows > fanin:
        df = _tree_level(df, sketch, fanin, keys, fold)
        est_rows = -(-est_rows // fanin)
    return _tree_level(df, sketch, None, keys, fold)
