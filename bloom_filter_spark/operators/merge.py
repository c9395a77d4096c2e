"""Associative merge tree over partial sketch states.

P partial rows → ⌈P/fanin⌉ → … → 1, mirroring ``treeAggregate`` semantics on
the DataFrame API (SURVEY.md §4.2).  Each level is a
``groupBy(partition_id / fanin).applyInPandas`` over *state rows only* —
shuffle volume per level is (#rows × |state|), never the input data.

Safety: partial blobs carry their params in the serialized header; merging
states built under different params silently corrupts estimates, so every
merge first checks that the first ``sketch.header_len`` bytes are equal
(the kernel-level foot-gun found during verification).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

PARTIAL_SCHEMA = "partition_id long, n_items long, state binary"


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


def merge_partials_collect(partials: DataFrame, sketch) -> tuple[bytes, int]:
    """Driver-side fold of the partial states — ONE Spark job.

    Correct choice when P × |state| is small (a few hundred MB-scale blobs):
    the tree's extra persist/count/shuffle jobs cost ~0.5-1 s of fixed
    latency each, which dominates short builds and caps scaling efficiency.
    SURVEY.md §3.1: 'final merge (single task or driver)'.  Rows are folded
    in partition_id order so the result is reproducible and identical to the
    tree path for order-sensitive merges (KLL/t-digest compaction).
    """
    rows = sorted(partials.collect(), key=lambda r: r.partition_id)
    if not rows:
        return sketch.serialize(sketch.empty()), 0
    return merge_blobs(sketch, [r.state for r in rows],
                       sum(r.n_items for r in rows))


# driver fold above this much partial state would strain driver memory —
# route to the executor-side tree instead.  At p=0.01 / n=10^9 a Bloom
# partial is ~1.2 GB; thousands of such partials must never be collect()ed.
AUTO_TREE_THRESHOLD_BYTES = 256 << 20

# Driver-fold budget — decoupled from AUTO_TREE_THRESHOLD_BYTES because the
# two guard different memories: the tree threshold caps a single MERGE
# TASK's input (executor memory), while this caps one .collect() on the
# driver.  A driver comfortably folds a few hundred MB of state blobs in
# one job (~0.1 s measured for 32 × 8.4 MB), whereas the tree's
# persist/count/level jobs cost seconds of fixed latency — routing
# mid-sized fleets (256-512 MB of partials) to the tree tripled a 3.8M-key
# str-build's merge for no memory benefit.  At 1000 executors × 8 MB
# states (8 GB) the tree still takes over.
DRIVER_COLLECT_MAX_BYTES = 512 << 20


def state_size_estimate(sketch) -> int:
    """Driver-side WORST-CASE serialized-size estimate: exact for
    fixed-size states (bloom / blocked_bloom / hll / cms — the big ones);
    for the variable-size sketches the cap is derived from their params
    (k entries × entry width) so the routing guard never under-counts a
    full state the way len(serialize(empty())) would."""
    if sketch.kind == "hll":
        # sparse serde makes an EMPTY state ~17 B while a dense partial is
        # 13 + 2^b (16 KiB at b=14, 1 MiB at b=20) — size the router on the
        # dense worst case or every HLL fleet would route to driver collect
        return 13 + (1 << sketch.params.b)
    if sketch.kind == "bloom":
        return 16 + sketch.params.n_words * 8
    if sketch.kind == "cbloom":
        # params-derived: serializing a zeroed 2^27-counter array just to
        # measure it would churn ~GBs of driver allocations per build
        return 16 + sketch.params.m * 4
    if sketch.kind == "ddsketch":
        # params-derived cap: max_bins (keys + counts) × i64 per sign store
        # (48 = 20B param header + n + zero + 2 size u32s + collapse flag)
        return 48 + 4 * sketch.params.max_bins * 8
    base = len(sketch.serialize(sketch.empty()))
    k = getattr(sketch.params, "k", None)
    if k is not None:  # KMV/reservoir: k×u64; MG: k×(key+count); KLL: ~3k
        return base + int(k) * 16 + 64
    if getattr(sketch.params, "compression", None) is not None:
        return base + int(sketch.params.compression) * 32 + 64  # t-digest
    return base


def merge_partials_auto(partials: DataFrame, sketch, fanin: int = 64,
                        threshold_bytes: int | None = None,
                        est_rows: int | None = None) -> tuple[bytes, int]:
    """Merge-strategy router: driver fold when P × |state| is small, the
    fanin-ary executor tree when collecting the partials would blow the
    driver (the caller no longer has to remember a flag at 1000-executor
    scale).  ``est_rows`` should be the partial-ROW count when the caller
    knows it (build_sketch passes the pre-checkpoint partition count —
    a checkpoint read-back packs many partial files per scan partition, so
    getNumPartitions there would under-count); otherwise P is read from
    the plan (one row per partition on the direct path, no job)."""
    if est_rows is None:
        est_rows = partials.rdd.getNumPartitions()
    sz = state_size_estimate(sketch)
    # default (None): route collect-vs-tree on the DRIVER budget
    # (DRIVER_COLLECT_MAX_BYTES) and cap each tree task at the executor
    # budget (AUTO_TREE_THRESHOLD_BYTES).  An explicit threshold_bytes
    # keeps its historical single-knob meaning for BOTH — tests force the
    # tree with 0 — and a sentinel of None (not default-value equality)
    # distinguishes the cases, so passing the default constant explicitly
    # behaves identically to passing it implicitly (code-review r5).
    if threshold_bytes is None:
        route_bytes, task_bytes = DRIVER_COLLECT_MAX_BYTES, AUTO_TREE_THRESHOLD_BYTES
    else:
        route_bytes = task_bytes = threshold_bytes
    if est_rows * sz > route_bytes:
        # byte-aware fanin: a WIDE state (e.g. a 33 MB counting-bloom
        # counter array) with the default fanin=64 would funnel 2+ GB into
        # ONE merge task; cap each task's input at the executor byte
        # budget, so memory per merge task stays bounded no matter how
        # large a single state is
        per_task = max(2, int(task_bytes // max(1, sz)))
        row = merge_partials_tree(partials, sketch,
                                  fanin=min(fanin, per_task)).collect()[0]
        return bytes(row.state), int(row.n_items)
    return merge_partials_collect(partials, sketch)


def _tree_level(df: DataFrame, sketch, fanin: int) -> DataFrame:
    """One fanin-ary merge level: group by floor(partition_id / fanin),
    fold each group, emit the GROUP INDEX as the output partition_id.

    INVARIANT (load-bearing for the byte-aware fanin cap in
    merge_partials_auto): outputs are renumbered to the dense group ids
    0..⌈P/fanin⌉-1, so floor-div grouping at the NEXT level packs at most
    ``fanin`` rows per task again.  Emitting original ids instead would let
    level-2 groups span fanin² consecutive inputs and silently funnel
    fanin× the byte budget through one merge task — pinned by
    tests/test_spark_build.py::test_merge_tree_level_renumbers_dense."""
    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("partition_id")  # reproducible fold order
        blob, n = merge_blobs(sketch, list(pdf["state"]), pdf["n_items"].sum())
        return pd.DataFrame({"partition_id": [int(pdf["grp"].iloc[0])],
                             "n_items": [n], "state": [blob]})

    return (df.withColumn("grp", F.floor(F.col("partition_id") / fanin))
              .groupBy("grp")
              .applyInPandas(merge_group, PARTIAL_SCHEMA))


def merge_partials_tree(partials: DataFrame, sketch, fanin: int = 64) -> DataFrame:
    """Reduce a partials DataFrame to a single (partition_id=0, n_items, state)
    row via a fanin-ary tree of applyInPandas merges.  Use for LARGE fleets
    of partials (P ≫ fanin) where a driver collect would be the bottleneck;
    otherwise prefer merge_partials_collect."""
    df = partials.persist()
    count = df.count()
    while count > 1:
        nxt = _tree_level(df, sketch, fanin).persist()
        new_count = nxt.count()
        df.unpersist()
        df, count = nxt, new_count
    return df
