"""Distributed sketch build — the partial phase of the mergeable UDAF.

Design (SURVEY.md §3.1): the build is expressed so that the *data* never
shuffles — ``mapInArrow`` folds every input partition into one sketch state
locally, emitting a single (src, n_items, state) row per partition — the
partial row layout of merge.py, with ``src`` the origin scan partition.
Only those P small state rows move through the merge tree
(operators/merge.py).  At 100 TB the scan stays embarrassingly parallel and
the shuffle volume is P × |state|, independent of input size.

``mapInArrow`` (not mapInPandas) is load-bearing: for array<int32> columns
the pandas conversion materializes one ndarray object PER ROW, and measured
on this host the allocation storm makes the exchange anti-scale (4.8 s at
local[4] → 36.7 s at local[32] for a pass-through).  The Arrow path reads
the list column's flat values buffer zero-copy — one numpy view per batch.

Every partial build — JVM-fed, native parquet scan, changelog — runs
through ONE fold core (``_fold_fn``): fold an Arrow batch
iterator into ``sketch.empty()`` with a per-batch step, emit the single
(src, n_items, state) row.  The one changelog fold is the same
loop with one start/emit hook: it starts from the sketch's own sparse
accumulator, folds a signed step (nulls dropped in the task), emits one row
per column-range shard and, like every multiset-pure build, reads a bare
parquet scan natively.  Every grouped build runs through one phase 1
(``_grouped_phase1_fn``); every merge is merge.py's one keyed router or
its one Arrow level.
What a sketch IS — whether its state is a pure function of the input multiset,
how long its params header is — is declared on the sketch class
(sketches/base.py); the operators route on those declarations, never on
kind names.

Grouped builds ("one sketch per source") are the skew-prone case — the
fixture's zipfian source weights put 45% of rows in one group.  The north
rule's salted repartition is implemented as a two-phase aggregation:
``groupBy(source, salt)`` partials (caps any single task at group/n_salts)
→ ``groupBy(source)`` merge of the tiny states.  Cuckoo filters, which have
no sound union-merge (SURVEY.md §2.3), use the single-writer grouped path
with no salting.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
from py4j.protocol import Py4JError
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from ..core.hashing import StrBuf, arrow_strbuf
from ..sketches.base import sketch_for_kind
from .merge import (PARTIAL_SCHEMA, _byte_fanin, _merge_keyed, _merge_levels,
                    merge_partials_auto)


_DTYPES = {"i32": np.int32, "i64": np.int64, "f64": np.float64}


def _keys(values, value_kind: str):
    """Extracted values → what the kernels take for ``value_kind`` (i32 |
    i64 | f64 | str): a numpy array of that dtype, or for str the zero-copy
    StrBuf (else the non-null strings).  Shared by the plain build step and
    every probe, so a key is probed exactly as it was inserted."""
    if value_kind == "str":
        if isinstance(values, StrBuf):  # zero-copy Arrow path, nulls dropped
            return values
        return [v for v in values if v is not None]
    if value_kind not in _DTYPES:
        raise ValueError(f"unknown value_kind {value_kind}")
    return np.asarray(values, _DTYPES[value_kind])


def _check_key_type(t, value_kind: str, use: str) -> None:
    """ValueError for a key column of Arrow type ``t`` that the
    ``value_kind`` cast would silently change or cannot read: a list column
    under any kind but i32_array or a scalar column under it, text read as
    numbers ("12" → 12), integers wider than the kind (2**32 + 5 → 5 as
    i32) or integers hashed as strings.  Float columns pass.  ``use``
    names the side in the message: "inserted" or "probed"."""
    import pyarrow as pa
    is_list = pa.types.is_list(t) or pa.types.is_large_list(t)
    if is_list != (value_kind == "i32_array"):
        raise ValueError(f"a {t} key column cannot be {use} as {value_kind} "
                         "keys: i32_array takes list columns, and only it")
    if is_list:
        t = t.value_type
    dtype = _DTYPES.get(_elem_kind(value_kind))
    text = pa.types.is_string(t) or pa.types.is_large_string(t)
    if (pa.types.is_integer(t) and (dtype is None or t.bit_width > 8 *
                                    np.dtype(dtype).itemsize)
            or dtype is not None and text):
        raise ValueError(f"a {t} key column cannot be {use} as "
                         f"{value_kind} keys")


def _check_key_column(df: DataFrame, col: str, value_kind: str,
                      use: str) -> None:
    """``_check_key_type`` of column ``col`` of ``df``, from its schema on
    the driver (no job runs)."""
    from pyspark.sql.pandas.types import to_arrow_type
    _check_key_type(to_arrow_type(df.select(col).schema[0].dataType),
                    value_kind, use)


def _update(sketch, state, values, value_kind: str) -> int:
    if len(values) == 0:
        return 0
    cast = value_kind
    update = getattr(sketch, "update" if cast == "f64" else f"update_{cast}",
                     None)
    if update is None and cast == "i64":  # quantile sketches take floats
        update, cast = getattr(sketch, "update", None), "f64"
    if update is None:
        raise ValueError(f"{sketch.kind} does not support {value_kind} values")
    update(state, _keys(values, cast))
    return len(values)


def _arrow_values(col, value_kind: str):
    """Arrow column → flat numpy values + n (zero-copy where possible)."""
    if value_kind == "i32_array":
        # list<int32>: drop nulls, then read the flat values buffer directly
        if col.null_count:
            col = col.drop_null()
        flat = col.flatten()
        return flat.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    if col.null_count:
        col = col.drop_null()
    if value_kind == "str":
        # zero-copy offsets/values view — Python string objects never
        # materialize on the build hot path (VERDICT r4 #3); kernels hash
        # the UTF-8 bytes straight from the Arrow buffers
        buf = arrow_strbuf(col)
        return buf if buf is not None else col.to_pylist()
    return col.to_numpy(zero_copy_only=False)


def _elem_kind(value_kind: str) -> str:
    return "i32" if value_kind == "i32_array" else value_kind


def _src() -> int:
    """The ``src`` of every partial row a task emits: its scan partition."""
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def _fold_fn(sketch, step, out=None):
    """The one fold core of every partial build → a ``mapInArrow`` function
    folding its Arrow batch iterator into one state and yielding one batch.
    ``step(state, batch)`` folds one batch and returns how many items it
    ingested.  ``out`` is the one hook on the state the fold starts from
    and the rows it emits, a pair ``(start() -> state, rows(state, n) ->
    {column: pa.Array})``; by default ``sketch.empty()`` and the single
    (src, n_items, state) row."""
    start, rows = out or (sketch.empty, lambda state, n: {
        "src": [_src()], "n_items": [n],
        "state": [sketch.serialize(state)]})

    def partial_fn(batches):
        import pyarrow as pa
        state = start()
        n = 0
        for b in batches:
            n += step(state, b)
        yield pa.RecordBatch.from_pydict(rows(state, n))

    return partial_fn


def _plain_step(sketch, value_kind: str):
    """Fold step: ``sketch.update_<kind>`` of column 0."""
    elem_kind = _elem_kind(value_kind)

    def step(state, b):
        return _update(sketch, state, _arrow_values(b.column(0), value_kind),
                       elem_kind)
    return step


def _parallelism(spark) -> tuple[int, int]:
    """→ (task slots, ``spark.sql.files.openCostInBytes``) of ``spark``:
    the two cluster figures ``_task_count`` reads."""
    sc = spark.sparkContext
    task_cpus = int(sc.getConf().get("spark.task.cpus", "1") or "1")
    open_cost = spark._jsparkSession.sessionState().conf() \
        .filesOpenCostInBytes()
    return max(1, sc.defaultParallelism // task_cpus), int(open_cost)


def _task_count(units: int, state_bytes: int, slots: int, open_cost: int,
                scan_bytes: int | None = None) -> int:
    """THE parallelism rule → how many tasks fold ``units`` indivisible
    input pieces into partials of at most ``state_bytes`` bytes each, on a
    cluster of ``slots`` task slots.

    A native scan (``scan_bytes``: the compressed bytes of the projected
    column chunks of its ``units`` row groups) cuts at most 4× the slots,
    which balances stragglers on large inputs, and no split below
    ``open_cost`` bytes but the last: Spark's "bytes worth one task", which
    its own file scan obeys.  An input under one open cost is one task, so
    a caller's aggregate or ``groupBy`` plans no exchange.  A JVM fold
    (``scan_bytes`` None) keeps the ``units`` partitions Spark planned.

    Wide states: once one state passes 256 KiB, each further partial costs
    a serialize and a merge of it, so both paths trim to the slots (never
    below them: scan parallelism stays).  On a 4-vCPU VM (4 slots), a
    1.5 MB CMS build over the sf0.1 tokens took 4.1 CPU-s as 16 splits and
    3.4 as 4."""
    n = units
    if scan_bytes is not None:
        n = min(n, 4 * slots, -(-scan_bytes // open_cost))
    if state_bytes > 1 << 18:
        n = min(n, slots)
    return max(1, n)


def _bound_state_volume(sel: DataFrame, sketch) -> DataFrame:
    """The JVM fold's input, coalesced (no shuffle) to ``_task_count`` of
    its partitions: a wide state trims them to the task slots."""
    p = sel.rdd.getNumPartitions()
    n = _task_count(p, sketch.state_bytes_max, *_parallelism(sel.sparkSession))
    return sel.coalesce(n) if n < p else sel


def _attr_through_projects(df: DataFrame, cols: list[str]):
    """→ (physical column names, local parquet files) when ``df``'s optimized
    plan is nothing but attribute-preserving Projects over ONE v1 parquet
    relation — the shape where a Python task can read the files directly.
    Any other node (Filter, Limit, Join, generated columns, non-parquet or
    remote storage) returns None and the caller keeps the JVM scan path."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        names = list(cols)
        while True:
            cls = node.getClass().getSimpleName()
            if cls == "Project":
                exprs = node.projectList()
                mapped = {}
                for i in range(exprs.size()):
                    e = exprs.apply(i)
                    ecls = e.getClass().getSimpleName()
                    if ecls == "AttributeReference":
                        mapped[e.name()] = e.name()
                    elif ecls == "Alias":
                        ch = e.child()
                        if ch.getClass().getSimpleName() == "AttributeReference":
                            mapped[e.name()] = ch.name()
                if any(n not in mapped for n in names):
                    return None
                names = [mapped[n] for n in names]
                node = node.child()
            elif cls == "LogicalRelation":
                rel = node.relation()
                if rel.getClass().getSimpleName() != "HadoopFsRelation":
                    return None
                fmt = rel.fileFormat().getClass().getSimpleName()
                if "Parquet" not in fmt:
                    return None
                files = []
                for f in df.inputFiles():
                    if f.startswith("file:"):
                        f = f[5:]
                        while f.startswith("//"):
                            f = f[1:]
                    elif "://" in f:
                        return None  # remote storage — JVM scan path
                    files.append(f)
                if not files:
                    return None
                return names, files
            else:
                return None
    except Py4JError:  # a plan node without the accessors read above
        return None


def _parquet_splits(spark, files: list[str], need_cols: list[str],
                    need_types: dict[str, str] | None = None,
                    state_bytes: int = 0):
    """Driver-side metadata pass: verify every file physically carries the
    needed top-level columns (+ optional Arrow type constraints), then pack
    all (file, row-group) units round-robin into ``_task_count`` splits,
    sized from the footers' compressed bytes of those columns and the
    partials' ``state_bytes``.  Returns list[dict[file, [rg,...]]], or None
    when a file is missing, unreadable as parquet or lacks a column."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    units: list[tuple[str, int]] = []
    scan_bytes = 0
    for f in files:
        if not os.path.exists(f):
            return None
        try:
            pf = pq.ParquetFile(f)
        except (OSError, pa.ArrowInvalid):
            return None
        schema = pf.schema_arrow
        for c in need_cols:
            idx = schema.get_field_index(c)
            if idx < 0:
                return None
            if need_types and c in need_types:
                t = schema.field(idx).type
                want = need_types[c]
                if want == "string" and not (pa.types.is_string(t)
                                             or pa.types.is_large_string(t)):
                    return None
        md = pf.metadata
        for rg in range(md.num_row_groups):
            chunks = md.row_group(rg)
            for j in range(chunks.num_columns):
                path = chunks.column(j).path_in_schema
                if any(path == c or path.startswith(c + ".")
                       for c in need_cols):
                    scan_bytes += chunks.column(j).total_compressed_size
            units.append((f, rg))
    if not units:
        return None
    n_splits = _task_count(len(units), state_bytes, *_parallelism(spark),
                           scan_bytes=scan_bytes)
    splits: list[dict] = [dict() for _ in range(n_splits)]
    for i, (f, rg) in enumerate(units):
        splits[i % n_splits].setdefault(f, []).append(rg)
    return splits


def _iter_rg_tables(split: dict, cols: list[str], lookahead: int = 2):
    """Yield this split's row groups as pyarrow Tables IN ORDER, decoding
    up to ``lookahead`` groups ahead on one reader thread — parquet decode
    releases the GIL, so it overlaps the caller's kernel work and reclaims
    the vCPU that spark.task.cpus=2 reserves for the (idle, on this path)
    JVM feed thread.  Measured 1.5× on a full single-task pass (decode
    1.5 s ‖ kernel 0.9 s → 1.5 s total).  Deterministic: results are
    consumed in submission order, so fold order — and therefore every
    sketch state — is identical to the sequential loop."""
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    units = [(p, rg) for p, rgs in split.items() for rg in rgs]
    handles: dict = {}

    def read(p, rg):
        pf = handles.get(p)  # single reader thread — no races
        if pf is None:
            pf = handles[p] = pq.ParquetFile(p)
        return pf.read_row_group(rg, columns=cols)

    with ThreadPoolExecutor(1) as pool:
        futs = deque()
        it = iter(units)
        for _ in range(lookahead):
            u = next(it, None)
            if u is not None:
                futs.append(pool.submit(read, *u))
        while futs:
            t = futs.popleft().result()
            u = next(it, None)
            if u is not None:
                futs.append(pool.submit(read, *u))
            yield t


def _native_scan(df: DataFrame, cols: list[str], fn, schema: str,
                 str_cols: tuple = (),
                 state_bytes: int = 0) -> DataFrame | None:
    """Native-scan source of the builds and of ``membership_scan``: one task
    per split of a driver ``range`` reads its parquet row groups with
    pyarrow (vectorized C++ decode, no JVM row↔Arrow transposition) and
    feeds them to ``fn`` as RecordBatches of ``cols`` — measured ~25× less
    CPU than the JVM scan → Arrow exchange (the JVM boundary was ~90% of
    every build line's CPU).  Taken only when the plan is provably a bare
    projected parquet scan (``str_cols`` already parquet strings); else
    None.  The splits re-partition the rows, so a build caller must also
    know its sketch is ``multiset_pure``.  The split count is
    ``_task_count`` of the row groups, their projected bytes and the
    partials' ``state_bytes`` (0 for the probe's count rows); one split
    plans as a single partition, so the caller's aggregate or ``groupBy``
    adds no exchange."""
    info = _attr_through_projects(df, cols)
    if info is None:
        return None
    phys, files = info
    if len(set(phys)) < len(phys):
        return None
    spark = df.sparkSession
    splits = _parquet_splits(
        spark, files, phys,
        need_types={p: "string" for c, p in zip(cols, phys) if c in str_cols},
        state_bytes=state_bytes)
    if splits is None:
        return None
    bc = spark.sparkContext.broadcast(splits)

    def native_fn(batches):
        import pyarrow as pa

        def rg_batches():
            for b in batches:
                for sid in b.column(0).to_pylist():
                    for t in _iter_rg_tables(bc.value[sid], phys):
                        yield pa.RecordBatch.from_arrays(
                            [t.column(p).combine_chunks() for p in phys],
                            cols)

        yield from fn(rg_batches())

    driver = spark.range(0, len(splits), 1, len(splits))
    return driver.mapInArrow(native_fn, schema)


def _native_parquet_partials(df: DataFrame, sketch, col: str,
                             value_kind: str) -> DataFrame | None:
    """Native-scan partials of ``build_sketch`` (see _native_scan)."""
    if not sketch.multiset_pure:
        return None
    return _native_scan(df, [col],
                        _fold_fn(sketch, _plain_step(sketch, value_kind)),
                        PARTIAL_SCHEMA,
                        state_bytes=sketch.state_bytes_max)


def build_partials(df: DataFrame, sketch, col: str, value_kind: str = "i32_array",
                   repartition: int | None = None) -> DataFrame:
    """→ DataFrame(src long, n_items long, state binary), one row per
    partition.  ``value_kind``: i32_array | i32 | i64 | f64 | str; a
    column the cast would change raises ValueError (``_check_key_type``)."""
    _check_key_column(df, col, value_kind, "inserted")
    sel = df.select(F.col(col).alias("v"))  # explicit column pruning
    if repartition:
        sel = sel.repartition(repartition)
    else:
        sel = _bound_state_volume(sel, sketch)
    return sel.mapInArrow(_fold_fn(sketch, _plain_step(sketch, value_kind)),
                          PARTIAL_SCHEMA)


def build_sketch(df: DataFrame, sketch, col: str, value_kind: str = "i32_array",
                 repartition: int | None = None, checkpoint=None,
                 sketch_id: str | None = None) -> tuple[bytes, int]:
    """Full build: partials → merge → (final state blob, n_items).

    The merge is merge.merge_partials_auto, planned from the sketch's
    declared ``state_bytes_max``: a driver-side fold (one job) while
    P × state_bytes_max fits merge.DRIVER_COLLECT_MAX_BYTES, the Arrow
    merge levels at the byte fanin beyond it (thousands of GB-scale Bloom
    partials must never be collect()ed).  If ``checkpoint`` and
    ``sketch_id`` are given, partial and final states are persisted with
    lineage, and ``SketchCheckpoint.resume`` replays the same merge plan.
    A key column the ``value_kind`` cast would change raises ValueError.
    """
    _check_key_column(df, col, value_kind, "inserted")
    partials = None
    if repartition is None:
        partials = _native_parquet_partials(df, sketch, col, value_kind)
    if partials is None:
        partials = build_partials(df, sketch, col, value_kind, repartition)
    return _merge_checkpointed(df, partials, sketch, checkpoint, sketch_id)


# An alias kept for existing callers: the fold's in-task duplicate collapse
# does the work of a JVM explode → groupBy(key).count() pre-aggregation
# without its shuffle, so every build takes the one route.
build_sketch_preagg = build_sketch


def _merge_checkpointed(df: DataFrame, partials: DataFrame, sketch,
                        checkpoint, sketch_id: str | None) -> tuple[bytes, int]:
    """Partials → (final blob, n_items): one-row-per-partition partials
    through merge_partials_auto, sharded ones (a ``shard_id`` column)
    through merge_shards_reassembled — persisting the partial rows (through
    the one ``write_partials``) and the final state when ``checkpoint`` and
    ``sketch_id`` are given."""
    persist = checkpoint is not None and sketch_id is not None
    sharded = "shard_id" in partials.columns
    # capture BEFORE the checkpoint round-trip: a read-back packs many
    # partial rows per parquet partition, so its getNumPartitions would
    # under-count, mis-route and mis-plan the merge (ADVICE r4)
    est_rows = partials.rdd.getNumPartitions()
    if persist:
        partials = checkpoint.write_partials(sketch_id, sketch, partials,
                                             input_desc=_describe_input(df))
    merge = merge_shards_reassembled if sharded else merge_partials_auto
    blob, n_items = merge(partials, sketch, est_rows)
    if persist:
        checkpoint.write_final(sketch_id, sketch, blob, n_items)
    return blob, n_items


def _signed_step(update, value_kind: str, sign_col: str):
    """Fold step of the changelog build over (key, sign) batches: rows with
    a null key or a null sign drop under one joint validity mask (a kept
    null sign would become an arbitrary delta), then ``update(state, keys,
    int32 signs)``.  A sign outside int32 raises ValueError naming
    ``sign_col`` — cast down, it would wrap (2**32 - 1 folds as −1)."""
    lo, hi = np.iinfo(np.int32).min, np.iinfo(np.int32).max

    def step(state, b):
        import pyarrow.compute as pc
        keys, signs = b.column(0), b.column(1)
        if keys.null_count or signs.null_count:
            valid = pc.and_(pc.is_valid(keys), pc.is_valid(signs))
            keys, signs = keys.filter(valid), signs.filter(valid)
        if len(keys) == 0:
            return 0
        s = signs.to_numpy(zero_copy_only=False)
        if not np.can_cast(s.dtype, np.int32) and (int(s.min()) < lo
                                                   or int(s.max()) > hi):
            raise ValueError(f"sign column {sign_col!r} holds a value "
                             f"outside int32 [{lo}, {hi}]")
        update(state, _arrow_values(keys, value_kind),
               s.astype(np.int32, copy=False))
        return len(keys)
    return step


# the partial row keyed by shard: ``src`` (the origin scan partition)
# persists with the row, so the fanin levels group on floor(src / fanin)
# after a checkpoint read-back too
SHARD_SCHEMA = "shard_id int, src long, n_items long, state binary"


def build_delta_shard_partials(df: DataFrame, sketch, col: str, sign_col: str,
                               value_kind: str = "str") -> DataFrame:
    """The one changelog fold: (key, ±1) rows → SHARDED partials, emitting
    ``sketch.shard_count()`` column-range rows (shard_id, src, n_items,
    state) per partition.

    Distributed deletes for counter-summed sketches (counting bloom):
    inserts carry sign +1, deletes −1; partitions fold their slice with NO
    local presence check (a partition may see a delete for a key inserted
    elsewhere — its counters go locally negative and the merge sum restores
    the global multiset).  Requires the classic counting-filter discipline:
    globally, deletes ≤ inserts per key.  The sketch must implement
    ``update_delta_{str,i32}`` and ``shard_fold``; the sign column must be
    an integer type whose values fit int32.  Rows with a null key or a null
    sign are skipped.

    ``_fold_fn`` runs ``_signed_step`` over (key, sign) batches, started
    from the sketch's sparse ``shard_fold`` state (task memory and shard
    bytes track the rows a partition wrote, not the filter width) — read by
    the native parquet scan when the plan is a bare scan (counter sums are
    multiset-pure), else by the JVM scan, which is NEVER coalesced: past
    the driver budget the merge is a single groupBy(shard_id) with one
    reducer per shard, so a 1000-task scan of a 10^10-cell filter shuffles
    data-proportional bytes into width-proportional parallel reducers
    (merge_shards_reassembled).  ``n_items`` rides only shard-0 rows so the
    global count sums cleanly."""
    from pyspark.sql.types import IntegralType
    update = getattr(sketch, f"update_delta_{value_kind}", None)
    if update is None:
        raise ValueError(f"{sketch.kind} does not support signed updates")
    if not hasattr(sketch, "shard_fold"):
        raise ValueError(f"{sketch.kind} does not support sharded states")
    _check_key_column(df, col, value_kind, "inserted")
    sign_type = df.schema[sign_col].dataType
    if not isinstance(sign_type, IntegralType):
        raise ValueError(f"sign column {sign_col!r} must be an integer type,"
                         f" not {sign_type.simpleString()}")
    n_shards = sketch.shard_count()  # on the driver: the tasks capture it

    def rows(acc, n):
        import pyarrow as pa
        return {
            "shard_id": pa.array(range(n_shards), pa.int32()),
            "src": pa.array([_src()] * n_shards, pa.int64()),
            "n_items": pa.array([n] + [0] * (n_shards - 1), pa.int64()),
            "state": pa.array(acc.shard_blobs(n_shards), pa.binary()),
        }

    fold = _fold_fn(sketch, _signed_step(update, value_kind, sign_col),
                    (sketch.shard_fold, rows))
    partials = None
    if sketch.multiset_pure:
        partials = _native_scan(df, [col, sign_col], fold, SHARD_SCHEMA,
                                state_bytes=sketch.state_bytes_max)
    if partials is None:
        partials = df.select(F.col(col).alias("v"),
                             F.col(sign_col).alias("s")).mapInArrow(
                                 fold, SHARD_SCHEMA)
    return partials


def merge_shards_reassembled(partials: DataFrame, sketch,
                             est_partials: int | None = None
                             ) -> tuple[bytes, int]:
    """Sharded partials → (monolithic state blob, n_items), the sharded
    tail of the build and of SketchCheckpoint.resume: merge.py's keyed
    router over ``shard_id`` folds each shard with ``merge_shard_blobs``
    (on the driver within its budget, else one reducer per shard with
    pre-levels at one dense shard's byte fanin), then ``reassemble_shards``
    checks completeness from the blob headers.  Both routes give the same
    bytes."""
    rows = _merge_keyed(partials, sketch, est_partials, keys=("shard_id",),
                        fold=type(sketch).merge_shard_blobs,
                        row_bytes=sketch.state_bytes_max // sketch.shard_count())
    if not rows:
        return sketch.serialize(sketch.empty()), 0
    return (type(sketch).reassemble_shards([s for s, _ in rows]),
            sum(n for _, n in rows))


def build_delta_sketch(df: DataFrame, sketch, col: str, sign_col: str,
                       value_kind: str = "str", checkpoint=None,
                       sketch_id: str | None = None) -> tuple[bytes, int]:
    """Changelog fold → merged state blob: the one changelog fold
    (build_delta_shard_partials, see there for the ±1 semantics) →
    merge_shards_reassembled, which takes merge.py's one route rule: a
    driver fold of the sparse shard rows while P × state_bytes_max fits
    DRIVER_COLLECT_MAX_BYTES, one parallel per-shard merge wave beyond it.
    Integer counter addition commutes, so every route gives the bytes of a
    single-process fold.  With ``checkpoint`` + ``sketch_id`` the shard
    partials persist first and ``SketchCheckpoint.resume`` replays the same
    route."""
    partials = build_delta_shard_partials(df, sketch, col, sign_col,
                                          value_kind)
    return _merge_checkpointed(df, partials, sketch, checkpoint, sketch_id)


def _describe_input(df: DataFrame) -> str:
    try:
        files = df.inputFiles()
        return ";".join(sorted(files)[:16]) + (f";+{len(files)-16}" if len(files) > 16 else "")
    except Exception:
        return "<derived>"


# phase-1 rows carry their origin partition as ``src``: phase 2 orders its
# fold and its fanin levels by it, then drops it
GROUPED_SCHEMA = "group string, src long, n_items long, state binary"


def _native_grouped_partials(df: DataFrame, sketch, group_col: str, col: str,
                             value_kind: str) -> DataFrame | None:
    """Map-side grouped build over a NATIVE parquet scan (see _native_scan):
    (group, values) row groups fold through the same phase 1 the JVM-fed
    path uses.  The group column must already be a parquet string column
    (the plan-side cast("string") must be an identity for the fold to see
    identical labels)."""
    if not sketch.multiset_pure:
        return None
    phase1 = _grouped_phase1_fn(sketch, _plain_step(sketch, value_kind))
    return _native_scan(df, [group_col, col], phase1, GROUPED_SCHEMA,
                        str_cols=(group_col,),
                        state_bytes=sketch.state_bytes_max)


def _grouped_phase1_fn(sketch, step):
    """Grouped phase 1 shared by every grouped route (map-side, salted,
    native scan) over (group, *step columns) batches:
    dictionary-encode the group labels (a null label is its own group, as
    in Spark's groupBy) and fold each group's rows into that group's state
    through the same ``step`` the ungrouped fold core runs — no pandas
    object columns, no per-row Python (rows are split with Arrow compute)."""

    def phase1(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        states: dict = {}
        for b in batches:
            enc = pc.dictionary_encode(b.column(0), null_encoding="encode")
            codes = enc.indices.to_numpy(zero_copy_only=False)
            rest = pa.RecordBatch.from_arrays(b.columns[1:], b.schema.names[1:])
            for gi, gname in enumerate(enc.dictionary.to_pylist()):
                st = states.setdefault(gname, [sketch.empty(), 0])
                st[1] += step(st[0], rest.filter(pa.array(codes == gi)))
        yield pa.RecordBatch.from_pydict({
            "group": pa.array(list(states.keys()), pa.string()),
            "src": pa.array([_src()] * len(states), pa.int64()),
            "n_items": pa.array([v[1] for v in states.values()], pa.int64()),
            "state": pa.array([sketch.serialize(v[0]) for v in states.values()],
                              pa.binary()),
        })

    return phase1


def _merge_grouped(partials: DataFrame, sketch,
                   est_rows: int | None = None) -> DataFrame:
    """Grouped phase 2: the Arrow merge levels keyed by group, ordered by
    src, fold each group's partials into one (group, n_items, state) row —
    kept a lazy DataFrame, so it calls the level planner, not the router.
    A route behind a shuffle passes ``est_rows`` (partials per group):
    under AQE, getNumPartitions would run that shuffle once more."""
    return _merge_levels(partials, sketch, _byte_fanin(sketch.state_bytes_max),
                         est_rows, keys=("group",)).drop("src")


# A map-side grouped build holds ALL G group states in EVERY task; above
# this budget of G × |dense state| the auto router falls back to the salted
# repartition, whose per-task state memory divides by the partition count.
MAPSIDE_STATE_BUDGET_BYTES = 256 << 20


def _choose_grouped_strategy(df: DataFrame, sketch, group_col: str,
                             group_cardinality: int | None) -> tuple[str, int]:
    """mapside vs salted on estimated group cardinality: G × |state| within
    the task budget → map-side combine (no data shuffle); beyond it →
    salted repartition (task memory divides by P).  ``group_cardinality``
    skips the approx_count_distinct job when the caller knows the domain."""
    if group_cardinality is None:
        group_cardinality = int(df.select(
            F.approx_count_distinct(group_col, rsd=0.15)).collect()[0][0])
    est_bytes = group_cardinality * sketch.state_bytes_max
    if est_bytes > MAPSIDE_STATE_BUDGET_BYTES:
        import logging
        logging.getLogger("bloom_filter_spark").warning(
            "build_grouped: ~%d groups x %d-byte states (= %.1f MB) exceeds "
            "the %d MB map-side task budget; routing to strategy='salted'",
            group_cardinality, sketch.state_bytes_max, est_bytes / 1e6,
            MAPSIDE_STATE_BUDGET_BYTES >> 20)
        return "salted", group_cardinality
    return "mapside", group_cardinality


def build_grouped(df: DataFrame, sketch, group_col: str, col: str,
                  value_kind: str = "i32_array", n_salts: int = 16,
                  salt_on: str | None = None,
                  num_partitions: int | None = None,
                  strategy: str = "auto",
                  group_cardinality: int | None = None) -> DataFrame:
    """One sketch per group as a two-phase mergeable aggregation.  NOTE:
    the default ``strategy="auto"`` runs an extra ``approx_count_distinct``
    job over ``group_col`` unless ``group_cardinality`` is passed — callers
    that pin ``strategy=`` or pass the cardinality pay no estimate job
    (ADVICE r4).  → DataFrame(group string, n_items long, state binary).

    ``strategy="auto"``: route on estimated group cardinality —
    map-side combine while G × |state| fits the task budget, salted beyond
    it (a 10^5-group × MB-state domain would OOM every map-side task).  Note: for
    ORDER-SENSITIVE sketches (KLL / t-digest / MG compaction) the two
    routes fold in different groupings, so a data-dependent route flip can
    change state bytes (estimates stay within each sketch's published
    bounds — the mergeable-sketch contract); pin ``strategy=`` when
    bit-reproducibility across runs matters more than the OOM guard.

    ``strategy="mapside"``: phase 1 folds each INPUT partition's
    rows into one partial per group it contains — the token data never
    shuffles at all (classic map-side combine); only the P × G small state
    rows move into the phase-2 merge.  Skew-immune by construction: tasks
    are input splits, so a 45 %-heavy group costs each task at most its own
    split.  Memory is G_local × |state| per task — right whenever the group
    domain is modest (sources, languages, shards).  At 10^12 rows this is
    the only strategy whose shuffle volume is independent of input size.

    ``strategy="salted"``: the north rule's explicit salted repartition —
    phase 1 after ``repartition(group, salt)`` (caps any single task at
    group/n_salts rows), phase 2 merges the n_salts states per group.
    Right when the group domain is too large for G × |state| to sit in one
    task's memory, at the price of shuffling the full data once.
    """
    _check_key_column(df, col, value_kind, "inserted")
    if strategy == "auto":
        strategy, _ = _choose_grouped_strategy(df, sketch, group_col,
                                               group_cardinality)
    phase1 = _grouped_phase1_fn(sketch, _plain_step(sketch, value_kind))

    if strategy == "mapside":
        partials = None
        if not num_partitions:
            partials = _native_grouped_partials(df, sketch, group_col, col,
                                                value_kind)
        if partials is None:
            base = df.select(F.col(group_col).cast("string").alias("group"),
                             F.col(col).alias("v"))
            if num_partitions:
                base = base.repartition(num_partitions)
            partials = base.mapInArrow(phase1, GROUPED_SCHEMA)
        return _merge_grouped(partials, sketch, num_partitions or None)

    if strategy != "salted":
        raise ValueError(f"unknown grouped-build strategy {strategy!r}")
    salt_src = (F.xxhash64(F.col(salt_on)) if salt_on
                else F.xxhash64(F.monotonically_increasing_id()))
    base = df.select(
        F.col(group_col).cast("string").alias("group"),
        F.pmod(salt_src, F.lit(n_salts)).alias("salt"),
        F.col(col).alias("v"),
    )
    shuffled = base.repartition(num_partitions, "group", "salt") if num_partitions \
        else base.repartition("group", "salt")
    partials = shuffled.drop("salt").mapInArrow(phase1, GROUPED_SCHEMA)
    # a group's rows hash into at most n_salts (group, salt) partitions
    return _merge_grouped(partials, sketch, n_salts)


def build_grouped_single_writer(df: DataFrame, kind: str, params, group_col: str,
                                col: str, value_kind: str = "str") -> DataFrame:
    """Single-writer grouped build for non-mergeable sketches (cuckoo).

    The whole group flows through ONE task (the reference's insert semantics
    are inherently sequential — /root/reference/filter/cuckoo/filter.go:39-66
    random-walk eviction); the eviction RNG is seeded from the group name so
    builds are deterministic.  Values are extracted as the build does and
    go to ``insert_<elem kind>`` (ValueError at call time if the class has
    none).  Returns (group, n_items, n_failed, state).
    """
    cls = sketch_for_kind(kind)
    elem_kind = _elem_kind(value_kind)
    insert = f"insert_{elem_kind}"
    if not hasattr(cls, insert):
        raise ValueError(f"{kind} does not support {value_kind} values")
    _check_key_column(df, col, value_kind, "inserted")

    def build_one(table):
        import pyarrow as pa
        sk = cls(params)
        state = sk.empty()
        group = table.column("group")[0].as_py()
        rng_seed = zlib.crc32(str(group).encode())  # process-stable, unlike hash()
        vals = _arrow_values(table.column("v").combine_chunks(), value_kind)
        failed = getattr(sk, insert)(state, _keys(vals, elem_kind), rng_seed)
        return pa.Table.from_arrays(
            [table.column("group").slice(0, 1), pa.array([len(vals)], pa.int64()),
             pa.array([failed], pa.int64()),
             pa.array([sk.serialize(state)], pa.binary())],
            names=["group", "n_items", "n_failed", "state"])

    base = df.select(F.col(group_col).cast("string").alias("group"), F.col(col).alias("v"))
    return base.groupBy("group").applyInArrow(
        build_one, "group string, n_items long, n_failed long, state binary")
