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

A bare parquet scan feeds every build natively (``_native_scan``), in one
of two ways.  A multiset-pure fold re-splits the row groups by the one
parallelism rule.  An order-sensitive fold (KLL, t-digest, Misra–Gries,
reservoir, conservative CMS: its state depends on the order the batches
arrive in, KLL± VLDB 2021) replays the JVM scan instead: the JVM plan's
own file partitions, parquet's midpoint rule for the row groups, and the
Arrow runner's ``maxRecordsPerBatch`` cut, so its bytes equal the JVM
fold's.  A plan the replay cannot reproduce keeps the JVM fold and logs
why.

What a sketch IS — whether its state is a pure function of the input multiset,
how long its params header is — is declared on the sketch class
(sketches/base.py); the operators route on those declarations, never on
kind names.

Grouped builds ("one sketch per source") are the skew-prone case — the
fixture's zipfian source weights put 45% of rows in one group.  The north
rule's salted repartition is implemented as a two-phase aggregation:
``groupBy(source, salt)`` partials (caps any single task at group/salts,
with no salt below one open cost of input) → ``groupBy(source)`` merge of
the tiny states, skipped at one salt.  Cuckoo filters, which have
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
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType)

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
    the driver (no job runs).  A plain top-level field name reads
    ``df.schema``, which PySpark keeps per DataFrame (no py4j round trip
    after the first); any other name (nested, quoted, differently cased,
    ambiguous or missing) is resolved by Spark through ``df.select``, which
    raises its own errors."""
    from pyspark.sql.pandas.types import to_arrow_type
    fields = [f for f in df.schema.fields if f.name.lower() == col.lower()]
    if len(fields) != 1 or fields[0].name != col or "." in col or "`" in col:
        fields = df.select(col).schema.fields
    _check_key_type(to_arrow_type(fields[0].dataType), value_kind, use)


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
    the two cluster figures ``_task_count`` reads.  ``spark.task.cpus`` is
    one lookup on the live conf (``sc.getConf()`` would copy every entry
    over py4j, about 170 round trips)."""
    sc = spark.sparkContext
    task_cpus = int(sc._conf.get("spark.task.cpus", "1") or "1")
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
    The salted grouped build passes ``n_salts`` as ``units`` and the
    plan's estimated input bytes as ``scan_bytes``: its salt count.

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


def _bound_state_volume(sel: DataFrame, sketch) -> tuple[DataFrame, int]:
    """The JVM fold's input, coalesced (no shuffle) to ``_task_count`` of
    its partitions (a wide state trims them to the task slots), and its
    partition count."""
    p = sel.rdd.getNumPartitions()
    n = _task_count(p, sketch.state_bytes_max, *_parallelism(sel.sparkSession))
    return (sel.coalesce(n), n) if n < p else (sel, p)


def _local_path(uri: str) -> str | None:
    """A ``file:`` URI or a bare path → the local path; None for remote
    storage (any other ``scheme://``)."""
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    elif "://" in uri:
        return None
    return uri


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
                files = [_local_path(f) for f in df.inputFiles()]
                if not files or None in files:
                    return None  # remote storage — JVM scan path
                return names, files
            else:
                return None
    except Py4JError:  # a plan node without the accessors read above
        return None


def _footers(files: list[str], need_cols: list[str],
             need_types: dict[str, str] | None = None) -> dict | None:
    """Driver-side metadata pass → {file: parquet FileMetaData} when every
    file is readable parquet that physically carries the needed top-level
    columns (+ optional Arrow type constraints); else None."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    footers = {}
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
        footers[f] = pf.metadata
    return footers


def _chunks(md, rg: int, cols: list[str]):
    """The column chunks of row group ``rg`` of footer ``md`` that project
    the top-level columns ``cols``."""
    chunks = md.row_group(rg)
    for j in range(chunks.num_columns):
        c = chunks.column(j)
        path = c.path_in_schema
        if any(path == x or path.startswith(x + ".") for x in cols):
            yield c


def _packed_splits(spark, footers: dict, cols: list[str],
                   state_bytes: int = 0) -> list | None:
    """Splits of a multiset-pure fold: every (file, row group) unit packed
    round-robin into ``_task_count`` splits, sized from the footers'
    compressed bytes of ``cols`` and the partials' ``state_bytes``.
    → list of splits, each a list of (file, row group); None for no row
    group at all."""
    units = [(f, rg) for f, md in footers.items()
             for rg in range(md.num_row_groups)]
    if not units:
        return None
    scan_bytes = sum(c.total_compressed_size for f, rg in units
                     for c in _chunks(footers[f], rg, cols))
    n_splits = _task_count(len(units), state_bytes, *_parallelism(spark),
                           scan_bytes=scan_bytes)
    splits: list[list] = [[] for _ in range(n_splits)]
    for i, u in enumerate(units):
        splits[i % n_splits].append(u)
    return splits


def _rg_midpoint(rg) -> int:
    """Parquet's split rule: the reader of a file piece [start, start +
    length) reads the row groups whose midpoint it holds — the first
    column chunk's dictionary-or-data page offset plus half the group's
    total compressed size."""
    first = rg.column(0)
    start = first.data_page_offset
    if first.has_dictionary_page and first.dictionary_page_offset < start:
        start = first.dictionary_page_offset
    size = sum(rg.column(j).total_compressed_size
               for j in range(rg.num_columns))
    return start + size // 2


def _arrow_bytes_bound(md, rg: int, cols: list[str], schema) -> int:
    """An upper bound on the Arrow bytes of row group ``rg``'s ``cols``
    (values, validity, offsets), from the footer alone.  A fixed-width
    leaf holds its value count × width.  A variable-width value's bytes
    all sit somewhere in its chunk (a plain page, a dictionary page, delta
    suffixes), so each is at most the chunk's uncompressed size U: a
    plain-encoded chunk holds at most U bytes, any other at most one U per
    value."""
    import pyarrow as pa
    rows = md.row_group(rg).num_rows
    total = 0
    for c in _chunks(md, rg, cols):
        t = schema.field(c.path_in_schema.split(".")[0]).type
        while pa.types.is_list(t) or pa.types.is_large_list(t):
            t = t.value_type
        try:
            values = c.num_values * -(-t.bit_width // 8)
        except ValueError:  # variable width: 4-byte offsets, plus the data
            plain = not c.has_dictionary_page and set(c.encodings) <= {
                "PLAIN", "RLE", "BIT_PACKED"}
            u = c.total_uncompressed_size
            values = c.num_values * 4 + (u if plain else c.num_values * u)
        total += values + c.num_values + 8 * (rows + 1)
    return total


def _batch_bytes_bound(units: list[tuple[int, int]], rows: int) -> int:
    """The largest Arrow bytes bound of any ``rows``-row batch cut from the
    concatenation of ``units`` (row count, bytes bound) in order: a batch
    is bounded by the whole bounds of the units it touches."""
    worst = cur = filled = 0
    for n, b in units:
        if n == 0:
            continue
        cur += b
        while filled + n >= rows:  # this unit completes the current batch
            worst = max(worst, cur)
            n -= rows - filled
            filled, cur = 0, (b if n else 0)
        filled += n
    return max(worst, cur)


# why an order-sensitive fold keeps the JVM scan (logged on the
# bloom_filter_spark logger, asserted by tests/test_native_scan.py)
REPLAY_NOT_BARE = "the plan is not a bare parquet scan"
REPLAY_COALESCE = "the JVM fold would coalesce its partitions"
REPLAY_BYTE_CUT = ("a batch could come near "
                   "spark.sql.execution.arrow.maxBytesPerBatch")
REPLAY_UNCOVERED = "the file partitions do not read each row group once"


def _replayed_splits(df: DataFrame, cols: list[str], phys: list[str],
                     footers: dict, state_bytes: int):
    """Splits of an order-sensitive fold, replaying the JVM scan of the
    same projected DataFrame: one split per ``FilePartition`` of its
    ``FileSourceScanExec`` (in partition order, an empty one included),
    holding the row groups whose midpoint (``_rg_midpoint``) lies in one
    of its file pieces, in piece order — the rows the JVM feeds that
    partition's ``mapInArrow``, in the same order.  → (splits, rows per
    Arrow batch: the live ``maxRecordsPerBatch``), or the reason
    (``REPLAY_*``) the replay would not give the JVM fold's batches."""
    leaves = df.select(*cols)._jdf.queryExecution().executedPlan() \
        .collectLeaves()
    scan = leaves.apply(0) if leaves.size() == 1 else None
    if scan is None or \
            scan.getClass().getSimpleName() != "FileSourceScanExec":
        return REPLAY_NOT_BARE
    parts = scan.inputRDD().partitions()
    if _task_count(len(parts), state_bytes,
                   *_parallelism(df.sparkSession)) < len(parts):
        return REPLAY_COALESCE
    mids = {f: [_rg_midpoint(md.row_group(i))
                for i in range(md.num_row_groups)]
            for f, md in footers.items()}
    splits = []
    for part in parts:
        units = []
        for piece in part.files():
            f = _local_path(piece.filePath().toString())
            if f not in mids:
                return REPLAY_UNCOVERED
            lo = piece.start()
            hi = lo + piece.length()
            units += [(f, rg) for rg, m in enumerate(mids[f]) if lo <= m < hi]
        splits.append(units)
    read = [u for units in splits for u in units]
    if len(read) != len(set(read)) or len(read) != sum(len(m) for m in
                                                       mids.values()):
        return REPLAY_UNCOVERED
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    rows = int(conf.arrowMaxRecordsPerBatch())
    cut = int(conf.arrowMaxBytesPerBatch())
    if rows <= 0:
        rows = 1 << 62  # no record cut: a partition is one batch
    if cut < (1 << 31) - 1:  # Int.MaxValue: no byte cut
        schemas = {f: md.schema.to_arrow_schema()
                   for f, md in footers.items()}
        for units in splits:
            sized = [(footers[f].row_group(rg).num_rows,
                      _arrow_bytes_bound(footers[f], rg, phys, schemas[f]))
                     for f, rg in units]
            if _batch_bytes_bound(sized, rows) > cut // 2:
                return REPLAY_BYTE_CUT
    return splits, rows


def _iter_rg_tables(split: list, cols: list[str], lookahead: int = 2):
    """Yield this split's (file, row group) units as pyarrow Tables IN
    ORDER, decoding up to ``lookahead`` groups ahead on one reader thread —
    parquet decode releases the GIL, so it overlaps the caller's kernel
    work and reclaims the vCPU that spark.task.cpus=2 reserves for the
    (idle, on this path) JVM feed thread.  Measured 1.5× on a full
    single-task pass (decode 1.5 s ‖ kernel 0.9 s → 1.5 s total).
    Deterministic: results are consumed in submission order, so fold order
    — and therefore every sketch state — is identical to the sequential
    loop."""
    from collections import deque
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    handles: dict = {}

    def read(p, rg):
        pf = handles.get(p)  # single reader thread — no races
        if pf is None:
            pf = handles[p] = pq.ParquetFile(p)
        return pf.read_row_group(rg, columns=cols)

    with ThreadPoolExecutor(1) as pool:
        futs = deque()
        it = iter(split)
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


def _recut(tables, rows: int):
    """Concatenate ``tables`` in order and cut them into RecordBatches of
    ``rows`` rows (the last one shorter), as Spark's Arrow runner cuts a
    partition's rows at ``maxRecordsPerBatch`` across row-group and file
    boundaries."""
    import pyarrow as pa

    def batch(t):
        return pa.RecordBatch.from_arrays(
            [c.combine_chunks() for c in t.columns], t.column_names)

    pending, n = [], 0
    for t in tables:
        pending.append(t)
        n += t.num_rows
        if n < rows:
            continue
        cat = pa.concat_tables(pending)
        off = 0
        while n - off >= rows:
            yield batch(cat.slice(off, rows))
            off += rows
        pending, n = [cat.slice(off)], n - off
    if n:
        yield batch(pa.concat_tables(pending))


def _native_scan(df: DataFrame, cols: list[str], fn, schema: StructType,
                 str_cols: tuple = (), state_bytes: int = 0,
                 replay: bool = False) -> tuple[DataFrame, int] | None:
    """Native-scan source of the builds and of ``membership_scan``: one task
    per split of a driver ``range`` reads its parquet row groups with
    pyarrow (vectorized C++ decode, no JVM row↔Arrow transposition) and
    feeds them to ``fn`` as RecordBatches of ``cols`` — measured ~25× less
    CPU than the JVM scan → Arrow exchange (the JVM boundary was ~90% of
    every build line's CPU).  Taken only when the plan is provably a bare
    projected parquet scan (``str_cols`` already parquet strings).
    → (source, split count), or None: the caller keeps the JVM scan, and
    the reason goes to the ``bloom_filter_spark`` logger.

    Two ways to plan the splits:

    * a multiset-pure fold (``replay`` False) may re-partition the rows:
      ``_task_count`` of the row groups, their projected bytes and the
      partials' ``state_bytes`` (0 for the probe's count rows), one
      batch per row group.  One split plans as a single partition, so the
      caller's aggregate or ``groupBy`` adds no exchange.
    * an order-sensitive fold (``replay`` True: KLL, t-digest, MG,
      reservoir, conservative CMS) replays the JVM scan instead
      (``_replayed_splits``): task i is the JVM's partition i and emits
      src i, and its rows are re-cut into the JVM's Arrow batches, so the
      same ``fn`` folds the same batches into the same bytes.
      ``state_bytes`` here is what the JVM fold coalesces on (0: it never
      does); a fold it would coalesce keeps the JVM scan."""
    import logging
    log = logging.getLogger("bloom_filter_spark")
    info = _attr_through_projects(df, cols)
    if info is None:
        log.info("native scan declined: %s", REPLAY_NOT_BARE)
        return None
    phys, files = info
    footers = None
    if len(set(phys)) == len(phys):
        footers = _footers(files, phys, need_types={
            p: "string" for c, p in zip(cols, phys) if c in str_cols})
    if footers is None:
        log.info("native scan declined: a file is missing, unreadable or "
                 "lacks a column")
        return None
    spark = df.sparkSession
    batch_rows = None
    if replay:
        planned = _replayed_splits(df, cols, phys, footers, state_bytes)
        if isinstance(planned, str):
            log.info("native scan declined: %s", planned)
            return None
        splits, batch_rows = planned
    else:
        splits = _packed_splits(spark, footers, phys, state_bytes)
        if splits is None:
            log.info("native scan declined: the files hold no row group")
            return None
    bc = spark.sparkContext.broadcast(splits)

    def native_fn(batches):
        import pyarrow as pa

        def tables():
            for b in batches:
                for sid in b.column(0).to_pylist():
                    for t in _iter_rg_tables(bc.value[sid], phys):
                        yield pa.Table.from_arrays(
                            [t.column(p) for p in phys], cols)

        if batch_rows is not None:
            yield from fn(_recut(tables(), batch_rows))
        else:
            yield from fn(pa.RecordBatch.from_arrays(
                [c.combine_chunks() for c in t.columns], cols)
                for t in tables())

    driver = spark.range(0, len(splits), 1, len(splits))
    return driver.mapInArrow(native_fn, schema), len(splits)


def _native_parquet_partials(df: DataFrame, sketch, col: str,
                             value_kind: str) -> tuple[DataFrame, int] | None:
    """Native-scan partials of ``build_sketch`` and their count (see
    _native_scan): re-split for a multiset-pure sketch, the JVM scan
    replayed for an order-sensitive one."""
    return _native_scan(df, [col],
                        _fold_fn(sketch, _plain_step(sketch, value_kind)),
                        PARTIAL_SCHEMA, state_bytes=sketch.state_bytes_max,
                        replay=not sketch.multiset_pure)


def _jvm_partials(df: DataFrame, sketch, col: str, value_kind: str,
                  repartition: int | None) -> tuple[DataFrame, int]:
    """The JVM-fed partials of ``build_partials`` and their count."""
    sel = df.select(F.col(col).alias("v"))  # explicit column pruning
    if repartition:
        sel, n = sel.repartition(repartition), repartition
    else:
        sel, n = _bound_state_volume(sel, sketch)
    return sel.mapInArrow(_fold_fn(sketch, _plain_step(sketch, value_kind)),
                          PARTIAL_SCHEMA), n


def build_partials(df: DataFrame, sketch, col: str, value_kind: str = "i32_array",
                   repartition: int | None = None) -> DataFrame:
    """→ DataFrame(src long, n_items long, state binary), one row per
    partition.  ``value_kind``: i32_array | i32 | i64 | f64 | str; a
    column the cast would change raises ValueError (``_check_key_type``)."""
    _check_key_column(df, col, value_kind, "inserted")
    return _jvm_partials(df, sketch, col, value_kind, repartition)[0]


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
    native = None
    if repartition is None:
        native = _native_parquet_partials(df, sketch, col, value_kind)
    partials, n = native or _jvm_partials(df, sketch, col, value_kind,
                                          repartition)
    return _merge_checkpointed(df, partials, sketch, checkpoint, sketch_id, n)


# An alias kept for existing callers: the fold's in-task duplicate collapse
# does the work of a JVM explode → groupBy(key).count() pre-aggregation
# without its shuffle, so every build takes the one route.
build_sketch_preagg = build_sketch


def _merge_checkpointed(df: DataFrame, partials: DataFrame, sketch,
                        checkpoint, sketch_id: str | None,
                        est_rows: int | None = None) -> tuple[bytes, int]:
    """Partials → (final blob, n_items): one-row-per-partition partials
    through merge_partials_auto, sharded ones (a ``shard_id`` column)
    through merge_shards_reassembled — persisting the partial rows (through
    the one ``write_partials``) and the final state when ``checkpoint`` and
    ``sketch_id`` are given.  ``est_rows``: the partials' partition count
    when the caller planned it (default: read from the plan)."""
    persist = checkpoint is not None and sketch_id is not None
    sharded = "shard_id" in partials.columns
    # capture BEFORE the checkpoint round-trip: a read-back packs many
    # partial rows per parquet partition, so its getNumPartitions would
    # under-count, mis-route and mis-plan the merge (ADVICE r4)
    if est_rows is None:
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
SHARD_SCHEMA = StructType([StructField("shard_id", IntegerType()),
                           *PARTIAL_SCHEMA.fields])


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
    native = None
    if sketch.multiset_pure:
        native = _native_scan(df, [col, sign_col], fold, SHARD_SCHEMA,
                              state_bytes=sketch.state_bytes_max)
    if native is not None:
        return native[0]
    return df.select(F.col(col).alias("v"),
                     F.col(sign_col).alias("s")).mapInArrow(fold, SHARD_SCHEMA)


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
    except Py4JError:  # the JVM cannot list this plan's files
        return "<derived>"


# phase-1 rows carry their origin partition as ``src``: phase 2 orders its
# fold and its fanin levels by it, then drops it
GROUPED_SCHEMA = StructType([StructField("group", StringType()),
                             *PARTIAL_SCHEMA.fields])


def _native_grouped_partials(df: DataFrame, sketch, group_col: str, col: str,
                             value_kind: str) -> tuple[DataFrame, int] | None:
    """Map-side grouped build over a NATIVE parquet scan (see _native_scan)
    → (phase-1 partials, split count): (group, values) row groups fold
    through the same phase 1 the JVM-fed path uses, re-split for a
    multiset-pure sketch and the JVM scan replayed for an order-sensitive
    one (the JVM's map-side phase 1 never coalesces).  The group column
    must already be a parquet string column (the plan-side cast("string")
    must be an identity for the fold to see identical labels)."""
    replay = not sketch.multiset_pure
    phase1 = _grouped_phase1_fn(sketch, _plain_step(sketch, value_kind))
    return _native_scan(df, [group_col, col], phase1, GROUPED_SCHEMA,
                        str_cols=(group_col,),
                        state_bytes=0 if replay else sketch.state_bytes_max,
                        replay=replay)


def _grouped_phase1_fn(sketch, step):
    """Grouped phase 1 shared by every grouped route (map-side, salted,
    native scan) over (group, *step columns) batches:
    dictionary-encode the group labels (a null label is its own group, as
    in Spark's groupBy), split each batch into its groups' slices with
    Arrow compute (a batch of one group is its own slice, uncopied) and
    fold them into the groups' states through the same ``step`` the
    ungrouped fold core runs — no pandas object columns, no per-row
    Python.  One row per group, in first-seen order.

    A multiset-pure sketch buffers each group's slices and folds them
    with ONE ``step`` call per flush (several slices are concatenated,
    one is folded as it is): every call of a sketch update has a fixed
    cost, which on many groups × small batches outweighs the data work
    (perfbench ``changelog-skew``: 10 batches × 32 groups of ~156 string
    keys per task).  Its state depends only on the multiset of items, so
    the chunking cannot move its bytes.  The buffer flushes at the end of
    the partition, or once its Arrow bytes plus the G group states pass a
    quarter of ``MAPSIDE_STATE_BUDGET_BYTES`` (the map-side route's
    per-task budget; the buffer passes that quarter by at most one
    batch).  Where the states alone fill that quarter — the salted
    fallback's regime — every batch flushes.  An order-sensitive sketch
    (KLL, t-digest, Misra–Gries, reservoir, conservative CMS) has a
    share of 0, so it flushes every batch: one fold per (batch, group),
    the batches its bytes are pinned to."""
    share = MAPSIDE_STATE_BUDGET_BYTES // 4 if sketch.multiset_pure else 0
    state_bytes = sketch.state_bytes_max

    def phase1(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        states: dict = {}  # label → [state, n_items, buffered slices]

        def flush():
            for st in states.values():
                held, st[2] = st[2], []
                if len(held) > 1:
                    held = [pa.RecordBatch.from_arrays(
                        [pa.concat_arrays([s.column(i) for s in held])
                         for i in range(held[0].num_columns)],
                        held[0].schema.names)]
                if held:
                    st[1] += step(st[0], held[0])

        buffered = 0
        for b in batches:
            enc = pc.dictionary_encode(b.column(0), null_encoding="encode")
            labels = enc.dictionary.to_pylist()
            rest = pa.RecordBatch.from_arrays(b.columns[1:], b.schema.names[1:])
            codes = enc.indices.to_numpy(zero_copy_only=False)
            for gi, gname in enumerate(labels):
                st = states.get(gname)
                if st is None:
                    st = states[gname] = [sketch.empty(), 0, []]
                st[2].append(rest if len(labels) == 1
                             else rest.filter(pa.array(codes == gi)))
            buffered += rest.nbytes
            if buffered + len(states) * state_bytes > share:
                flush()
                buffered = 0
        flush()
        yield pa.RecordBatch.from_pydict({
            "group": pa.array(list(states.keys()), pa.string()),
            "src": pa.array([_src()] * len(states), pa.int64()),
            "n_items": pa.array([v[1] for v in states.values()], pa.int64()),
            "state": pa.array([sketch.serialize(v[0]) for v in states.values()],
                              pa.binary()),
        })

    return phase1


def _merge_grouped(partials: DataFrame, sketch, est_rows: int,
                   one_split: bool = False) -> DataFrame:
    """Grouped phase 2: the Arrow merge levels keyed by group, ordered by
    src, fold each group's partials into one (group, n_items, state) row —
    kept a lazy DataFrame, so it calls the level planner, not the router.
    ``est_rows``: partials per group (a route behind a shuffle must not
    read getNumPartitions: under AQE it would run that shuffle once more).
    ``one_split``: every group already has its one row — map-side phase 1
    ran as one task, or salted phase 1 ran at one salt (each group hashes
    into one shuffle partition) — and the merge of one state is that
    state byte for byte (pinned for every mergeable kind): phase 2 is
    skipped."""
    if one_split:
        return partials.drop("src")
    return _merge_levels(partials, sketch, _byte_fanin(sketch.state_bytes_max),
                         est_rows, keys=("group",)).drop("src")


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate of ``df`` in bytes, the figure
    Spark's own broadcast decisions read: no job runs, and a plan of
    unknown size reads ``spark.sql.defaultSizeInBytes`` (Long.MaxValue)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


def _salted_partials(df: DataFrame, sketch, group_col: str, col: str,
                     value_kind: str, n_salts: int, salt_on: str | None,
                     num_partitions: int | None) -> tuple[DataFrame, int]:
    """Salted phase 1 → (partials, salt count): the rows shuffle by
    (group, salt) and fold through the shared phase 1.  The salt count is
    the one parallelism rule over the plan's estimated input bytes, with
    ``n_salts`` as its ceiling: no salt holds less than one open cost.  At
    one salt the shuffle is by group alone, so each group lands in one
    partition (AQE coalesces whole partitions, never splits one) and phase
    1 emits one row per group."""
    slots, open_cost = _parallelism(df.sparkSession)
    est = _plan_bytes(df.select(group_col, col))
    salts = _task_count(n_salts, 0, slots, open_cost, scan_bytes=est)
    import logging
    logging.getLogger("bloom_filter_spark").info(
        "build_grouped salted: %d salt(s) of n_salts=%d for ~%d estimated "
        "input bytes at a %d-byte open cost; phase 2 %s", salts, n_salts,
        est, open_cost, "skipped" if salts == 1 else "runs")
    cols = [F.col(group_col).cast("string").alias("group")]
    if salts > 1:
        salt_src = (F.xxhash64(F.col(salt_on)) if salt_on
                    else F.xxhash64(F.monotonically_increasing_id()))
        cols.append(F.pmod(salt_src, F.lit(salts)).alias("salt"))
    base = df.select(*cols, F.col(col).alias("v"))
    keys = base.columns[:-1]
    shuffled = (base.repartition(num_partitions, *keys) if num_partitions
                else base.repartition(*keys))
    phase1 = _grouped_phase1_fn(sketch, _plain_step(sketch, value_kind))
    return shuffled.drop("salt").mapInArrow(phase1, GROUPED_SCHEMA), salts


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
    group/salts rows), phase 2 merges the salts' states per group.  Right
    when the group domain is too large for G × |state| to sit in one
    task's memory, at the price of shuffling the full data once.
    ``n_salts`` is an upper bound: the salt count is the one parallelism
    rule, ``_task_count(n_salts, 0, slots, open cost, scan_bytes=<the
    plan's estimated input bytes>)``, so no salt holds less than one
    ``spark.sql.files.openCostInBytes`` and a plan of unknown size keeps
    up to ``n_salts``.  At one salt every group hashes into one shuffle
    partition, phase 1 already emits one row per group, and phase 2 is
    skipped.
    """
    _check_key_column(df, col, value_kind, "inserted")
    if strategy == "auto":
        strategy, _ = _choose_grouped_strategy(df, sketch, group_col,
                                               group_cardinality)

    if strategy == "mapside":
        native = None
        if not num_partitions:
            native = _native_grouped_partials(df, sketch, group_col, col,
                                              value_kind)
        if native is None:
            base = df.select(F.col(group_col).cast("string").alias("group"),
                             F.col(col).alias("v"))
            if num_partitions:
                base = base.repartition(num_partitions)
            partials = base.mapInArrow(
                _grouped_phase1_fn(sketch, _plain_step(sketch, value_kind)),
                GROUPED_SCHEMA)
            native = partials, num_partitions or \
                partials.rdd.getNumPartitions()
        partials, n = native
        return _merge_grouped(partials, sketch, n, one_split=n == 1)

    if strategy != "salted":
        raise ValueError(f"unknown grouped-build strategy {strategy!r}")
    partials, salts = _salted_partials(df, sketch, group_col, col, value_kind,
                                       n_salts, salt_on, num_partitions)
    # a group's rows hash into at most `salts` (group, salt) partitions
    return _merge_grouped(partials, sketch, salts, one_split=salts == 1)


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
