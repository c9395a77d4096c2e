"""Round-7 optimization: native-parquet-scan fast path must be invisible.

Python tasks reading parquet row groups directly (no JVM row↔Arrow
transposition) must produce bit-identical sketch blobs / grouped states /
probe totals to the JVM-fed path, and must decline exactly the plans and
sketch kinds where partitioning could leak into the state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloom_filter_spark.operators import (
    build_delta_shard_partials, build_delta_sketch,
    build_grouped, build_sketch, membership_scan)
from bloom_filter_spark.operators.build import (
    _attr_through_projects, _native_grouped_partials, _native_parquet_partials,
    _task_count)
from bloom_filter_spark.sketches import (
    BloomParams, BloomSketch, CMSParams, CMSSketch, CountingBloomSketch,
    CountSketch, CountSketchParams, DDSketch, DDSketchParams, HLLParams,
    HLLSketch, KLLParams, KLLSketch, KMVParams, KMVSketch, MGParams, MGSketch,
    ReservoirParams, ReservoirSketch, TDigestParams, TDigestSketch,
    counting_bloom)
from bloom_filter_spark.sources.fixtures import ensure_fixtures


@pytest.fixture(scope="module")
def tokens(spark):
    fx = ensure_fixtures("sf0.001")
    return spark.read.parquet(f"{fx}/tokens.parquet")


def _splits(partials) -> int:
    """Splits the native source of ``partials`` planned: one per task."""
    if isinstance(partials, tuple):  # (source, split count)
        partials = partials[0]
    return partials.rdd.getNumPartitions()


def test_eligibility_guards(tokens):
    assert _attr_through_projects(tokens.select("tokens"), ["tokens"])
    assert _attr_through_projects(
        tokens.select(F.col("tokens").alias("v")), ["v"])
    # any non-project node must bail to the JVM path
    assert _attr_through_projects(tokens.where("n_tok > 3"), ["tokens"]) is None
    assert _attr_through_projects(tokens.limit(10), ["tokens"]) is None
    assert _attr_through_projects(
        tokens.select(F.explode("tokens").alias("v")), ["v"]) is None
    # order-sensitive sketches take the native path by replaying the JVM
    # scan: one task per JVM partition (here one)
    assert _native_parquet_partials(
        tokens, KLLSketch(KLLParams(k=200)), "tokens", "i32_array")[1] == 1
    assert _native_parquet_partials(
        tokens, TDigestSketch(TDigestParams(100)), "n_tok", "f64")[1] == 1
    # non-string group column declines the grouped native path
    assert _native_grouped_partials(
        tokens, HLLSketch(HLLParams(b=12)), "n_tok", "tokens",
        "i32_array") is None


@pytest.mark.parametrize("sketch, col, value_kind", [
    (BloomSketch(BloomParams(n=4096, p=0.01)), "tokens", "i32_array"),
    (HLLSketch(HLLParams(b=12)), "tokens", "i32_array"),
    (CMSSketch(CMSParams(eps=0.001, delta=0.01)), "tokens", "i32_array"),
    (CountSketch(CountSketchParams(w=1 << 12, d=5)), "tokens", "i32_array"),
    (KMVSketch(KMVParams(k=64)), "tokens", "i32_array"),
    (DDSketch(DDSketchParams(alpha=0.01)), "n_tok", "f64"),
    (DDSketch(DDSketchParams(alpha=0.01, max_bins=16)), "n_tok", "f64"),
], ids=["bloom", "hll", "cms", "countsketch", "kmv", "ddsketch",
        "ddsketch_collapsed"])
def test_native_build_bit_identical(tokens, several_splits, sketch, col,
                                    value_kind):
    assert _native_parquet_partials(tokens, sketch, col, value_kind) \
        is not None
    assert _splits(_native_parquet_partials(tokens, sketch, col,
                                            value_kind)) > 1
    blob_native, n_native = build_sketch(tokens, sketch, col, value_kind)
    # repartition pins the JVM mapInArrow path
    blob_jvm, n_jvm = build_sketch(tokens, sketch, col, value_kind,
                                   repartition=5)
    assert blob_native == blob_jvm and n_native == n_jvm
    if isinstance(sketch, DDSketch):  # one store collapses, one does not
        _, state = DDSketch.deserialize(blob_native)
        assert state.collapsed == (sketch.params.max_bins == 16)


def test_native_grouped_bit_identical(tokens, several_splits):
    sk = HLLSketch(HLLParams(b=12))
    assert _splits(_native_grouped_partials(tokens, sk, "source", "tokens",
                                            "i32_array")) > 1
    nat = build_grouped(tokens, sk, "source", "tokens", "i32_array",
                        strategy="mapside")
    rows_nat = {r.group: (r.n_items, bytes(r.state)) for r in nat.collect()}
    jvm = build_grouped(tokens, sk, "source", "tokens", "i32_array",
                        strategy="mapside", num_partitions=5)
    rows_jvm = {r.group: (r.n_items, bytes(r.state)) for r in jvm.collect()}
    assert rows_nat == rows_jvm and rows_nat


def test_native_membership_scan_totals(spark, tokens, several_splits):
    sk = BloomSketch(BloomParams(n=4096, p=0.01))
    blob, n = build_sketch(tokens, sk, "tokens", "i32_array")
    nat = membership_scan(tokens, "tokens", spark, blob, "bloom") \
        .agg(F.sum("n_probed"), F.sum("n_member")).collect()[0]
    assert tuple(nat) == (n, n)  # zero FN over the ingested stream
    # the JVM source must give the same totals, on present and absent keys:
    # a row-keeping Filter makes the native scan decline
    jvm_src = tokens.where(F.col("n_tok") >= 0)
    assert jvm_src.count() == tokens.count()
    assert _attr_through_projects(jvm_src.select("tokens"), ["tokens"]) is None
    absent = tokens.select(
        F.transform("tokens", F.bitwise_not).alias("tokens"),
        F.concat("doc_id", F.lit("#")).alias("doc_id"))
    for col, value_kind in (("tokens", "i32_array"), ("doc_id", "str")):
        for keys in (tokens, absent):
            blob, _ = build_sketch(keys, BloomSketch(BloomParams(n=4096, p=0.01)),
                                   col, value_kind)
            scans = [membership_scan(src, col, spark, blob, "bloom", value_kind)
                     for src in (tokens, jvm_src)]
            assert "Range" in scans[0]._jdf.queryExecution() \
                .optimizedPlan().toString()  # the native source ran
            assert _splits(scans[0]) > 1
            nat, jvm = [tuple(s.agg(F.sum("n_probed"), F.sum("n_member"))
                              .collect()[0]) for s in scans]
            assert nat == jvm, (col, value_kind, nat, jvm)


@pytest.fixture(scope="module")
def changelog(spark, tmp_path_factory):
    """Two parquet files of (doc_id, sign) rows in 250-row groups: inserts,
    then deletes of every third key (so each delete sits in another row
    group than its insert), with null keys and null signs in both."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    root = tmp_path_factory.mktemp("changelog")
    keys = [f"doc_{i:05d}" for i in range(3000)]
    inserts = keys + [None] * 20 + keys[:30]
    deletes = keys[::3] + [None] * 10 + keys[1:40:3]
    for i, (ks, sign) in enumerate(((inserts, 1), (deletes, -1))):
        signs = [None if j % 97 == 5 else sign for j in range(len(ks))]
        pq.write_table(
            pa.table({"doc_id": pa.array(ks, pa.string()),
                      "sign": pa.array(signs, pa.int32())}),
            str(root / f"part-{i}.parquet"), row_group_size=250)
    return spark.read.parquet(str(root))


def _read_by(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "native" if "Range" in plan else "jvm"


def test_native_changelog_bit_identical(changelog, monkeypatch,
                                        reference_fold, several_splits):
    """The changelog fold reads a bare parquet scan natively and gives the
    JVM source's (blob, n_items), both equal to the single-process
    reference fold: with the filter's default single shard, and with 3
    shards in the sparse (wide filter) and dense (narrow filter) regimes.
    A sign column that is not an integer type is refused."""
    # a row-keeping Filter makes the native scan decline
    jvm_src = changelog.where(F.coalesce("sign", F.lit(0)) >= -1)
    assert jvm_src.count() == changelog.count()

    def cb(cap):
        return CountingBloomSketch(BloomParams(n=cap, p=0.01))

    def build(src, cap):
        return build_delta_sketch(src, cb(cap), "doc_id", "sign", "str")

    def check_routes(cap):
        want = reference_fold(changelog, cb(cap), "doc_id", "sign")
        for src, route in ((changelog, "native"), (jvm_src, "jvm")):
            assert _read_by(build_delta_shard_partials(
                src, cb(cap), "doc_id", "sign")) == route
            assert build(src, cap) == want, (cap, route)
        return want

    assert cb(4000).shard_count() == 1
    assert check_routes(4000)[1] == changelog.dropna().count()
    assert _splits(build_delta_shard_partials(
        changelog, cb(4000), "doc_id", "sign")) > 1

    # sparse: per-split entries stay far below m/3; dense: they cross it
    for cap in (200_000, 300):
        with monkeypatch.context() as mp:
            mp.setattr(counting_bloom, "SHARD_TARGET_BYTES",
                       -(-cb(cap).params.m * 4 // 3))
            assert cb(cap).shard_count() == 3
            check_routes(cap)

    text_sign = changelog.withColumn("sign", F.col("sign").cast("string"))
    with pytest.raises(ValueError, match="sign"):
        build(text_sign, 4000)


def test_task_count_rule():
    """The one parallelism rule, on figures alone (no Spark job): a native
    scan never cuts a split below one open cost and at most 4× the slots;
    a JVM fold keeps its partitions; a wide state trims either to the slots
    but never below them."""
    mib = 1 << 20
    slots, open_cost = 4, 4 * mib
    # the open-cost floor: under one open cost is one task, whatever the
    # row-group count; each further open cost may add a task
    assert _task_count(11, 0, slots, open_cost, scan_bytes=1000) == 1
    assert _task_count(11, 0, slots, open_cost, scan_bytes=0) == 1
    assert _task_count(11, 0, slots, open_cost, scan_bytes=open_cost) == 1
    assert _task_count(11, 0, slots, open_cost,
                       scan_bytes=open_cost + 1) == 2
    assert _task_count(11, 0, slots, open_cost, scan_bytes=10 * mib) == 3
    # the 4× cap on a large input, and never more tasks than row groups
    assert _task_count(100, 0, slots, open_cost, scan_bytes=1 << 30) == 16
    assert _task_count(5, 0, slots, open_cost, scan_bytes=1 << 30) == 5
    # a JVM fold keeps its partitions while the state is narrow
    assert _task_count(64, 1000, slots, open_cost) == 64
    # the wide-state cap: down to the slots on both paths, never below
    wide = (1 << 18) + 1
    assert _task_count(100, wide, slots, open_cost, scan_bytes=1 << 30) == 4
    assert _task_count(64, wide, slots, open_cost) == 4
    assert _task_count(3, wide, slots, open_cost) == 3
    assert _task_count(64, 1 << 18, slots, open_cost) == 64


def test_small_input_plans_no_exchange(spark, tokens):
    """An input under one open cost (the sf0.001 tokens: two row groups,
    under 2 MB) is one native split, so a native ``membership_scan``
    aggregate and a map-side grouped build plan no Exchange: one stage."""
    import pyarrow.parquet as pq
    path = f"{ensure_fixtures('sf0.001')}/tokens.parquet"
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    sk = BloomSketch(BloomParams(n=4096, p=0.01))
    blob, n = build_sketch(tokens, sk, "tokens", "i32_array")
    scan = membership_scan(tokens, "tokens", spark, blob, "bloom")
    assert _read_by(scan) == "native"
    total = scan.agg(F.sum("n_probed"), F.sum("n_member"))
    assert "Exchange" not in total._jdf.queryExecution() \
        .executedPlan().toString()
    assert _splits(scan) == 1 and tuple(total.collect()[0]) == (n, n)
    grouped = build_grouped(tokens, HLLSketch(HLLParams(b=12)), "source",
                            "tokens", "i32_array", strategy="mapside")
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    # one phase-1 task: each group has its one row, so no phase-2 level
    assert "Exchange" not in plan and "FlatMapGroupsInArrow" not in plan
    assert sum(r.n_items for r in grouped.collect()) == n


def test_unexpected_footer_error_raises(tokens, monkeypatch):
    """Only a missing or unreadable file sends the build to the JVM scan:
    any other error in the split planning raises instead of silently
    taking the slower route."""
    import pyarrow.parquet as pq

    def broken(*a, **k):
        raise TypeError("split planning bug")

    monkeypatch.setattr(pq, "ParquetFile", broken)
    with pytest.raises(TypeError, match="split planning bug"):
        build_sketch(tokens, BloomSketch(BloomParams(n=4096, p=0.01)),
                     "tokens", "i32_array")


def test_replay_rules_on_figures(tmp_path):
    """The replay's three rules, without Spark: parquet's midpoint rule on
    a real footer, the re-cut of row groups into fixed-size batches across
    row-group boundaries, and the batch bytes bound."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from bloom_filter_spark.operators.build import (
        _arrow_bytes_bound, _batch_bytes_bound, _recut, _rg_midpoint)
    t = pa.table({"s": pa.array([f"s{i % 7}" * (i % 5) for i in range(700)]),
                  "x": pa.array(range(700), pa.int64())})
    for dictionary, first in ((True, "dictionary_page_offset"),
                              (False, "data_page_offset")):
        path = str(tmp_path / f"t{dictionary}.parquet")
        pq.write_table(t, path, row_group_size=300, use_dictionary=dictionary)
        pf = pq.ParquetFile(path)
        md = pf.metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            size = sum(rg.column(j).total_compressed_size
                       for j in range(rg.num_columns))
            assert _rg_midpoint(rg) == getattr(rg.column(0), first) + size // 2
            # the footer bound holds the decoded Arrow bytes
            assert _arrow_bytes_bound(md, i, ["s", "x"], pf.schema_arrow) \
                >= pf.read_row_group(i).nbytes
    tables = [t.slice(0, 100), t.slice(100, 100), t.slice(200, 500)]
    batches = list(_recut(iter(tables), 250))
    assert [b.num_rows for b in batches] == [250, 250, 200]
    assert pa.Table.from_batches(batches).equals(t)
    assert [b.num_rows for b in _recut(iter([]), 250)] == []
    # (rows, bound) units: a batch is bounded by every unit it touches
    assert _batch_bytes_bound([(100, 10), (100, 20), (500, 40)], 250) == 70
    assert _batch_bytes_bound([(250, 10), (250, 20)], 250) == 20
    assert _batch_bytes_bound([(0, 99), (10, 5)], 250) == 5


@pytest.fixture(scope="module")
def replay_input(spark, tmp_path_factory):
    """Four parquet files written with uneven row groups (100/100/100/900,
    150, 300×3 and one 1500-row group) of (tokens list<int32>, x double,
    k bigint, grp dictionary string) rows with nulls."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    root = tmp_path_factory.mktemp("replay")
    for name, sizes in (("a", [100, 100, 100, 900]), ("b", [150]),
                        ("c", [300, 300, 300]), ("d", [1500])):
        n = sum(sizes)
        r = np.random.default_rng(ord(name))
        lens = r.integers(0, 20, n)
        t = pa.table({
            "tokens": pa.array([None if i % 37 == 3 else
                                r.zipf(1.5, m).astype(np.int32).tolist()
                                for i, m in enumerate(lens)],
                               pa.list_(pa.int32())),
            "x": pa.array([None if i % 41 == 7 else float(v) for i, v in
                           enumerate(r.lognormal(0, 2, n))], pa.float64()),
            "k": pa.array(r.zipf(1.3, n).astype(np.int64)),
            "grp": pa.array([f"g{v}" for v in r.integers(0, 3, n)])})
        with pq.ParquetWriter(str(root / f"part-{name}.parquet"),
                              t.schema) as w:
            off = 0
            for m in sizes:
                w.write_table(t.slice(off, m))
                off += m
    return spark.read.parquet(str(root))


@pytest.fixture
def jvm_partitions(spark):
    """Spark's file split and Arrow batch sizes lowered for one test, so
    the JVM scan of ``replay_input`` plans six partitions — one empty, one
    holding pieces of two files — and cuts 250-row batches across
    row-group and file boundaries."""
    conf = {"spark.sql.files.maxPartitionBytes": "22000",
            "spark.sql.files.openCostInBytes": "1024",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "250"}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    yield
    for k, v in prev.items():
        spark.conf.set(k, v)


def test_replay_matches_jvm_batches(replay_input, jvm_partitions):
    """The replayed native scan hands each task the (src, batch) sequence
    the JVM's ``mapInArrow`` sees, empty partitions included."""
    import json

    from bloom_filter_spark.operators.build import _local_path, _native_scan

    def _record(batches):
        """One row per task: its src and each batch's (rows, nulls, sum)."""
        import json

        import pyarrow as pa
        import pyarrow.compute as pc
        from bloom_filter_spark.operators.build import _src
        seen = [[b.num_rows, b.column(0).null_count,
                 pc.sum(b.column(0).flatten()).as_py() or 0] for b in batches]
        yield pa.RecordBatch.from_pydict({"src": [_src()],
                                          "b": [json.dumps(seen)]})

    cols = ["tokens", "x"]
    parts = replay_input.select(*cols)._jdf.queryExecution() \
        .executedPlan().collectLeaves().apply(0).inputRDD().partitions()
    files = [{_local_path(f.filePath().toString()) for f in p.files()}
             for p in parts]
    assert len(parts) == 6 and max(len(f) for f in files) == 2
    schema = "src long, b string"
    jvm = sorted(replay_input.select(*cols).mapInArrow(_record, schema)
                 .collect())
    native, n = _native_scan(replay_input, cols, _record, schema,
                             replay=True)
    assert n == len(parts) and _read_by(native) == "native"
    assert sorted(native.collect()) == jvm
    rows = [[b[0] for b in json.loads(r.b)] for r in jvm]
    assert [] in rows and [250, 50] in rows  # empty; a batch spans groups


ORDER_SENSITIVE = [
    (KLLSketch(KLLParams(k=32)), "tokens", "i32_array"),
    (TDigestSketch(TDigestParams(50)), "x", "f64"),
    (MGSketch(MGParams(k=16)), "k", "i64"),
    (ReservoirSketch(ReservoirParams(k=64)), "k", "i64"),
    (CMSSketch(CMSParams(eps=0.01, delta=0.01, conservative=True)), "tokens",
     "i32_array"),
]


@pytest.mark.parametrize("sketch, col, value_kind", ORDER_SENSITIVE,
                         ids=["kll", "tdigest", "mg", "reservoir",
                              "cms_conservative"])
def test_replay_bit_identical(replay_input, jvm_partitions, monkeypatch,
                              sketch, col, value_kind):
    """Each order-sensitive kind: the replayed native build gives the JVM
    route's bytes, plain and map-side grouped."""
    from bloom_filter_spark.operators import build as build_mod
    assert _splits(_native_parquet_partials(replay_input, sketch, col,
                                            value_kind)) == 6
    assert _native_grouped_partials(replay_input, sketch, "grp", col,
                                    value_kind)[1] == 6

    def both():
        plain = build_sketch(replay_input, sketch, col, value_kind)
        grouped = {r.group: (r.n_items, bytes(r.state)) for r in
                   build_grouped(replay_input, sketch, "grp", col,
                                 value_kind, strategy="mapside").collect()}
        return plain, grouped

    native = both()
    monkeypatch.setattr(build_mod, "_native_parquet_partials",
                        lambda *a: None)
    monkeypatch.setattr(build_mod, "_native_grouped_partials",
                        lambda *a: None)
    assert both() == native and len(native[1]) == 3


def test_replay_fallback_reasons(spark, replay_input, jvm_partitions,
                                 caplog):
    """Each plan the replay cannot reproduce keeps the JVM fold and logs
    its reason: a fold the JVM coalesces (a wide state over more
    partitions than slots), a batch that could meet the Arrow byte cut
    (lowered), a plan that is not a bare scan."""
    import logging

    from bloom_filter_spark.operators.build import (
        REPLAY_BYTE_CUT, REPLAY_COALESCE, REPLAY_NOT_BARE)
    caplog.set_level(logging.INFO, logger="bloom_filter_spark")
    kll = KLLSketch(KLLParams(k=32))
    wide = CMSSketch(CMSParams(eps=0.0001, delta=0.01, conservative=True))
    assert wide.state_bytes_max > 1 << 18
    cut = "spark.sql.execution.arrow.maxBytesPerBatch"
    prev = spark.conf.get(cut)
    cases = [(replay_input, wide, "tokens", "i32_array", REPLAY_COALESCE),
             (replay_input, kll, "tokens", "i32_array", REPLAY_BYTE_CUT),
             (replay_input.where(F.col("k") > 0), kll, "tokens", "i32_array",
              REPLAY_NOT_BARE)]
    try:
        for i, (df, sk, col, value_kind, reason) in enumerate(cases):
            spark.conf.set(cut, "4096" if i == 1 else prev)
            caplog.clear()
            assert _native_parquet_partials(df, sk, col, value_kind) is None
            assert f"native scan declined: {reason}" in caplog.messages
    finally:
        spark.conf.set(cut, prev)


def test_parallelism_copies_no_conf(spark, tokens, monkeypatch):
    """A native build and a ``membership_scan`` read their parallelism
    without ``SparkContext.getConf``, which copies every conf entry."""
    from pyspark import SparkContext

    def copy(*a, **k):
        raise AssertionError("SparkContext.getConf called")

    monkeypatch.setattr(SparkContext, "getConf", copy)
    sk = BloomSketch(BloomParams(n=4096, p=0.01))
    blob, n = build_sketch(tokens, sk, "tokens", "i32_array")
    scan = membership_scan(tokens, "tokens", spark, blob, "bloom")
    assert _read_by(scan) == "native"
    assert tuple(scan.agg(F.sum("n_probed"), F.sum("n_member"))
                 .collect()[0]) == (n, n)
