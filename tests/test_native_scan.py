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
    _attr_through_projects, _native_grouped_partials, _native_parquet_partials)
from bloom_filter_spark.sketches import (
    BloomParams, BloomSketch, CMSParams, CMSSketch, CountingBloomSketch,
    CountSketch, CountSketchParams, DDSketch, DDSketchParams, HLLParams,
    HLLSketch, KLLParams, KLLSketch, KMVParams, KMVSketch, TDigestParams,
    TDigestSketch, counting_bloom)
from bloom_filter_spark.sources.fixtures import ensure_fixtures


@pytest.fixture(scope="module")
def tokens(spark):
    fx = ensure_fixtures("sf0.001")
    return spark.read.parquet(f"{fx}/tokens.parquet")


def test_eligibility_guards(tokens):
    assert _attr_through_projects(tokens.select("tokens"), ["tokens"])
    assert _attr_through_projects(
        tokens.select(F.col("tokens").alias("v")), ["v"])
    # any non-project node must bail to the JVM path
    assert _attr_through_projects(tokens.where("n_tok > 3"), ["tokens"]) is None
    assert _attr_through_projects(tokens.limit(10), ["tokens"]) is None
    assert _attr_through_projects(
        tokens.select(F.explode("tokens").alias("v")), ["v"]) is None
    # order/partition-sensitive sketches never take the native path
    assert _native_parquet_partials(
        tokens, KLLSketch(KLLParams(k=200)), "tokens", "i32_array") is None
    assert _native_parquet_partials(
        tokens, TDigestSketch(TDigestParams(100)), "n_tok", "f64") is None
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
def test_native_build_bit_identical(tokens, sketch, col, value_kind):
    assert _native_parquet_partials(tokens, sketch, col, value_kind) \
        is not None
    blob_native, n_native = build_sketch(tokens, sketch, col, value_kind)
    # repartition pins the JVM mapInArrow path
    blob_jvm, n_jvm = build_sketch(tokens, sketch, col, value_kind,
                                   repartition=5)
    assert blob_native == blob_jvm and n_native == n_jvm
    if isinstance(sketch, DDSketch):  # one store collapses, one does not
        _, state = DDSketch.deserialize(blob_native)
        assert state.collapsed == (sketch.params.max_bins == 16)


def test_native_grouped_bit_identical(tokens):
    sk = HLLSketch(HLLParams(b=12))
    nat = build_grouped(tokens, sk, "source", "tokens", "i32_array",
                        strategy="mapside")
    rows_nat = {r.group: (r.n_items, bytes(r.state)) for r in nat.collect()}
    jvm = build_grouped(tokens, sk, "source", "tokens", "i32_array",
                        strategy="mapside", num_partitions=5)
    rows_jvm = {r.group: (r.n_items, bytes(r.state)) for r in jvm.collect()}
    assert rows_nat == rows_jvm and rows_nat


def test_native_membership_scan_totals(spark, tokens):
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
                                        reference_fold):
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
