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
    build_grouped, build_sketch, build_sketch_preagg, membership_scan)
from bloom_filter_spark.operators.build import (
    _attr_through_projects, _native_grouped_partials, _native_parquet_partials)
from bloom_filter_spark.sketches import (
    BloomParams, BloomSketch, CMSParams, CMSSketch, CountSketch,
    CountSketchParams, HLLParams, HLLSketch, KLLParams, KLLSketch,
    TDigestParams, TDigestSketch)
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


@pytest.mark.parametrize("sketch", [
    BloomSketch(BloomParams(n=4096, p=0.01)),
    HLLSketch(HLLParams(b=12)),
    CMSSketch(CMSParams(eps=0.001, delta=0.01)),
    CountSketch(CountSketchParams(w=1 << 12, d=5)),
], ids=["bloom", "hll", "cms", "countsketch"])
def test_native_build_bit_identical(tokens, sketch):
    assert _native_parquet_partials(
        tokens, sketch, "tokens", "i32_array") is not None
    blob_native, n_native = build_sketch(tokens, sketch, "tokens", "i32_array")
    # repartition pins the JVM mapInArrow path
    blob_jvm, n_jvm = build_sketch(tokens, sketch, "tokens", "i32_array",
                                   repartition=5)
    assert blob_native == blob_jvm and n_native == n_jvm


def test_native_preagg_reroute_matches_direct(tokens):
    sk = lambda: BloomSketch(BloomParams(n=4096, p=0.01))  # noqa: E731
    blob_pre, n_pre = build_sketch_preagg(tokens, sk(), "tokens", "i32_array")
    blob_dir, n_dir = build_sketch(tokens, sk(), "tokens", "i32_array",
                                   repartition=5)
    assert blob_pre == blob_dir and n_pre == n_dir


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
