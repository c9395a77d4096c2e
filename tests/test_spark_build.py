"""End-to-end distributed sketch lifecycle on Spark (SURVEY.md §3.1 M1):
scan → mapInArrow partial build → applyInArrow merge tree → broadcast
probe — the reference's main.go workload, distributed.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filter_spark.operators import (
    SketchCheckpoint, build_grouped, build_grouped_single_writer, build_partials,
    build_sketch, cms_point_udf, membership_udf,
)
from bloom_filter_spark.operators.merge import _merge_levels
from bloom_filter_spark.sketches import (
    BloomParams, BloomSketch, CMSParams, CMSSketch, CountSketch,
    CountSketchParams, CuckooParams, HLLParams, HLLSketch, KLLParams,
    KLLSketch, TDigestParams, TDigestSketch,
)


@pytest.fixture(scope="module")
def tokens_df(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/tokens.parquet")


@pytest.fixture(scope="module")
def bloom_blob(spark, tokens_df):
    sketch = BloomSketch(BloomParams(n=60_000, p=0.01))
    blob, n = build_sketch(tokens_df, sketch, "tokens", "i32_array", repartition=8)
    assert n == tokens_df.select(F.sum("n_tok")).collect()[0][0]
    return sketch, blob


def test_bloom_e2e_zero_fn(spark, sf_small, bloom_blob):
    # every inserted token must probe true (main.go:39-43 invariant)
    sketch, blob = bloom_blob
    present = spark.read.parquet(f"{sf_small}/probes_present.parquet")
    probe = membership_udf(spark, blob, "bloom", "i32")
    res = present.select(probe(F.col("token")).alias("member"))
    assert res.where(~F.col("member")).count() == 0


def test_bloom_e2e_fpr(spark, sf_small, bloom_blob):
    sketch, blob = bloom_blob
    absent = spark.read.parquet(f"{sf_small}/probes_absent.parquet")
    probe = membership_udf(spark, blob, "bloom", "i32")
    fp = absent.select(probe(F.col("token")).alias("m")).where("m").count()
    assert fp / 10_000 <= sketch.params.p


def test_distributed_equals_local(spark, tokens_df, bloom_blob):
    # the distributed OR-merge must equal a single-process build bit-for-bit
    sketch, blob = bloom_blob
    local_state = sketch.empty()
    pdf = tokens_df.select("tokens").toPandas()
    flat = np.concatenate([a for a in pdf["tokens"].to_numpy() if len(a)]).astype(np.int32)
    sketch.update_i32(local_state, flat)
    assert sketch.serialize(local_state) == blob


def test_merge_tree_multilevel(spark, tokens_df):
    # force a 3-level tree (fanin 4 over 32 partitions) — same result
    sketch = BloomSketch(BloomParams(n=60_000, p=0.01))
    partials = build_partials(tokens_df, sketch, "tokens", "i32_array", repartition=32)
    row = _merge_levels(partials, sketch, 4).collect()[0]
    blob, _ = build_sketch(tokens_df, sketch, "tokens", "i32_array", repartition=8)
    assert bytes(row.state) == blob


def test_merge_tree_runs_as_one_job_and_caches_nothing(spark, tokens_df):
    """The tree plans its levels from the partition count, with no
    persist/count jobs: 32 partials at fanin 4 (two pre-merge levels and
    the final fold) collect in ONE Spark job and leave nothing cached.
    AQE submits every shuffle stage as its own job, so the jobs are
    counted with AQE off, where one action is one job.  The status
    tracker is fed by the asynchronous listener bus, so the bus is drained
    before the jobs are read; the context cleaner may unpersist earlier
    tests' RDDs at any time, so the check is that no RDD id is added."""
    sketch = BloomSketch(BloomParams(n=60_000, p=0.01))
    partials = build_partials(tokens_df, sketch, "tokens", "i32_array",
                              repartition=32)
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keys())
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("merge_tree_one_job", "_merge_levels")
        row = _merge_levels(partials, sketch, 4).collect()[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert row.src == 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("merge_tree_one_job")) == 1
    assert set(sc._jsc.getPersistentRDDs().keys()) <= cached


def test_merge_auto_routes_by_state_volume(spark, tokens_df, monkeypatch):
    """The router must pick the executor tree when P x |state| exceeds the
    threshold and the driver fold otherwise — byte-identical results."""
    from bloom_filter_spark.operators import merge as merge_mod
    from bloom_filter_spark.operators.merge import (
        merge_blobs, merge_partials_auto)
    sketch = BloomSketch(BloomParams(n=60_000, p=0.01))
    partials = build_partials(tokens_df, sketch, "tokens", "i32_array",
                              repartition=16).cache()
    rows = sorted(partials.collect(), key=lambda r: r.src)
    collect_blob, n1 = merge_blobs(sketch, [r.state for r in rows],
                                   sum(r.n_items for r in rows))
    # budgets 0 force the tree path (any P x |state| exceeds them)
    monkeypatch.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", 0)
    monkeypatch.setattr(merge_mod, "AUTO_TREE_THRESHOLD_BYTES", 0)
    tree_blob, n2 = merge_partials_auto(partials, sketch)
    # huge budgets force the driver fold
    monkeypatch.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", 1 << 60)
    monkeypatch.setattr(merge_mod, "AUTO_TREE_THRESHOLD_BYTES", 1 << 60)
    fold_blob, n3 = merge_partials_auto(partials, sketch)
    partials.unpersist()
    assert collect_blob == tree_blob == fold_blob
    assert n1 == n2 == n3
    assert sketch.state_bytes_max > 0


def test_hll_distributed_estimate(spark, tokens_df):
    sketch = HLLSketch(HLLParams(b=14))
    blob, n = build_sketch(tokens_df, sketch, "tokens", "i32_array")
    _, state = HLLSketch.deserialize(blob)
    est = sketch.estimate(state)
    exact = (tokens_df.select(F.explode("tokens").alias("t"))
             .agg(F.countDistinct("t")).collect()[0][0])
    assert abs(est - exact) / exact <= 4 * sketch.params.std_error


def test_cms_distributed_point_queries(spark, tokens_df):
    sketch = CMSSketch(CMSParams(eps=0.0001, delta=0.001))
    blob, n = build_sketch(tokens_df, sketch, "tokens", "i32_array")
    exact = (tokens_df.select(F.explode("tokens").alias("t"))
             .groupBy("t").count().orderBy(F.desc("count")).limit(50))
    point = cms_point_udf(spark, blob, "i32")
    got = exact.withColumn("est", point(F.col("t"))).collect()
    for r in got:
        assert r.est >= r["count"]                 # never underestimates
        assert r.est - r["count"] <= sketch.params.eps * n


def test_countsketch_distributed_build_matches_local(spark, tokens_df):
    """Distributed build ≡ single-process build bit-for-bit (counter-sum is
    order-invariant), and the unbiased point estimates honor the F2 bound."""
    from bloom_filter_spark.sketches import CountSketch, CountSketchParams
    sketch = CountSketch(CountSketchParams(w=1 << 14, d=5))
    blob, n = build_sketch(tokens_df, sketch, "tokens", "i32_array",
                           repartition=8)
    rows = tokens_df.select("tokens").collect()
    local = sketch.empty()
    sketch.update_i32(local, np.concatenate(
        [np.asarray(r.tokens, np.int32) for r in rows]))
    _, dist = CountSketch.deserialize(blob)
    assert np.array_equal(dist, local)
    counts = (tokens_df.select(F.explode("tokens").alias("t"))
              .groupBy("t").count().collect())
    c = np.array([r["count"] for r in counts], dtype=np.float64)
    f2 = float((c ** 2).sum())
    point = cms_point_udf(spark, blob, "i32", kind="countsketch")
    top = (tokens_df.select(F.explode("tokens").alias("t"))
           .groupBy("t").count().orderBy(F.desc("count")).limit(50)
           .withColumn("est", point(F.col("t"))).collect())
    bound = 6 * np.sqrt(f2 / sketch.params.w)
    errs = np.array([r.est - r["count"] for r in top], dtype=np.float64)
    assert np.abs(errs).max() <= bound
    assert abs(sketch.f2_estimate(dist) - f2) <= 6 * f2 * np.sqrt(2 / sketch.params.w)


def test_kll_tdigest_distributed_quantiles(spark, tokens_df):
    exact_ntok = np.sort(np.array(
        tokens_df.select("n_tok").toPandas()["n_tok"], dtype=np.float64))
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    for sketch in (KLLSketch(KLLParams(k=200)), TDigestSketch(TDigestParams(200))):
        blob, n = build_sketch(tokens_df, sketch, "n_tok", "f64")
        assert n == exact_ntok.size
        _, state = type(sketch).deserialize(blob)
        est = sketch.quantiles(state, qs)
        ranks = np.searchsorted(exact_ntok, est, side="right") / exact_ntok.size
        bound = sketch.params.rank_error * 1.5 if hasattr(sketch.params, "rank_error") else 0.02
        assert np.abs(ranks - np.array(qs)).max() <= bound


def test_grouped_build_salted(spark, tokens_df):
    # per-source HLL with salt fan-out; estimates match per-source exact counts
    sketch = HLLSketch(HLLParams(b=12))
    grouped = build_grouped(tokens_df, sketch, "source", "tokens",
                            "i32_array", n_salts=8, salt_on="doc_id",
                            strategy="salted").collect()
    exact = {r.source: r.cnt for r in
             tokens_df.select("source", F.explode("tokens").alias("t"))
             .groupBy("source").agg(F.countDistinct("t").alias("cnt")).collect()}
    assert len(grouped) == len(exact)
    for row in grouped:
        _, state = HLLSketch.deserialize(bytes(row.state))
        est = sketch.estimate(state)
        assert abs(est - exact[row.group]) / exact[row.group] <= 5 * sketch.params.std_error


def test_cuckoo_grouped_single_writer(spark, tokens_df):
    res = build_grouped_single_writer(
        tokens_df, "cuckoo", CuckooParams(n=30_000, load_factor=0.8),
        "source", "doc_id", "str").collect()
    assert sum(r.n_failed for r in res) == 0
    from bloom_filter_spark.sketches import CuckooFilter
    by_group = {r.group: bytes(r.state) for r in res}
    docs = tokens_df.where(F.col("source") == "src_00").select("doc_id").toPandas()
    cf, state = CuckooFilter.deserialize(by_group["src_00"])
    assert cf.contains_str(state, docs["doc_id"].tolist()).all()
    # i64 keys insert through insert_i64 (no int32 truncation): every
    # inserted key of every group must probe present through contains_i64
    params = CuckooParams(n=30_000, load_factor=0.8)
    hashed = tokens_df.select("source", F.xxhash64("doc_id").alias("h"))
    res64 = {r.group: bytes(r.state) for r in build_grouped_single_writer(
        hashed, "cuckoo", params, "source", "h", "i64").collect()}
    keys = hashed.toPandas().groupby("source")["h"]
    assert set(res64) == set(keys.groups)
    for group, h in keys:
        cf, state = CuckooFilter.deserialize(res64[group])
        assert cf.contains_i64(state, h.to_numpy(np.int64)).all(), group
    # a value kind the class cannot insert fails at call time
    with pytest.raises(ValueError, match="f64"):
        build_grouped_single_writer(tokens_df, "cuckoo", params, "source",
                                    "n_tok", "f64")


def test_checkpoint_resume(spark, tokens_df, tmp_path, bloom_blob):
    sketch, direct_blob = bloom_blob
    ck = SketchCheckpoint(str(tmp_path / "ckpt"))
    blob, n = build_sketch(tokens_df, sketch, "tokens", "i32_array",
                           repartition=8, checkpoint=ck, sketch_id="bloom_t1")
    assert blob == direct_blob
    # resume from persisted partials only — must equal the direct build
    blob2, n2 = ck.resume(spark, "bloom_t1", sketch)
    assert blob2 == direct_blob and n2 == n
    # and the stored final is readable
    blob3, _ = ck.read_final(spark, "bloom_t1")
    assert blob3 == direct_blob


@pytest.mark.parametrize("budgets", ["default", "fanin2_tree"])
def test_resume_replays_the_build_merge_plan(spark, tokens_df, tmp_path,
                                             monkeypatch, budgets):
    """KLL / t-digest states depend on compaction order (KLL±), so a resume
    must replay the build's merge plan, not just some valid merge: 80
    checkpointed partials resume to the direct build's exact bytes, both at
    the default budgets (driver fold) and with the budgets patched so the
    router takes a fanin-2 tree of merge levels."""
    from bloom_filter_spark.operators import merge as merge_mod
    if budgets == "fanin2_tree":
        monkeypatch.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", 0)
        monkeypatch.setattr(merge_mod, "AUTO_TREE_THRESHOLD_BYTES", 1)
    ck = SketchCheckpoint(str(tmp_path / "ckpt"))
    for sketch, col, kind in (
            (KLLSketch(KLLParams(k=64)), "tokens", "i32_array"),
            (TDigestSketch(TDigestParams(50)), "n_tok", "f64")):
        sid = f"{sketch.kind}_{budgets}"
        direct = build_sketch(tokens_df, sketch, col, kind, repartition=80,
                              checkpoint=ck, sketch_id=sid)
        assert ck.resume(spark, sid, sketch) == direct, sketch.kind


def test_mismatched_params_merge_refused(spark, tokens_df):
    a = build_partials(tokens_df.limit(100), BloomSketch(BloomParams(n=1000, p=0.01)),
                       "tokens", "i32_array", repartition=1)
    b = build_partials(tokens_df.limit(100), BloomSketch(BloomParams(n=1000, p=0.02)),
                       "tokens", "i32_array", repartition=1)
    both = a.union(b)
    with pytest.raises(Exception, match="different params|PythonException|refusing"):
        _merge_levels(both, BloomSketch(BloomParams(n=1000, p=0.01)), 4).collect()


def test_grouped_paths_produce_identical_states(spark, tokens_df):
    """Salted, map-side, and JVM-preagg grouped builds are bit-identical
    (HLL register-max merge is order-insensitive, so every strategy must
    land on the same registers)."""
    from bloom_filter_spark.operators import build_grouped_preagg
    sk = HLLSketch(HLLParams(b=12))
    a = {r.group: bytes(r.state) for r in build_grouped(
        tokens_df, sk, "source", "tokens", "i32_array",
        n_salts=8, salt_on="doc_id", strategy="salted").collect()}
    b = {r.group: bytes(r.state) for r in build_grouped_preagg(
        tokens_df, sk, "source", "tokens").collect()}
    c = {r.group: bytes(r.state) for r in build_grouped(
        tokens_df, sk, "source", "tokens", "i32_array",
        strategy="mapside").collect()}
    assert a == b == c
    ns = {r.group: r.n_items for r in build_grouped(
        tokens_df, sk, "source", "tokens", "i32_array",
        strategy="mapside").collect()}
    exact_n = {r.source: r.n for r in
               tokens_df.groupBy("source").agg(F.sum("n_tok").alias("n")).collect()}
    assert ns == exact_n


def test_preagg_direct_identical_cms(spark, tokens_df):
    from bloom_filter_spark.operators import build_sketch_preagg
    # i64 keys far beyond int32 (a JVM-fed plan: the hash is computed)
    hashed = tokens_df.select(F.xxhash64("doc_id").alias("h"))
    for sk in (CMSSketch(CMSParams(eps=0.001, delta=0.01)),
               CountSketch(CountSketchParams(w=1 << 12, d=5))):
        for df, col, value_kind in ((tokens_df, "tokens", "i32_array"),
                                    (hashed, "h", "i64")):
            direct, n1 = build_sketch(df, sk, col, value_kind)
            pre, n2 = build_sketch_preagg(df, sk, col, value_kind)
            assert direct == pre and n1 == n2


def test_grouped_routes_keep_null_group(spark):
    """A null group label is its own group on every grouped route (as in
    Spark's groupBy): its rows are counted, never silently dropped."""
    from bloom_filter_spark.operators import build_grouped_preagg
    df = spark.createDataFrame(
        [("a", [1, 2]), (None, [3]), ("a", [2, 4]), ("b", [5, 6, 7])],
        "source string, tokens array<int>").repartition(2)
    sk = HLLSketch(HLLParams(b=10))
    routes = [
        build_grouped(df, sk, "source", "tokens", "i32_array",
                      strategy="mapside"),
        build_grouped(df, sk, "source", "tokens", "i32_array", n_salts=4,
                      strategy="salted"),
        build_grouped_preagg(df, sk, "source", "tokens"),
    ]
    states = [{r.group: (r.n_items, bytes(r.state)) for r in g.collect()}
              for g in routes]
    assert states[0] == states[1] == states[2]
    assert states[0][None][0] == 1
    assert sum(n for n, _ in states[0].values()) == 8


def test_register_sql_probes(spark, sf_small, bloom_blob):
    from bloom_filter_spark.operators.probe import register_sql_probes
    sketch, blob = bloom_blob
    register_sql_probes(spark, "tok", blob, "bloom", "i32")
    spark.read.parquet(f"{sf_small}/probes_present.parquet") \
         .createOrReplaceTempView("probes_v")
    n = spark.sql("SELECT count(*) c FROM probes_v WHERE NOT tok_contains(token)") \
             .collect()[0].c
    assert n == 0  # zero FN through the SQL surface
    # a point_* class registers <prefix>_count: Count-Sketch estimates match
    # the kernel's, key for key
    cs = CountSketch(CountSketchParams(w=1 << 12, d=5))
    cs_blob, _ = build_sketch(spark.read.parquet(f"{sf_small}/tokens.parquet"),
                              cs, "tokens", "i32_array")
    register_sql_probes(spark, "cs", cs_blob, "countsketch", "i32")
    got = spark.sql("SELECT token, cs_count(token) est FROM probes_v").collect()
    _, state = CountSketch.deserialize(cs_blob)
    want = cs.point_i32(state, np.array([r.token for r in got], np.int32))
    assert [r.est for r in got] == want.tolist()


def test_probe_refuses_a_key_column_the_cast_would_change(spark):
    """A probe casts every key to its key kind, so a column that cast would
    change raises ValueError instead of answering for another key: a
    bigint probed as i32 (2**32 + 5 read as the inserted 5), a string
    probed as i32 or i64 ("12" parsed as the inserted 12), an integer
    probed as str.  membership_scan checks the schema at call time, the
    UDF each Arrow batch in the task; keys at their own width still
    probe."""
    from bloom_filter_spark.operators import membership_scan
    sk = BloomSketch(BloomParams(n=1000, p=0.01))
    state = sk.empty()
    sk.update_i32(state, np.array([5, 12], np.int32))
    blob = sk.serialize(state)
    df = spark.createDataFrame([(2**32 + 5, "12", 12)],
                               "big long, text string, small int")
    for col, key_kind in (("big", "i32"), ("text", "i32"), ("text", "i64"),
                          ("small", "str")):
        with pytest.raises(ValueError, match="cannot be probed"):
            membership_scan(df, col, spark, blob, "bloom", key_kind)
        probe = membership_udf(spark, blob, "bloom", key_kind)
        with pytest.raises(Exception, match="cannot be probed"):
            df.select(probe(F.col(col))).collect()
    probe = membership_udf(spark, blob, "bloom", "i32")
    assert df.select(probe(F.col("small"))).collect()[0][0] is True
    assert membership_scan(df, "small", spark, blob, "bloom", "i32").agg(
        F.sum("n_member")).collect()[0][0] == 1


@pytest.mark.parametrize("entry", [
    "build_partials", "build_sketch", "build_sketch_preagg", "build_grouped",
    "build_grouped_preagg", "build_grouped_single_writer",
    "build_delta_shard_partials"])
def test_build_refuses_a_key_column_the_cast_would_change(spark, entry):
    """Every build entry point that takes a ``value_kind`` checks the key
    column's type at call time, as the probes do: a bigint inserted as i32
    (2**32 + 5 folded as 5), a string as i32 ("12" folded as 12) and an
    integer as str raise ValueError before any job runs."""
    from bloom_filter_spark.operators import build as build_mod
    from bloom_filter_spark.sketches import CountingBloomSketch
    df = spark.createDataFrame([("g", 2**32 + 5, "12", 12, 1)],
                               "g string, big long, text string, small int, "
                               "sign int")
    bloom = BloomSketch(BloomParams(n=1000, p=0.01))
    fn = getattr(build_mod, entry)
    call = {
        "build_grouped_single_writer": lambda col, vk: fn(
            df, "cuckoo", CuckooParams(n=64, load_factor=0.8), "g", col, vk),
        "build_delta_shard_partials": lambda col, vk: fn(
            df, CountingBloomSketch(BloomParams(n=1000, p=0.01)), col,
            "sign", vk),
    }.get(entry)
    if call is None:
        grouped = entry.startswith("build_grouped")
        call = (lambda col, vk: fn(df, bloom, "g", col, vk)) if grouped else (
            lambda col, vk: fn(df, bloom, col, vk))
    for col, value_kind in (("big", "i32"), ("text", "i32"), ("small", "str")):
        with pytest.raises(ValueError, match="cannot be inserted"):
            call(col, value_kind)


def test_membership_scan_scalar_and_str(spark, sf_small, bloom_blob):
    from bloom_filter_spark.operators import membership_scan
    sketch, blob = bloom_blob
    pres = spark.read.parquet(f"{sf_small}/probes_present.parquet")
    agg = (membership_scan(pres, "token", spark, blob, "bloom", "i32")
           .agg(F.sum("n_probed").alias("n"), F.sum("n_member").alias("h"))
           .collect()[0])
    assert agg.n == agg.h == 10_000
    # string scan over doc ids with a doc-keyed bloom
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet")
    dblob, _ = build_sketch(toks, BloomSketch(BloomParams(n=10_000, p=0.01)),
                            "doc_id", "str")
    agg2 = (membership_scan(toks, "doc_id", spark, dblob, "bloom", "str")
            .agg(F.sum("n_probed").alias("n"), F.sum("n_member").alias("h"))
            .collect()[0])
    assert agg2.n == agg2.h  # zero FN over every doc id
    # i64 keys beyond int32 (xxhash64 of the token) probe as i64
    hashed = pres.select(F.xxhash64("token").alias("h"))
    hblob, _ = build_sketch(hashed, BloomSketch(BloomParams(n=10_000, p=0.01)),
                            "h", "i64")
    agg3 = (membership_scan(hashed, "h", spark, hblob, "bloom", "i64")
            .agg(F.sum("n_probed").alias("n"), F.sum("n_member").alias("h"))
            .collect()[0])
    assert agg3.n == agg3.h == 10_000  # zero FN over every i64 key


def test_probe_input_contract(spark, tokens_df, bloom_blob, tmp_path,
                              monkeypatch, capsys):
    """Every probe factory rejects, at creation, a key kind its sketch has
    no probe method for; NULL in is NULL out for every rank kind; and
    job_probe's point mode deserializes the kind it is given."""
    import importlib.util
    import json
    import os
    import sys

    from bloom_filter_spark.operators import (
        SketchCheckpoint, membership_scan, rank_udf)
    from bloom_filter_spark.sketches import CountingBloomSketch
    _, bblob = bloom_blob
    cms = CMSSketch(CMSParams(eps=0.01, delta=0.01))
    cms_blob = cms.serialize(cms.empty())
    cb = CountingBloomSketch(BloomParams(n=1000, p=0.01))
    cb_blob = cb.serialize(cb.empty())
    for make in (lambda: cms_point_udf(spark, cms_blob, "f64"),
                 lambda: cms_point_udf(spark, cb_blob, "i64", kind="cbloom"),
                 lambda: membership_udf(spark, cms_blob, "cms", "i32"),
                 lambda: membership_udf(spark, bblob, "bloom", "f64"),
                 lambda: membership_scan(tokens_df, "n_tok", spark, bblob,
                                         "bloom", "f64"),
                 lambda: rank_udf(spark, cms_blob, "cms")):
        with pytest.raises(ValueError):
            make()

    vals = spark.createDataFrame([(1.0,), (None,), (50.0,)], "x double")
    for sketch in (KLLSketch(KLLParams(k=200)),
                   TDigestSketch(TDigestParams(100))):
        blob, _ = build_sketch(tokens_df, sketch, "n_tok", "f64")
        rank = rank_udf(spark, blob, sketch.kind)
        got = {r.x: r.r for r in vals.select("x", rank("x").alias("r"))
               .collect()}
        assert got[None] is None, sketch.kind
        assert 0.0 <= got[1.0] <= got[50.0] <= 1.0, (sketch.kind, got)

    cs = CountSketch(CountSketchParams(w=1 << 12, d=5))
    ck = SketchCheckpoint(str(tmp_path / "ckpt"))
    build_sketch(tokens_df, cs, "tokens", "i32_array", checkpoint=ck,
                 sketch_id="cs_t")
    probes = str(tmp_path / "probes.parquet")
    tokens_df.select(F.explode("tokens").alias("token")).limit(200) \
             .write.parquet(probes)
    out = str(tmp_path / "out")
    spec = importlib.util.spec_from_file_location("job_probe", os.path.join(
        os.path.dirname(__file__), "..", "jobs", "job_probe.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(sys, "argv", [
        "job_probe.py", "--checkpoint", str(tmp_path / "ckpt"),
        "--sketch-id", "cs_t", "--kind", "countsketch", "--probes", probes,
        "--mode", "point", "--out", out])
    job.main()
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]
                      )["n_probes"] == 200
    rows = spark.read.parquet(out).collect()
    blob, _ = ck.read_final(spark, "cs_t")
    _, state = CountSketch.deserialize(blob)
    want = cs.point_i32(state, np.array([r.token for r in rows], np.int32))
    assert [r.est_count for r in rows] == want.tolist()


def test_reservoir_distributed_build(spark, tokens_df):
    from bloom_filter_spark.sketches import ReservoirParams, ReservoirSketch
    sk = ReservoirSketch(ReservoirParams(k=500, seed=7))
    blob, n = build_sketch(tokens_df, sk, "tokens", "i32_array")
    assert n == tokens_df.select(F.sum("n_tok")).collect()[0][0]
    _, state = ReservoirSketch.deserialize(blob)
    assert state.n == n and state.sample.size == 500
    present = set(r.t for r in tokens_df.select(
        F.explode("tokens").alias("t")).distinct().collect())
    assert set(state.sample.tolist()) <= present


def test_counting_bloom_changelog_fold(spark, tokens_df):
    """Distributed insert/delete changelog: deletes land on DIFFERENT
    partitions than their inserts (repartition by sign), so partials go
    locally negative and only the counter-sum merge restores the global
    multiset — the property that makes deletes union-mergeable."""
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    cb = CountingBloomSketch(BloomParams(n=10_000, p=0.01))
    docs = tokens_df.select("doc_id")
    parity = (F.ascii(F.substring("doc_id", -1, 1)) % 2).alias("par")
    with_par = docs.select("doc_id", parity)
    changelog = (with_par.select("doc_id", F.lit(1).alias("sign"))
                 .unionAll(with_par.where(F.col("par") == 1)
                           .select("doc_id", F.lit(-1).alias("sign"))))
    # repartition by sign: every delete is folded apart from its insert
    blob, n = build_delta_sketch(changelog.repartition(8, "sign"),
                                 cb, "doc_id", "sign", "str")
    cb2, state = CountingBloomSketch.deserialize(blob)
    assert (state >= 0).all()  # discipline held globally
    kept = [r.doc_id for r in with_par.where(F.col("par") == 0).collect()]
    dele = [r.doc_id for r in with_par.where(F.col("par") == 1).collect()]
    assert cb2.contains_str(state, kept).all()  # zero FN on survivors
    assert cb2.contains_str(state, dele).mean() <= 0.05
    assert n == len(kept) + 2 * len(dele)


def test_bucketed_tables_join_without_exchange(spark, tokens_df):
    """Co-located join via bucketing: two tables bucketed by the join key
    into the same bucket count sort-merge-join with NO Exchange on either
    side — the pre-shuffle trade a 100 TB deployment makes once at write
    time and amortizes over every subsequent join."""
    import uuid
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    a, b = f"docs_a_{uuid.uuid4().hex[:8]}", f"docs_b_{uuid.uuid4().hex[:8]}"
    try:
        # at test scale the planner would broadcast (and skip bucketing);
        # the 100 TB regime this demonstrates is the non-broadcastable SMJ.
        # conf mutation + writes sit INSIDE try so a failure can't leak the
        # disabled-broadcast setting into the shared session fixture
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = tokens_df.select("doc_id", "n_tok")
        right = tokens_df.select("doc_id", "source")
        (left.write.bucketBy(8, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable(a))
        (right.write.bucketBy(8, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable(b))
        joined = spark.table(a).join(spark.table(b), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-bucketed: no shuffle
        assert joined.count() == tokens_df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_wide_state_fold_auto_coalesces(spark, tokens_df):
    """P × |state| bounding: a wide-state (multi-MB) sketch fold coalesces
    its input so the merge never receives GBs of partials; narrow sketches
    keep their input parallelism."""
    from bloom_filter_spark.operators.build import (_bound_state_volume,
                                                    build_partials)
    from bloom_filter_spark.operators.merge import AUTO_TREE_THRESHOLD_BYTES
    from bloom_filter_spark.sketches import (BloomParams, BloomSketch,
                                             CountingBloomSketch)

    wide = CountingBloomSketch(BloomParams(n=600_000, p=0.01))  # ~33 MB state
    sz = wide.state_bytes_max
    assert sz > 8 << 20
    many = tokens_df.select("doc_id").repartition(64)
    parts = build_partials(many, wide, "doc_id", "str").count()
    assert parts * sz <= 2 * AUTO_TREE_THRESHOLD_BYTES
    # never below the session's concurrent task slots (scan parallelism)
    sc = spark.sparkContext
    slots = max(1, sc.defaultParallelism
                // int(sc.getConf().get("spark.task.cpus", "1") or "1"))
    assert parts >= min(slots, 64)
    # narrow sketch: input parallelism untouched
    narrow = BloomSketch(BloomParams(n=65_536, p=0.01))
    assert _bound_state_volume(many, narrow).rdd.getNumPartitions() == 64


def _shard_route(mp, sketch, n_shards):
    """Give ``sketch`` (and every sketch with its params) ``n_shards``
    column-range shards in the changelog fold."""
    from bloom_filter_spark.sketches import counting_bloom
    mp.setattr(counting_bloom, "SHARD_TARGET_BYTES",
               -(-sketch.params.m * 4 // n_shards))
    assert sketch.shard_count() == n_shards


def _apart_changelog(tokens_df):
    """Inserts of every doc id and deletes of the odd-parity half, hashed on
    the sign so deletes land on different partitions than their inserts
    (locally negative shards)."""
    parity = (F.ascii(F.substring("doc_id", -1, 1)) % 2).alias("par")
    with_par = tokens_df.select("doc_id", parity)
    return (with_par.select("doc_id", F.lit(1).alias("sign"))
            .unionAll(with_par.where(F.col("par") == 1)
                      .select("doc_id", F.lit(-1).alias("sign")))
            ).repartition(8, "sign")


def test_cbloom_sharded_fold_bit_parity(spark, tokens_df, monkeypatch,
                                       reference_fold):
    """Changelog fold ≡ the single-process reference fold bit-for-bit:
    deletes land on different partitions than their inserts (locally
    negative shards), shard rows mix sparse and dense encodings, and the
    reassembled blob must equal the reference exactly (counter addition
    commutes) — with 1 and 5 shards, on both merge routes: the driver fold
    (default budget) and the per-shard executor levels
    (DRIVER_COLLECT_MAX_BYTES = 0)."""
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.operators import merge as merge_mod
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    changelog = _apart_changelog(tokens_df)

    def fresh():
        return CountingBloomSketch(BloomParams(n=10_000, p=0.01))

    want = reference_fold(changelog, fresh(), "doc_id", "sign")
    for n_shards in (1, 5):
        for budget in (merge_mod.DRIVER_COLLECT_MAX_BYTES, 0):
            with monkeypatch.context() as mp:
                _shard_route(mp, fresh(), n_shards)
                mp.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", budget)
                got = build_delta_sketch(changelog, fresh(), "doc_id",
                                         "sign", "str")
            assert got == want, (n_shards, budget)


def test_cbloom_delta_fold_drops_null_signs(spark, tokens_df):
    """A null sign must be dropped by the fold's validity mask, not
    coerced to a garbage delta (ADVICE r3): folding a changelog with null
    signs equals folding the same changelog with those rows removed."""
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    base = tokens_df.select("doc_id").limit(300)
    clean = base.select("doc_id", F.lit(1).alias("sign"))
    noisy = clean.unionAll(
        base.limit(40).select(
            "doc_id", F.lit(None).cast("int").alias("sign")))

    def fresh():
        return CountingBloomSketch(BloomParams(n=1000, p=0.01))

    blob_clean, n_clean = build_delta_sketch(clean, fresh(), "doc_id",
                                             "sign", "str")
    blob_noisy, n_noisy = build_delta_sketch(noisy, fresh(), "doc_id",
                                             "sign", "str")
    assert blob_noisy == blob_clean and n_noisy == n_clean


def test_cbloom_delta_fold_refuses_out_of_int32_signs(spark, reference_fold):
    """A bigint sign outside int32 must raise, not wrap: cast down,
    2**32 - 1 would fold as −1 (an insert turned into a delete) and
    2**32 + 1 as +1.  In-range bigint signs fold like int signs."""
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    def fresh():
        return CountingBloomSketch(BloomParams(n=1000, p=0.01))

    rows = [(f"doc_{i}", 1) for i in range(200)] + [("doc_7", -1)]
    ok = spark.createDataFrame(rows, "doc_id string, sign long")
    assert build_delta_sketch(ok, fresh(), "doc_id", "sign",
                              "str") == reference_fold(ok, fresh(), "doc_id",
                                                       "sign")
    for bad in (2**32 - 1, 2**32 + 1, -2**31 - 1):
        df = spark.createDataFrame(rows + [("doc_x", bad)],
                                   "doc_id string, sign long")
        with pytest.raises(Exception, match="'sign'.*outside int32"):
            build_delta_sketch(df, fresh(), "doc_id", "sign", "str")


def test_grouped_auto_routes_high_cardinality_to_salted(spark, tokens_df):
    """The auto router must send a 10^5-group domain down the salted path
    (G × |state| would blow every map-side task) while the modest sources
    domain stays map-side; a caller-configured cardinality skips the
    estimate job but routes identically."""
    from bloom_filter_spark.operators import build as build_mod
    from bloom_filter_spark.sketches import HLLParams, HLLSketch
    sk = HLLSketch(HLLParams(b=12))
    wide = spark.range(100_000).select(F.col("id").cast("string").alias("g"))
    strat, est = build_mod._choose_grouped_strategy(wide, sk, "g", None)
    assert strat == "salted" and est > 50_000
    strat2, _ = build_mod._choose_grouped_strategy(tokens_df, sk, "source", None)
    assert strat2 == "mapside"
    strat3, _ = build_mod._choose_grouped_strategy(wide, sk, "g", 100_000)
    assert strat3 == "salted"


def test_grouped_auto_salted_fallback_matches_mapside(spark, tokens_df,
                                                      monkeypatch):
    """End-to-end auto route down the salted fallback: HLL merge is
    commutative and serde canonical, so the fallback's grouped states must
    equal the map-side default bit-for-bit."""
    from bloom_filter_spark.operators import build as build_mod
    from bloom_filter_spark.sketches import HLLParams, HLLSketch

    def run():
        return {r.group: (r.n_items, bytes(r.state))
                for r in build_mod.build_grouped(
                    tokens_df, HLLSketch(HLLParams(b=12)), "source",
                    "tokens", "i32_array", salt_on="doc_id").collect()}

    mapside = run()
    monkeypatch.setattr(build_mod, "MAPSIDE_STATE_BUDGET_BYTES", 1)
    salted = run()
    assert salted == mapside and len(mapside) > 0


def test_merge_tree_level_renumbers_dense(spark):
    """Each tree level must emit DENSE group ids 0..G-1 (not the original
    partition ids): the byte-aware fanin cap assumes floor-div grouping at
    the next level packs at most `fanin` rows per task, which only holds if
    ids renumber every level.  Also holds for SPARSE input ids (a
    checkpoint read-back can skip ids)."""
    from bloom_filter_spark.operators.merge import _tree_level, PARTIAL_SCHEMA
    from bloom_filter_spark.sketches import BloomParams, BloomSketch

    sk = BloomSketch(BloomParams(n=256, p=0.01))
    rows = []
    for pid in (0, 1, 2, 3, 4, 5):
        st = sk.empty()
        sk.update_i32(st, np.arange(pid * 10, pid * 10 + 10, dtype=np.int32))
        rows.append((pid, 10, bytearray(sk.serialize(st))))
    df = spark.createDataFrame(rows, PARTIAL_SCHEMA)
    lvl = {r.src: r.n_items
           for r in _tree_level(df, sk, fanin=2).collect()}
    assert lvl == {0: 20, 1: 20, 2: 20}  # dense ids, fanin-sized groups
    # sparse ids (simulating skipped partials) still renumber densely at
    # the next level: floor-div of {0,1,2} with fanin=2 → {0, 1}
    sparse = spark.createDataFrame(
        [rows[0], (64, 10, rows[1][2]), (129, 10, rows[2][2])], PARTIAL_SCHEMA)
    lvl1 = _tree_level(sparse, sk, fanin=64)
    ids1 = sorted(r.src for r in lvl1.collect())
    assert ids1 == [0, 1, 2]  # floor-div groups of the sparse ids
    ids2 = sorted(r.src for r in _tree_level(lvl1, sk, 2).collect())
    assert ids2 == [0, 1]  # renumbered dense → next level packs ≤ fanin


def test_grouped_phase2_honours_byte_fanin(spark, tokens_df, monkeypatch):
    """Grouped phase 2 runs the same byte-bounded merge levels as the
    tree: with the merge budget patched down to a fanin of 2, 16 partials
    per group fold through three pre-merge levels (16 → 8 → 4 → 2 rows per
    group), one hash Exchange each, before the final per-group fold — and
    every group's (n_items, state) is unchanged.  Planning phase 2 runs no
    Spark job on any route (under AQE, reading the partition count of a
    shuffled input would run its shuffle)."""
    from bloom_filter_spark.operators import build_grouped_preagg
    from bloom_filter_spark.operators import merge as merge_mod

    sc = spark.sparkContext
    sc.setJobGroup("grouped_planning", "build_grouped planning")
    try:
        for strategy in ("mapside", "salted"):
            build_grouped(tokens_df, HLLSketch(HLLParams(b=12)), "source",
                          "tokens", num_partitions=16, strategy=strategy)
        build_grouped_preagg(tokens_df, HLLSketch(HLLParams(b=12)), "source",
                             "tokens")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("grouped_planning") == []

    def run():
        df = build_grouped(tokens_df, HLLSketch(HLLParams(b=12)), "source",
                           "tokens", "i32_array", num_partitions=16,
                           strategy="mapside")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert df.columns == ["group", "n_items", "state"]
        return ({r.group: (r.n_items, bytes(r.state)) for r in df.collect()},
                plan.count("Exchange hashpartitioning"))

    want, exchanges = run()
    assert exchanges == 1  # the input repartition is round-robin
    monkeypatch.setattr(merge_mod, "AUTO_TREE_THRESHOLD_BYTES", 1)  # fanin=2
    got, exchanges = run()
    assert exchanges == 1 + 3
    assert got == want and len(want) > 0


def test_cbloom_sharded_multilevel_merge_parity(spark, tokens_df, monkeypatch,
                                                reference_fold):
    """When partials-per-shard exceed the byte-aware fanin, pre-merge
    levels must fold fanin-sized slices first (bounding per-task input) and
    still reassemble bit-identically to the reference fold."""
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.operators import merge as merge_mod
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    changelog = (tokens_df.select("doc_id", F.lit(1).alias("sign"))
                 .repartition(8))

    def fresh():
        return CountingBloomSketch(BloomParams(n=10_000, p=0.01))

    want = reference_fold(changelog, fresh(), "doc_id", "sign")
    monkeypatch.setattr(merge_mod, "AUTO_TREE_THRESHOLD_BYTES", 1)  # fanin=2
    monkeypatch.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", 0)  # levels
    _shard_route(monkeypatch, fresh(), 3)
    assert build_delta_sketch(changelog, fresh(), "doc_id", "sign",
                              "str") == want


def test_cbloom_sharded_sparse_and_dense_switch_parity(spark, tokens_df,
                                                       monkeypatch,
                                                       reference_fold):
    """The sparse-accumulation fold must be bit-identical to the reference
    fold in BOTH regimes: a wide filter where partitions stay sparse end to
    end, and a narrow filter where every partition crosses the m/3
    break-even and switches to the dense array mid-fold."""
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    changelog = _apart_changelog(tokens_df)
    # wide filter: per-partition entries ≪ m/3 → pure sparse emission
    # narrow filter: entries ≫ m/3 → switches to dense mid-fold
    for cap in (200_000, 300):
        want = reference_fold(
            changelog, CountingBloomSketch(BloomParams(n=cap, p=0.01)),
            "doc_id", "sign")
        with monkeypatch.context() as mp:
            _shard_route(mp, CountingBloomSketch(BloomParams(n=cap, p=0.01)),
                         5)
            got = build_delta_sketch(
                changelog, CountingBloomSketch(BloomParams(n=cap, p=0.01)),
                "doc_id", "sign", "str")
        assert got == want, cap


def _checkpoint_resume_parity(spark, changelog, tmp_path, monkeypatch,
                              reference_fold, n_shards):
    """Build ``changelog`` with a checkpoint into a ``n_shards``-shard
    filter, on the driver fold (default budget) and on the executor levels
    (budget 0): the build, ``resume()`` from the persisted shard partials
    alone and the final table must all equal the reference fold's blob."""
    from bloom_filter_spark.operators import (SketchCheckpoint,
                                              build_delta_sketch)
    from bloom_filter_spark.operators import merge as merge_mod
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    def fresh():
        return CountingBloomSketch(BloomParams(n=10_000, p=0.01))

    want = reference_fold(changelog, fresh(), "doc_id", "sign")
    for budget in (merge_mod.DRIVER_COLLECT_MAX_BYTES, 0):
        with monkeypatch.context() as mp:
            mp.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES", budget)
            ck = SketchCheckpoint(str(tmp_path / f"ckpt{n_shards}_{budget}"))
            if n_shards != 1:
                _shard_route(mp, fresh(), n_shards)
            assert fresh().shard_count() == n_shards
            assert build_delta_sketch(
                changelog, fresh(), "doc_id", "sign", "str",
                checkpoint=ck, sketch_id="cb_shard") == want
            # resume from the persisted shard partials alone
            assert ck.resume(spark, "cb_shard", fresh()) == want, budget
        # and the final table holds it too
        assert ck.read_final(spark, "cb_shard") == want
    return want, fresh


def test_changelog_checkpoint_resume(spark, tokens_df, tmp_path, monkeypatch,
                                     reference_fold):
    """Changelog (±1) partials persist through the checkpoint table and
    resume to the reference fold's blob bit-for-bit — resumable
    distributed deletes — for the filter's default single shard, with
    resume() auto-detecting the layout: the shard partials the build
    writes, and blob-per-partition partials (the layout of the retired
    monolithic fold), which resume through merge_partials_auto."""
    from bloom_filter_spark.operators import PARTIAL_SCHEMA, SketchCheckpoint

    changelog = _apart_changelog(tokens_df)
    want, fresh = _checkpoint_resume_parity(spark, changelog, tmp_path,
                                            monkeypatch, reference_fold, 1)
    halves = [reference_fold(changelog.where(F.col("sign") == s), fresh(),
                             "doc_id", "sign") for s in (1, -1)]
    legacy = spark.createDataFrame(
        [(i, n, bytearray(b)) for i, (b, n) in enumerate(halves)],
        PARTIAL_SCHEMA)
    ck = SketchCheckpoint(str(tmp_path / "ckpt_monolithic"))
    ck.write_partials("cb_mono", fresh(), legacy)
    assert ck.resume(spark, "cb_mono", fresh()) == want


def test_sharded_changelog_checkpoint_resume(spark, tokens_df, tmp_path,
                                             monkeypatch, reference_fold):
    """Sharded (5 column-range shards) changelog partials persist through
    the lineage table with their shard_id column and resume to the
    reference fold's blob bit-for-bit, whether the build folded on the
    driver or on the executor levels."""
    _checkpoint_resume_parity(spark, _apart_changelog(tokens_df), tmp_path,
                              monkeypatch, reference_fold, 5)


def test_resume_runs_one_job_before_its_merge(spark, tokens_df, tmp_path,
                                              monkeypatch):
    """resume() checks the run's layout and counts its rows in ONE Spark
    job before it hands them to the build's merge tail (the read takes its
    schema from a footer, not from an inference job): pinned for a plain
    run and a 5-shard changelog run.  AQE is off, so one action is one
    job; the listener bus is drained before the jobs are read."""
    from bloom_filter_spark.operators import build as build_mod
    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.operators import checkpoint as ck_mod
    from bloom_filter_spark.sketches import CountingBloomSketch

    ck = SketchCheckpoint(str(tmp_path / "ckpt"))
    bloom = BloomSketch(BloomParams(n=60_000, p=0.01))
    build_sketch(tokens_df, bloom, "tokens", "i32_array", repartition=8,
                 checkpoint=ck, sketch_id="plain")
    cb = CountingBloomSketch(BloomParams(n=10_000, p=0.01))
    _shard_route(monkeypatch, cb, 5)
    build_delta_sketch(_apart_changelog(tokens_df), cb, "doc_id", "sign",
                       "str", checkpoint=ck, sketch_id="sharded")

    class AtMerge(Exception):
        pass

    def at_merge(*args):
        raise AtMerge

    monkeypatch.setattr(ck_mod, "merge_partials_auto", at_merge)
    monkeypatch.setattr(build_mod, "merge_shards_reassembled", at_merge)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for sid, sketch in (("plain", bloom), ("sharded", cb)):
            group = f"resume_{sid}"
            sc.setJobGroup(group, "resume")
            with pytest.raises(AtMerge):
                ck.resume(spark, sid, sketch)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, sid
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_write_partials_runs_one_job(spark, tokens_df, tmp_path):
    """write_partials runs the write and nothing else: the read-back takes
    the schema it just wrote instead of an inference job.  AQE is off, so
    one action is one job; the listener bus is drained before the jobs are
    read."""
    sketch = BloomSketch(BloomParams(n=60_000, p=0.01))
    partials = build_partials(tokens_df, sketch, "tokens", "i32_array",
                              repartition=8)
    ck = SketchCheckpoint(str(tmp_path / "ckpt"))
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("write_partials_one_job", "write_partials")
        back = ck.write_partials("w", sketch, partials)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(
        "write_partials_one_job")) == 1
    assert back.columns == partials.columns
    assert sorted(back.collect()) == sorted(partials.collect())


def test_sharded_merge_routes_by_the_driver_budget(spark, tokens_df,
                                                   monkeypatch, reference_fold):
    """The sharded tail reads the same rule as merge_partials_auto:
    P × state_bytes_max ≤ DRIVER_COLLECT_MAX_BYTES folds on the driver and
    never plans the merge levels; one byte less takes the levels."""
    from bloom_filter_spark.operators import build as build_mod
    from bloom_filter_spark.operators import merge as merge_mod
    from bloom_filter_spark.sketches import BloomParams, CountingBloomSketch

    changelog = _apart_changelog(tokens_df)
    sk = CountingBloomSketch(BloomParams(n=10_000, p=0.01))
    want = reference_fold(changelog, sk, "doc_id", "sign")
    _shard_route(monkeypatch, sk, 5)
    partials = build_mod.build_delta_shard_partials(changelog, sk, "doc_id",
                                                    "sign", "str")
    est = partials.rdd.getNumPartitions()

    def no_levels(*a, **k):
        raise AssertionError("executor shard merge planned")

    monkeypatch.setattr(merge_mod, "_merge_levels", no_levels)
    monkeypatch.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES",
                        est * sk.state_bytes_max)
    assert build_mod.merge_shards_reassembled(partials, sk) == want
    monkeypatch.setattr(merge_mod, "DRIVER_COLLECT_MAX_BYTES",
                        est * sk.state_bytes_max - 1)
    with pytest.raises(AssertionError, match="executor shard merge"):
        build_mod.merge_shards_reassembled(partials, sk)


def test_shard_merge_exactly_one_exchange_per_wave(spark, monkeypatch):
    """Plan-shape pin for the per-shard merge levels: each merge
    wave is ONE hash Exchange (the groupBy on shard_id / (shard_id, grp)).
    The trap this guards: deriving the fold key from an expression
    evaluated at merge time (e.g. Window.partitionBy(spark_partition_id))
    silently added a second full-data Exchange once before — src is now a
    persisted COLUMN, so the level grouping must not re-shuffle anything
    beyond its own groupBy."""
    from bloom_filter_spark.operators.build import build_delta_shard_partials
    from bloom_filter_spark.operators.merge import _byte_fanin, _merge_levels
    from bloom_filter_spark.sketches import (BloomParams, CountingBloomSketch,
                                             counting_bloom)

    df = spark.createDataFrame(
        [(f"doc_{i}", 1) for i in range(2000)], "id string, sign int"
    ).repartition(8)
    sk = CountingBloomSketch(BloomParams(n=4000, p=0.01))
    monkeypatch.setattr(counting_bloom, "SHARD_TARGET_BYTES",
                        sk.params.m * 4 // 4)  # 4 shards
    partials = build_delta_shard_partials(df, sk, "id", "sign",
                                          value_kind="str")

    def shard_levels(est_partials):
        return _merge_levels(
            partials, sk, _byte_fanin(sk.state_bytes_max // sk.shard_count()),
            est_partials, keys=("shard_id",), fold=type(sk).merge_shard_blobs)

    # single wave (P <= fanin): exactly one Exchange in the whole merge
    merged = shard_levels(8)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    # the input repartition is a RoundRobin Exchange; the merge itself must
    # contribute exactly its groupBy hash Exchanges and nothing more
    assert plan.count("Exchange hashpartitioning") == 1, plan

    # forced pre-level (tiny est_partials => while-loop runs): one
    # Exchange PER wave - groupBy(shard_id, grp) then groupBy(shard_id) -
    # and none anywhere else (no hidden full-data shuffle from the src
    # column or the level renumbering)
    from bloom_filter_spark.operators import merge as merge_mod
    fanin = max(2, int(merge_mod.AUTO_TREE_THRESHOLD_BYTES
                       // max(1, sk.state_bytes_max
                              // sk.shard_count())))
    waves = 1
    p = 1000 * fanin  # pretend a 1000x fleet: ceil-log_fanin levels
    while p > fanin:
        waves += 1
        p = -(-p // fanin)
    merged_big = shard_levels(1000 * fanin)
    plan_big = merged_big._jdf.queryExecution().executedPlan().toString()
    assert plan_big.count("Exchange hashpartitioning") == waves, \
        (waves, plan_big)


def test_point_str_udf_strbuf_bit_identical(spark):
    """The string point-probe UDF now routes pandas→Arrow→StrBuf (VERDICT
    r5 #5) — estimates must be bit-identical to the object-list kernel
    path, for CMS and Count-Sketch, with NULL keys pinned to 0."""
    from bloom_filter_spark.sketches import (
        CMSSketch, CMSParams, CountSketch, CountSketchParams)
    keys = [f"tok{i % 97}" for i in range(20_000)] + ["solo", "", "xx"]
    kdf = spark.createDataFrame([(k,) for k in keys], "k string")
    probes = [f"tok{i}" for i in range(120)] + ["solo", "", "absent", None]
    pdf = spark.createDataFrame([(p,) for p in probes], "p string")
    for sketch in (CMSSketch(CMSParams(eps=0.001, delta=0.001)),
                   CountSketch(CountSketchParams(w=1 << 12, d=5))):
        blob, _ = build_sketch(kdf, sketch, "k", "str")
        point = cms_point_udf(spark, blob, "str", kind=sketch.kind)
        got = {r.p: r.est for r in
               pdf.withColumn("est", point(F.col("p"))).collect()}
        sk, state = type(sketch).deserialize(blob)
        want = sk.point_str(state, [p for p in probes if p is not None])
        for p, w in zip([p for p in probes if p is not None], want):
            assert got[p] == int(w), (sketch.kind, p, got[p], int(w))
        assert got[None] == 0
