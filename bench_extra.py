"""Metrics-instrumented twin of bench.py (round 7; bench.py itself is frozen).

Runs the same operations as bench.py, each under a dedicated job group, and
records per line what host contention cannot forge: executor CPU seconds,
shuffle read/write bytes, task counts and input records, pulled from the
Spark REST API per job group (the method the r6 adjudications validated,
BENCH/AB_salted_metrics_r6.json).  Wall seconds ride along but are advisory
on a contended host — the r6 verdict showed identical binaries varying up
to 6.7× wall during contended windows.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [--out PATH] [--lines a,b,c]

Prints one JSON object: {"queries": {name: {wall_s, cpu_s, shuffle_read_mb,
shuffle_write_mb, tasks, input_records}}, ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _proc_cpu_s() -> float:
    """Whole-VM user+nice+system CPU seconds from /proc/stat.  Captures the
    JVM *and* the Python workers (REST executorCpuTime sees only JVM task
    threads), and host contention shows up as steal — which this number
    excludes — so per-line deltas are contention-immune total-CPU evidence."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    return (int(parts[1]) + int(parts[2]) + int(parts[3])) / hz


def _rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=10) as r:
        app = json.load(r)[0]["id"]
    with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}{path}", timeout=10) as r:
        return json.load(r)


def _stage_totals(stages, ids):
    tot = {"cpu_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
           "input_records": 0, "tasks": 0}
    for s in stages:
        if s["stageId"] not in ids or s["status"] != "COMPLETE":
            continue
        tot["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        tot["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        tot["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / 1e6
        tot["input_records"] += s.get("inputRecords", 0)
        tot["tasks"] += s.get("numCompleteTasks", 0)
    return {k: round(v, 3) if isinstance(v, float) else v
            for k, v in tot.items()}


# the lines that scan the tokens fixture, and those that read documents
TOKENS_LINES = (
    "bloom_build", "bloom_probe_20k", "bloom_probe_full_stream", "hll_build",
    "cms_build", "countsketch_build", "kll_build_tokens", "tdigest_build_ntok",
    "ddsketch_build_ntok", "bloom_build_preagg", "hll_grouped_by_source",
    "hll_grouped_by_source_salted")
DOCS_LINES = (
    "dedup_minhash_lsh", "embedding_cosine_topk", "embedding_lsh_neardup",
    "embedding_ivf_topk", "dedup_simhash", "weighted_sample_topk",
    "text_contamination")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--lines", default=None,
                    help="comma-separated subset of line names")
    args = ap.parse_args()
    only = set(args.lines.split(",")) if args.lines else None

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from bloom_filter_spark.operators import (
        build_grouped, build_sketch, membership_udf)
    from bloom_filter_spark.session import get_spark
    from bloom_filter_spark.sketches import (
        BloomParams, BloomSketch, CMSParams, CMSSketch, HLLParams, HLLSketch,
        KLLParams, KLLSketch, TDigestParams, TDigestSketch)
    from bloom_filter_spark.sources.fixtures import (
        ensure_fixtures, sf_name_of_dir)

    sf_name = sf_name_of_dir(sf_dir)
    fx = ensure_fixtures(sf_name)

    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    if spark.sparkContext.uiWebUrl is None:
        raise SystemExit("bench_extra needs the UI: SPARK_GRAFT_UI=true")
    sc = spark.sparkContext

    def wanted(*names) -> bool:
        """Whether any of the lines ``names`` runs: set-up that feeds only
        lines left out of ``--lines`` is skipped."""
        return only is None or not only.isdisjoint(names)

    doc_lines = ("bloom_doc_build_str", "bloom_doc_probe_stream_str")
    tokens = spark.read.parquet(f"{fx}/tokens.parquet")
    n_tokens = None
    if wanted(*TOKENS_LINES, *doc_lines):
        n_tokens = tokens.select(F.sum("n_tok")).collect()[0][0]
    if wanted(*TOKENS_LINES):  # warm-ups of the tokens scan and the fold
        tokens.select(F.sum(F.size("tokens"))).collect()
        build_sketch(tokens.limit(2000),
                     BloomSketch(BloomParams(n=1024, p=0.01)),
                     "tokens", "i32_array", repartition=cpus)

    results: dict[str, dict] = {}

    def timed(name, fn, repeats: int = 2):
        """Each line runs ``repeats`` times; the per-run process-tree CPU
        rides along so first-run JIT warmup is separable from steady state
        (the reported cpu_proc_s is the min across runs)."""
        if only is not None and name not in only:
            return None
        out = None
        walls, cpus_proc = [], []
        before = {s["stageId"] for s in _rest(spark, "/stages")}
        sc.setJobGroup(name, name)
        sc.setJobDescription(name)
        for _ in range(repeats):
            c0 = _proc_cpu_s()
            t0 = time.time()
            out = fn()
            walls.append(round(time.time() - t0, 3))
            cpus_proc.append(round(_proc_cpu_s() - c0, 2))
        sc.setJobDescription(None)
        sc.setJobGroup("idle", "idle")
        stages = _rest(spark, "/stages")
        new_ids = {s["stageId"] for s in stages} - before
        results[name] = {"wall_s": min(walls), "wall_samples": walls,
                         "cpu_proc_s": min(cpus_proc),
                         "cpu_proc_samples": cpus_proc,
                         **_stage_totals(stages, new_ids)}
        print(name, json.dumps(results[name]), flush=True)
        return out

    bloom = BloomSketch(BloomParams(n=65_536, p=0.01))
    built = timed("bloom_build",
                  lambda: build_sketch(tokens, bloom, "tokens", "i32_array"))
    if built is None and wanted("bloom_probe_20k", "bloom_probe_full_stream"):
        built = build_sketch(tokens, bloom, "tokens", "i32_array")
    blob = None
    if built is not None:
        blob, n_built = built
        assert n_built == n_tokens

    def probe_all():
        probe = membership_udf(spark, blob, "bloom", "i32")
        pres = spark.read.parquet(f"{fx}/probes_present.parquet")
        abst = spark.read.parquet(f"{fx}/probes_absent.parquet")
        fn_cnt = pres.where(~probe(F.col("token"))).count()
        fp_cnt = abst.where(probe(F.col("token"))).count()
        return fn_cnt, fp_cnt

    timed("bloom_probe_20k", probe_all)

    def probe_full_stream():
        from bloom_filter_spark.operators import membership_scan
        agg = (membership_scan(tokens, "tokens", spark, blob, "bloom")
               .agg(F.sum("n_probed").alias("n"), F.sum("n_member").alias("hits"))
               .collect()[0])
        assert agg.n == n_tokens and agg.hits == n_tokens
        return agg.hits

    timed("bloom_probe_full_stream", probe_full_stream)

    timed("hll_build", lambda: build_sketch(
        tokens, HLLSketch(HLLParams(b=14)), "tokens", "i32_array"))
    timed("cms_build", lambda: build_sketch(
        tokens, CMSSketch(CMSParams(eps=0.0001, delta=0.001)), "tokens",
        "i32_array"))
    from bloom_filter_spark.sketches import CountSketch, CountSketchParams
    timed("countsketch_build", lambda: build_sketch(
        tokens, CountSketch(CountSketchParams(w=1 << 15, d=5)),
        "tokens", "i32_array"))
    timed("kll_build_tokens", lambda: build_sketch(
        tokens, KLLSketch(KLLParams(k=200)), "tokens", "i32_array"))
    timed("tdigest_build_ntok", lambda: build_sketch(
        tokens, TDigestSketch(TDigestParams(200)), "n_tok", "f64"))
    from bloom_filter_spark.sketches import DDSketch, DDSketchParams
    timed("ddsketch_build_ntok", lambda: build_sketch(
        tokens, DDSketch(DDSketchParams(alpha=0.01)), "n_tok", "f64"))
    from bloom_filter_spark.operators import build_sketch_preagg
    timed("bloom_build_preagg", lambda: build_sketch_preagg(
        tokens, BloomSketch(BloomParams(n=65_536, p=0.01)), "tokens",
        "i32_array"))
    timed("hll_grouped_by_source", lambda: build_grouped(
        tokens, HLLSketch(HLLParams(b=12)), "source", "tokens",
        "i32_array", strategy="mapside").collect())
    timed("hll_grouped_by_source_salted", lambda: build_grouped(
        tokens, HLLSketch(HLLParams(b=12)), "source", "tokens", "i32_array",
        n_salts=cpus, salt_on="doc_id", strategy="salted").collect())

    from bloom_filter_spark.operators import build_delta_sketch
    from bloom_filter_spark.plans.queries import _parity_changelog
    from bloom_filter_spark.sketches import CountingBloomSketch
    if wanted("cbloom_changelog_build", "cbloom_changelog_build_dense"):
        _, changelog, cb_full = _parity_changelog(spark, sf_dir)
        changelog_sub = changelog.where(F.crc32(F.col("doc_id")) % 3 == 0)
        cb = CountingBloomSketch(BloomParams(n=cb_full.params.n // 3 + 16,
                                             p=0.01))
        timed("cbloom_changelog_build", lambda: build_delta_sketch(
            changelog_sub, cb, "doc_id", "sign", "str")[1])
        # the whole changelog into the same filter: past half full (63% at
        # sf0.1), so its blobs take the dense layout
        timed("cbloom_changelog_build_dense", lambda: build_delta_sketch(
            changelog, cb, "doc_id", "sign", "str")[1])

    n_ids = min(max(int((n_tokens or 0) // 4), 100_000), 4_000_000)
    doc_ids = spark.range(n_ids).select(
        F.concat(F.lit("doc_"), F.lpad(F.col("id").cast("string"), 9, "0"))
         .alias("doc_id"))
    bloom_doc = BloomSketch(BloomParams(n=n_ids, p=0.01))
    built_doc = timed("bloom_doc_build_str", lambda: build_sketch(
        doc_ids, bloom_doc, "doc_id", "str"))
    if built_doc is None and wanted("bloom_doc_probe_stream_str"):
        built_doc = build_sketch(doc_ids, bloom_doc, "doc_id", "str")
    doc_blob = built_doc[0] if built_doc is not None else None

    def probe_doc_stream():
        from bloom_filter_spark.operators import membership_scan
        agg = (membership_scan(doc_ids, "doc_id", spark, doc_blob, "bloom",
                               value_kind="str")
               .agg(F.sum("n_probed").alias("n"),
                    F.sum("n_member").alias("hits")).collect()[0])
        assert agg.n == n_ids and agg.hits == n_ids
        return agg.hits

    timed("bloom_doc_probe_stream_str", probe_doc_stream)

    docs_dir = sf_dir
    if not wanted(*DOCS_LINES):
        docs_dir = None
    elif not os.path.exists(f"{docs_dir}/documents.parquet"):
        from bloom_filter_spark.sources.fixtures import ensure_doc_fixtures
        docs_dir = ensure_doc_fixtures(sf_name)
    if docs_dir and os.path.exists(f"{docs_dir}/documents.parquet"):
        from bloom_filter_spark.functions import dedup, similarity
        docs = spark.read.parquet(f"{docs_dir}/documents.parquet")
        timed("dedup_minhash_lsh", lambda: dedup.minhash_lsh_pairs(
            docs, threshold=0.5).count())
        emb = spark.read.parquet(f"{docs_dir}/embeddings.parquet")
        timed("embedding_cosine_topk", lambda: similarity.brute_force_topk(
            emb, list(range(10)), k=5).count())
        timed("embedding_lsh_neardup", lambda: similarity.lsh_neardup_pairs(
            emb, threshold=0.85, n_bits=16, n_tables=8).count())
        timed("embedding_ivf_topk", lambda: similarity.ivf_topk(
            emb, list(range(10)), k=5, n_lists=16, n_probe=4).count())
        timed("dedup_simhash", lambda: dedup.simhash_pairs(
            docs, max_hamming=7).count())
        from bloom_filter_spark.functions import sampling
        timed("weighted_sample_topk", lambda: sampling.weighted_sample_topk(
            docs, "doc_id", "n_chars", k=100).count())
        timed("text_contamination", lambda: dedup.contamination_check(
            docs.where(F.col("doc_id") % 10 != 0),
            docs.where(F.col("doc_id") % 10 == 0)).count())

    if wanted("events_asof_join", "events_range_join") and \
            os.path.exists(f"{sf_dir}/events.parquet"):
        from bloom_filter_spark.functions.joins import asof_join, range_join
        from bloom_filter_spark.plans.pipeline_queries import (
            ERR_WINDOW_US, event_projections)
        purch, clicks, errors = event_projections(spark, sf_dir)
        timed("events_asof_join", lambda: asof_join(
            purch, clicks, key="user_id", left_ts="purchase_ts",
            right_ts="ts_us", right_cols=["click_id", "click_value"],
            tie_col="click_id").count())
        timed("events_range_join", lambda: range_join(
            clicks.select("user_id", "click_id",
                          F.col("ts_us").alias("click_ts")),
            errors, key="user_id", point_ts="click_ts",
            start_ts="err_start", end_ts="err_end",
            bucket=ERR_WINDOW_US).count())

    import bloom_filter_spark
    out = {
        "pkg": os.path.dirname(os.path.abspath(bloom_filter_spark.__file__)),
        "sf": sf_name.removeprefix("sf"), "cpus": cpus,
        "cpu_total_s": round(sum(r["cpu_s"] for r in results.values()), 3),
        "cpu_proc_total_s": round(
            sum(r["cpu_proc_s"] for r in results.values()), 2),
        "wall_total_s": round(sum(r["wall_s"] for r in results.values()), 3),
        "queries": results,
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
