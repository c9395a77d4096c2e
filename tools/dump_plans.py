"""Dump formatted physical plans of the headline operators → BENCH/PLANS.md.

Evidence that the plans are the ones a 100 TB deployment wants: pruned
ReadSchema, pushed filters, broadcast dimension joins, map-side partial
aggregation, and shuffle-free build/probe pipelines.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from bloom_filter_spark.functions import dedup, relational, similarity
    from bloom_filter_spark.operators import build_partials, membership_scan, build_sketch
    from bloom_filter_spark.session import get_spark
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    from bloom_filter_spark.sources import ensure_fixtures

    spark = get_spark("plans", master="local[8]", shuffle_partitions=16)
    fx = ensure_fixtures("sf0.1")
    toks = spark.read.parquet(f"{fx}/tokens.parquet")
    sk = BloomSketch(BloomParams(n=65_536, p=0.01))

    sections = []

    def add(title, df, note):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        sections.append(f"## {title}\n\n{note}\n\n```\n{plan}\n```\n")

    add("Sketch build (direct path)",
        build_partials(toks, sk, "tokens", "i32_array"),
        "Scan reads ONLY `tokens`; one MapInArrow; **no Exchange** — the "
        "build never shuffles data, only the per-partition state rows move.")

    from bloom_filter_spark.operators.build import _native_parquet_partials
    from bloom_filter_spark.sketches import KLLParams, KLLSketch
    add("Order-sensitive sketch build (KLL, replayed native scan)",
        _native_parquet_partials(toks, KLLSketch(KLLParams(k=200)), "tokens",
                                 "i32_array")[0],
        "A driver Range of one row per JVM scan partition feeds one "
        "MapInArrow: each task reads the row groups whose midpoint its JVM "
        "partition's file pieces hold and re-cuts them at "
        "`maxRecordsPerBatch`, so the KLL / t-digest fold sees the JVM "
        "route's batches without the JVM scan. **No Exchange.** (Eight JVM "
        "partitions of the sf0.1 tokens at `local[8]`, so eight tasks.)")

    blob, _ = build_sketch(toks.limit(1000), sk, "tokens", "i32_array")
    add("Bulk membership probe",
        membership_scan(toks, "tokens", spark, blob, "bloom"),
        "Probe is scan → MapInArrow, shuffle-free; the sketch state arrives "
        "via broadcast, not join.")

    from bloom_filter_spark.operators import build_grouped
    from bloom_filter_spark.sketches import HLLParams, HLLSketch
    add("Grouped build — map-side strategy (default)",
        build_grouped(toks, HLLSketch(HLLParams(b=12)), "source", "tokens"),
        "Phase 1 is MapInArrow directly on the scan — **no Exchange below "
        "it**: the token data never shuffles; the only Exchange in the plan "
        "carries the P × G small state rows into the per-group merge. "
        "Shuffle volume is input-size-independent; skew-immune because "
        "tasks are input splits, not group buckets.")

    add("Grouped build — salted strategy (huge group domains)",
        build_grouped(toks, HLLSketch(HLLParams(b=12)), "source", "tokens",
                      n_salts=16, salt_on="doc_id", strategy="salted"),
        "Explicit `repartition(group, salt)` below phase 1 caps any one "
        "task at group/salts rows (north-rule skew defense) at the price "
        "of one full-data Exchange — the right trade only when G × |state| "
        "can't sit in a single task's memory.  The salt count is the one "
        "parallelism rule over Catalyst's size estimate (here ~115 MB, so "
        "all 16 salts), and the second Exchange feeds phase 2, the "
        "per-group merge of the salts' states.")

    small = spark.read.parquet(f"{ensure_fixtures('sf0.001')}/tokens.parquet")
    add("Grouped build — salted strategy under one open cost",
        build_grouped(small, HLLSketch(HLLParams(b=12)), "source", "tokens",
                      n_salts=16, salt_on="doc_id", strategy="salted"),
        "The sf0.001 tokens (~1.1 MB estimated) hold less than one "
        "`spark.sql.files.openCostInBytes`, so the build runs one salt: "
        "the only Exchange hashes by group, each group lands in one "
        "partition, phase 1 emits its one row, and phase 2 "
        "(FlatMapGroupsInArrow) is skipped.")

    add("Dimension join (top customer per nation)",
        relational.top_customer_per_nation(spark, "/root/testdata/sf0.001"),
        "Both dimension joins are BroadcastHashJoin — no sort-merge shuffle "
        "of the fact side.")

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")

    add("Inverted-index n-gram Jaccard (df-capped)",
        dedup.ngram_jaccard_pairs(docs, threshold=0.5, df_cap=1000),
        "Self-equi-join on the shingle key after the hot-shingle df-cap "
        "(left_anti against shingles with df > cap): only docs sharing a "
        "non-hot shingle ever pair; no O(n²) cross join anywhere.")

    add("MinHash-LSH dedup (banded bucket join + exact verify)",
        dedup.minhash_lsh_pairs(docs, threshold=0.5),
        "Signature build is MapInArrow; candidates come from a (band, "
        "bucket) equi-join; the verify join is keyed (shingle, doc) and the "
        "candidate set joins PLAINLY (no forced broadcast of an unbounded "
        "intermediate — AQE decides).")

    add("Hyperplane-LSH near-dup pairs (scale path)",
        similarity.lsh_neardup_pairs(emb, threshold=0.45),
        "One corpus scan emits all tables' buckets (single MapInPandas); "
        "candidates from a (table, bucket) equi-join; exact cosine only on "
        "candidates — the all-pairs theta join never appears.")

    add("SimHash multi-probe banding",
        dedup.simhash_pairs(docs, max_hamming=7),
        "16-bit bands: the probe side explodes each band value plus its "
        "single-bit flips; candidates from a (band, bucket) equi-join, "
        "hamming verify on candidates only.")

    from bloom_filter_spark.functions import sampling
    add("A-ES weighted sampling (global top-k)",
        sampling.weighted_sample_topk(docs, "doc_id", "n_chars", k=100),
        "TakeOrderedAndProject above MapInPandas: per-partition top-k, "
        "k·P rows to the driver, NO sort/shuffle of the data — the "
        "optimizer IS the distributed weighted reservoir merge.")

    add("Sequence-packing offsets (distributed prefix sum)",
        sampling.pack_offsets(docs, "doc_id", "n_chars", 2048),
        "ONE range Exchange of (id, len), sortWithinPartitions, a "
        "vectorized MapInArrow running sum (checkpoint-pinned so the "
        "base-offset fold and the result read one evaluation), and a "
        "BroadcastHashJoin of the P-row base table — global "
        "concat-then-chunk offsets with no single-task global-order "
        "window and no second data shuffle.")

    from bloom_filter_spark.functions.joins import asof_join, range_join
    from bloom_filter_spark.plans.pipeline_queries import (
        ERR_WINDOW_US, event_projections)
    purch, clicks, errors = event_projections(spark, "/root/testdata/sf0.1")
    add("Backward as-of join",
        asof_join(purch, clicks, key="user_id", left_ts="purchase_ts",
                  right_ts="ts_us", right_cols=["click_id", "click_value"],
                  tie_col="click_id"),
        "Union + ONE Exchange on the key + running-frame Window (last "
        "ignorenulls): no inequality join, no per-key explosion — both "
        "sides move exactly once.")

    add("Time-sliced as-of join (hot-key skew defense)",
        asof_join(purch, clicks, key="user_id", left_ts="purchase_ts",
                  right_ts="ts_us", right_cols=["click_id", "click_value"],
                  tie_col="click_id", n_slices=8),
        "Window partitions are (key, slice) — a hot key's rows split "
        "across slices instead of one task; the seed subplan is a per-key "
        "running last over SLICE-LEVEL rows (≤ 2 per key per slice), never "
        "the data. Slice boundaries come from a t-digest sketch pass.")

    from bloom_filter_spark.operators import build_delta_shard_partials
    from bloom_filter_spark.operators.merge import _byte_fanin, _merge_levels
    from bloom_filter_spark.sketches import CountingBloomSketch
    cb = CountingBloomSketch(BloomParams(n=600_005, p=0.01))
    chg = toks.select("doc_id", F.lit(1).alias("sign"))
    add("Counting-bloom changelog fold (the one changelog fold, sharded)",
        _merge_levels(
            build_delta_shard_partials(chg, cb, "doc_id", "sign", "str"), cb,
            _byte_fanin(cb.state_bytes_max // cb.shard_count()),
            keys=("shard_id",), fold=type(cb).merge_shard_blobs),
        "Scan → MapInArrow emits column-range (shard_id, src, state) rows "
        "at FULL scan parallelism (no coalesce); every changelog build, at "
        "any filter width, takes this fold.  Shown is the merge route past "
        "the driver budget (P × state_bytes_max > DRIVER_COLLECT_MAX_BYTES), "
        "the keyed router's _merge_levels keyed by shard_id: "
        "the only Exchange carries shard rows into groupBy(shard_id) — "
        "state width becomes merge parallelism, and per-reducer memory is "
        "one shard, byte-bounded by fanin pre-levels when partials-per-shard "
        "exceed the merge budget.  Within the budget the plan ends at the "
        "MapInArrow: the driver collects the sparse shard rows and folds "
        "each shard itself.")

    add("Decontamination (broadcast Bloom prefilter + exact confirm)",
        dedup.contamination_check(
            docs.where(F.col("doc_id") % 10 != 0),
            docs.where(F.col("doc_id") % 10 == 0)),
        "Train n-grams are generated JVM-side (transform over a sliding "
        "sequence), prefiltered by the broadcast Bloom UDF BEFORE any "
        "Exchange, and the confirm join is BroadcastHashJoin on the tiny "
        "eval gram set — the train corpus never shuffles; the only "
        "aggregation Exchange carries (doc_id, count) rows.")

    add("Boilerplate n-gram detection",
        dedup.boilerplate_ngrams(docs, min_docs=5),
        "Document frequency is ONE partial-agg groupBy over distinct "
        "(doc, gram) pairs (word-count shape); the boilerplate set joins "
        "back as a BroadcastHashJoin — no second full shuffle, nothing "
        "all-pairs.")

    add("Bucketed range join",
        range_join(clicks.select("user_id", "click_id",
                                 F.col("ts_us").alias("click_ts")),
                   errors, key="user_id", point_ts="click_ts",
                   start_ts="err_start", end_ts="err_end",
                   bucket=ERR_WINDOW_US),
        "Intervals explode to ≤2 bucket rows; candidates from a plain "
        "(key, bucket) equi-join (SortMergeJoin/BHJ — NEVER "
        "BroadcastNestedLoopJoin); the exact BETWEEN filter runs on "
        "candidates only.")

    add("Deterministic epoch shuffle",
        sampling.epoch_shuffle(docs, "doc_id", epoch=1),
        "ONE range Exchange on the md5 shuffle key + partition-LOCAL sorts "
        "(`Sort ..., false`): a global permutation without a global sort — "
        "reading partitions in index order yields the total order.")

    add("Per-group rank trimming",
        sampling.trim_by_group_rank(docs, "n_chars", "source", 0.05, 0.95),
        "One hash Exchange on the group + per-group sort + Window "
        "percent_rank; the filter runs on the rank column — exact rational "
        "arithmetic, no value interpolation, no second shuffle.")

    add("Data-mixture sampling (epoch factors)",
        sampling.mixture_sample(docs, "doc_id", "source",
                                {"src0": 2.5, "src1": 0.3}),
        "Project + row-local Generate (explode of the per-row copy "
        "sequence) — join-free and shuffle-free; the multiplicity is a "
        "pure function of (id, source).")

    from bloom_filter_spark.functions.relational import tpch_q4, tpch_q5
    add("TPC-H Q4-style EXISTS (priority check)",
        tpch_q4(spark, "/root/testdata/sf0.1"),
        "The EXISTS is a LEFT SEMI join (no row multiplication); both date "
        "predicates sit in PushedFilters; AQE may broadcast the filtered "
        "quarter of orders.")

    add("TPC-H Q5 (local-supplier volume)",
        tpch_q5(spark, "/root/testdata/sf0.1"),
        "region→nation→supplier is a broadcast dimension chain; the "
        "nation-locality predicate (c_nationkey = s_nationkey) rides the "
        "supplier join as an extra equi-key — never a post-join filter "
        "over a wider product.")

    add("Keep-one dedup enforcement (anti-join)",
        dedup.apply_keep_policy(
            docs, spark.createDataFrame([(0, 0)],
                                        "doc_id long, cluster_id long")),
        "One LEFT ANTI equi-join against the clustered-non-representative "
        "sliver (broadcastable); the corpus is scanned once and never "
        "shuffled on content.")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("# Physical-plan evidence (explain format: formatted)\n\n"
                "Generated by tools/dump_plans.py at sf0.1 (dedup/ANN plans at "
                "realistic candidate sizes); plan SHAPES are "
                "scale-invariant (AQE may re-pick join strategies by size).\n\n"
                + "\n".join(sections))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
