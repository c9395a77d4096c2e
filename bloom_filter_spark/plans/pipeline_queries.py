"""Training-data pipeline + relational queries for the driver contract.

These run over the driver's testdata tables (documents / embeddings /
lineitem / orders / customer / nation / events), so their oracles are plain
SQL over the pre-registered DuckDB views — the strongest form of the
correctness check (exact value-hash equality, no fixture indirection).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions import (dedup, multimodal, relational, sampling, similarity,
                         textstats)

TOPK_QUERY_IDS = list(range(10))
COSINE_TAU = 0.45
JACCARD_TAU = 0.5


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- dedup
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_dedup_exact_incremental(spark, sf_dir):
    """Cross-run incremental exact dedup (dedup.exact_dedup_incremental):
    even doc_ids play yesterday's corpus (their dedup table is the prior
    state), odd doc_ids are today's ingestion.  The fold must equal the
    one-shot dedup of ALL documents — the oracle is the one-shot SQL."""
    docs = _docs(spark, sf_dir)
    prior = dedup.exact_dedup(docs.where(F.col("doc_id") % 2 == 0))
    return dedup.exact_dedup_incremental(prior,
                                         docs.where(F.col("doc_id") % 2 == 1))


def q_minhash_incremental(spark, sf_dir):
    """Cross-run incremental near-dup (dedup.minhash_lsh_pairs_incremental):
    prior run = even doc_ids (pairs + persisted band state); incremental
    run verifies only pairs touching the odd-id ingestion, reading old
    text solely for candidate docs.  prior ∪ incremental must equal the
    one-shot pair set over all documents — same exact-Jaccard SQL oracle
    as dedup_minhash_lsh."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    prior = dedup.minhash_lsh_pairs(old, threshold=JACCARD_TAU)
    inc = dedup.minhash_lsh_pairs_incremental(
        new, dedup.minhash_bands(old), old, threshold=JACCARD_TAU)
    return prior.unionByName(inc)


def q_ngram_jaccard(spark, sf_dir):
    # df_cap=1000 is the scale configuration (hot-shingle candidate bound);
    # exactness at this cap is proven vs the uncapped twin in
    # tests/test_pipeline_functions.py and by the uncapped DuckDB oracle.
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir),
                                     threshold=JACCARD_TAU, df_cap=1000)


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=JACCARD_TAU)


def q_simhash(spark, sf_dir):
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=7)


def q_apply_keep_policy(spark, sf_dir):
    """Dedup ENFORCEMENT (dedup.apply_keep_policy): the corpus that
    survives keep-one dedup over the minhash near-dup clusters — cluster
    representatives (min id) plus all unclustered docs, via one LEFT ANTI
    join against the non-representative sliver.  Oracle: documents minus
    the recursive-CTE clusters' non-representatives."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=JACCARD_TAU)
    kept = dedup.apply_keep_policy(docs, dedup.near_dup_clusters(pairs))
    return kept.select("doc_id", "source")


def q_neardup_clusters(spark, sf_dir):
    """Connected components over the minhash-LSH near-dup graph via
    distributed min-label propagation — the keep-one dedup policy's cluster
    assignment.  Oracle: transitive closure (recursive CTE) over the exact
    Jaccard pair set, cluster_id = min reachable node."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=JACCARD_TAU)
    return dedup.near_dup_clusters(pairs)


# ---------------------------------------------------------------- similarity
def q_cosine_topk(spark, sf_dir):
    return similarity.brute_force_topk(_emb(spark, sf_dir), TOPK_QUERY_IDS, k=5)


def q_cosine_neardup(spark, sf_dir):
    return similarity.neardup_pairs(_emb(spark, sf_dir), threshold=COSINE_TAU)


def q_quantized_topk(spark, sf_dir):
    """Two-stage retrieval: int8-quantized cosine candidate ranking + exact
    float rescore (similarity.quantized_topk).  The quantized integers make
    the candidate stage bit-reproducible, so the ENTIRE pipeline — including
    the approximate ranking — hash-matches an identical-arithmetic oracle."""
    return similarity.quantized_topk(_emb(spark, sf_dir), TOPK_QUERY_IDS, k=5)


# Measured ANN recall at the driver's correctness scale (sf0.01, fixed
# seeds → fully deterministic: seeded hyperplanes/quantizer, deterministic
# fixture, id-tie-broken top-k): LSH 4-bit×8-table measures exactly 0.70,
# IVF 4/16-cell exactly 0.60.  Bounds sit 0.10 below the measured value —
# tight enough to catch a recall regression of a few neighbors per query
# (not just a broken bucket join driving recall to ~k/N), loose enough to
# absorb a deliberate re-seed.
ANN_RECALL_BOUNDS = {"lsh": 0.60, "ivf": 0.50}


def _ann_recall_row(spark, ann, exact, k: int, bound: float):
    """Hash-comparable ANN summary: (n_queries, n_results, recall ≥ bound)
    — the bloom_membership_fpr pattern; the approximate output itself is
    never hash-compared, the exhaustive-twin queries cover exactness."""
    hits = (ann.select("query_id", "neighbor_id")
            .join(exact.select("query_id", "neighbor_id"),
                  ["query_id", "neighbor_id"]).count())
    n_results = ann.count()
    n_queries = len(TOPK_QUERY_IDS)
    recall = hits / (n_queries * k)
    return spark.createDataFrame(
        [(n_queries, n_results, bool(recall >= bound))],
        "n_queries bigint, n_results bigint, recall_ge_bound boolean")


def q_lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    ann = similarity.lsh_topk(emb, TOPK_QUERY_IDS, k=5)
    exact = similarity.brute_force_topk(emb, TOPK_QUERY_IDS, k=5)
    return _ann_recall_row(spark, ann, exact, k=5,
                           bound=ANN_RECALL_BOUNDS["lsh"])


def q_ivf_topk(spark, sf_dir):
    # recall path: scan 4 of 16 cells per query
    emb = _emb(spark, sf_dir)
    ann = similarity.ivf_topk(emb, TOPK_QUERY_IDS, k=5,
                              n_lists=16, n_probe=4)
    exact = similarity.brute_force_topk(emb, TOPK_QUERY_IDS, k=5)
    return _ann_recall_row(spark, ann, exact, k=5,
                           bound=ANN_RECALL_BOUNDS["ivf"])


def q_ivf_topk_fullprobe(spark, sf_dir):
    # n_probe == n_lists: exhaustive through the SAME partition/join/scoring
    # pipeline, so the exact brute-force SQL is the oracle — proves the IVF
    # cell partition loses/duplicates no vector
    return similarity.ivf_topk(_emb(spark, sf_dir), TOPK_QUERY_IDS, k=5,
                               n_lists=16, n_probe=16)


def q_lsh_topk_fullprobe(spark, sf_dir):
    # n_bits=0 puts every vector in ONE bucket: the bucket-join pipeline
    # degenerates to an exhaustive scan, so the exact brute-force SQL is
    # the oracle — proves the candidate dedup + scoring + ranking stages
    # of lsh_topk are exact (same pattern as embedding_ivf_topk_fullprobe)
    return similarity.lsh_topk(_emb(spark, sf_dir), TOPK_QUERY_IDS, k=5,
                               n_bits=0, n_tables=1)


def q_lsh_neardup(spark, sf_dir):
    # 4-bit × 64-table hyperplane LSH: per-pair miss ≈ (1-0.648^4)^64 ≈ 4e-6
    # at sim = τ = 0.45, so with the fixed seed the candidate set provably
    # covers every exact pair in the fixture (verified in pytest at every
    # sf) and the exact-cosine verify makes the output EQUAL the exact
    # pair set — the same oracle as embedding_cosine_neardup applies.
    return similarity.lsh_neardup_pairs(_emb(spark, sf_dir), threshold=COSINE_TAU,
                                        n_bits=4, n_tables=64)


# ---------------------------------------------------------------- text stats
def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination over the documents table: eval set = docs
    with doc_id ≡ 0 (mod 10), train = the rest; flag train docs sharing any
    word trigram with the eval set (dedup.contamination_check — broadcast
    Bloom prefilter + exact confirm join)."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr = docs.where(F.col("doc_id") % 10 != 0)
    return dedup.contamination_check(tr, ev)


def q_boilerplate_ngrams(spark, sf_dir):
    """Repeated-span detection: word trigrams in ≥ 5 distinct docs are
    boilerplate; per-doc counts + 6-dp ratio (dedup.boilerplate_ngrams)."""
    return dedup.boilerplate_ngrams(_docs(spark, sf_dir), min_docs=5)


SPAN_WIDTH = 5


def q_repeated_spans(spark, sf_dir):
    """Substring-level exact dedup (dedup.repeated_spans): 5-word spans
    verbatim-repeated across ≥ 2 distinct docs, merged into maximal
    per-doc runs with 0-based word positions — the excision list a
    curation pipeline feeds back into the corpus.  Exact SQL oracle:
    the same lead-concat spans + gaps-and-islands run merge in DuckDB."""
    return dedup.repeated_spans(_docs(spark, sf_dir), width=SPAN_WIDTH,
                                min_docs=2)


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT = "r4"

_SHUFFLE_EPOCH, _SHUFFLE_SALT = 2, "r5"
# oversample ×2.5, fractional-only ×0.3, drop ×0, default ×1.0 — one query
# exercises every arm of the mixture arithmetic
_MIX_EPOCHS = {"src0": 2.5, "src1": 0.3, "src2": 0.0}
TFIDF_K = 5


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch corpus shuffle (sampling.epoch_shuffle):
    shuffle_key = md5(id ‖ 'e<epoch>' ‖ salt), realized as ONE range
    Exchange + per-partition sorts — never a global sort.  The driver's
    order-insensitive compare pins the key arithmetic against the
    identical-md5 DuckDB oracle; the global-order property itself is
    pytest-pinned (collect order == key order across partitions)."""
    docs = _docs(spark, sf_dir)
    return sampling.epoch_shuffle(docs, "doc_id", epoch=_SHUFFLE_EPOCH,
                                  salt=_SHUFFLE_SALT) \
        .select("doc_id", "shuffle_key")


def q_mixture_sample(spark, sf_dir):
    """Per-source epoch mixing (sampling.mixture_sample): src0 ×2.5
    (2 full copies + hash-gated third), src1 ×0.3 (fractional only),
    src2 ×0 (dropped), everything else ×1.  Join- and shuffle-free;
    oracle recomputes the identical md5 + floor arithmetic with
    generate_series."""
    docs = _docs(spark, sf_dir)
    return sampling.mixture_sample(docs, "doc_id", "source", _MIX_EPOCHS) \
        .select("doc_id", "source", "copy")


def q_temperature_mixture(spark, sf_dir):
    """Temperature-based source rebalancing (sampling.temperature_mixture,
    α=0.5): per-source epoch factors derived from the corpus's own counts
    (q_i ∝ √n_i), quantized once to integer micro-epochs so every copy /
    hash-threshold decision downstream is pure integer arithmetic.  The
    oracle recomputes the identical expression tree (ascending-source
    sequential Σ via ordered list_sum, IEEE sqrt, same ⌊·1e6+0.5⌋
    quantization, same md5 gate) with generate_series."""
    docs = _docs(spark, sf_dir)
    return sampling.temperature_mixture(docs, "doc_id", "source",
                                        alpha=0.5) \
        .select("doc_id", "source", "copy")


def q_trim_by_group_rank(spark, sf_dir):
    """Per-source rank-based length trimming (sampling.trim_by_group_rank):
    keep docs whose n_chars percent_rank within their source lies in
    [0.05, 0.95] — exact rational rank arithmetic, tie-insensitive, so
    DuckDB's percent_rank reproduces the kept set bit-for-bit."""
    docs = _docs(spark, sf_dir)
    return sampling.trim_by_group_rank(
        docs, "n_chars", "source", lower_q=0.05, upper_q=0.95,
        keep_rank=True).select("doc_id", "source", "n_chars", "pct_rank")


def q_tfidf_top_terms(spark, sf_dir):
    """Exact TF-IDF top-k characteristic terms per doc
    (textstats.tfidf_top_terms): two word-count groupBys + window top-k;
    scores rounded to 6 dp and tie-broken by term so both engines rank
    identically."""
    return textstats.tfidf_top_terms(_docs(spark, sf_dir), k=TFIDF_K)


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (sampling.hash_split):
    md5(doc_id || salt) against cumulative weight boundaries — stable
    under ingestion, reproducible across engines (the oracle recomputes
    the identical hash arithmetic in DuckDB)."""
    from ..functions import sampling
    return sampling.hash_split(_docs(spark, sf_dir), "doc_id",
                               _SPLIT_WEIGHTS, salt=_SPLIT_SALT) \
        .select("doc_id", "split")


def q_repetition_score(spark, sf_dir):
    """Intra-document repetition quality signal (textstats.repetition_score):
    per-doc n-gram total/distinct + repetition ratio + modal share."""
    return textstats.repetition_score(_docs(spark, sf_dir))


_BAL_RATES = {"en": 0.5, "de": 0.25}
_BAL_SALT = "bal"
_PACK_BUDGET = 2048


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (language balancing):
    sampling.stratified_hash_sample keeps a doc iff md5(doc_id || salt)
    falls under its language's rate threshold — nested across rates, exact
    oracle recomputes the identical arithmetic."""
    from ..functions import sampling
    return sampling.stratified_hash_sample(
        _docs(spark, sf_dir), "doc_id", "lang", _BAL_RATES,
        salt=_BAL_SALT).select("doc_id", "lang")


def q_pack_offsets(spark, sf_dir):
    """Concat-then-chunk packing layout (sampling.pack_offsets): global
    token-stream offsets via a distributed prefix sum (range partition +
    per-partition running sum + P-row base fold) — the oracle is the
    closed-form window cumsum."""
    from ..functions import sampling
    return sampling.pack_offsets(_docs(spark, sf_dir), "doc_id", "n_chars",
                                 budget=_PACK_BUDGET)


def q_pii_scan(spark, sf_dir):
    """PII detection + redaction (functions/pii.py): the synthetic corpus
    carries no PII, so the query deterministically injects emails / phones /
    IPv4s as a pure function of doc_id (identical CASE/concat arithmetic in
    the oracle) — real regex positives, engine-reproducible redaction
    (compared via md5 so long texts never cross the compare boundary)."""
    from ..functions import pii
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(
            F.lit(" contact doc"), d.cast("string"),
            F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(
            F.lit(" call 555-867-"),
            F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(
            F.lit(" from 10.0."), (d % 256).cast("string"),
            F.lit(".1"))).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).withColumn("text", aug)
    return pii.pii_scan(docs).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "has_pii",
        F.md5("redacted").alias("redacted_md5"))


def q_token_count(spark, sf_dir):
    return textstats.token_count(_docs(spark, sf_dir))


def q_token_count_bpe(spark, sf_dir):
    return textstats.token_count_bpe(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    return textstats.quality_score(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def q_langid(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def q_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation in ONE DAG — the composition a real
    pipeline runs: quality gate (keep mid/high) → exact dedup (keep the min
    doc_id per content hash) → language ID → per-language corpus stats.
    Every stage is an already-oracle-verified operator; this query verifies
    their COMPOSITION against one SQL oracle."""
    docs = _docs(spark, sf_dir)
    quality_keep = (textstats.quality_score(docs)
                    .where(F.col("quality_bucket").isin("high", "mid"))
                    .select("doc_id"))
    dedup_keep = (dedup.exact_dedup(docs)
                  .select(F.col("keep_doc_id").alias("doc_id")))
    kept = docs.select("doc_id").join(quality_keep, "doc_id").join(dedup_keep, "doc_id")
    lang = textstats.lang_id(docs)
    tok = textstats.token_count(docs)
    return (kept.join(lang, "doc_id").join(tok, "doc_id")
            .groupBy("lang_pred")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_words").cast("long").alias("sum_words"),
                 F.sum("n_distinct_words").cast("long").alias("sum_distinct_words")))


# ---------------------------------------------------------------- multimodal
def q_multimodal_meta(spark, sf_dir):
    payload = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    feats = multimodal.extract_features(payload)
    return feats.select("doc_id", "n_bytes", "fake_width", "fake_height")


def q_quantize_embeddings(spark, sf_dir):
    """Symmetric int8 embedding quantization
    (similarity.quantize_embeddings_int8): one zero-copy mapInArrow pass
    over the flat float32 buffer; the oracle recomputes the identical
    scale + floor(x+0.5) half-up arithmetic per element and must match
    the integer summaries exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from ..functions.similarity import quantize_embeddings_int8
    return quantize_embeddings_int8(emb)


def _docs_jsonl_dir(sf_dir: str) -> str:
    """Write the documents table as deterministic JSONL (sorted keys, one
    object per line, stdlib json) — the source-format fixture for the
    JSON reader path."""
    import json as _json

    from ..sources.fixtures import FIXTURE_ROOT, sf_name_of_dir
    out = os.path.join(os.path.abspath(FIXTURE_ROOT), sf_name_of_dir(sf_dir),
                       "docs_jsonl")
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        import pyarrow.parquet as pq
        os.makedirs(out, exist_ok=True)
        t = pq.read_table(f"{sf_dir}/documents.parquet")
        with open(os.path.join(out, "docs.jsonl"), "w") as f:
            for row in t.to_pylist():
                f.write(_json.dumps(row, sort_keys=True) + "\n")
        open(marker, "w").close()
    return out


def q_docs_jsonl_source(spark, sf_dir):
    """Source-format breadth: the documents corpus ingested from JSONL
    (spark.read.json with a PINNED schema — no sampling inference job)
    must aggregate identically to the parquet table, which is the oracle.
    Proves the JSON source path end-to-end: schema application, type
    coercion, and row fidelity."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    path = _docs_jsonl_dir(sf_dir)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ])
    docs = spark.read.schema(schema).json(f"{path}/docs.jsonl")
    return (docs.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.count(F.col("text")).cast("long").alias("n_texts"),
                 F.min("doc_id").alias("min_doc_id")))


FRAME_EVERY_N = 16


def q_multimodal_frames(spark, sf_dir):
    """Video-style frame-sampling plumbing (multimodal.frame_sample_stub):
    n_frames = max(bytes // 16, 1) fixed windows, keep every 16th
    (ceil-div) — the decode is the honest stub, but the schema, batching
    and sampling arithmetic are real and exactly SQL-reproducible."""
    payload = multimodal.attach_binary_payload(_docs(spark, sf_dir))
    return multimodal.frame_sample_stub(payload, every_n=FRAME_EVERY_N)


# ---------------------------------------------------------------- streaming
def _split_table_stream_dir(sf_dir: str, table_file: str,
                            subdir: str) -> str:
    """Split one testdata table into 4 deterministic parquet files (row
    order, pyarrow — no Spark write nondeterminism) so a file-source
    stream runs 4 micro-batches with maxFilesPerTrigger=1.  Shared by the
    events and documents stream fixtures."""
    from ..sources.fixtures import FIXTURE_ROOT, sf_name_of_dir
    out = os.path.join(os.path.abspath(FIXTURE_ROOT), sf_name_of_dir(sf_dir),
                       subdir)
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        import pyarrow.parquet as pq
        os.makedirs(out, exist_ok=True)
        t = pq.read_table(f"{sf_dir}/{table_file}")
        n = t.num_rows
        bounds = [0, n // 4, n // 2, 3 * n // 4, n]
        for i in range(4):
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(out, f"part-{i}.parquet"))
        open(marker, "w").close()
    return out


def _docs_stream_dir(sf_dir: str) -> str:
    return _split_table_stream_dir(sf_dir, "documents.parquet",
                                   "docs_stream")


def q_streaming_exact_dedup(spark, sf_dir):
    """Cross-batch streaming exact dedup
    (streaming.StreamingDedupAccumulator): a 4-file availableNow document
    stream folds per-batch content-hash groups with the incremental-dedup
    monoid — the final table must EQUAL the one-shot batch dedup of all
    documents, which is the SQL oracle (same oracle as dedup_exact)."""
    from ..streaming.stream_build import streaming_exact_dedup
    path = _docs_stream_dir(sf_dir)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return streaming_exact_dedup(spark, path, schema)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _events_stream_dir(sf_dir: str) -> str:
    return _split_table_stream_dir(sf_dir, "events.parquet",
                                   "events_stream")


def q_streaming_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window streaming agg over a 4-file stream
    (availableNow) — in complete mode the final result table must EQUAL the
    batch group-by-hour aggregation, which is the SQL oracle.  Event time is
    TIMESTAMP_NTZ end-to-end so the comparison is timezone-proof."""
    from ..streaming.stream_build import windowed_event_counts
    path = _events_stream_dir(sf_dir)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the stream's state store inherits shuffle.partitions at query start;
    # 32 partitions x 4 micro-batches of a small table is pure task
    # overhead — scope a smaller count to this one-shot query and restore
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = windowed_event_counts(spark, path, schema,
                                    window="1 hour", watermark="2 hours")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", F.col("n").cast("long").alias("n"), "sum_value")


def q_streaming_windowed_distinct(spark, sf_dir):
    """Streaming × sketch: per-hour distinct users via HLL states folded
    per micro-batch (GroupedStreamAccumulator over a 4-file availableNow
    stream).  Commutative register-max ⇒ the streamed per-window states are
    bit-equal to ONE batch grouped build under any file split (pinned by
    the ``streaming_equals_batch`` column); each window's estimate is
    checked within 6σ of the exact distinct (bloom_membership_fpr
    pattern — the oracle pins the exact counts and the booleans)."""
    from ..operators import build_grouped
    from ..sketches import HLLParams, HLLSketch
    from ..streaming.stream_build import (GroupedStreamAccumulator,
                                          _run_stream_fold)
    path = _events_stream_dir(sf_dir)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    def prep(df):
        return df.select(
            F.date_format(F.date_trunc("hour", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("group"),
            F.col("user_id").alias("v"))

    sk = HLLSketch(HLLParams(b=12))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        acc = _run_stream_fold(spark, path, events.schema,
                               GroupedStreamAccumulator(sk, prep, "i64"), 1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    stream_blobs = acc.blobs()
    batch_blobs = {r.group: bytes(r.state) for r in build_grouped(
        prep(events), sk, "group", "v", "i64", strategy="mapside").collect()}
    equal = batch_blobs == stream_blobs and acc.epochs >= 2
    exact = {r.group: r.d for r in prep(events).groupBy("group")
             .agg(F.countDistinct("v").alias("d")).collect()}
    rse = 1.04 / (2 ** (sk.params.b / 2))
    rows = []
    for g in sorted(exact):
        _, st = HLLSketch.deserialize(stream_blobs[g])
        est = sk.estimate(st)
        # +3 absolute slack: 6σ of a relative bound is vacuous for
        # single-digit windows
        ok = abs(est - exact[g]) <= 6 * rse * exact[g] + 3
        rows.append((g, int(exact[g]), bool(ok), bool(equal)))
    return spark.createDataFrame(
        rows, "window_start string, exact_distinct bigint, "
              "within_bound boolean, streaming_equals_batch boolean")


def q_streaming_windowed_value_quantiles(spark, sf_dir):
    """Streaming × sketch: per-hour value quantiles (p50/p99) via DDSketch
    states folded per micro-batch (GroupedStreamAccumulator over the
    4-file availableNow stream).  DDSketch merges are key-wise counter
    sums — BIT-identical under any order — so the streamed per-window
    states must equal ONE batch grouped build exactly (pinned by the
    ``streaming_equals_batch`` column; for KLL/t-digest only the bounds
    would transfer, for DDSketch the bytes do).  Each window's estimate
    is then checked DISTRIBUTED against the α relative-error guarantee
    with the conditional-count bracket (``DDSketch.bracket`` — the same
    single-source bound as ``ddsketch_ntok_quantiles``): est(q) brackets
    the true ⌊q·(n−1)⌋-rank item iff count(v < lo) ≤ r AND
    count(v ≤ hi) ≥ r+1 — one broadcast join of the 720×2
    (window, bounds) rows onto the events scan, one hash agg.  n per
    window comes from the sketch state and must match the oracle's exact
    count (value has no NULL/NaN here)."""
    from ..operators import build_grouped
    from ..sketches import DDSketch, DDSketchParams
    from ..streaming.stream_build import (GroupedStreamAccumulator,
                                          _run_stream_fold)
    path = _events_stream_dir(sf_dir)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    def prep(df):
        return df.select(
            F.date_format(F.date_trunc("hour", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("group"),
            F.col("value").alias("v"))

    sk = DDSketch(DDSketchParams(alpha=0.01))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        acc = _run_stream_fold(spark, path, events.schema,
                               GroupedStreamAccumulator(sk, prep, "f64"), 1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    stream_blobs = acc.blobs()
    batch_blobs = {r.group: bytes(r.state) for r in build_grouped(
        prep(events), sk, "group", "v", "f64", strategy="mapside").collect()}
    equal = batch_blobs == stream_blobs and acc.epochs >= 2
    qs = (0.5, 0.99)
    rows = []
    for g, blob in stream_blobs.items():
        _, st = DDSketch.deserialize(blob)
        # a collapsed store brackets only the quantiles above its collapsed
        # mass — fail LOUDLY here rather than let the bracket check below
        # flake (ADVICE r5; sketches/ddsketch.py module docstring)
        assert not st.collapsed, (
            f"DDSketch store collapsed for window {g}: quantiles at or "
            "below the collapsed mass lose the α bracket; raise max_bins "
            "for this data")
        for q, r, lo, hi in sk.bracket(st, qs):
            rows.append((g, q, st.n, r, lo, hi))
    bdf = spark.createDataFrame(
        rows, "group string, q double, n long, r long, lo double, hi double")
    return (prep(events).join(F.broadcast(bdf), "group")
            .groupBy("group", "q", "n", "r")
            .agg(F.sum((F.col("v") < F.col("lo")).cast("long")).alias("lt"),
                 F.sum((F.col("v") <= F.col("hi")).cast("long")).alias("le"))
            .select(F.col("group").alias("window_start"), "q",
                    F.col("n").alias("n"),
                    ((F.col("lt") <= F.col("r"))
                     & (F.col("le") >= F.col("r") + 1))
                    .alias("within_bound"),
                    F.lit(bool(equal)).alias("streaming_equals_batch")))


_LATE_T0 = 1_700_000_000 - (1_700_000_000 % 3600)  # hour-aligned base epoch
_LATE_DELAY = 5400  # 90-minute watermark


def _late_events_stream_dir(sf_dir: str) -> str:
    """Deterministic 4-file stream with engineered late rows (seed-fixed,
    sf-independent semantics).  Per batch: (hour, n_rows, max_ts sentinel);
    batch 1 carries late-but-open h0 rows (accepted), batches 2/3 carry
    late rows into already-finalized windows (dropped), and h4/h5 stay
    open at drain (never emitted).  File mtimes increase with batch id so
    the file source replays them in order."""
    from ..sources.fixtures import FIXTURE_ROOT, sf_name_of_dir
    base_dir = os.path.join(os.path.abspath(FIXTURE_ROOT),
                            sf_name_of_dir(sf_dir))
    out = os.path.join(base_dir, "late_events_stream")
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        import tempfile

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(base_dir, exist_ok=True)
        # build in a scratch dir, rename into place (atomic; mtimes — the
        # file-source replay order — survive the rename)
        tmp = tempfile.mkdtemp(prefix=".late_events_", dir=base_dir)
        rng = np.random.default_rng(4242)
        types = np.array(["view", "click", "buy"])
        # batch -> ([(hour, n_rows)...], (sentinel_hour, sentinel_offset)).
        # Spark's two-watermark semantics (SPARK-42376: late-row FILTER uses
        # the previous trigger's watermark, EVICTION the current one) make a
        # row in batch i dropped iff window_end <= wm(stats through batch
        # i-2).  Batch 2's h0/h1 rows therefore land one batch before that
        # threshold (accepted + merged in the very batch that evicts their
        # window), while batch 3's h0/h1 rows are hard-dropped; h4/h5 stay
        # open at drain and are never emitted.
        spec = {
            0: ([(0, 100), (1, 79)], (1, 3599)),
            1: ([(1, 60), (2, 120), (3, 89), (0, 40)], (3, 3599)),
            2: ([(3, 70), (4, 109), (0, 30), (1, 20), (2, 50)], (4, 3000)),
            3: ([(5, 129), (0, 30), (1, 20), (3, 35)], (5, 3599)),
        }
        for b, (parts, (sh, soff)) in spec.items():
            ts, bt = [], []
            for h, n in parts:
                # keep generated offsets strictly below the sentinel so the
                # batch max (watermark driver) is exactly the sentinel
                hi = soff if h == sh else 3599
                ts.append(_LATE_T0 + 3600 * h
                          + rng.integers(0, hi, n, dtype=np.int64))
            ts.append(np.array([_LATE_T0 + 3600 * sh + soff], np.int64))
            ts = np.concatenate(ts)
            n_rows = ts.size
            tbl = pa.table({
                "batch_id": pa.array(np.full(n_rows, b, np.int32)),
                "ts_epoch": pa.array(ts),
                "event_type": pa.array(types[rng.integers(0, 3, n_rows)]),
                "value": pa.array(rng.integers(0, 10000, n_rows) / 1000.0),
            })
            path = os.path.join(tmp, f"part-{b}.parquet")
            pq.write_table(tbl, path)
            base = 1_700_000_000
            os.utime(path, (base + 10 * b, base + 10 * b))
        open(os.path.join(tmp, "_complete"), "w").close()
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.exists(marker):  # genuine failure, not a race
                raise
            import shutil
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_streaming_late_data_drop(spark, sf_dir):
    """Append-mode watermarked windows over the engineered late-data
    stream (verdict r2 #5): the DuckDB oracle re-derives the watermark
    sequence from (batch_id, max ts) and reproduces the drop/emit set
    EXACTLY — late-open rows counted, late-closed rows dropped, windows
    still open at drain absent."""
    from ..streaming.stream_build import windowed_event_counts_append
    path = _late_events_stream_dir(sf_dir)
    schema = ("batch_id int, ts_epoch long, event_type string, "
              "value double")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = windowed_event_counts_append(
            spark, path, schema, window_secs=3600,
            watermark_secs=_LATE_DELAY)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return out.select("window_start_epoch", "event_type",
                      F.col("n").cast("long").alias("n"), "sum_value")


def _oracle_sf_dir() -> str:
    """Testdata dir the ORACLE side should read fixtures for: the driver
    gates at sf0.01; a local gate at another scale exports
    SPARK_GRAFT_ORACLE_SF (e.g. 'sf0.1') so fixture-backed oracles follow
    the gated scale instead of silently pinning sf0.01 (first sf0.1 gate
    run reported 24 false mismatches from exactly that pin)."""
    return "/root/testdata/" + os.environ.get("SPARK_GRAFT_ORACLE_SF",
                                              "sf0.01")


def _late_drop_sql(sf_dir_abs: str | None = None) -> str:
    sf_dir_abs = sf_dir_abs or _oracle_sf_dir()
    d = _late_events_stream_dir(sf_dir_abs)
    files = os.path.join(d, "part-*.parquet").replace("'", "''")
    return f"""
        WITH rows AS (SELECT * FROM read_parquet('{files}')),
        mx AS (SELECT batch_id, max(ts_epoch) AS m FROM rows GROUP BY batch_id),
        -- late-row filter watermark for batch i = stats through batch i-2
        -- (SPARK-42376: filtering lags eviction by one trigger)
        wmb AS (
            SELECT batch_id,
                   coalesce((SELECT max(m2.m) FROM mx m2
                             WHERE m2.batch_id <= mx.batch_id - 2), 0)
                   - {_LATE_DELAY} AS wm_filter
            FROM mx),
        fin AS (SELECT max(m) - {_LATE_DELAY} AS wm FROM mx),
        acc AS (
            SELECT r.*, r.ts_epoch - r.ts_epoch % 3600 AS wstart
            FROM rows r JOIN wmb w ON r.batch_id = w.batch_id
            WHERE r.ts_epoch - r.ts_epoch % 3600 + 3600 > w.wm_filter)
        SELECT CAST(wstart AS BIGINT) AS window_start_epoch, event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 4) AS sum_value
        FROM acc, fin
        WHERE wstart + 3600 <= fin.wm
        GROUP BY 1, 2
    """


def q_bloom_prefilter_join(spark, sf_dir):
    """Bloom-prefiltered dimension join must EQUAL the plain join: the
    broadcast Bloom drops most non-matching probe rows before the shuffle
    (zero FN ⇒ no matching row lost; FPs are removed by the join itself),
    so the rolled-up result is exactly SQL-reproducible.  This is the
    sketch engine applied to join pruning — the runtime-filter pattern a
    100-TB star join lives on."""
    from ..functions.joins import bloom_prefilter_join
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    high = orders.where(F.col("o_totalprice") > 150000).select("o_orderkey")
    joined, _stats = bloom_prefilter_join(li, high, "l_orderkey",
                                          "o_orderkey")
    return (joined.groupBy("l_returnflag")
            .agg(F.count("*").cast("long").alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_price"))
            .select("l_returnflag", "n_items", "sum_qty", "sum_price"))


# ---------------------------------------------------------------- relational
def q_tpch_q1(spark, sf_dir):
    return relational.tpch_q1(spark, sf_dir)


def q_tpch_q3(spark, sf_dir):
    return relational.tpch_q3(spark, sf_dir)


def q_tpch_q6(spark, sf_dir):
    return relational.tpch_q6(spark, sf_dir)


FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel_conversion(spark, sf_dir):
    """Ordered funnel view→click→purchase
    (relational.funnel_conversion): per-step aggregations chained by
    user-keyed equi-joins with strictly-increasing timestamps; the oracle
    reproduces the identical min-chain in SQL."""
    from ..functions.relational import funnel_conversion
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))))
    return funnel_conversion(ev, "user_id", "event_type", "ts_us",
                             FUNNEL_STEPS)


def q_lineitem_rollup_cube(spark, sf_dir):
    return relational.lineitem_rollup_cube(spark, sf_dir)


def q_user_running_spend(spark, sf_dir):
    return relational.user_running_spend(spark, sf_dir)


def q_event_type_pivot(spark, sf_dir):
    return relational.event_type_pivot(spark, sf_dir)


def q_tpch_q4(spark, sf_dir):
    return relational.tpch_q4(spark, sf_dir)


def q_tpch_q17(spark, sf_dir):
    return relational.tpch_q17(spark, sf_dir)


def q_tpch_q5(spark, sf_dir):
    return relational.tpch_q5(spark, sf_dir)


def q_tpch_q10(spark, sf_dir):
    return relational.tpch_q10(spark, sf_dir)


def q_tpch_q14(spark, sf_dir):
    return relational.tpch_q14(spark, sf_dir)


def q_tpch_q7(spark, sf_dir):
    return relational.tpch_q7(spark, sf_dir)


def q_tpch_q8(spark, sf_dir):
    return relational.tpch_q8(spark, sf_dir)


def q_tpch_q9(spark, sf_dir):
    return relational.tpch_q9(spark, sf_dir)


def q_tpch_q12(spark, sf_dir):
    return relational.tpch_q12(spark, sf_dir)


def q_tpch_q13(spark, sf_dir):
    return relational.tpch_q13(spark, sf_dir)


def q_tpch_q15(spark, sf_dir):
    return relational.tpch_q15(spark, sf_dir)


def q_tpch_q16(spark, sf_dir):
    return relational.tpch_q16(spark, sf_dir)


def q_tpch_q18(spark, sf_dir):
    return relational.tpch_q18(spark, sf_dir)


def q_tpch_q19(spark, sf_dir):
    return relational.tpch_q19(spark, sf_dir)


def q_tpch_q22(spark, sf_dir):
    return relational.tpch_q22(spark, sf_dir)


def q_tpch_q2(spark, sf_dir):
    return relational.tpch_q2(spark, sf_dir)


def q_tpch_q11(spark, sf_dir):
    return relational.tpch_q11(spark, sf_dir)


def q_tpch_q20(spark, sf_dir):
    return relational.tpch_q20(spark, sf_dir)


def q_tpch_q21(spark, sf_dir):
    return relational.tpch_q21(spark, sf_dir)


def q_top_customer_per_nation(spark, sf_dir):
    return relational.top_customer_per_nation(spark, sf_dir)


def q_sessionize(spark, sf_dir):
    return relational.sessionize_events(spark, sf_dir)


def q_event_type_stats(spark, sf_dir):
    return relational.event_type_stats(spark, sf_dir)


def q_shipdate_rollup(spark, sf_dir):
    return relational.lineitem_shipdate_rollup(spark, sf_dir)


ERR_WINDOW_US = 3_600_000_000  # 1 hour


def event_projections(spark, sf_dir):
    """(purchases, clicks, errors) projections over the events table with
    epoch-micro timestamps (NTZ-safe hop) — the shared input shape for the
    temporal-join queries, bench.py and tools/dump_plans.py."""
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))))
    purch = (ev.where(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"), "user_id",
                     F.col("ts_us").alias("purchase_ts")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", "ts_us",
                      F.col("event_id").alias("click_id"),
                      F.col("value").alias("click_value")))
    errors = (ev.where(F.col("event_type") == "error")
              .select("user_id", F.col("event_id").alias("error_id"),
                      F.col("ts_us").alias("err_start"),
                      (F.col("ts_us") + F.lit(ERR_WINDOW_US))
                      .alias("err_end")))
    return purch, clicks, errors


def q_events_asof_attribution(spark, sf_dir):
    """Backward as-of join (functions/joins.py::asof_join): each purchase
    attributed to the user's latest click at-or-before it — one shuffle on
    user_id, running-last window, no inequality join explosion.  Oracle:
    DuckDB's native ASOF LEFT JOIN.  Timestamps hop to epoch micros on both
    sides (NTZ-safe)."""
    from ..functions.joins import asof_join
    purch, clicks, _ = event_projections(spark, sf_dir)
    return asof_join(purch, clicks, key="user_id",
                     left_ts="purchase_ts", right_ts="ts_us",
                     right_cols=["click_id", "click_value"],
                     tie_col="click_id")


def q_events_asof_attribution_sliced(spark, sf_dir):
    """The SAME attribution join through the hot-key time-slice pre-split
    (``n_slices=4``, functions/joins.py::_asof_time_sliced): equi-depth
    t-digest slice boundaries, independent (key, slice) windows, one seed
    row per boundary — the plan a user would run on skewed keys, where a
    single hot user would otherwise serialize into one window task.
    Slicing must be invisible in results: this row shares the unsliced
    query's DuckDB native-ASOF oracle verbatim (VERDICT r4 #2)."""
    from ..functions.joins import asof_join
    purch, clicks, _ = event_projections(spark, sf_dir)
    return asof_join(purch, clicks, key="user_id",
                     left_ts="purchase_ts", right_ts="ts_us",
                     right_cols=["click_id", "click_value"],
                     tie_col="click_id", n_slices=4)


QPART_BUCKETS = 16


def q_quantile_partitioning(spark, sf_dir):
    """Equi-depth range partitioning from a distributed t-digest
    (functions/joins.py::repartition_by_quantiles) over the skewed
    l_extendedprice column: every BUCKET must receive ≈ 1/n of the rows
    (checked at 2× the ideal share — sketch quantile error + boundary
    point masses), and the physical plan must carry a RangePartitioning
    exchange.  The scalable answer to range-bucketing a skewed column: one
    sketch pass + repartitionByRange on computed boundaries, never a
    global sort of the data."""
    from ..functions.joins import (bucket_expr, quantile_buckets,
                                   repartition_by_quantiles)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # the equi-depth guarantee lives in the BUCKET histogram (deterministic
    # given the sketch); physical placement is the range exchange's job —
    # Spark's boundary sampling may merge two single-value buckets into one
    # partition, so partition row-counts are NOT the invariant to pin.
    bounds = quantile_buckets(li, "l_extendedprice", QPART_BUCKETS)
    counts = [int(r.n) for r in
              (li.select(bucket_expr("l_extendedprice", bounds).alias("b"))
               .groupBy("b").agg(F.count("*").alias("n"))).collect()]
    total = sum(counts)
    plan = (repartition_by_quantiles(li, "l_extendedprice", QPART_BUCKETS,
                                     bounds=bounds)
            ._jdf.queryExecution().executedPlan().toString())
    ok = (len(counts) == QPART_BUCKETS
          and max(counts) / total <= 2.0 / QPART_BUCKETS
          and "rangepartitioning" in plan.lower())
    return spark.createDataFrame(
        [(int(total), QPART_BUCKETS, bool(ok))],
        "total_rows bigint, n_buckets bigint, balanced_within_2x boolean")


_QPART_SQL = f"""
    SELECT CAST(count(*) AS BIGINT) AS total_rows,
           CAST({QPART_BUCKETS} AS BIGINT) AS n_buckets,
           TRUE AS balanced_within_2x
    FROM lineitem
"""


def q_events_range_join(spark, sf_dir):
    """Range join (functions/joins.py::range_join): every click inside a
    user's one-hour post-error window — bounded bucket explode + equi-join
    on (user_id, bucket), never an inequality/nested-loop plan.  Oracle:
    the naive SQL BETWEEN join."""
    from ..functions.joins import range_join
    _, clicks_full, errors = event_projections(spark, sf_dir)
    clicks = clicks_full.select("user_id", "click_id",
                                F.col("ts_us").alias("click_ts"))
    out = range_join(clicks, errors, key="user_id", point_ts="click_ts",
                     start_ts="err_start", end_ts="err_end",
                     bucket=ERR_WINDOW_US)
    return out.select("user_id", "click_id", "error_id", "click_ts",
                      "err_start")


_RANGE_SQL = f"""
    SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
           epoch_us(c.ts) AS click_ts, epoch_us(e.ts) AS err_start
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id
     AND epoch_us(c.ts) BETWEEN epoch_us(e.ts)
                            AND epoch_us(e.ts) + {ERR_WINDOW_US}
"""


_ASOF_SQL = """
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts,
           c.event_id AS click_id, c.value AS click_value,
           epoch_us(c.ts) AS ts_us_matched
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
"""


WSAMPLE_K = 100


def q_weighted_sample(spark, sf_dir):
    """A-ES weighted sampling without replacement, ∝ n_chars (the classic
    'sample documents proportional to length' curation draw).  Deterministic
    per-item keys (functions/sampling.py) make the draw reproducible and the
    oracle exact: the SQL re-sorts driver-side-recomputed log-keys."""
    out = sampling.weighted_sample_topk(_docs(spark, sf_dir), "doc_id",
                                        "n_chars", k=WSAMPLE_K)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("n_chars").cast("long").alias("n_chars"),
                      F.round("logkey", 6).alias("logkey"))


WSAMPLE_GROUP_K = 20


def q_weighted_sample_per_source(spark, sf_dir):
    """Stratified draw: an independent length-weighted 20-sample per source
    (window rank over the same deterministic keys — no driver bottleneck,
    payload never shuffles)."""
    out = sampling.weighted_sample_per_group(
        _docs(spark, sf_dir), "doc_id", "n_chars", "source",
        k=WSAMPLE_GROUP_K)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("source").alias("source"),
                      F.col("n_chars").cast("long").alias("n_chars"),
                      F.round("logkey", 6).alias("logkey"))


PIPELINE_QUERIES = {
    "docs_pii_scan": q_pii_scan,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_incremental": q_dedup_exact_incremental,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_minhash_incremental": q_minhash_incremental,
    "dedup_simhash": q_simhash,
    "dedup_neardup_clusters": q_neardup_clusters,
    "dedup_apply_keep_policy": q_apply_keep_policy,
    "embedding_cosine_topk": q_cosine_topk,
    "embedding_cosine_neardup": q_cosine_neardup,
    "embedding_quantized_topk": q_quantized_topk,
    "embedding_lsh_topk": q_lsh_topk,
    "embedding_lsh_topk_fullprobe": q_lsh_topk_fullprobe,
    "embedding_lsh_neardup": q_lsh_neardup,
    "embedding_ivf_topk": q_ivf_topk,
    "embedding_ivf_topk_fullprobe": q_ivf_topk_fullprobe,
    "text_contamination_check": q_contamination_check,
    "text_boilerplate_ngrams": q_boilerplate_ngrams,
    "text_repeated_spans": q_repeated_spans,
    "docs_hash_split": q_hash_split,
    "docs_stratified_sample": q_stratified_sample,
    "docs_pack_offsets": q_pack_offsets,
    "docs_epoch_shuffle": q_epoch_shuffle,
    "docs_mixture_sample": q_mixture_sample,
    "docs_temperature_mixture": q_temperature_mixture,
    "text_tfidf_top_terms": q_tfidf_top_terms,
    "docs_trim_by_group_rank": q_trim_by_group_rank,
    "streaming_exact_dedup": q_streaming_exact_dedup,
    "text_repetition_score": q_repetition_score,
    "text_token_count": q_token_count,
    "text_token_count_bpe": q_token_count_bpe,
    "text_quality": q_quality,
    "text_fingerprint": q_fingerprint,
    "text_langid": q_langid,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frame_sample": q_multimodal_frames,
    "embedding_quantize_int8": q_quantize_embeddings,
    "docs_jsonl_source": q_docs_jsonl_source,
    "curation_pipeline": q_curation_pipeline,
    "streaming_windowed_counts": q_streaming_windowed_counts,
    "streaming_windowed_distinct_hll": q_streaming_windowed_distinct,
    "streaming_windowed_value_quantiles": q_streaming_windowed_value_quantiles,
    "streaming_late_data_drop": q_streaming_late_data_drop,
    "bloom_prefilter_join": q_bloom_prefilter_join,
    "tpch_q1": q_tpch_q1,
    "events_funnel_conversion": q_funnel_conversion,
    "lineitem_rollup": q_lineitem_rollup_cube,
    "user_running_spend": q_user_running_spend,
    "event_type_pivot": q_event_type_pivot,
    "tpch_q3": q_tpch_q3,
    "tpch_q4": q_tpch_q4,
    "tpch_q17": q_tpch_q17,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q7": q_tpch_q7,
    "tpch_q8": q_tpch_q8,
    "tpch_q9": q_tpch_q9,
    "tpch_q12": q_tpch_q12,
    "tpch_q13": q_tpch_q13,
    "tpch_q15": q_tpch_q15,
    "tpch_q16": q_tpch_q16,
    "tpch_q18": q_tpch_q18,
    "tpch_q19": q_tpch_q19,
    "tpch_q22": q_tpch_q22,
    "tpch_q2": q_tpch_q2,
    "tpch_q11": q_tpch_q11,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
    "top_customer_per_nation": q_top_customer_per_nation,
    "events_sessionize": q_sessionize,
    "event_type_stats": q_event_type_stats,
    "lineitem_shipdate_rollup": q_shipdate_rollup,
    "weighted_sample_docs": q_weighted_sample,
    "weighted_sample_per_source": q_weighted_sample_per_source,
    "events_asof_attribution": q_events_asof_attribution,
    "events_asof_attribution_sliced": q_events_asof_attribution_sliced,
    "events_range_join": q_events_range_join,
    "quantile_range_partitioning": q_quantile_partitioning,
}

_STOP_SQL = "['the','a','an','of','to','in','and','is','on','for']"

# distinct (doc_id, word-trigram) pairs — the DuckDB mirror of
# dedup._shingles (split on ' ', sliding concat of 3, distinct per doc)
_TRIGRAM_CTE = """words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), pos AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS p FROM words
), tg AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY p)
           || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM pos QUALIFY lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
), tri AS (
  SELECT DISTINCT doc_id, g FROM tg
)"""

_CONTAMINATION_SQL = f"""
WITH {_TRIGRAM_CTE},
ev AS (SELECT DISTINCT g FROM tri WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id, g FROM tri WHERE doc_id % 10 <> 0),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
          FROM tr GROUP BY doc_id),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
         FROM tr JOIN ev USING (g) GROUP BY doc_id)
SELECT s.doc_id, s.n_grams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS contaminated
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""

# 5-word spans (SPAN_WIDTH) with 1-based word position p; p-1 aligns with
# Spark's 0-based posexplode index.  Mirrors dedup.repeated_spans exactly:
# doc-frequency over DISTINCT (doc, span), spans in ≥ 2 docs, then the
# gaps-and-islands merge of consecutive positions per doc.
_SPANS_SQL = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS p
        FROM words),
sp AS (SELECT doc_id, p - 1 AS p0,
              w || ' ' || lead(w) OVER win || ' ' || lead(w, 2) OVER win
                || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
                AS g
       FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY p)
       QUALIFY lead(w, 4) OVER win IS NOT NULL),
rep AS (SELECT g FROM (SELECT g, count(*) AS nd
                       FROM (SELECT DISTINCT doc_id, g FROM sp) GROUP BY g)
        WHERE nd >= 2),
occ AS (SELECT doc_id, p0 FROM sp JOIN rep USING (g)),
runs AS (SELECT doc_id, p0,
                p0 - row_number() OVER (PARTITION BY doc_id ORDER BY p0)
                    AS isl
         FROM occ)
SELECT doc_id, CAST(min(p0) AS BIGINT) AS start_pos,
       CAST(max(p0) AS BIGINT) AS end_pos,
       CAST(count(*) AS BIGINT) AS n_spans
FROM runs GROUP BY doc_id, isl
"""

_BOILERPLATE_SQL = f"""
WITH {_TRIGRAM_CTE},
bp AS (SELECT g FROM (SELECT g, count(*) AS df FROM tri GROUP BY g)
       WHERE df >= 5),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
          FROM tri GROUP BY doc_id),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boilerplate
         FROM tri JOIN bp USING (g) GROUP BY doc_id)
SELECT s.doc_id, s.n_grams,
       CAST(COALESCE(h.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
       round(CAST(COALESCE(h.n_boilerplate, 0) AS DOUBLE) / s.n_grams, 6)
           AS boilerplate_ratio
FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""

def _split_sql() -> str:
    """Mirror of sampling.hash_split's boundary arithmetic with the SAME
    integer boundary literals (int(cum_frac * 2^32), truncating)."""
    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc, cases = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        cases.append(f"WHEN h < {int(acc * (1 << 32))} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return f"""
SELECT doc_id, {case} AS split
FROM (SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                       || '{_SPLIT_SALT}'), 1, 8))
                  AS BIGINT) AS h
      FROM documents)
"""


def _stratified_sql() -> str:
    """Mirror of stratified_hash_sample's threshold arithmetic with the
    SAME integer literals."""
    cases = " ".join(
        f"WHEN lang = '{name}' THEN {int(r * (1 << 32))}"
        for name, r in _BAL_RATES.items())
    return f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                       || '{_BAL_SALT}'), 1, 8))
                  AS BIGINT) AS h
      FROM documents WHERE doc_id IS NOT NULL)
WHERE h < (CASE {cases} ELSE {1 << 32} END)
"""


# identical-arithmetic mirrors (md5 first-8-hex → BIGINT; truncating
# floor() before the BIGINT cast because DuckDB CAST rounds while Spark's
# double→long cast truncates)
_SHUFFLE_SQL = f"""
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                 || 'e{_SHUFFLE_EPOCH}{_SHUFFLE_SALT}'),
                            1, 8)) AS BIGINT) AS shuffle_key
FROM documents WHERE doc_id IS NOT NULL
"""

_MIX_CASE = " ".join(f"WHEN source = '{s}' THEN {e!r}"
                     for s, e in _MIX_EPOCHS.items())
_MIX_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8))
              AS BIGINT) AS h,
         CASE {_MIX_CASE} ELSE 1.0 END AS e
  FROM documents WHERE doc_id IS NOT NULL),
n AS (
  SELECT doc_id, source,
         CAST(floor(e) AS BIGINT)
           + CASE WHEN h < CAST(floor((e - floor(e)) * 4294967296.0)
                               AS BIGINT)
                  THEN 1 ELSE 0 END AS n_copies
  FROM base)
SELECT doc_id, source, CAST(u.copy AS BIGINT) AS copy
FROM n, unnest(generate_series(1, n_copies)) AS u(copy)
WHERE n_copies >= 1
"""

_TMIX_SQL = """
WITH cnt AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n
  FROM documents WHERE doc_id IS NOT NULL GROUP BY source),
tot AS (
  SELECT list_sum(list(sqrt(n) ORDER BY source)) AS S,
         CAST(sum(n) AS DOUBLE) AS T
  FROM cnt),
-- identical expression tree to sampling.temperature_mixture: one float
-- quantization to integer micro-epochs, then pure integer copy arithmetic
e AS (
  SELECT source,
         CAST(floor(1000000.0 * T * sqrt(n) / (S * n) + 0.5) AS BIGINT) AS e6
  FROM cnt, tot),
base AS (
  SELECT d.doc_id, d.source,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'tmix'),
                              1, 8)) AS BIGINT) AS h,
         e.e6
  FROM documents d JOIN e USING (source)
  WHERE d.doc_id IS NOT NULL),
n AS (
  SELECT doc_id, source,
         e6 // 1000000
           + CASE WHEN h < (e6 % 1000000) * 4294967296 // 1000000
                  THEN 1 ELSE 0 END AS n_copies
  FROM base)
SELECT doc_id, source, CAST(u.copy AS BIGINT) AS copy
FROM n, unnest(generate_series(1, n_copies)) AS u(copy)
WHERE n_copies >= 1
"""

_TFIDF_SQL = f"""
WITH w2 AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id IS NOT NULL
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM w2 WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
          FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM (SELECT t.doc_id, t.term, t.tf, d.df,
             round(t.tf * ln(nd.n_docs / d.df), 6) AS score,
             row_number() OVER (
                 PARTITION BY t.doc_id
                 ORDER BY round(t.tf * ln(nd.n_docs / d.df), 6) DESC,
                          t.term ASC) AS rank
      FROM tf t JOIN dfreq d USING (term) CROSS JOIN nd)
WHERE rank <= {TFIDF_K}
"""

_PACK_SQL = f"""
SELECT doc_id, n_chars,
       start_offset,
       start_offset // {_PACK_BUDGET} AS bin_id,
       start_offset % {_PACK_BUDGET} AS bin_offset
FROM (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - n_chars AS BIGINT)
             AS start_offset
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0)
"""


_REPETITION_SQL = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), pos AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS p FROM words
), tg AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY p)
           || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM pos QUALIFY lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
), per AS (
  SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams_total,
       CAST(count(*) AS BIGINT) AS n_grams_distinct,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS repetition_ratio,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_gram_frac
FROM per GROUP BY doc_id
"""

_JACCARD_SQL = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), pos AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS p FROM words
), tg AS (
  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY p)
           || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) AS g
  FROM pos QUALIFY lead(w, 2) OVER (PARTITION BY doc_id ORDER BY p) IS NOT NULL
), tri AS (
  SELECT DISTINCT doc_id, g FROM tg
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= {JACCARD_TAU}
"""

_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS sim
  FROM q, c WHERE neighbor_id != query_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""


_QUANTIZED_TOPK_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qz AS (SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
       FROM v),
qd AS (SELECT vec_id, v,
         CASE WHEN scale = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(least(greatest(
                     floor(x / scale + 0.5), -127.0), 127.0) AS BIGINT))
         END AS q
       FROM qz),
n AS (SELECT vec_id, v, q, list_dot_product(q, q) AS nq
      FROM qd WHERE list_dot_product(q, q) > 0),
s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        list_dot_product(a.q, b.q) / (sqrt(a.nq) * sqrt(b.nq)) AS simq_raw,
        round(list_cosine_similarity(a.v, b.v), 6) AS exact_sim
      FROM n a, n b
      WHERE a.vec_id < 10 AND b.vec_id != a.vec_id),
r AS (SELECT query_id, neighbor_id, round(simq_raw, 6) AS sim_q8, exact_sim,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY simq_raw DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM s)
SELECT query_id, neighbor_id, sim_q8, exact_sim, rank FROM r WHERE rank <= 5
"""


_COSINE_NEARDUP_SQL = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= {COSINE_TAU}
"""


def _wsample_fixture(sf_dir: str | None = None) -> str:
    """Log-key table for the weighted_sample_docs oracle: A-ES keys per doc
    computed DRIVER-SIDE with plain numpy over the documents parquet (an
    independent execution path from the mapInPandas kernel), written once.
    The DuckDB oracle re-sorts them and takes the same top-k — checking the
    distributed key computation AND the TakeOrderedAndProject selection."""
    from ..sources.fixtures import FIXTURE_ROOT, sf_name_of_dir
    sf_dir = sf_dir or _oracle_sf_dir()
    sf_name = sf_name_of_dir(sf_dir)
    out = os.path.join(os.path.abspath(FIXTURE_ROOT), sf_name,
                       "wsample_logkeys.parquet")
    if not os.path.exists(out):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(os.path.dirname(out), exist_ok=True)
        t = pq.read_table(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "n_chars"])
        ids = t.column("doc_id").to_numpy()
        w = t.column("n_chars").to_numpy()
        pos = w > 0
        keys = sampling.weighted_logkeys_np(ids[pos], w[pos],
                                            seed=sampling.hashing.DEFAULT_SEED)
        tmp = out + ".tmp"
        pq.write_table(pa.table({"doc_id": pa.array(ids[pos]),
                                 "logkey": pa.array(keys)}), tmp)
        os.replace(tmp, out)
    return out


def _wsample_sql() -> str:
    path = _wsample_fixture()
    return f"""
        -- + 0.0 normalizes IEEE -0.0 (DuckDB round keeps the sign of a
        -- tiny negative; Spark's round returns +0.0 — found at sf0.1 where
        -- the best A-ES key rounds to zero)
        SELECT t.doc_id, d.n_chars, round(t.logkey, 6) + 0.0 AS logkey
        FROM (SELECT doc_id, logkey FROM read_parquet('{path}')
              ORDER BY logkey DESC, doc_id LIMIT {WSAMPLE_K}) t
        JOIN documents d ON t.doc_id = d.doc_id
    """


def _wsample_group_sql() -> str:
    path = _wsample_fixture()
    return f"""
        SELECT doc_id, source, n_chars, round(logkey, 6) + 0.0 AS logkey
        FROM (SELECT t.doc_id, d.source, d.n_chars, t.logkey,
                     row_number() OVER (PARTITION BY d.source
                                        ORDER BY t.logkey DESC, t.doc_id) AS rn
              FROM read_parquet('{path}') t
              JOIN documents d ON t.doc_id = d.doc_id)
        WHERE rn <= {WSAMPLE_GROUP_K}
    """


def _simhash_fixture(sf_dir: str | None = None) -> str:
    """Signature table for the dedup_simhash oracle: simhash per doc computed
    DRIVER-SIDE with plain pandas/numpy over the documents parquet (no Spark
    — an independent execution path from the mapInPandas kernel), written
    once to the fixture root.  The DuckDB oracle brute-forces all-pairs
    hamming over it, which checks BOTH the distributed signature computation
    and the multi-probe banding's exact-recall claim.
    """
    from ..sources.fixtures import FIXTURE_ROOT, sf_name_of_dir
    sf_dir = sf_dir or _oracle_sf_dir()
    sf_name = sf_name_of_dir(sf_dir)
    out = os.path.join(os.path.abspath(FIXTURE_ROOT), sf_name,
                       "simhash_sigs.parquet")
    if not os.path.exists(out):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(os.path.dirname(out), exist_ok=True)
        t = pq.read_table(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "text"])
        sigs = dedup.simhash_signatures_np(t.column("text").to_pandas())
        pq.write_table(pa.table({"doc_id": t.column("doc_id"),
                                 "sig": pa.array(sigs.astype("int64"))}),
                       out)
    return out


def _simhash_sql() -> str:
    path = _simhash_fixture()
    return f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        FROM read_parquet('{path}') a
        JOIN read_parquet('{path}') b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 7
    """


def _langid_sql() -> str:
    """The trigram scorer is exactly SQL-expressible: pandas str.count and a
    replace-based occurrence count share non-overlapping left-to-right
    semantics, and the argmax tie-break is the profile declaration order
    (verified 0/500 mismatches on the sf0.01 corpus)."""
    from ..functions.textstats import _PROFILES

    def cnt(g: str) -> str:
        gq = g.replace("'", "''")
        return (f"CAST((length(lower(text)) - length(replace(lower(text), "
                f"'{gq}', ''))) / {len(g)} AS BIGINT)")

    parts = {lg: " + ".join(cnt(g) for g in grams)
             for lg, grams in _PROFILES.items()}
    cols = ", ".join(f"({expr}) AS s_{lg}" for lg, expr in parts.items())
    return f"""
        WITH s AS (SELECT doc_id, {cols} FROM documents)
        SELECT doc_id, CASE
          WHEN greatest(s_en, s_de, s_es, s_fr) < 2 THEN 'und'
          WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
          WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
          WHEN s_es >= s_fr THEN 'es'
          ELSE 'fr' END AS lang_pred
        FROM s
    """


def _curation_sql() -> str:
    """Composition oracle: reuses the exact SQL logic of the quality, exact-
    dedup, language-ID and token-count oracles as CTEs over the same table."""
    lang_cte = _langid_sql().strip()
    return f"""
        WITH lang AS ({lang_cte}),
        q AS (
          SELECT doc_id,
                 0.4 * (len(list_distinct(string_split(text,' '))) * 1.0
                        / len(string_split(text,' ')))
                 + 0.3 * least(1.0, ((length(text) - (len(string_split(text,' ')) - 1))
                        * 1.0 / len(string_split(text,' '))) / 6.0)
                 + 0.3 * least(1.0, len(string_split(text,' ')) / 64.0) AS score
          FROM documents
        ),
        quality_keep AS (SELECT doc_id FROM q WHERE score >= 0.5),
        dedup_keep AS (
          SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        tok AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                     AS n_distinct_words
          FROM documents
        )
        SELECT l.lang_pred,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(t.n_words) AS BIGINT) AS sum_words,
               CAST(sum(t.n_distinct_words) AS BIGINT) AS sum_distinct_words
        FROM quality_keep k
        JOIN dedup_keep d USING (doc_id)
        JOIN lang l USING (doc_id)
        JOIN tok t USING (doc_id)
        GROUP BY l.lang_pred
    """


# shared transitive-closure base for the two cluster-consuming oracles —
# one definition so a closure-SQL fix cannot silently diverge between them
_CLUSTERS_CTE = f"""WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
            edges AS (
              SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b AS a, doc_a AS b FROM pairs
            ),
            reach(src, dst) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
            clusters AS (
              SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            )"""


def pipeline_oracles() -> dict[str, str]:
    out = {
        # plain string (not an f-string): regex {m,n} braces stay literal
        "docs_pii_scan": """
            WITH aug AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0 THEN ' contact doc'
                          || CAST(doc_id AS VARCHAR) || '@example.com'
                        ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR) || '.1'
                        ELSE '' END AS t
              FROM documents),
            -- counts run on the PROGRESSIVELY redacted text (same fixed
            -- order as the engine: email → phone → ipv4) so each n_<cat>
            -- equals the placeholders in the final redaction (ADVICE r5)
            s1 AS (
              SELECT doc_id, t,
                     CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS INT) AS n_email,
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM aug),
            s2 AS (
              SELECT doc_id, n_email,
                     CAST(len(regexp_extract_all(t1,
                       '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phone,
                     regexp_replace(t1, '\\b\\d{3}-\\d{3}-\\d{4}\\b',
                       '<PHONE>', 'g') AS t2
              FROM s1)
            SELECT doc_id, n_email, n_phone,
                   CAST(len(regexp_extract_all(t2,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                     AS INT) AS n_ipv4,
                   (n_email > 0 OR n_phone > 0
                    OR len(regexp_extract_all(t2,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) > 0)
                     AS has_pii,
                   md5(regexp_replace(t2,
                     '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                     '<IP>', 'g')) AS redacted_md5
            FROM s2
        """,
        "text_langid": _langid_sql(),
        "curation_pipeline": _curation_sql(),
        "dedup_exact": """
            SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": _JACCARD_SQL,
        # connected components: transitive closure over the exact pair set
        # (tiny near-dup graph), cluster = min(node, reachable nodes)
        "dedup_neardup_clusters": f"""
            {_CLUSTERS_CTE}
            SELECT doc_id, cluster_id FROM clusters
        """,
        "dedup_apply_keep_policy": f"""
            {_CLUSTERS_CTE}
            SELECT d.doc_id, d.source
            FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
            WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
        """,
        # minhash recall at τ=0.5 is exact here: bands=64 × rows=2 ⇒
        # P(miss | j≥0.5) ≤ (1-0.25)^64 < 1e-8, and the candidate set is
        # exact-Jaccard-verified — so the oracle is the same exact pair set
        "dedup_minhash_lsh": _JACCARD_SQL,
        "embedding_cosine_topk": _COSINE_TOPK_SQL,
        "embedding_quantized_topk": _QUANTIZED_TOPK_SQL,
        # exhaustive IVF (n_probe = n_lists) must equal exact top-k: the
        # oracle catches any vector lost or duplicated by the cell partition
        "embedding_ivf_topk_fullprobe": _COSINE_TOPK_SQL,
        # single-bucket LSH (n_bits=0) is exhaustive through the bucket-join
        # pipeline: exact top-k SQL proves the candidate/rank stages exact
        "embedding_lsh_topk_fullprobe": _COSINE_TOPK_SQL,
        "embedding_cosine_neardup": _COSINE_NEARDUP_SQL,
        # LSH blocking recall at the fixture's sims is ≈1-4e-6 per pair with
        # the fixed seed (verified exhaustively in pytest), and candidates
        # are exact-cosine-verified — so the exact all-pairs SQL is the
        # legitimate oracle, mirroring the minhash-LSH precedent above
        "embedding_lsh_neardup": _COSINE_NEARDUP_SQL,
        "text_contamination_check": _CONTAMINATION_SQL,
        "text_boilerplate_ngrams": _BOILERPLATE_SQL,
        "text_repeated_spans": _SPANS_SQL,
        "docs_hash_split": _split_sql(),
        "docs_stratified_sample": _stratified_sql(),
        "docs_pack_offsets": _PACK_SQL,
        "docs_epoch_shuffle": _SHUFFLE_SQL,
        "docs_mixture_sample": _MIX_SQL,
        "docs_temperature_mixture": _TMIX_SQL,
        "text_tfidf_top_terms": _TFIDF_SQL,
        "docs_trim_by_group_rank": """
            SELECT doc_id, source, n_chars, pct_rank
            FROM (SELECT doc_id, source, n_chars,
                         round(percent_rank() OVER (PARTITION BY source
                                                    ORDER BY n_chars ASC),
                               6) AS pct_rank
                  FROM documents WHERE n_chars IS NOT NULL)
            WHERE pct_rank >= 0.05 AND pct_rank <= 0.95
        """,
        "text_repetition_score": _REPETITION_SQL,
        "text_token_count": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS n_distinct_words,
                   CAST(length(text) AS BIGINT) AS n_chars_check
            FROM documents
        """,
        "text_token_count_bpe": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "text_quality": f"""
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS lc
              FROM documents
            ), f AS (
              SELECT doc_id,
                     len(list_distinct(ws)) * 1.0 / len(ws) AS uniq_ratio,
                     (lc - (len(ws) - 1)) * 1.0 / len(ws) AS mean_word_len,
                     len(list_intersect(list_distinct(ws), {_STOP_SQL})) AS sk,
                     len(ws) AS nw
              FROM w
            ), s AS (
              SELECT doc_id, uniq_ratio, mean_word_len, sk,
                     0.4 * uniq_ratio + 0.3 * least(1.0, mean_word_len / 6.0)
                       + 0.3 * least(1.0, nw / 64.0) AS score
              FROM f
            )
            SELECT doc_id, round(uniq_ratio, 6) AS uniq_ratio,
                   round(mean_word_len, 6) AS mean_word_len,
                   CAST(sk AS BIGINT) AS stopword_kinds,
                   round(score, 6) AS quality,
                   CASE WHEN score >= 0.8 THEN 'high'
                        WHEN score >= 0.5 THEN 'mid' ELSE 'low' END AS quality_bucket
            FROM s
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS fingerprint
            FROM documents
        """,
        "docs_jsonl_source": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(count(text) AS BIGINT) AS n_texts,
                   min(doc_id) AS min_doc_id
            FROM documents GROUP BY lang
        """,
        "embedding_quantize_int8": """
            WITH u AS (
              SELECT vec_id, unnest(embedding) AS e FROM embeddings
            ), m AS (
              SELECT vec_id, max(abs(e)) / 127.0 AS scale
              FROM u GROUP BY vec_id
            ), q AS (
              SELECT u.vec_id,
                     CASE WHEN m.scale > 0
                          THEN CAST(greatest(least(floor(u.e / m.scale + 0.5),
                                                   127), -127) AS BIGINT)
                          ELSE 0 END AS qv
              FROM u JOIN m USING (vec_id)
            )
            SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
                   CAST(sum(qv) AS BIGINT) AS sum_q,
                   CAST(sum(abs(qv)) AS BIGINT) AS sum_abs_q,
                   CAST(max(qv) AS BIGINT) AS max_q,
                   CAST(min(qv) AS BIGINT) AS min_q
            FROM q GROUP BY vec_id
        """,
        "multimodal_frame_sample": f"""
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     greatest(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                              // 16, 1) AS n_frames
              FROM documents
            )
            SELECT doc_id, n_frames,
                   (n_frames + {FRAME_EVERY_N - 1}) // {FRAME_EVERY_N}
                       AS n_sampled
            FROM m
        """,
        # greatest(...,1) clamps mirror _decode_stub's max(...,1): an
        # empty payload yields (width,height)=(1,1), never a 0-division
        "multimodal_meta": """
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
              FROM documents
            ), w AS (
              SELECT doc_id, n_bytes,
                     greatest(CAST(floor(sqrt(n_bytes)) AS INTEGER), 1) AS fake_width
              FROM m
            )
            SELECT doc_id, n_bytes, fake_width,
                   greatest(CAST(floor(n_bytes / fake_width) AS INTEGER), 1)
                       AS fake_height
            FROM w
        """,
        "bloom_prefilter_join": """
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_price
            FROM lineitem
            JOIN (SELECT o_orderkey FROM orders
                  WHERE o_totalprice > 150000) o
              ON lineitem.l_orderkey = o.o_orderkey
            GROUP BY l_returnflag
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   revenue
            FROM (
              SELECT l_orderkey, o_orderdate,
                     round(sum(l_extendedprice * (1 - l_discount)), 4)
                         AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < DATE '1995-03-15'
                AND l_shipdate > DATE '1995-03-15'
              GROUP BY l_orderkey, o_orderdate)
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
        """,
        "lineitem_rollup": """
            SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
                   COALESCE(l_linestatus, '(all)') AS l_linestatus,
                   CAST(count(*) AS BIGINT) AS n_items,
                   round(sum(l_extendedprice), 4) AS sum_price,
                   CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                        AS BIGINT) AS gid
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "user_running_spend": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   round(sum(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW), 4)
                       AS cum_spend,
                   round(avg(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN 2 PRECEDING
                                              AND CURRENT ROW), 4)
                       AS ma3_spend
            FROM events WHERE event_type = 'purchase'
        """,
        "event_type_pivot": """
            SELECT user_id,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                       AS n_click,
                   CAST(count(*) FILTER (event_type = 'view') AS BIGINT)
                       AS n_view,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                       AS n_purchase,
                   CAST(count(*) FILTER (event_type = 'signup') AS BIGINT)
                       AS n_signup,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
                       AS n_error
            FROM events GROUP BY user_id
        """,
        "events_funnel_conversion": """
            WITH s1 AS (SELECT user_id AS u, min(epoch_us(ts)) AS ts
                        FROM events WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS ts
                   FROM events e JOIN s1 ON e.user_id = s1.u
                   WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.ts
                   GROUP BY 1),
            s3 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS ts
                   FROM events e JOIN s2 ON e.user_id = s2.u
                   WHERE e.event_type = 'purchase'
                     AND epoch_us(e.ts) > s2.ts
                   GROUP BY 1),
            c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                         (SELECT count(*) FROM s2) AS c2,
                         (SELECT count(*) FROM s3) AS c3)
            SELECT 1 AS step_idx, 'view' AS step,
                   CAST(c1 AS BIGINT) AS n_users,
                   round(c1 / greatest(c1, 1), 6) AS conversion FROM c
            UNION ALL
            SELECT 2, 'click', CAST(c2 AS BIGINT),
                   round(c2 / greatest(c1, 1), 6) FROM c
            UNION ALL
            SELECT 3, 'purchase', CAST(c3 AS BIGINT),
                   round(c3 / greatest(c1, 1), 6) FROM c
        """,
        "tpch_q4": """
            SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= '1996-01-01'
              AND o.o_orderdate < '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        "tpch_q10": """
            SELECT c.c_custkey, c.c_name, n.n_name,
                   round(c.c_acctbal, 2) AS c_acctbal,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE o.o_orderdate >= '1996-01-01'
              AND o.o_orderdate < '1996-04-01'
              AND l.l_returnflag = 'R'
            GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
            ORDER BY revenue DESC, c.c_custkey ASC
            LIMIT 20
        """,
        "tpch_q14": """
            SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                     THEN l.l_extendedprice * (1 - l.l_discount)
                                     ELSE 0.0 END)
                         / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                       AS promo_revenue_pct,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= '1996-01-01'
              AND l.l_shipdate < '1996-02-01'
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l.l_shipdate) AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_0', 'NATION_1')
              AND n2.n_name IN ('NATION_0', 'NATION_1')
              AND n1.n_name <> n2.n_name
              AND l.l_shipdate >= '1996-01-01'
              AND l.l_shipdate < '1998-01-01'
            GROUP BY 1, 2, 3
        """,
        "tpch_q8": """
            WITH agg AS (
              SELECT year(o.o_orderdate) AS o_year,
                     round(sum(CASE WHEN ns.n_name = 'NATION_2'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0.0 END), 4) AS nation_volume,
                     round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                         AS total_volume
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation nc ON c.c_nationkey = nc.n_nationkey
              JOIN region r ON nc.n_regionkey = r.r_regionkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation ns ON s.s_nationkey = ns.n_nationkey
              WHERE p.p_type = 'ECONOMY' AND r.r_name = 'EUROPE'
                AND o.o_orderdate >= '1996-01-01'
                AND o.o_orderdate < '1998-01-01'
              GROUP BY 1)
            SELECT o_year, nation_volume, total_volume,
                   round(nation_volume / total_volume, 6) AS mkt_share
            FROM agg
        """,
        "tpch_q9": """
            SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS sum_profit,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE p.p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "tpch_q12": """
            SELECT CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
                             <= 30 THEN '0-30d'
                        WHEN datediff('day', o.o_orderdate, l.l_shipdate)
                             <= 90 THEN '31-90d'
                        ELSE '90d+' END AS delay_bucket,
                   CAST(sum(CASE WHEN o.o_orderpriority IN
                                 ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                        AS BIGINT) AS high_priority_count,
                   CAST(sum(CASE WHEN o.o_orderpriority IN
                                 ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                        AS BIGINT) AS low_priority_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= '1997-01-01'
              AND l.l_shipdate < '1998-01-01'
            GROUP BY 1
        """,
        "tpch_q13": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (SELECT c.c_custkey,
                         CAST(count(o.o_orderkey) AS BIGINT) AS c_count
                  FROM customer c
                  LEFT OUTER JOIN orders o
                    ON c.c_custkey = o.o_custkey
                   AND o.o_orderstatus <> 'P'
                  GROUP BY c.c_custkey)
            GROUP BY c_count
        """,
        "tpch_q15": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 4)
                         AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= '1996-01-01'
                AND l_shipdate < '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, r.total_revenue
            FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
            WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "tpch_q16": """
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(count(DISTINCT l.l_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
              AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
            GROUP BY 1, 2, 3
        """,
        "tpch_q18": """
            SELECT c.c_custkey, c.c_name, o.o_orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(o.o_totalprice, 2) AS o_totalprice, b.sum_qty
            FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 200) b
            JOIN orders o ON b.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY round(o.o_totalprice, 2) DESC, o.o_orderkey ASC
            LIMIT 100
        """,
        "tpch_q19": """
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q22": """
            WITH cust AS (
              SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
              WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY',
                                     'HOUSEHOLD')),
            thr AS (SELECT round(avg(c_acctbal), 4) AS avg_bal
                    FROM cust WHERE c_acctbal > 0.0)
            SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
                   round(sum(c.c_acctbal), 2) AS totacctbal
            FROM cust c, thr
            WHERE c.c_acctbal > thr.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= '1999-01-01')
            GROUP BY c.c_mktsegment
        """,
        "tpch_q2": """
            WITH cost AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem GROUP BY 1, 2),
            best AS (SELECT l_partkey, min(unit_cost) AS best_cost
                     FROM cost GROUP BY 1)
            SELECT round(s.s_acctbal, 2) AS s_acctbal, s.s_name,
                   n.n_name AS nation, p.p_partkey,
                   round(c.unit_cost, 4) AS unit_cost
            FROM cost c
            JOIN best b ON c.l_partkey = b.l_partkey
                       AND c.unit_cost = b.best_cost
            JOIN part p ON c.l_partkey = p.p_partkey
            JOIN supplier s ON c.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
              AND r.r_name = 'EUROPE'
        """,
        "tpch_q11": """
            WITH val AS (
              SELECT l.l_partkey,
                     sum(l.l_extendedprice * (1 - l.l_discount)) AS raw_value
              FROM lineitem l
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              WHERE n.n_regionkey = 2 GROUP BY 1)
            SELECT l_partkey AS part_key, round(raw_value, 4) AS value
            FROM val
            WHERE round(raw_value, 4) >
                  (SELECT round(sum(raw_value) * 0.001, 4) FROM val)
        """,
        "tpch_q20": """
            WITH shipped AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'small %'
                AND l_shipdate >= '1998-01-01'
                AND l_shipdate < '1999-01-01'
              GROUP BY 1, 2),
            tot AS (SELECT l_partkey, sum(qty) AS tot_qty
                    FROM shipped GROUP BY 1),
            cand AS (SELECT DISTINCT s.l_suppkey
                     FROM shipped s JOIN tot t ON s.l_partkey = t.l_partkey
                     WHERE s.qty > 0.5 * t.tot_qty)
            SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_regionkey = 2
              AND s.s_suppkey IN (SELECT l_suppkey FROM cand)
        """,
        "tpch_q21": """
            WITH fo AS (SELECT o_orderkey FROM orders
                        WHERE o_orderstatus = 'F'),
            per_os AS (
              SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
              FROM lineitem JOIN fo ON l_orderkey = o_orderkey
              GROUP BY 1, 2),
            per_o AS (SELECT l_orderkey, max(s_max) AS o_max,
                             count(*) AS n_supp
                      FROM per_os GROUP BY 1),
            at_max AS (
              SELECT p.l_orderkey, p.l_suppkey, o.n_supp,
                     count(*) OVER (PARTITION BY p.l_orderkey) AS n_at_max
              FROM per_os p
              JOIN per_o o ON p.l_orderkey = o.l_orderkey
                          AND p.s_max = o.o_max)
            SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM at_max a JOIN supplier s ON a.l_suppkey = s.s_suppkey
            WHERE a.n_supp >= 2 AND a.n_at_max = 1
            GROUP BY s.s_name
        """,
        "tpch_q17": """
            WITH f AS (
              SELECT l_extendedprice
              FROM (SELECT l_partkey, l_quantity, l_extendedprice,
                           avg(l_quantity) OVER (PARTITION BY l_partkey)
                               AS avg_qty
                    FROM lineitem)
              WHERE l_quantity < 0.2 * avg_qty
            )
            SELECT CAST(count(*) AS BIGINT) AS n_small,
                   round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
            FROM f
        """,
        "tpch_q5": """
            SELECT n.n_name, round(sum(l.l_extendedprice
                                       * (1 - l.l_discount)), 4) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= '1996-01-01'
              AND o.o_orderdate < '1997-01-01'
            GROUP BY n.n_name
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem
            WHERE l_shipdate >= DATE '1994-01-01'
              AND l_shipdate < DATE '1995-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customer_per_nation": """
            WITH spend AS (
              SELECT o_custkey, round(sum(o_totalprice), 4) AS total_spend
              FROM orders GROUP BY o_custkey
            ), ranked AS (
              SELECT n.n_name AS nation, c.c_name AS customer, s.total_spend,
                     row_number() OVER (PARTITION BY n.n_name
                         ORDER BY s.total_spend DESC, c.c_custkey ASC) AS rn
              FROM spend s
              JOIN customer c ON s.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
            )
            SELECT nation, customer, total_spend FROM ranked WHERE rn = 1
        """,
        "streaming_windowed_counts": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   event_type, CAST(count(*) AS BIGINT) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "streaming_windowed_distinct_hll": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
                   TRUE AS within_bound,
                   TRUE AS streaming_equals_batch
            FROM events GROUP BY 1
        """,
        "streaming_windowed_value_quantiles": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS window_start,
                   q.q, CAST(count(*) AS BIGINT) AS n,
                   TRUE AS within_bound,
                   TRUE AS streaming_equals_batch
            FROM events CROSS JOIN (VALUES (0.5), (0.99)) q(q)
            GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g
            )
            SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id
        """,
        "event_type_stats": """
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(sum(value), 4) AS sum_value,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM events GROUP BY event_type
        """,
        "lineitem_shipdate_rollup": """
            SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                   CAST(count(*) AS BIGINT) AS n_items,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_price
            FROM lineitem GROUP BY 1
        """,
        "events_asof_attribution": _ASOF_SQL,
        # the sliced plan must be indistinguishable in results — same oracle
        "events_asof_attribution_sliced": _ASOF_SQL,
        "events_range_join": _RANGE_SQL,
        "quantile_range_partitioning": _QPART_SQL,
        # ANN recall paths: the Spark side measures recall vs brute force
        # genuinely (fixed seeds → deterministic) and asserts it against
        # ANN_RECALL_BOUNDS (0.60/0.50, 0.10 under the measured 0.70/0.60);
        # the oracle pins the expected summary row (the
        # bloom_membership_fpr pattern).  Exactness of the shared pipeline
        # is what the *_fullprobe twins hash-match.
        "embedding_lsh_topk": (
            "SELECT CAST(10 AS BIGINT) AS n_queries, "
            "CAST(50 AS BIGINT) AS n_results, TRUE AS recall_ge_bound"),
        "embedding_ivf_topk": (
            "SELECT CAST(10 AS BIGINT) AS n_queries, "
            "CAST(50 AS BIGINT) AS n_results, TRUE AS recall_ge_bound"),
    }
    # brute-force all-pairs hamming over driver-side-recomputed signatures:
    # exact recall of the multi-probe banding is a theorem (pigeonhole,
    # h ≤ (radius+1)·bands−1), so the pair sets must be EQUAL.  The fixture
    # is pinned to the driver's correctness scale (sf0.01, same convention
    # as sketch_oracles); if the testdata is unavailable the entry is
    # omitted and the driver falls back to the rows-only check rather than
    # one bad fixture killing oracle generation for every query.
    try:
        out["dedup_simhash"] = _simhash_sql()
    except Exception:
        pass
    try:
        out["weighted_sample_docs"] = _wsample_sql()
        out["weighted_sample_per_source"] = _wsample_group_sql()
    except Exception:
        pass
    # closed-form watermark re-derivation over the late-data stream fixture
    # (generated on demand; same fall-back-to-rows-only contract)
    try:
        out["streaming_late_data_drop"] = _late_drop_sql()
    except Exception:
        pass
    # incremental two-step ≡ one-shot is the OPERATOR's contract, so the
    # one-shot oracles ARE the incremental queries' oracles — the driver
    # row proves the fold against independent SQL, not just self-consistency
    out["dedup_exact_incremental"] = out["dedup_exact"]
    out["streaming_exact_dedup"] = out["dedup_exact"]
    out["dedup_minhash_incremental"] = _JACCARD_SQL
    return out
