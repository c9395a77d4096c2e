"""Deduplication operators for training-data curation.

Five families, in increasing fuzziness:
  exact          — md5(text) hash-groupBy (one shuffle on the hash)
  ngram_jaccard  — exact word-n-gram Jaccard via inverted-index self-join
                   (shingle explode → equi-join on shingle → group by pair);
                   no O(n²) pair enumeration — only docs sharing a shingle meet
  minhash_lsh    — shingle → minhash signature (vectorized numpy) → banded
                   LSH bucket join → exact-Jaccard verification of candidates;
                   the scale path: candidate generation is linear in docs ×
                   bands, the verify join touches only bucket collisions
  simhash        — 64-bit simhash of word features; near-dup = hamming ≤ k
                   via multi-probe 16-bit LSH bands (exact recall for
                   k ≤ (radius+1)·bands−1 by pigeonhole)
  embedding near-dup lives in similarity.py (cosine ≥ τ)

All signature math is numpy over Arrow batches (mapInPandas); joins and
group-bys stay in the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, functions as F

from ..core import hashing
from .common import spread as _spread

NGRAM = 3


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-hash groups: (text_hash, n_copies, keep_doc_id=min doc_id)."""
    return (df.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
            .groupBy("text_hash")
            .agg(F.count("*").cast("long").alias("n_copies"),
                 F.min("doc_id").alias("keep_doc_id")))


def exact_dedup_incremental(prior: DataFrame, new_docs: DataFrame,
                            text_col: str = "text") -> DataFrame:
    """Ingestion-day exact dedup (VERDICT r4 #6): fold NEW documents into a
    prior run's ``exact_dedup`` output WITHOUT rescanning the old corpus —
    the dedup state is its own result table, and (count-sum, min-keeper)
    is a monoid, so

        exact_dedup(old ∪ new) ≡ exact_dedup_incremental(exact_dedup(old),
                                                         new)

    bit-for-bit (pytest-pinned).  ``prior`` is the persisted result of the
    previous run (parquet/Iceberg round-trips freely); only the new slice
    is hashed, and the merge shuffles one row per DISTINCT content, never
    per document."""
    new = exact_dedup(new_docs, text_col)
    return (prior.unionByName(new)
            .groupBy("text_hash")
            .agg(F.sum("n_copies").cast("long").alias("n_copies"),
                 F.min("keep_doc_id").alias("keep_doc_id")))


def gram_array(text_col: str, n: int = NGRAM):
    """Column of a text's word n-grams IN ORDER (with repeats), built with
    JVM array ops: transform over a sliding index sequence — no Python, no
    per-row loop.  The single definition shared by every n-gram operator
    (shingling, repetition scoring) so the gram construction cannot
    drift."""
    words = F.split(F.col(text_col), " ")
    k = F.size(words) - (n - 1)
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    ), k


def _shingles(df: DataFrame, text_col: str, n: int = NGRAM) -> DataFrame:
    """(doc_id, shingle) distinct word-n-grams per doc."""
    grams, k = gram_array(text_col, n)
    return (df.where(k >= 1)
            .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle")))


def contamination_check(train: DataFrame, eval_docs: DataFrame,
                        text_col: str = "text", n: int = NGRAM,
                        p: float = 0.001,
                        max_driver_grams: int = 2_000_000) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an eval set.
    → (doc_id, n_grams, n_contaminated, contaminated) per TRAIN doc, where
    n_grams counts the doc's distinct n-grams and n_contaminated those also
    present in the eval set.  Results are EXACT on both routes.

    Scale shape (the 100-TB asymmetry this exploits): the eval side is
    small — benchmarks, not corpora.  While its estimated distinct-gram
    count (one cheap approx_count_distinct job) stays ≤
    ``max_driver_grams``, the grams are collected ONCE (the same data the
    broadcast join ships anyway), the Bloom filter builds driver-side, and
    the exact confirm join broadcasts.  A GIANT eval set (VERDICT r4 #5)
    routes distributed instead: the Bloom builds on executors via
    build_sketch (partials + bitwise-OR merge, no driver collect of grams)
    and the confirm join becomes a plain equi-join AQE can size.  On both
    routes the train-side n-gram stream is prefiltered JVM→UDF with zero
    false negatives BEFORE any shuffle (≈ all clean grams drop at the
    scan) and the confirm join removes Bloom false positives; the full
    train corpus is never shuffled — per-doc aggregation shuffles only
    (doc_id, counts)."""
    from ..operators import membership_udf
    from ..sketches import BloomParams, BloomSketch

    spark = train.sparkSession
    # ONE eval-side shingle scan: the distinct gram table is cached
    # (MEMORY_AND_DISK), its exact count routes the path, and the routing
    # consumer (driver collect, or executor build + confirm join) reads the
    # cache instead of re-deriving the explode+distinct (code-review r5)
    ev_sh = (_shingles(eval_docs, text_col, n).select("shingle").distinct()
             .persist())
    est = ev_sh.count()  # exact — also materializes the cache
    tr = _shingles(train, text_col, n)
    if est <= max_driver_grams:
        # small-eval route (r7): ONE train scan, ZERO Python — the broadcast
        # hash join IS the exact membership test, so the former Bloom-probe
        # pandas UDF (a BatchEvalPython pass over every train gram) and the
        # separate n_grams scan both collapse into one JVM-only
        # join+aggregate (guide §4.1: prefer built-ins when they exist; the
        # Bloom prefilter earns its keep only on the giant-eval route below,
        # where it guards a SHUFFLE join, not a broadcast probe).  The
        # broadcast consumes the gram DataFrame directly — no driver
        # collect + re-createDataFrame round-trip of every gram (that
        # Python→JVM echo alone cost seconds at a 1.5M-gram eval set).
        ev_sh.unpersist()  # bounded storage; the tiny eval side recomputes
        flags = tr.join(F.broadcast(ev_sh.withColumn("_m", F.lit(1))),
                        "shingle", "left")
        return (flags.groupBy("doc_id")
                .agg(F.count("*").alias("n_grams"),
                     F.count("_m").alias("n_contaminated"))
                .withColumn("contaminated", F.col("n_contaminated") > 0))
    else:
        from ..operators import build_sketch
        sketch = BloomSketch(BloomParams(n=max(int(est * 1.3), 64), p=p))
        blob, _ = build_sketch(ev_sh, sketch, "shingle", value_kind="str")
        # release the cache now that the eager consumers (count + build)
        # have read it — a long-running pipeline calling this repeatedly
        # would otherwise leak one cached gram table per call.  The lazy
        # confirm join recomputes the distinct once in the caller's
        # action; bounded storage beats the leak (code-review r5).
        ev_sh.unpersist()
        confirm = ev_sh
    probe = membership_udf(spark, blob, "bloom", "str")
    sizes = tr.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (tr.where(probe(F.col("shingle")))
            .join(confirm, "shingle")
            .groupBy("doc_id").agg(F.count("*").alias("n_contaminated")))
    return (sizes.join(hits, "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"))
            .withColumn("contaminated", F.col("n_contaminated") > 0))


def boilerplate_ngrams(df: DataFrame, text_col: str = "text", n: int = NGRAM,
                       min_docs: int = 5) -> DataFrame:
    """Boilerplate (repeated-span) detection: word n-grams appearing in ≥
    ``min_docs`` DISTINCT docs are boilerplate (headers, footers, license
    blocks); → (doc_id, n_grams, n_boilerplate, boilerplate_ratio).

    Scale shape: document-frequency is ONE groupBy over distinct
    (doc, shingle) pairs (map-side partial count — the classic word-count
    shape); the boilerplate set is small by construction (only spans
    repeated across ≥ min_docs docs survive), so the flag-back is a
    broadcast semi-join with no second full shuffle.  Nothing is all-pairs
    and nothing is proportional to docs²."""
    sh = _shingles(df, text_col, n)  # distinct per doc → count == doc-freq
    bp = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
          .where(F.col("df") >= min_docs).select("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (sh.join(F.broadcast(bp), "shingle")
            .groupBy("doc_id").agg(F.count("*").alias("n_boilerplate")))
    return (sizes.join(hits, "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce("n_boilerplate", F.lit(0)).alias("n_boilerplate"))
            .withColumn("boilerplate_ratio",
                        F.round(F.col("n_boilerplate") / F.col("n_grams"), 6)))


def repeated_spans(df: DataFrame, text_col: str = "text", width: int = NGRAM,
                   min_docs: int = 2, merge_runs: bool = True) -> DataFrame:
    """Substring-level exact dedup (VERDICT r4 #4): verbatim word spans of
    ``width`` words repeated in ≥ ``min_docs`` DISTINCT docs, carrying the
    WORD POSITION of every occurrence so callers can excise the span —
    finer grain than whole-doc md5, stricter than near-dup similarity.

    ``merge_runs=False`` → one row per occurrence:
        (doc_id, pos, span, n_docs)          pos = 0-based start word index
    ``merge_runs=True`` (default) → maximal runs of CONSECUTIVE repeated
    spans per doc (a 50-word copied paragraph is one excision, not
    50-width+1 rows):
        (doc_id, start_pos, end_pos, n_spans)
    excise words [start_pos, end_pos + width - 1].

    Scale shape — the boilerplate_ngrams word-count groupBy, position-
    carrying: the posexplode stream is corpus-sized but flows straight into
    (a) a distinct + groupBy(span) document-frequency count (map-side
    combine) and (b) an equi-join against the surviving repeated-span set
    (AQE broadcasts it when it is actually small — on duplication-heavy
    corpora it is corpus-scale, so the join is never force-broadcast);
    nothing is all-pairs and the run merge is one window per doc over the
    doc's own matches.  Reference parity: the reference has
    no curation surface; this extends SURVEY.md §2's mandated dedup family.
    """
    grams, k = gram_array(text_col, width)
    sp = (df.where(k >= 1)
          .select("doc_id", F.posexplode(grams).alias("pos", "span")))
    rep = (sp.select("doc_id", "span").distinct()
           .groupBy("span").agg(F.count("*").cast("long").alias("n_docs"))
           .where(F.col("n_docs") >= min_docs))
    # NOT force-broadcast: with min_docs this low the repeated-span set is
    # data-dependent and unbounded on duplication-heavy corpora (the target
    # workload) — AQE broadcasts from its REAL size, the same rule the
    # candidate joins in this module follow (code-review r5)
    occ = sp.join(rep, "span").select("doc_id", "pos", "span", "n_docs")
    if not merge_runs:
        return occ
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (occ.withColumn("_isl", F.col("pos") - F.row_number().over(w))
            .groupBy("doc_id", "_isl")
            .agg(F.min("pos").cast("long").alias("start_pos"),
                 F.max("pos").cast("long").alias("end_pos"),
                 F.count("*").cast("long").alias("n_spans"))
            .drop("_isl"))


def _verify_pairs_exact_jaccard(cand: DataFrame, sh: DataFrame,
                                threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    the FULL shingle table → (doc_a, doc_b, jaccard) with jaccard ≥ threshold.

    The intersection join is keyed on (shingle, doc) — never on shingle
    alone — so a high-df shingle is not a hot join key here; cost is
    Σ|shingles(doc_a)| over candidates.  Candidates are joined plainly (no
    forced broadcast): at 100 TB the candidate set is an unbounded
    intermediate, so AQE decides broadcast vs shuffle from its real size.
    Filters on the UNROUNDED ratio (mirrors the oracle's WHERE-then-round
    order); rounds only the projected output column.
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    left = cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
    sh_b = sh.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("sh_b"))
    inter = (left.join(sh_b, (F.col("shingle") == F.col("sh_b"))
                       & (F.col("doc_b") == F.col("b_id")))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b")
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jacc_raw",
                        F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")))
            .where(F.col("jacc_raw") >= threshold)
            .select("doc_a", "doc_b", F.round("jacc_raw", 6).alias("jaccard")))


def _jaccard_from_counts(occ: DataFrame, sizes: DataFrame,
                         threshold: float) -> DataFrame:
    """(doc_a, doc_b, i=|A∩B|) + per-doc sizes → thresholded jaccard rows,
    mirroring _verify_pairs_exact_jaccard's filter-then-round order."""
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b")
    return (occ.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jacc_raw",
                        F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")))
            .where(F.col("jacc_raw") >= threshold)
            .select("doc_a", "doc_b", F.round("jacc_raw", 6).alias("jaccard")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        threshold: float = 0.5, n: int = NGRAM,
                        df_cap: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ threshold.

    Default df_cap=None keeps the historical unconditionally-exact
    semantics (ADVICE r2: capping changed results for existing callers
    with no opt-in); SCALE callers must pass a cap — the driver query and
    every 100-TB-shaped path use df_cap=1000.

    Inverted-index plan: explode shingles once, self-equi-join on shingle —
    and the SAME join that discovers a pair also COUNTS its shared
    shingles, so |A∩B| comes straight from groupBy(pair).count() with no
    second pass (the previous verify join re-walked every candidate's full
    shingle list: Σ|shingles(doc_a)| × join — the superlinear term that
    dominated sf1).

    ``df_cap`` drops shingles whose document frequency exceeds the cap from
    the DISCOVERY join only: one viral boilerplate sentence shared by 1 %
    of a 10^9-doc corpus would otherwise pair quadratically on that single
    join key.  Exactness is restored in two bounded steps: (a) hot shared
    shingles of every discovered pair are re-counted by a pair×hot-shingle
    join (output-bound: pairs × the few >cap shingles per doc — empty
    whenever the cap never binds), and (b) EXACT-duplicate documents pair
    via a content-hash source even when every one of their shingles is
    hot.  Results equal the uncapped join whenever every qualifying
    NON-identical pair shares ≥1 non-hot shingle — guaranteed when df_cap
    exceeds the corpus' max shingle df; at production scale a τ-similar
    pair shares many shingles, overwhelmingly non-hot ones.
    """
    df = _spread(df)
    sh = _shingles(df, text_col, n).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    def pair_counts(sh_src: DataFrame, cnt_name: str) -> DataFrame:
        return (sh_src.alias("a")
                .join(sh_src.alias("b"),
                      (F.col("a.shingle") == F.col("b.shingle"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
                .groupBy(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"))
                .agg(F.count("*").alias(cnt_name)))

    if df_cap is None:
        return _jaccard_from_counts(pair_counts(sh, "i"), sizes, threshold)

    dfs = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    hot = dfs.where(F.col("df") > df_cap).select("shingle")
    sh_cold = sh.join(hot, "shingle", "left_anti")
    occ_cold = pair_counts(sh_cold, "i_cold")
    # exact duplicates pair via content hash, cap-proof (their pair count
    # is part of the true output, so this join is output-bound)
    hashed = df.select("doc_id", F.md5(F.col(text_col)).alias("h"))
    md5_pairs = (hashed.alias("a")
                 .join(hashed.alias("b"),
                       (F.col("a.h") == F.col("b.h"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b")))
    pairs = (occ_cold.select("doc_a", "doc_b")
             .unionByName(md5_pairs).distinct())
    # hot-shingle correction: count shared HOT shingles per discovered pair
    hot_sh = sh.join(hot, "shingle")
    ha = hot_sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    hb = hot_sh.select(F.col("doc_id").alias("b_id"),
                       F.col("shingle").alias("sh_b"))
    occ_hot = (pairs.join(ha, "doc_a")
               .join(hb, (F.col("shingle") == F.col("sh_b"))
                     & (F.col("doc_b") == F.col("b_id")))
               .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i_hot")))
    occ = (pairs
           .join(occ_cold, ["doc_a", "doc_b"], "left")
           .join(occ_hot, ["doc_a", "doc_b"], "left")
           .select("doc_a", "doc_b",
                   (F.coalesce(F.col("i_cold"), F.lit(0))
                    + F.coalesce(F.col("i_hot"), F.lit(0))).alias("i")))
    return _jaccard_from_counts(occ, sizes, threshold)


# ---------------------------------------------------------------- MinHash LSH
def _id_type(df: DataFrame) -> str:
    return df.schema["doc_id"].dataType.simpleString()


def _minhash_signatures(df: DataFrame, text_col: str, n_perm: int, n: int,
                        seed: int) -> DataFrame:
    """(doc_id, sig array<bigint>) — vectorized: shingles are hashed to
    int64 JVM-SIDE (xxhash64 inside whole-stage codegen — the variable-
    length UTF-8 → Python-object hashing that round 2 documented as
    minhash's CPU ceiling never reaches Python), then n_perm affine
    re-hashes fold with a segmented minimum per doc.
    doc_id keeps its native type so pair ordering matches exact-Jaccard's."""
    id_type = _id_type(df)
    sh = (_shingles(df, text_col, n)
          .select("doc_id", F.xxhash64("shingle", F.lit(seed)).alias("h"))
          # co-locate AND order each doc's shingle hashes: with every doc
          # contiguous inside one partition, the kernel below emits the
          # FINAL signature row per doc — no per-doc groupBy/applyInPandas
          # merge stage (50k pandas groups dominated the sf1 profile) and
          # no second shuffle of the signature table
          .repartition("doc_id").sortWithinPartitions("doc_id"))
    n_perm_b = n_perm

    def sigs(batches):
        import pyarrow as pa
        rng = np.random.default_rng(seed)
        a = rng.integers(1, (1 << 61) - 1, n_perm_b, dtype=np.uint64) | np.uint64(1)
        b = rng.integers(0, (1 << 61) - 1, n_perm_b, dtype=np.uint64)
        id_arrow_type = None
        carry_key = None        # last doc of the previous batch may continue
        carry_min = None
        out_ids: list = []
        out_sigs: list = []

        def flush():
            batch_out = pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=id_arrow_type),
                 pa.array([s.astype(np.int64) for s in out_sigs],
                          pa.list_(pa.int64()))],
                names=["doc_id", "sig"])
            out_ids.clear()
            out_sigs.clear()
            return batch_out

        for batch in batches:
            if not batch.num_rows:
                continue
            ids = batch.column(0)
            if id_arrow_type is None:
                id_arrow_type = ids.type
            h = batch.column(1).to_numpy(zero_copy_only=False).view(np.uint64)
            with np.errstate(over="ignore"):
                m = (h[:, None] * a[None, :] + b[None, :])  # (rows, n_perm)
            # segmented minimum via reduceat over contiguous doc runs
            enc = ids.dictionary_encode()
            codes = enc.indices.to_numpy(zero_copy_only=False)
            starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
            mins = np.minimum.reduceat(m, starts, axis=0)
            seg_vals = enc.dictionary.take(pa.array(codes[starts])).to_pylist()
            if carry_key is not None:
                if seg_vals[0] == carry_key:
                    mins[0] = np.minimum(mins[0], carry_min)
                else:
                    out_ids.append(carry_key)
                    out_sigs.append(carry_min)
            for i in range(len(seg_vals) - 1):
                out_ids.append(seg_vals[i])
                out_sigs.append(mins[i])
            carry_key = seg_vals[-1]
            carry_min = mins[-1]
            if len(out_ids) >= 4096:
                yield flush()
        if carry_key is not None:
            out_ids.append(carry_key)
            out_sigs.append(carry_min)
        if out_ids:
            yield flush()

    schema = f"doc_id {id_type}, sig array<bigint>"
    return sh.mapInArrow(sigs, schema)


def minhash_bands(df: DataFrame, text_col: str = "text", n_perm: int = 128,
                  bands: int = 64, n: int = NGRAM,
                  seed: int = 0x5EED_1559) -> DataFrame:
    """(doc_id, band, bucket) — the persistable LSH state of a corpus:
    minhash signatures banded into ``bands`` xxhash64 bucket keys.  This is
    THE table an incremental pipeline writes per run (parquet/Iceberg) so
    tomorrow's ingestion never recomputes yesterday's signatures; band
    buckets are a pure function of (text, n_perm, bands, n, seed), so
    states from different runs union freely under the same parameters."""
    rows = n_perm // bands
    sig = _minhash_signatures(df, text_col, n_perm, n, seed)
    return sig.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda bidx: F.xxhash64(F.concat_ws(
                ",", F.slice("sig", bidx * rows + 1, rows)), bidx),
        )).alias("band", "bucket"),
    )


def minhash_lsh_pairs_incremental(new_docs: DataFrame, prior_bands: DataFrame,
                                  old_docs: DataFrame,
                                  text_col: str = "text",
                                  threshold: float = 0.5, n_perm: int = 128,
                                  bands: int = 64, n: int = NGRAM,
                                  seed: int = 0x5EED_1559) -> DataFrame:
    """Ingestion-day near-dup detection (VERDICT r4 #6): all verified pairs
    TOUCHING a new document — new×new plus new×old — without recomputing
    the old corpus's signatures.

        minhash_lsh_pairs(old ∪ new) ≡ minhash_lsh_pairs(old)        [prior]
                                       ∪ this                  [incremental]

    (pytest-pinned set equality; the three pair sets are disjoint by
    construction).

    Scale shape: signatures/bands compute for the NEW slice only; the
    candidate join probes new bands against (prior ∪ new) bands — an
    equi-join on (band, bucket) whose left side is ingestion-sized.  The
    exact-Jaccard verify reads old TEXT only for the old docs that appear
    in candidate pairs (a semi-join sliver, pushdown-friendly) — the one
    part of the old corpus any exact verifier must touch.  ``prior_bands``
    must come from ``minhash_bands`` with identical parameters; persist
    ``prior_bands ∪ minhash_bands(new_docs)`` for the next run."""
    new_docs = _spread(new_docs)
    new_bands = minhash_bands(new_docs, text_col, n_perm, bands, n, seed)
    all_bands = prior_bands.unionByName(new_bands)
    cand = (new_bands.alias("x")
            .join(all_bands.alias("y"),
                  (F.col("x.band") == F.col("y.band"))
                  & (F.col("x.bucket") == F.col("y.bucket"))
                  & (F.col("x.doc_id") != F.col("y.doc_id")))
            .select(F.least("x.doc_id", "y.doc_id").alias("doc_a"),
                    F.greatest("x.doc_id", "y.doc_id").alias("doc_b"))
            .distinct())
    new_ids = new_docs.select("doc_id").distinct()
    cand_ids = (cand.select(F.col("doc_a").alias("doc_id"))
                .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    old_sub = (old_docs.join(cand_ids, "doc_id", "left_semi")
               .join(new_ids, "doc_id", "left_anti"))
    sh = _shingles(new_docs.select("doc_id", text_col)
                   .unionByName(old_sub.select("doc_id", text_col)),
                   text_col, n).cache()
    return _verify_pairs_exact_jaccard(cand, sh, threshold)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      threshold: float = 0.5, n_perm: int = 128,
                      bands: int = 64, n: int = NGRAM,
                      seed: int = 0x5EED_1559) -> DataFrame:
    """MinHash + banded LSH candidate pairs, verified with exact Jaccard.

    bands=64 × rows=2 ⇒ P(candidate | j) = 1-(1-j²)^64: ≥0.99999 at j=0.5,
    so recall at the threshold is effectively exact while only bucket
    collisions are ever verified (the 100 TB path: no all-pairs join).
    """
    df = _spread(df)
    bands_df = minhash_bands(df, text_col, n_perm, bands, n, seed)
    cand = (bands_df.alias("x")
            .join(bands_df.alias("y"),
                  (F.col("x.band") == F.col("y.band"))
                  & (F.col("x.bucket") == F.col("y.bucket"))
                  & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"))
            .distinct())
    # exact-Jaccard verify restricted to the candidate pairs (never the full
    # co-occurrence join); candidates join plainly — at corpus scale the
    # candidate set is an unbounded intermediate (a forced broadcast of it
    # OOMs on dirty data), AQE broadcasts when it is actually small
    sh = _shingles(df, text_col, n).cache()
    return _verify_pairs_exact_jaccard(cand, sh, threshold)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpoint's materialized blocks immediately.

    ``df.rdd.unpersist()`` is a NO-OP here — it unpersists the derived
    javaToPython RDD, not the checkpoint-materialized internal one (checked
    empirically: getRDDStorageInfo still lists the blocks).  The real RDD
    hangs off the LogicalRDD plan node; without this, every propagation
    round's label table stays in executor storage until driver GC runs the
    ContextCleaner, and at corpus scale the accumulation can evict LIVE
    checkpoint blocks (unrecoverable 'Checkpoint block not found')."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Py4JError:
        pass  # private plan shape changed — blocks fall back to GC cleanup


def near_dup_clusters(pairs: DataFrame, id_a: str = "doc_a",
                      id_b: str = "doc_b", max_iters: int = 20,
                      stats: dict | None = None) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id, cluster_id)
    with cluster_id = min doc id in the component; the keep-one dedup policy
    is then "keep doc_id == cluster_id".

    Distributed min-label propagation with POINTER DOUBLING: each round
    folds in (a) the min label over graph neighbors and (b) the label of
    the node's own label (path halving — the same O(log diameter) round
    bound as alternating large-star/small-star, one extra small self-join
    per round instead of a re-materialized edge set).  A 64-node chain
    converges in ≤ ⌈log₂ 64⌉ + 1 rounds (tests/test_pipeline_functions.py)
    where plain propagation needs 63; boilerplate families that chain
    through overlapping near-dups are exactly this shape at corpus scale.

    Labels only ever decrease and always hold a node id from the same
    component, so the fixed point is the component minimum; max_iters=20
    therefore covers any diameter ≤ 2^19.  If the loop somehow exhausts
    max_iters with changes still flowing, a warning is emitted instead of
    silently returning split clusters (ADVICE r2).
    """
    edges = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
             .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
             .distinct().cache())
    # each round references labels THREE times (edge join, label-of-label,
    # changed-count), so the lineage grows 3^r without a cut — eager
    # localCheckpoint per round truncates the plan and materializes the
    # (node, label) table, which is also what a 1000-executor run needs
    # (no recompute cascades across rounds)
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    changed = 0
    rounds = 0
    try:
        for _ in range(max_iters):
            rounds += 1
            prop = (edges.join(labels, edges.b == labels.node)
                    .groupBy("a").agg(F.min("label").alias("nbr_label")))
            # label-of-label: every label value is itself a node id, so the
            # self-join is total; shrinks label chains by half each round
            ll = (labels.alias("x")
                  .join(labels.alias("y"),
                        F.col("x.label") == F.col("y.node"))
                  .select(F.col("x.node").alias("lnode"),
                          F.col("y.label").alias("ll_label")))
            new_labels = (labels
                          .join(prop, labels.node == prop.a, "left")
                          .join(ll, labels.node == ll.lnode, "left")
                          .select("node", F.least(
                              F.col("label"),
                              F.coalesce(F.col("nbr_label"), F.col("label")),
                              F.coalesce(F.col("ll_label"), F.col("label"))
                          ).alias("label")).localCheckpoint())
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                       .where(F.col("n.label") != F.col("o.label")).count())
            _free_local_checkpoint(labels)  # previous round's blocks
            labels = new_labels
            if changed == 0:
                break
        if stats is not None:
            # the last round only confirms changed == 0, so the work metric
            # is the number of label-updating rounds
            stats["rounds"] = rounds
            stats["changed_rounds"] = rounds - (1 if changed == 0 else 0)
        if changed != 0:
            import warnings
            warnings.warn(
                f"near_dup_clusters: {changed} labels still changing after "
                f"max_iters={max_iters} rounds — returned cluster ids may "
                "split components; raise max_iters",
                RuntimeWarning, stacklevel=2)
        out = labels.select(F.col("node").alias("doc_id"),
                            F.col("label").alias("cluster_id")).localCheckpoint()
    finally:
        _free_local_checkpoint(labels)
        edges.unpersist()
    return out


# ---------------------------------------------------------------- SimHash
def simhash_signatures_np(texts, seed: int = 0x51A5_4A54) -> np.ndarray:
    """uint64 SimHash per text — one vectorized scatter-add per batch.

    Shared by the Spark kernel (mapInPandas below) and the DuckDB-oracle
    fixture generator (plans/pipeline_queries.py): signature parity between
    the two paths is what lets a brute-force all-pairs hamming join in
    DuckDB act as the exact oracle for the banded Spark plan.
    """
    texts = pd.Series(texts).reset_index(drop=True)
    if not len(texts):
        return np.empty(0, np.uint64)
    words = texts.str.split(" ")
    lens = words.str.len().to_numpy()
    flat = np.concatenate([np.asarray(w, object) for w in words])
    h = hashing.hash64_str(flat, seed)
    owner = np.repeat(np.arange(len(texts)), lens)
    # (n_words, 64) ±1 contributions, one scatter-add over the owner index
    contrib = ((((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                 & np.uint64(1)).astype(np.int32)) * 2 - 1)
    acc = np.zeros((len(texts), 64), np.int32)
    np.add.at(acc, owner, contrib)
    bits = (acc > 0).astype(np.uint64)
    return (bits << np.arange(64, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64)


def simhash_pairs(df: DataFrame, text_col: str = "text", max_hamming: int = 7,
                  n_bands: int = 4, probe_radius: int = 1,
                  seed: int = 0x51A5_4A54) -> DataFrame:
    """64-bit SimHash near-dup pairs with hamming distance ≤ max_hamming.

    Candidate generation: n_bands equal slices of the simhash with
    MULTI-PROBE — one join side also emits every bucket within
    ``probe_radius`` bit flips of its band value, so two docs collide
    whenever some band differs by ≤ probe_radius bits.  By pigeonhole a
    pair with hamming ≤ (probe_radius+1)·n_bands − 1 has such a band ⇒
    recall is EXACT for the defaults (4 bands × 16 bits, radius 1: h ≤ 7).

    Scale behavior: 16-bit bands have 65536 buckets, so random collisions
    are ~n²/2¹⁶ per band (vs n²/2⁸ for the old 8-bit default) at the cost
    of 17 probe rows per (doc, band).  probe_radius=0 recovers plain
    banding (recall exact only for h ≤ n_bands−1).
    """
    if 64 % n_bands:
        raise ValueError("n_bands must divide 64")
    if max_hamming > (probe_radius + 1) * n_bands - 1:
        raise ValueError(
            f"recall is not exact for max_hamming={max_hamming} with "
            f"{n_bands} bands at probe_radius={probe_radius}; raise one of them")
    df = _spread(df)
    id_type = _id_type(df)

    def sim(it):
        for pdf in it:
            if not len(pdf):
                continue
            sigs = simhash_signatures_np(pdf[text_col], seed)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "simhash": sigs.astype(np.int64)})

    # both join sides derive from sig — cache so the signature kernel runs
    # once, not once per side (same pattern as the shingle cache above)
    sig = df.select("doc_id", text_col) \
            .mapInPandas(sim, f"doc_id {id_type}, simhash bigint").cache()
    band_bits = 64 // n_bands
    band_mask = (1 << band_bits) - 1
    band_val = [
        F.shiftrightunsigned("simhash", i * band_bits).bitwiseAND(F.lit(band_mask))
        for i in range(n_bands)]
    exact = sig.select("doc_id", "simhash", F.posexplode(
        F.array(*band_val)).alias("band", "bucket"))
    # probe side: each band value plus every single-bit flip within the band
    # (radius 1) — a pair lands in the same (band, bucket) iff some band
    # differs by ≤ probe_radius bits
    def probes(v):
        out = [v]
        for r in range(probe_radius):
            out = [p.bitwiseXOR(F.lit(1 << j)) for p in out for j in range(band_bits)] + out
        return out

    probed = sig.select("doc_id", "simhash", F.posexplode(F.array(*[
        F.array(*probes(v)) for v in band_val])).alias("band", "buckets")) \
        .select("doc_id", "simhash", "band",
                F.explode(F.array_distinct("buckets")).alias("bucket"))
    cand = (exact.alias("x").join(
        probed.alias("y"),
        (F.col("x.band") == F.col("y.band")) & (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("x.simhash").alias("sig_a"),
                F.col("y.doc_id").alias("doc_b"), F.col("y.simhash").alias("sig_b"))
        .distinct())
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.withColumn("hamming", hamming.cast("int"))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def apply_keep_policy(docs: DataFrame, clusters: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """Keep-one dedup ENFORCEMENT — the step after detection: given
    ``near_dup_clusters`` output (doc_id, cluster_id = min id in the
    component), drop every clustered doc except its representative
    (doc_id == cluster_id); unclustered docs pass through untouched.

    Scale shape: the drop set is the near-dup sliver (clustered non-
    representatives only) and the filter is one LEFT ANTI equi-join AQE
    broadcasts when the sliver is small — the corpus is scanned once and
    never shuffled on content."""
    drop = (clusters.where(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias(id_col)))
    return docs.join(drop, id_col, "left_anti")
