"""Training-data pipeline operator tests over the sf0.001 documents /
embeddings tables (500 rows — fast, deterministic)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filter_spark.functions import dedup, multimodal, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {(r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}


def test_ngram_df_cap_bounds_hot_shingle_join(spark):
    """A boilerplate shingle shared by every doc must not blow up the
    candidate join: with df_cap the capped inverted index drops the hot key
    entirely, while output pairs stay identical to the uncapped run."""
    n_docs = 120
    rows = []
    for i in range(n_docs):
        uniq = f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f"
        rows.append((i, f"common boiler plate {uniq}"))
    # two planted duplicates of doc 0
    rows.append((n_docs, rows[0][1]))
    rows.append((n_docs + 1, rows[0][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {(r.doc_a, r.doc_b): r.jaccard for r in
              dedup.ngram_jaccard_pairs(df, threshold=0.5, df_cap=50).collect()}
    uncapped = {(r.doc_a, r.doc_b): r.jaccard for r in
                dedup.ngram_jaccard_pairs(df, threshold=0.5, df_cap=None).collect()}
    assert capped == uncapped
    assert {(0, n_docs), (0, n_docs + 1), (n_docs, n_docs + 1)} <= set(capped)

    # the capped index must actually bound the join: the hot shingles
    # ('common boiler plate', 'boiler plate u*', ...) with df > 50 are gone,
    # so the self-join input has no key with more than df_cap rows
    sh = dedup._shingles(df, "text")
    hot = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
           .where(F.col("df") > 50).select("shingle"))
    assert hot.count() >= 1  # the fixture is genuinely adversarial
    capped_index = sh.join(hot, "shingle", "left_anti")
    max_df = (capped_index.groupBy("shingle").agg(F.count("*").alias("df"))
              .agg(F.max("df")).collect()[0][0])
    assert max_df <= 50


def test_ngram_df_cap_keeps_mass_duplicates(spark):
    """Docs duplicated MORE than df_cap times have every shingle hot — the
    content-hash candidate source must still pair them all."""
    n_copies = 30
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(n_copies)]
    rows += [(100 + i, f"unique{i} filler{i} words{i} here{i} now{i}")
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in
           dedup.ngram_jaccard_pairs(df, threshold=0.5, df_cap=10).collect()}
    want_pairs = {(a, b) for a in range(n_copies) for b in range(n_copies) if a < b}
    assert set(got) == want_pairs
    assert all(j == 1.0 for j in got.values())


def test_windowed_counts_rejects_untruncatable_window(spark, tmp_path):
    from bloom_filter_spark.streaming.stream_build import windowed_event_counts
    ev = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError):
        windowed_event_counts(spark, str(tmp_path), ev.schema,
                              window="30 minutes")


def test_exact_dedup_groups(docs):
    out = dedup.exact_dedup(docs)
    assert out.count() == out.select("text_hash").distinct().count()
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_minhash_lsh_recall_equals_exact(docs, exact_pairs):
    got = {(int(r.doc_a), int(r.doc_b)): r.jaccard
           for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    want = {(int(a), int(b)): j for (a, b), j in exact_pairs.items()}
    assert got == want  # certain recall at this band/row config (see module doc)


def test_simhash_catches_neardups(docs, exact_pairs):
    got = {(int(r.doc_a), int(r.doc_b)) for r in
           dedup.simhash_pairs(docs, max_hamming=7).collect()}
    strong = {(int(a), int(b)) for (a, b), j in exact_pairs.items() if j >= 0.9}
    # every strong near-dup pair must be caught; a few extras are acceptable
    missed = strong - got
    assert not missed, f"simhash missed strong near-dups: {missed}"


def test_simhash_multiprobe_equals_bruteforce_hamming(docs):
    """4×16-bit multi-probe banding must return EXACTLY the pairs a
    brute-force all-pairs hamming join over the signatures returns (recall
    is a pigeonhole theorem for h ≤ 7, precision from the verify filter)."""
    import pandas as pd
    banded = {(int(r.doc_a), int(r.doc_b)): r.hamming for r in
              dedup.simhash_pairs(docs, max_hamming=7).collect()}
    pdf = docs.select("doc_id", "text").toPandas()
    sigs = dedup.simhash_signatures_np(pdf["text"])
    ids = pdf["doc_id"].to_numpy()
    def popcount64(x):
        x = np.atleast_1d(np.asarray(x, np.uint64))
        return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(axis=1)

    brute = {}
    for i in range(len(ids)):
        ham = popcount64(sigs[i] ^ sigs[i + 1:])
        for j in np.flatnonzero(ham <= 7):
            a, b = int(ids[i]), int(ids[i + 1 + j])
            brute[(min(a, b), max(a, b))] = int(ham[j])
    assert banded == brute


def test_simhash_rejects_unsound_params(docs):
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=8, n_bands=4, probe_radius=1)


def test_brute_force_topk_shape_and_selfcheck(emb):
    out = similarity.brute_force_topk(emb, [0, 1, 2], k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        sims = [r.sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_recall(emb):
    brute = similarity.brute_force_topk(emb, list(range(10)), k=5).collect()
    approx = similarity.lsh_topk(emb, list(range(10)), k=5).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"
    assert len(approx) == 50  # k candidates found for every query


def test_ivf_fullprobe_equals_bruteforce(emb):
    """n_probe == n_lists is an exhaustive scan through the IVF pipeline:
    results must EQUAL brute force (cell partition loses nothing)."""
    brute = {(r.query_id, r.neighbor_id, r.sim, r.rank) for r in
             similarity.brute_force_topk(emb, list(range(10)), k=5).collect()}
    full = {(r.query_id, r.neighbor_id, r.sim, r.rank) for r in
            similarity.ivf_topk(emb, list(range(10)), k=5,
                                n_lists=16, n_probe=16).collect()}
    assert full == brute


def test_ivf_topk_recall(emb):
    brute = similarity.brute_force_topk(emb, list(range(10)), k=5).collect()
    approx = similarity.ivf_topk(emb, list(range(10)), k=5,
                                 n_lists=16, n_probe=4).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"
    assert len(approx) == 50


def test_ivf_assign_partitions_every_vector_once(emb):
    cents = similarity.train_ivf_centroids(emb, n_lists=16)
    assign = similarity.ivf_assign(emb, cents)
    n = emb.count()
    assert assign.count() == n
    assert assign.select("id").distinct().count() == n
    assert assign.agg(F.min("list_id"), F.max("list_id")).collect()[0][1] < 16


def test_embedding_neardup_symmetric_threshold(emb):
    pairs = similarity.neardup_pairs(emb, threshold=0.45).collect()
    for r in pairs:
        assert r.id_a < r.id_b and r.sim >= 0.45


def test_lsh_neardup_equals_exact(emb):
    """The scale-path blocked join must reproduce the exact pair set at the
    driver's parameters (4 bits × 64 tables ⇒ per-pair miss ≈ 4e-6 at
    sim=0.45; deterministic seed makes this a fixed property of the data)."""
    exact = {(int(r.id_a), int(r.id_b)): r.sim
             for r in similarity.neardup_pairs(emb, threshold=0.45).collect()}
    lsh = {(int(r.id_a), int(r.id_b)): r.sim
           for r in similarity.lsh_neardup_pairs(
               emb, threshold=0.45, n_bits=4, n_tables=64).collect()}
    assert lsh == exact


def test_hyperplane_buckets_match_per_table_signatures(emb):
    """One-pass multi-table bucketing is bit-identical to per-table calls."""
    multi = similarity.hyperplane_buckets(emb, n_bits=4, n_tables=3,
                                          seed=0xA11CE)
    got = {(int(r.id), int(r.table)): int(r.bucket) for r in multi.collect()}
    for t in range(3):
        single = similarity.hyperplane_signatures(emb, n_bits=4,
                                                  seed=0xA11CE + t)
        for r in single.collect():
            assert got[(int(r.id), t)] == int(r.bucket)


def test_token_count_consistency(docs):
    out = textstats.token_count(docs).collect()
    for r in out:
        assert r.n_distinct_words <= r.n_words
        assert r.n_chars_check >= r.n_words  # words + separators


def test_quality_buckets_cover(docs):
    out = textstats.quality_score(docs)
    rows = out.collect()
    assert all(0 <= r.quality <= 1.0001 for r in rows)
    assert out.where(F.col("quality_bucket").isin("high", "mid", "low")).count() == len(rows)


def test_fingerprint_is_word_set_invariant(spark):
    df = spark.createDataFrame(
        [(1, "b a a b c"), (2, "c b a"), (3, "a b d")],
        "doc_id long, text string")
    out = {r.doc_id: r.fingerprint for r in textstats.fingerprint(df).collect()}
    assert out[1] == out[2]  # same word set, different order/multiplicity
    assert out[1] != out[3]


def test_langid_profiles(spark):
    df = spark.createDataFrame([
        (1, "the cat and the dog are in the house for the winter"),
        (2, "der hund und die katze sind schon in der schule ich"),
        (3, "la casa de la madre que esta en el centro una bonita"),
        (4, "xqz zzk qqp"),
    ], "doc_id long, text string")
    out = {r.doc_id: r.lang_pred for r in textstats.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "es" and out[4] == "und"


def test_multimodal_plumbing(docs):
    payload = multimodal.attach_binary_payload(docs)
    row = payload.limit(1).collect()[0]
    assert isinstance(bytes(row.payload), bytes) and row.meta.mime == "image/fake"
    feats = multimodal.extract_features(payload)
    got = feats.limit(10).collect()
    for r in got:
        assert r.n_bytes > 0 and 0 < r.n_distinct_bytes <= 256
        assert 0 <= r.entropy <= 8
        assert abs(r.fake_width * r.fake_height - r.n_bytes) <= r.fake_width
    frames = multimodal.frame_sample_stub(payload).limit(5).collect()
    for r in frames:
        assert r.n_sampled == (r.n_frames + 15) // 16


def test_bpe_token_count_counts_punct(spark):
    df = spark.createDataFrame([(1, "hello world42 foo-bar!")], "doc_id long, text string")
    # hello | world | 42 | foo | - | bar | !  = 7
    assert textstats.token_count_bpe(df).collect()[0].n_bpe_tokens == 7


def test_bloom_prefilter_join_identical_results(spark):
    from bloom_filter_spark.functions.joins import bloom_prefilter_join
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
    small = orders.where(F.col("o_totalprice") > 400000).select("o_orderkey")
    joined, stats = bloom_prefilter_join(lineitem, small, "l_orderkey", "o_orderkey")
    plain = lineitem.join(small, lineitem.l_orderkey == small.o_orderkey, "inner")
    assert joined.count() == plain.count()
    got = sorted(r.l_orderkey for r in joined.select("l_orderkey").collect())
    want = sorted(r.l_orderkey for r in plain.select("l_orderkey").collect())
    assert got == want


def test_repartition_by_quantiles_balances_skew(spark):
    from bloom_filter_spark.functions.joins import repartition_by_quantiles
    from bloom_filter_spark.sources import ensure_fixtures
    toks = spark.read.parquet(f"{ensure_fixtures('sf0.001')}/tokens.parquet")
    flat = toks.select(F.explode("tokens").alias("t"))  # zipf: heavy skew
    out = repartition_by_quantiles(flat, "t", 8)
    sizes = out.rdd.glom().map(len).collect()
    sizes = [s for s in sizes if s > 0]
    # zipf point masses force some imbalance, but no partition may exceed
    # ~3x the mean (hash-partition on the raw value gives >5x)
    assert max(sizes) <= 3 * (sum(sizes) / len(sizes))


def test_near_dup_clusters(spark):
    from bloom_filter_spark.functions.dedup import near_dup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10, 13: 10}


def test_doc_embedding_fixture_twins(tmp_path):
    """The sf-scalable documents/embeddings twins are deterministic and
    carry the planted workload structure the dedup/ANN operators need."""
    import duckdb

    from bloom_filter_spark.sources import fixtures as fx
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(), b.mkdir()
    fx.generate_docs_embeddings("sf0.01", str(a))
    fx.generate_docs_embeddings("sf0.01", str(b))
    for f in ("documents.parquet", "embeddings.parquet"):
        assert (a / f).read_bytes() == (b / f).read_bytes()
    n, dn = duckdb.sql(f"""
        SELECT count(*), count(DISTINCT text)
        FROM read_parquet('{a}/documents.parquet')""").fetchone()
    assert n == 500 and dn < n  # planted exact duplicates exist
    dim, nv = duckdb.sql(f"""
        SELECT min(len(embedding)), count(*)
        FROM read_parquet('{a}/embeddings.parquet')""").fetchone()
    assert dim == fx.EMB_DIM and nv == 500
    # planted near-dup embedding pairs sit above cosine 0.85
    sims = duckdb.sql(f"""
        SELECT a.vec_id, list_dot_product(a.embedding, b.embedding)
        FROM read_parquet('{a}/embeddings.parquet') a
        JOIN read_parquet('{a}/embeddings.parquet') b
          ON b.vec_id = a.vec_id + 1 AND a.vec_id % 100 = 0
          AND a.vec_id > 0""").fetchall()
    assert sims and all(s > 0.85 for _, s in sims)


def test_near_dup_clusters_chain_converges_logarithmically(spark):
    """Pointer doubling: a 64-node chain (worst-case diameter for plain
    min-label propagation, which needs 63 rounds) must converge in
    ≤ ceil(log2(64)) + 1 = 7 rounds (verdict r2 #8)."""
    from bloom_filter_spark.functions.dedup import near_dup_clusters
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long")
    stats = {}
    got = {r.doc_id: r.cluster_id
           for r in near_dup_clusters(chain, stats=stats).collect()}
    assert got == {i: 0 for i in range(64)}
    assert stats["changed_rounds"] <= 7, stats


def test_near_dup_clusters_warns_on_non_convergence(spark):
    import warnings
    from bloom_filter_spark.functions.dedup import near_dup_clusters
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        near_dup_clusters(chain, max_iters=2).collect()
    assert any("still changing" in str(x.message) for x in w)


def test_near_dup_clusters_on_real_pairs(spark, docs, exact_pairs):
    from bloom_filter_spark.functions.dedup import near_dup_clusters
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in exact_pairs], "doc_a long, doc_b long")
    clusters = near_dup_clusters(pairs).collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    # every cluster id is the min of its members
    for cid, members in by_cluster.items():
        assert cid == min(members)


# ------------------------------------------------------------- weighted sample
def test_weighted_sample_deterministic_and_partition_invariant(docs, spark):
    from bloom_filter_spark.functions import sampling
    s1 = sampling.weighted_sample_topk(docs, "doc_id", "n_chars", k=50)
    s2 = sampling.weighted_sample_topk(docs.repartition(13), "doc_id",
                                       "n_chars", k=50)
    r1 = [(r.doc_id, round(r.logkey, 9)) for r in s1.collect()]
    r2 = [(r.doc_id, round(r.logkey, 9)) for r in s2.collect()]
    assert r1 == r2  # same sample under any partitioning
    assert len(r1) == 50 and len(set(i for i, _ in r1)) == 50


def test_weighted_sample_favors_heavy_items(spark):
    from bloom_filter_spark.functions import sampling
    # 100 heavy items (weight 100) among 900 light (weight 1): the expected
    # heavy share of a 100-draw A-ES sample is ~91%; assert a loose floor
    rows = [(i, 100.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    got = sampling.weighted_sample_topk(df, "id", "w", k=100).collect()
    heavy = sum(1 for r in got if r.id < 100)
    assert heavy >= 70


def test_weighted_sample_duplicate_ids_idempotent(spark):
    from bloom_filter_spark.functions import sampling
    base = [(i, float(i % 7 + 1)) for i in range(500)]
    df1 = spark.createDataFrame(base, "id long, w double")
    df2 = spark.createDataFrame(base + base[:200], "id long, w double")
    s1 = {r.id for r in sampling.weighted_sample_topk(
        df1, "id", "w", k=40).collect()}
    s2 = {r.id for r in sampling.weighted_sample_topk(
        df2, "id", "w", k=40, dedup=True).collect()}
    assert s1 == s2  # re-ingested copies cannot displace other items


def test_weighted_sample_plan_is_take_ordered(docs):
    from bloom_filter_spark.functions import sampling
    plan = (sampling.weighted_sample_topk(docs, "doc_id", "n_chars", k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no sort


def test_weighted_sample_rejects_nonpositive_weights():
    from bloom_filter_spark.functions import sampling
    import numpy as np
    with pytest.raises(ValueError, match="strictly positive"):
        sampling.weighted_logkeys_np(np.arange(3), np.array([1.0, 0.0, 2.0]), 42)


def test_weighted_sample_per_group_counts_and_consistency(docs):
    from bloom_filter_spark.functions import sampling
    got = sampling.weighted_sample_per_group(
        docs, "doc_id", "n_chars", "source", k=7).collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.source, []).append(r)
    n_src = docs.select("source").distinct().count()
    assert len(by_grp) == n_src
    assert all(len(v) == 7 for v in by_grp.values())
    # same deterministic keys as the global draw: each group's rows are that
    # group's top-7 of the globally keyed table
    all_keyed = {r.doc_id: r.logkey for r in sampling.weighted_sample_topk(
        docs, "doc_id", "n_chars", k=docs.count()).collect()}
    for rows in by_grp.values():
        for r in rows:
            assert abs(all_keyed[r.doc_id] - r.logkey) < 1e-12


# ------------------------------------------------------------------ as-of join
def test_asof_join_matches_pandas_merge_asof(spark):
    import pandas as pd
    from bloom_filter_spark.functions.joins import asof_join
    rng = np.random.default_rng(7)
    left = pd.DataFrame({
        "k": rng.integers(0, 5, 200), "lt": rng.integers(0, 10_000, 200),
        "lid": np.arange(200)})
    right = pd.DataFrame({
        "k": rng.integers(0, 5, 300), "rt": rng.integers(0, 10_000, 300),
        "payload": rng.normal(size=300).round(6)})
    right = right.drop_duplicates(["k", "rt"]).reset_index(drop=True)
    ldf = spark.createDataFrame(left.astype({"k": "int64", "lt": "int64"}))
    rdf = spark.createDataFrame(right.astype({"k": "int64", "rt": "int64"}))
    got = asof_join(ldf, rdf, key="k", left_ts="lt", right_ts="rt",
                    right_cols=["payload"]).toPandas()
    want = pd.merge_asof(left.sort_values("lt"), right.sort_values("rt"),
                         left_on="lt", right_on="rt", by="k",
                         direction="backward")
    got = got.sort_values("lid").reset_index(drop=True)
    want = want.sort_values("lid").reset_index(drop=True)
    assert (got["payload"].fillna(-1).to_numpy()
            == want["payload"].fillna(-1).to_numpy()).all()
    assert (got["rt_matched"].fillna(-1).to_numpy()
            == want["rt"].fillna(-1).to_numpy()).all()


def test_asof_join_equal_ts_matches_and_tolerance(spark):
    from bloom_filter_spark.functions.joins import asof_join
    ldf = spark.createDataFrame(
        [(1, 100, 0), (1, 250, 1), (2, 50, 2)], "k long, lt long, lid long")
    rdf = spark.createDataFrame(
        [(1, 100, 7, 1.5), (1, 90, 6, 2.5)], "k long, rt long, rid long, v double")
    got = {r.lid: (r.rid, r.rt_matched) for r in asof_join(
        ldf, rdf, key="k", left_ts="lt", right_ts="rt",
        right_cols=["rid", "v"], tie_col="rid").collect()}
    assert got[0] == (7, 100)      # right row AT left ts matches (<=)
    assert got[1] == (7, 100)      # latest wins
    assert got[2] == (None, None)  # no right rows for key 2
    tol = {r.lid: (r.rid, r.rt_matched) for r in asof_join(
        ldf, rdf, key="k", left_ts="lt", right_ts="rt",
        right_cols=["rid", "v"], tie_col="rid", tolerance=100).collect()}
    assert tol[0] == (7, 100)      # age 0 ≤ 100
    assert tol[1] == (None, None)  # age 150 > 100 → null-extended


def test_asof_join_time_sliced_equals_unsliced_on_hot_key(spark):
    """Time-slice pre-split (the hot-key skew defense): one key carries 50×
    the rows of the others; slicing must (a) return EXACTLY the unsliced
    results, including across-slice matches and tolerance nulls, and
    (b) bound the per-window-task row count to ~1/n_slices of the hot key."""
    import pandas as pd
    from bloom_filter_spark.functions.joins import (asof_join, bucket_expr,
                                                    quantile_buckets)
    rng = np.random.default_rng(23)
    n_hot, n_cold = 4000, 80
    left = pd.DataFrame({
        "k": np.concatenate([np.zeros(n_hot, np.int64),
                             rng.integers(1, 5, n_cold)]),
        "lt": rng.integers(0, 100_000, n_hot + n_cold),
        "lid": np.arange(n_hot + n_cold)})
    right = pd.DataFrame({
        "k": np.concatenate([np.zeros(n_hot, np.int64),
                             rng.integers(1, 5, n_cold)]),
        "rt": rng.integers(0, 100_000, n_hot + n_cold),
        "rid": np.arange(n_hot + n_cold),
        "payload": rng.normal(size=n_hot + n_cold).round(6)})
    # sparsify late right rows for key 0 so many slices have NO right rows —
    # exercises seed propagation across more than one slice boundary
    right = right[(right.k != 0) | (right.rt < 60_000) | (right.rid % 37 == 0)]
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)

    kw = dict(key="k", left_ts="lt", right_ts="rt",
              right_cols=["rid", "payload"], tie_col="rid")
    base = {r.lid: (r.rid, r.payload, r.rt_matched)
            for r in asof_join(ldf, rdf, **kw).collect()}
    for n_slices in (2, 8):
        sliced = {r.lid: (r.rid, r.payload, r.rt_matched)
                  for r in asof_join(ldf, rdf, n_slices=n_slices, **kw).collect()}
        assert sliced == base
    # tolerance interacts with seeded matches identically
    base_tol = {r.lid: r.rid for r in asof_join(
        ldf, rdf, tolerance=5_000, **kw).collect()}
    sliced_tol = {r.lid: r.rid for r in asof_join(
        ldf, rdf, tolerance=5_000, n_slices=8, **kw).collect()}
    assert sliced_tol == base_tol

    # bounded per-task rows: the largest (key, slice) window partition must
    # be a fraction of the hot key's unsliced 2×n_hot-row partition
    bounds = quantile_buckets(
        ldf.select(F.col("lt").alias("_t"))
           .unionAll(rdf.select(F.col("rt").alias("_t"))), "_t", 8)
    per_slice = (ldf.withColumn("_sl", bucket_expr("lt", bounds))
                 .groupBy("k", "_sl").count().agg(F.max("count")).collect()[0][0])
    assert per_slice <= (2 * n_hot) / 4


def test_asof_join_rejects_internal_prefix_columns(spark):
    from bloom_filter_spark.functions.joins import asof_join
    ldf = spark.createDataFrame([(1, 10, 5)], "k long, lt long, _r_x long")
    rdf = spark.createDataFrame([(1, 5, 2.0)], "k long, rt long, v double")
    with pytest.raises(ValueError, match="_r_x"):
        asof_join(ldf, rdf, key="k", left_ts="lt", right_ts="rt",
                  right_cols=["v"])


def test_range_join_equals_inequality_join(spark):
    from bloom_filter_spark.functions.joins import range_join
    rng = np.random.default_rng(11)
    pts = [(int(k), int(i), int(t)) for i, (k, t) in enumerate(
        zip(rng.integers(0, 4, 300), rng.integers(0, 100_000, 300)))]
    ivs = []
    for j in range(80):
        s = int(rng.integers(0, 100_000))
        ivs.append((int(rng.integers(0, 4)), j, s, s + int(rng.integers(0, 5_000))))
    pdf = spark.createDataFrame(pts, "k long, pid long, pt long")
    idf = spark.createDataFrame(ivs, "k long, iid long, lo long, hi long")
    got = {(r.pid, r.iid) for r in range_join(
        pdf, idf, key="k", point_ts="pt", start_ts="lo", end_ts="hi",
        bucket=4_000).collect()}
    want = {(r.pid, r.iid) for r in pdf.join(
        idf, (pdf.k == idf.k) & pdf.pt.between(idf.lo, idf.hi)).collect()}
    assert got == want
    # boundary inclusivity: point exactly at lo and at hi both match
    p2 = spark.createDataFrame([(1, 0, 100), (1, 1, 200)], "k long, pid long, pt long")
    i2 = spark.createDataFrame([(1, 9, 100, 200)], "k long, iid long, lo long, hi long")
    assert {(r.pid, r.iid) for r in range_join(
        p2, i2, key="k", point_ts="pt", start_ts="lo", end_ts="hi",
        bucket=64).collect()} == {(0, 9), (1, 9)}


def test_range_join_plan_stays_equi(spark):
    from bloom_filter_spark.functions.joins import range_join
    pdf = spark.range(100).selectExpr("id % 5 as k", "id as pid", "id * 7 as pt")
    idf = spark.range(20).selectExpr("id % 5 as k", "id as iid",
                                     "id * 31 as lo", "id * 31 + 50 as hi")
    plan = range_join(pdf, idf, key="k", point_ts="pt", start_ts="lo",
                      end_ts="hi", bucket=50)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_rejects_colliding_columns(spark):
    from bloom_filter_spark.functions.joins import range_join
    df = spark.range(5).selectExpr("id as k", "id as x")
    with pytest.raises(ValueError, match="alias colliding"):
        range_join(df, df, key="k", point_ts="x", start_ts="x", end_ts="x",
                   bucket=10)


# ------------------------------------------------- contamination / boilerplate
def _py_trigrams(text):
    ws = text.split(" ")
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def test_contamination_check_matches_python_recompute(spark, docs):
    """Exactness of the Bloom-prefilter + confirm-join path vs a plain
    Python recompute over the same docs (any Bloom false positive that
    survived the confirm join, or any false negative, would diverge)."""
    from bloom_filter_spark.functions.dedup import contamination_check
    pdf = docs.select("doc_id", "text").toPandas()
    ev_rows = pdf[pdf.doc_id % 10 == 0]
    tr_rows = pdf[pdf.doc_id % 10 != 0]
    ev_grams = set().union(*(_py_trigrams(t) for t in ev_rows.text)) \
        if len(ev_rows) else set()
    want = {int(r.doc_id): (len(_py_trigrams(r.text)),
                            len(_py_trigrams(r.text) & ev_grams))
            for r in tr_rows.itertuples()}
    got = {int(r.doc_id): (r.n_grams, r.n_contaminated, r.contaminated)
           for r in contamination_check(
               docs.where(F.col("doc_id") % 10 != 0),
               docs.where(F.col("doc_id") % 10 == 0)).collect()}
    assert set(got) == set(want)
    for did, (ng, nc) in want.items():
        assert got[did] == (ng, nc, nc > 0), did
    assert any(v[2] for v in got.values())  # fixture has real contamination


def test_boilerplate_ngrams_matches_python_recompute(spark, docs):
    from collections import Counter

    from bloom_filter_spark.functions.dedup import boilerplate_ngrams
    pdf = docs.select("doc_id", "text").toPandas()
    grams = {int(r.doc_id): _py_trigrams(r.text) for r in pdf.itertuples()}
    df_count = Counter(g for gs in grams.values() for g in gs)
    bp = {g for g, c in df_count.items() if c >= 5}
    got = {int(r.doc_id): (r.n_grams, r.n_boilerplate, r.boilerplate_ratio)
           for r in boilerplate_ngrams(docs, min_docs=5).collect()}
    assert set(got) == set(grams)
    for did, gs in grams.items():
        nb = len(gs & bp)
        assert got[did][:2] == (len(gs), nb), did
        # Spark F.round is HALF_UP, Python round() is banker's — compare
        # with a tolerance wider than the 6-dp rounding step's half
        assert abs(got[did][2] - nb / len(gs)) <= 6e-7, did
    assert any(v[1] > 0 for v in got.values())  # boilerplate actually found


# --------------------------------------------------- hash split / repetition
def test_hash_split_deterministic_and_stable(spark, docs):
    """Split assignment must equal a hashlib recompute of the same md5
    arithmetic (engine-independence), be stable under ingestion (subset
    rows keep their assignment), roughly respect proportions, and re-roll
    under a different salt."""
    import hashlib

    from bloom_filter_spark.functions.sampling import hash_split
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r.doc_id: r.split
           for r in hash_split(docs, "doc_id", weights, salt="s1")
           .select("doc_id", "split").collect()}

    def expect(did):
        h = int(hashlib.md5(f"{did}s1".encode()).hexdigest()[:8], 16)
        if h < int(0.8 * (1 << 32)):
            return "train"
        if h < int(0.9 * (1 << 32)):
            return "val"
        return "test"

    assert got == {did: expect(did) for did in got}
    frac = sum(1 for s in got.values() if s == "train") / len(got)
    assert 0.7 < frac < 0.9
    # stability: a subset re-split assigns identically
    sub = {r.doc_id: r.split
           for r in hash_split(docs.limit(100), "doc_id", weights, salt="s1")
           .select("doc_id", "split").collect()}
    assert all(got[d] == s for d, s in sub.items())
    # different salt re-rolls
    other = {r.doc_id: r.split
             for r in hash_split(docs, "doc_id", weights, salt="s2")
             .select("doc_id", "split").collect()}
    assert other != got
    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {})


def test_repetition_score_matches_python_recompute(spark, docs):
    from collections import Counter

    from bloom_filter_spark.functions.textstats import repetition_score
    pdf = docs.select("doc_id", "text").toPandas()
    got = {int(r.doc_id): r for r in repetition_score(docs).collect()}
    for row in pdf.itertuples():
        ws = row.text.split(" ")
        grams = [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)]
        if not grams:
            assert int(row.doc_id) not in got
            continue
        c = Counter(grams)
        g = got[int(row.doc_id)]
        assert g.n_grams_total == len(grams)
        assert g.n_grams_distinct == len(c)
        assert abs(g.repetition_ratio - (1 - len(c) / len(grams))) <= 6e-7
        assert abs(g.top_gram_frac - max(c.values()) / len(grams)) <= 6e-7
    assert any(g.repetition_ratio > 0 for g in got.values())


def test_hash_split_rejects_nan_and_nulls_get_null_split(spark):
    from bloom_filter_spark.functions.sampling import hash_split
    with pytest.raises(ValueError, match="finite"):
        hash_split(spark.range(1), "id", {"train": float("nan"), "t": 0.1})
    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    got = {r.doc_id: r.split for r in hash_split(
        df, "doc_id", {"a": 0.5, "b": 0.5}).collect()}
    assert got[1] in ("a", "b") and got[None] is None


def test_pack_offsets_matches_cumsum_any_partitioning(spark, docs):
    """The distributed prefix sum must equal a single-threaded pandas
    cumsum in doc_id order, for several partition counts (per-partition
    windows + base-offset fold must be seam-free), with straddling docs
    getting the concat-then-chunk bin/offset."""
    from bloom_filter_spark.functions.sampling import pack_offsets
    pdf = (docs.select("doc_id", "n_chars").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    cum = pdf["n_chars"].cumsum() - pdf["n_chars"]
    want = {int(r.doc_id): (int(c), int(c) // 2048, int(c) % 2048)
            for r, c in zip(pdf.itertuples(), cum)}
    for parts in (None, 1, 7):
        got = {int(r.doc_id): (r.start_offset, r.bin_id, r.bin_offset)
               for r in pack_offsets(docs, "doc_id", "n_chars", 2048,
                                     num_partitions=parts).collect()}
        assert got == want, parts
    assert max(b for _, b, _ in got.values()) > 0  # multiple bins exist
    with pytest.raises(ValueError):
        pack_offsets(docs, "doc_id", "n_chars", 0)


def test_stratified_hash_sample_nested_and_deterministic(spark, docs):
    """Raising a rate must strictly GROW the kept set (nested samples), the
    keep decision must match a hashlib recompute, and unknown strata use
    the default rate."""
    import hashlib

    from bloom_filter_spark.functions.sampling import stratified_hash_sample

    def keep_ids(rates, default=1.0):
        return {r.doc_id for r in stratified_hash_sample(
            docs, "doc_id", "lang", rates, default_rate=default,
            salt="t").collect()}

    half = keep_ids({"en": 0.5})
    quarter = keep_ids({"en": 0.25})
    assert quarter <= half
    pdf = docs.select("doc_id", "lang").toPandas()
    want = set()
    for r in pdf.itertuples():
        h = int(hashlib.md5(f"{r.doc_id}t".encode()).hexdigest()[:8], 16)
        thr = int(0.5 * (1 << 32)) if r.lang == "en" else (1 << 32)
        if h < thr:
            want.add(int(r.doc_id))
    assert half == want
    assert keep_ids({}, default=1.0) == set(pdf.doc_id)  # default keeps all
    with pytest.raises(ValueError):
        stratified_hash_sample(docs, "doc_id", "lang", {"en": 1.5})


def test_repeated_spans_positions_and_runs(spark):
    """Constructed docs with one copied sentence: occurrence rows carry the
    exact 0-based start positions, runs merge consecutive spans into one
    excision, and unique text yields no rows."""
    from bloom_filter_spark.functions.dedup import repeated_spans
    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    rows = [
        (1, f"alpha beta {shared} gamma delta"),          # span starts at 2
        (2, f"{shared} unrelated tail words here"),       # span starts at 0
        (3, "completely different words with no overlap at all ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    occ = repeated_spans(docs, width=5, min_docs=2, merge_runs=False).collect()
    # 10-word shared block → 6 spans of width 5 per doc, offsets 0..5
    by_doc = {}
    for r in occ:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.span, r.n_docs))
    assert 3 not in by_doc
    assert sorted(p for p, _, _ in by_doc[1]) == [2, 3, 4, 5, 6, 7]
    assert sorted(p for p, _, _ in by_doc[2]) == [0, 1, 2, 3, 4, 5]
    assert all(r.n_docs == 2 for r in occ)
    sh_words = shared.split(" ")
    for p, span, _ in by_doc[2]:
        assert span == " ".join(sh_words[p:p + 5])
    runs = repeated_spans(docs, width=5, min_docs=2).collect()
    got = {r.doc_id: (r.start_pos, r.end_pos, r.n_spans) for r in runs}
    assert got == {1: (2, 7, 6), 2: (0, 5, 6)}
    # excision window covers the whole copied block
    s, e, _ = got[1]
    assert e + 5 - 1 - s + 1 == len(sh_words)


def test_repeated_spans_two_runs_per_doc(spark):
    """Two disjoint copied blocks in one doc → two separate runs."""
    from bloom_filter_spark.functions.dedup import repeated_spans
    a = "one two three four five"           # 5 words → single width-5 span
    b = "six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, f"{a} xxa xxb xxc {b}"), (2, a), (3, b)],
        "doc_id long, text string")
    runs = {(r.doc_id, r.start_pos, r.end_pos, r.n_spans)
            for r in repeated_spans(docs, width=5, min_docs=2).collect()}
    assert (1, 0, 0, 1) in runs and (1, 8, 8, 1) in runs
    assert (2, 0, 0, 1) in runs and (3, 0, 0, 1) in runs
    assert len(runs) == 4


def test_contamination_distributed_route_identical(spark, docs):
    """Forcing the giant-eval-set route (max_driver_grams=1: executor-built
    Bloom + plain equi-join confirm) must produce EXACTLY the broadcast
    route's rows — the routing is a plan choice, never a semantics
    choice."""
    from bloom_filter_spark.functions.dedup import contamination_check
    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr = docs.where(F.col("doc_id") % 10 != 0)
    small = {tuple(r) for r in contamination_check(tr, ev).collect()}
    big = {tuple(r) for r in
           contamination_check(tr, ev, max_driver_grams=1).collect()}
    assert small == big and len(small) > 0


def test_exact_dedup_incremental_equals_oneshot(spark, docs, tmp_path):
    """(old ∪ new) one-shot ≡ incremental two-step, with the prior state
    round-tripped through parquet (the cross-run persistence contract)."""
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "prior_exact")
    dedup.exact_dedup(old).write.parquet(p)
    prior = spark.read.parquet(p)
    inc = {tuple(r) for r in
           dedup.exact_dedup_incremental(prior, new).collect()}
    oneshot = {tuple(r) for r in dedup.exact_dedup(docs).collect()}
    assert inc == oneshot and len(oneshot) > 0


def test_minhash_incremental_equals_oneshot(spark, docs, tmp_path):
    """prior-run pairs ∪ incremental pairs ≡ one-shot pairs over old ∪ new,
    band state round-tripped through parquet; the two sets are disjoint
    (incremental pairs all touch a new doc)."""
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "bands")
    dedup.minhash_bands(old).write.parquet(p)
    bands = spark.read.parquet(p)

    def pairset(df):
        return {(int(r.doc_a), int(r.doc_b), round(float(r.jaccard), 9))
                for r in df.collect()}

    prior = pairset(dedup.minhash_lsh_pairs(old, threshold=0.5))
    inc = pairset(dedup.minhash_lsh_pairs_incremental(
        new, bands, old, threshold=0.5))
    oneshot = pairset(dedup.minhash_lsh_pairs(docs, threshold=0.5))
    assert prior | inc == oneshot
    assert not (prior & inc)
    new_ids = {int(r.doc_id) for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b, _ in inc)
    assert inc  # fixture has cross-slice near-dups


def test_weighted_sample_uncastable_id_fails_loud(spark):
    """A string id column (cast→long nulls every row) must raise, not
    return a silently empty sample (code-review r5); genuinely NULL ids
    are still dropped silently by contract."""
    from bloom_filter_spark.functions.sampling import (
        weighted_sample_per_group, weighted_sample_topk)
    bad = spark.createDataFrame([("docA", 1.0, "en"), ("docB", 2.0, "de")],
                                "doc_id string, w double, lang string")
    with pytest.raises(Exception, match="not castable"):
        weighted_sample_topk(bad, "doc_id", "w", k=2).collect()
    with pytest.raises(Exception, match="not castable"):
        weighted_sample_per_group(bad, "doc_id", "w", "lang", k=2).collect()
    ok = spark.createDataFrame([(1, 1.0, "en"), (None, 2.0, "de")],
                               "doc_id long, w double, lang string")
    got = weighted_sample_topk(ok, "doc_id", "w", k=5).collect()
    assert [r.doc_id for r in got] == [1]


def test_epoch_shuffle_global_order_and_epoch_variation(spark, docs):
    from bloom_filter_spark.functions.sampling import epoch_shuffle
    out = epoch_shuffle(docs, "doc_id", epoch=1, salt="t")
    rows = out.select("doc_id", "shuffle_key").collect()
    keys = [(r.shuffle_key, r.doc_id) for r in rows]
    # collect() concatenates partitions in index order: range partitioning
    # + local sorts must yield the TOTAL order without a global sort
    assert keys == sorted(keys)
    assert len(rows) == docs.count()
    # determinism across partitionings; new epoch => new permutation
    again = [ (r.shuffle_key, r.doc_id) for r in
              epoch_shuffle(docs.repartition(13), "doc_id", 1, salt="t")
              .select("doc_id", "shuffle_key").collect()]
    assert again == keys
    e2 = [r.doc_id for r in epoch_shuffle(docs, "doc_id", 2, salt="t")
          .select("doc_id").collect()]
    assert e2 != [d for _, d in keys]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    # every Sort in the plan is partition-local (global flag 'true' absent)
    import re
    assert not re.search(r"Sort \[[^\]]*\], true", plan), plan


def test_mixture_sample_multiplicities_match_recompute(spark, docs):
    import hashlib
    from bloom_filter_spark.functions.sampling import mixture_sample
    epochs = {"src0": 2.5, "src1": 0.3, "src2": 0.0}
    out = mixture_sample(docs, "doc_id", "source", epochs).collect()
    got = {}
    for r in out:
        got[r.doc_id] = got.get(r.doc_id, 0) + 1
    counts = {}
    for r in docs.select("doc_id", "source").collect():
        e = epochs.get(r.source, 1.0)
        h = int(hashlib.md5(f"{r.doc_id}mix".encode()).hexdigest()[:8], 16)
        import math
        n = int(math.floor(e)) + (1 if h < int((e - math.floor(e)) * (1 << 32)) else 0)
        if n >= 1:
            counts[r.doc_id] = n
    assert got == counts
    # copy indices are exactly 1..n per doc
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.copy)
    for d, cs in per_doc.items():
        assert sorted(cs) == list(range(1, counts[d] + 1))
    srcs = {r.source for r in out}
    assert "src2" not in srcs and "src0" in srcs


def test_tfidf_top_terms_matches_recompute(spark):
    import math
    from collections import Counter
    from bloom_filter_spark.functions.textstats import tfidf_top_terms
    rows = [(1, "apple banana apple cherry"),
            (2, "banana cherry cherry date"),
            (3, "apple elderberry fig fig fig")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, k=2).collect()
    tf = {d: Counter(t.split(" ")) for d, t in rows}
    dfreq = Counter(w for c in tf.values() for w in c)
    n = float(len(rows))
    want = {}
    for d, c in tf.items():
        scored = sorted(((round(cnt * math.log(n / dfreq[w]), 6), w)
                         for w, cnt in c.items()),
                        key=lambda x: (-x[0], x[1]))[:2]
        want[d] = [(w, s) for s, w in scored]
    got = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.rank)):
        got.setdefault(r.doc_id, []).append((r.term, r.score))
        assert r.df == dfreq[r.term] and r.tf == tf[r.doc_id][r.term]
    assert got == want


def test_source_overlap_matrix_bounds_and_zero_pair(spark):
    """Constructed groups with known overlaps: estimates within the KMV
    bound, zero-overlap pairs present with est≈0, Jaccard sane."""
    from bloom_filter_spark.functions.profiling import source_overlap_matrix
    rows = []
    for i in range(3000):
        rows.append(("a", [i]))                # a = 0..2999
        rows.append(("b", [i + 1500]))         # b = 1500..4499 (|ab|=1500)
        rows.append(("c", [i + 100_000]))      # c disjoint from a and b
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    out = {(r.group_a, r.group_b): r for r in
           source_overlap_matrix(df, "source", "tokens", k=1024).collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    rse = 1.0 / (1023 ** 0.5)
    ab = out[("a", "b")]
    assert abs(ab.est_common - 1500) <= 6 * rse * 4500
    assert abs(ab.est_union - 4500) <= 6 * rse * 4500
    for pair in (("a", "c"), ("b", "c")):
        r = out[pair]
        assert abs(r.est_common - 0) <= 6 * rse * 6000
        assert r.est_jaccard <= 0.05


def test_trim_by_group_rank_exact_semantics(spark):
    from bloom_filter_spark.functions.sampling import trim_by_group_rank
    rows = ([("g", v) for v in [10, 20, 20, 30, 40, 50, 60, 70, 80, 1000]]
            + [("h", 5), ("h", None), ("solo", 7)])
    df = spark.createDataFrame(rows, "src string, v int")
    kept = trim_by_group_rank(df, "v", "src", lower_q=0.0, upper_q=0.9,
                              keep_rank=True).collect()
    g = sorted(r.v for r in kept if r.src == "g")
    assert 1000 not in g and g[0] == 10          # top outlier trimmed
    assert len(g) == 9                            # pct_rank 1.0 only drop
    # ties share a rank: both 20s kept together
    assert g.count(20) == 2
    # singleton group has percent_rank 0 → kept; NULLs dropped
    assert [r.v for r in kept if r.src == "solo"] == [7]
    assert [r.v for r in kept if r.src == "h"] == [5]
    with pytest.raises(ValueError):
        trim_by_group_rank(df, "v", "src", lower_q=0.5, upper_q=0.2)


def test_funnel_conversion_ordering_and_window(spark):
    from bloom_filter_spark.functions.relational import funnel_conversion
    rows = [
        # u1 completes A->B->C in order
        (1, "A", 10), (1, "B", 20), (1, "C", 30),
        # u2 has all three but B precedes A => stops after A
        (2, "B", 5), (2, "A", 10), (2, "C", 4),
        # u3 completes but C only outside the within window
        (3, "A", 0), (3, "B", 50), (3, "C", 500),
        # u4 never does A
        (4, "B", 1), (4, "C", 2),
        # u5: equal timestamps do NOT chain (strict >)
        (5, "A", 7), (5, "B", 7),
    ]
    df = spark.createDataFrame(rows, "user_id long, t string, ts long")
    got = {r.step: (r.n_users, r.conversion) for r in funnel_conversion(
        df, "user_id", "t", "ts", ["A", "B", "C"]).collect()}
    assert got["A"] == (4, 1.0)       # u1,u2,u3,u5
    assert got["B"] == (2, 0.5)       # u1,u3 (u5 tie excluded)
    assert got["C"] == (2, 0.5)       # u1,u3
    win = {r.step: r.n_users for r in funnel_conversion(
        df, "user_id", "t", "ts", ["A", "B", "C"], within=100).collect()}
    assert win["C"] == 1              # u3's C at 500 > 0+100


def test_apply_keep_policy(spark):
    from bloom_filter_spark.functions.dedup import apply_keep_policy
    docs = spark.createDataFrame(
        [(i, f"s{i}") for i in range(6)], "doc_id long, source string")
    clusters = spark.createDataFrame(
        [(0, 0), (3, 0), (5, 0), (2, 2)], "doc_id long, cluster_id long")
    kept = sorted(r.doc_id for r in apply_keep_policy(docs, clusters).collect())
    # 3 and 5 drop (clustered, non-representative); 0 and 2 are reps;
    # 1 and 4 unclustered
    assert kept == [0, 1, 2, 4]


def test_quantize_embeddings_int8_semantics(spark):
    from bloom_filter_spark.functions.similarity import quantize_embeddings_int8
    rows = [
        (1, [1.0, -1.0, 0.5]),        # scale 1/127; q = [127, -127, 64]
        (2, [0.0, 0.0]),              # zero vector -> zeros
        (3, [2.54]),                  # single dim -> q = 127
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.n_dims, r.sum_q, r.sum_abs_q, r.max_q, r.min_q)
           for r in quantize_embeddings_int8(df).collect()}
    # v1: scale = 1/127 -> q = [127, -127, floor(63.5 + .5)=64]
    assert got[1] == (3, 64, 318, 127, -127)
    assert got[2] == (2, 0, 0, 0, 0)
    assert got[3] == (1, 127, 127, 127, 127)


def test_token_distribution_drift_matches_recompute(spark):
    """PSI/KL vs a direct numpy recompute on a constructed corpus, including
    a token present in only one group (the smoothing path) and symmetry of
    PSI under group swap."""
    import math
    from bloom_filter_spark.functions.profiling import token_distribution_drift
    rows = [("a", [1, 1, 2, 3]), ("a", [2, 2, 4]),
            ("b", [1, 3, 3, 3]), ("b", [5, 5])]  # 4,5 are one-sided
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    got = token_distribution_drift(df, "source", "tokens", "a", "b").collect()[0]
    ca = {1: 2, 2: 3, 3: 1, 4: 1}
    cb = {1: 1, 3: 3, 5: 2}
    vocab = sorted(set(ca) | set(cb))
    na, nb, v, s = sum(ca.values()), sum(cb.values()), len(vocab), 0.5
    psi = kl_ab = kl_ba = 0.0
    for t in vocab:
        p = (ca.get(t, 0) + s) / (na + s * v)
        q = (cb.get(t, 0) + s) / (nb + s * v)
        psi += (p - q) * math.log(p / q)
        kl_ab += p * math.log(p / q)
        kl_ba += q * math.log(q / p)
    assert got.n_tokens_a == na and got.n_tokens_b == nb
    assert got.n_vocab_union == v
    assert got.psi == round(psi, 6) and got.psi > 0
    assert got.kl_ab == round(kl_ab, 6)
    assert got.kl_ba == round(kl_ba, 6)
    swapped = token_distribution_drift(df, "source", "tokens", "b", "a").collect()[0]
    assert swapped.psi == got.psi              # PSI is symmetric
    assert swapped.kl_ab == got.kl_ba          # KL directions swap


def test_token_distribution_drift_single_corpus_scan(spark):
    """The totals (na, nb, v) must come from window aggregates over the
    vocab-sized counts, NOT a separately-planned broadcast subquery — that
    shape scanned + exploded the corpus twice (sf1 drift 99.6 s → 10.3 s
    after the fix).  Pin one scan / one explode in the executed plan."""
    from bloom_filter_spark.functions.profiling import token_distribution_drift
    rows = [("a", [1, 2]), ("b", [2, 3])]
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    plan = (token_distribution_drift(df, "source", "tokens", "a", "b")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Generate explode") == 1
    assert plan.count("LocalTableScan") + plan.count("Scan ") == 1
    # exact_ks: totals ride the cumulative window's sort — same invariant
    from bloom_filter_spark.functions.profiling import exact_ks
    kdf = spark.createDataFrame([("a", 1), ("a", 2), ("b", 2)],
                                "source string, n int")
    kplan = (exact_ks(kdf, "source", "n", "a", "b")
             ._jdf.queryExecution().executedPlan().toString())
    assert kplan.count("LocalTableScan") + kplan.count("Scan ") == 1


def test_pii_scan_counts_and_redaction(spark):
    """Regex semantics pinned on constructed edge cases: multiple matches,
    word-boundary guards, category interaction, and PII-free passthrough."""
    from bloom_filter_spark.functions import pii
    rows = [
        (1, "mail a.b+c@ex-1.co and X@y.org now"),           # 2 emails
        (2, "call 555-123-4567 or 555-000-1111."),           # 2 phones
        (3, "host 10.0.0.1 then 192.168.255.7 end"),         # 2 IPv4s
        (4, "x5555-123-45678 and 1.2.3.4567"),               # \b rejects both
        (5, "clean text without identifiers"),               # nothing
        (6, "a@b.io at 10.1.2.3 call 555-111-2222"),         # one of each
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in pii.pii_scan(df).collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (2, 0, 0)
    assert got[1].redacted == "mail <EMAIL> and <EMAIL> now"
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 2, 0)
    assert got[2].redacted == "call <PHONE> or <PHONE>."
    assert (got[3].n_email, got[3].n_phone, got[3].n_ipv4) == (0, 0, 2)
    assert got[3].redacted == "host <IP> then <IP> end"
    # word boundaries: digit runs glued to more digits/letters must not match
    assert (got[4].n_phone, got[4].n_ipv4) == (0, 0)
    assert not got[4].has_pii
    assert not got[5].has_pii and got[5].redacted == rows[4][1]
    assert (got[6].n_email, got[6].n_phone, got[6].n_ipv4) == (1, 1, 1)
    assert got[6].redacted == "<EMAIL> at <IP> call <PHONE>"
    assert got[6].has_pii


def test_quantized_topk_recall_and_determinism(spark, emb):
    """Quantized candidate ranking must closely track exact top-k (int8
    cosine error ~1/127), exclude zero-norm vectors, and produce stable
    ranks; exact_sim rescore equals brute-force sims for shared pairs."""
    from bloom_filter_spark.functions import similarity
    qids = list(range(10))
    got = similarity.quantized_topk(emb, qids, k=5).collect()
    assert len(got) == 5 * len(qids)
    exact = {(r.query_id, r.neighbor_id): r.sim
             for r in similarity.brute_force_topk(emb, qids, k=5).collect()}
    hits = sum((r.query_id, r.neighbor_id) in exact for r in got)
    assert hits / len(got) >= 0.8          # int8 ranking tracks exact top-5
    for r in got:
        assert abs(r.sim_q8 - r.exact_sim) <= 0.02   # quantization error
        if (r.query_id, r.neighbor_id) in exact:     # rescore == exact sim
            assert r.exact_sim == exact[(r.query_id, r.neighbor_id)]
    ranks = sorted((r.query_id, r.rank) for r in got)
    assert ranks == sorted((q, i) for q in qids for i in range(1, 6))


def test_quantized_topk_zero_vector_excluded(spark):
    from bloom_filter_spark.functions import similarity
    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.quantized_topk(df, [0], k=3).collect()
    assert sorted(r.neighbor_id for r in got) == [1, 3]   # zero vec dropped
    assert all(r.query_id == 0 for r in got)


def test_quantile_drift_ks_matches_scipy_style_recompute(spark):
    """Exact KS via integer numerators equals a direct recompute; the
    KLL-based estimate sits within the uniform rank bound."""
    import numpy as np
    from bloom_filter_spark.functions.profiling import exact_ks, quantile_drift_ks
    rng = np.random.default_rng(11)
    a = rng.integers(1, 200, 4000)
    b = rng.integers(30, 260, 5000)   # shifted → real drift
    rows = ([("a", int(v)) for v in a] + [("b", int(v)) for v in b])
    df = spark.createDataFrame(rows, "source string, n_tok int")
    got = exact_ks(df, "source", "n_tok", "a", "b").collect()[0]
    # direct recompute
    grid = np.union1d(a, b)
    cdfa = np.searchsorted(np.sort(a), grid, side="right") / a.size
    cdfb = np.searchsorted(np.sort(b), grid, side="right") / b.size
    ks_true = float(np.abs(cdfa - cdfb).max())
    assert got.n_a == a.size and got.n_b == b.size
    assert got.ks_exact == round(ks_true, 6)
    ks_est, eps = quantile_drift_ks(df, "source", "n_tok", "a", "b", k=200)
    assert abs(ks_est - ks_true) <= 3 * eps
    assert ks_est > 0.1               # the shift is detected


def test_temperature_mixture_multiplicities_match_recompute(spark, docs):
    """temperature_mixture(α=0.5): per-doc copy counts must equal a full
    local recompute of the micro-epoch quantization + md5 gate, expected
    output size ≈ corpus size, and α<1 must rebalance toward tail sources
    (smaller source gets a HIGHER epoch factor than a bigger one)."""
    import hashlib
    import math
    from bloom_filter_spark.functions.sampling import temperature_mixture
    out = temperature_mixture(docs, "doc_id", "source", alpha=0.5).collect()
    rows = docs.select("doc_id", "source").collect()
    counts = {}
    for r in rows:
        counts[r.source] = counts.get(r.source, 0) + 1
    T = float(len(rows))
    S = 0.0
    for s in sorted(counts):
        S += math.sqrt(counts[s])
    e6 = {s: int(math.floor(1000000.0 * T * math.sqrt(counts[s])
                            / (S * counts[s]) + 0.5)) for s in counts}
    want = {}
    for r in rows:
        h = int(hashlib.md5(f"{r.doc_id}tmix".encode()).hexdigest()[:8], 16)
        n = e6[r.source] // 1000000 + (
            1 if h < (e6[r.source] % 1000000) * 4294967296 // 1000000 else 0)
        if n >= 1:
            want[r.doc_id] = n
    got = {}
    for r in out:
        got[r.doc_id] = got.get(r.doc_id, 0) + 1
    assert got == want
    # expected total ≈ T (each doc's expected multiplicity is its source's
    # e6/1e6; sum over docs ≈ T by construction)
    exp_total = sum(counts[s] * e6[s] / 1e6 for s in counts)
    assert abs(exp_total - T) < 1.0
    assert abs(len(out) - T) < 6 * math.sqrt(T)   # hash-gate binomial noise
    # rebalancing direction: smaller source ⇒ larger factor
    big = max(counts, key=lambda s: counts[s])
    small = min(counts, key=lambda s: counts[s])
    if counts[big] > counts[small]:
        assert e6[small] > e6[big]
    # α=1 is the identity mixture: every factor quantizes to exactly 1e6
    out1 = temperature_mixture(docs, "doc_id", "source", alpha=1.0).collect()
    assert {r.doc_id for r in out1} == {r.doc_id for r in rows}
    assert len(out1) == len(rows)


def test_temperature_mixture_validates_and_drops_nulls(spark):
    import pytest as _pytest
    from bloom_filter_spark.functions.sampling import temperature_mixture
    df = spark.createDataFrame(
        [(None, "a"), ("d1", "a"), ("d2", None)],
        "doc_id string, source string")
    with _pytest.raises(ValueError):
        temperature_mixture(df, "doc_id", "source", alpha=0.0)
    out = temperature_mixture(df, "doc_id", "source", alpha=0.5).collect()
    ids = {r.doc_id for r in out}
    assert None not in ids          # NULL id dropped
    assert "d2" not in ids          # NULL source: no weight, dropped
    assert "d1" in ids
