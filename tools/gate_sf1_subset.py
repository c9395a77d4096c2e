"""sf1 spot-gate for the scale-sensitive queries (r6 verdict #7).

The driver's testdata stops at sf0.1 (600 k lineitem rows), but several
query plans are scale-sensitive: AQE can flip join strategies (broadcast
vs sort-merge) once inputs grow, the salted/grouped sketch routes change
partial counts, and this round's rewrites (native scan, contamination
broadcast join, mixture factor tables) must hold where those flips happen.
This tool gates ~20 such queries against the DuckDB oracle at a synthetic
sf1 (10x sf0.1) — cross-engine agreement over IDENTICAL parquet inputs, so
the check is as strong as the driver's even though the data is ours.

The sf1 tables are derived deterministically from the driver's sf0.1
testdata (read-only, untouched):
  - region/nation: copied verbatim (TPC-H dimension tables do not scale);
  - customer/supplier/part/orders/lineitem/events/embeddings: 10 key-shifted
    copies (every int64 entity key += copy * 10_000_000), preserving
    referential integrity within each copy;
  - documents: 10 copies with doc_id shifted and, for copies 1-9, the word
    order permuted with a seed derived from (copy, md5(text)) — identical
    texts stay identical (planted EXACT-dup families scale linearly) while
    cross-copy texts stop being near-duplicates (keeps the quadratic
    dedup oracles tractable).  Near-duplicate pairs are re-permuted per
    text (their md5s differ), so in copies 1-9 they stop being similar:
    the sf1 near-dup coverage is the sf0.1 set, and near-dup density does
    not scale (the JSON record says so under "neardup_coverage").
Token/probe fixtures resolve through SPARK_GRAFT_ORACLE_SF=sf1 as usual
(fixtures.ensure_fixtures generates the 6 M-row sf1 token table on first
use).  The output dir lives under the repo (.sf1_testdata/, gitignored),
NOT under /root/testdata — tools/check_correctness.py's guard exists
precisely so casual gates cannot wander off the driver data; this tool is
the deliberate exception and says so loudly.

The _SUCCESS marker holds GEN_VERSION; a marker from another generator
version (or none) regenerates the tables.  Query names not in SUBSET, or a
selection that runs no query, exit non-zero.

Usage: python tools/gate_sf1_subset.py [--json BENCH/gate_sf1_subset.json]
                                       [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from check_correctness import canon  # noqa: E402  (tools/ is sys.path[0])

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DIR = "/root/testdata/sf0.1"
OUT_ROOT = os.path.join(REPO, ".sf1_testdata")
OUT_DIR = os.path.join(OUT_ROOT, "sf1")
COPIES = 10
STRIDE = 10_000_000
# written into the _SUCCESS marker; bump whenever the derived tables change
GEN_VERSION = "sf1-subset-2"

# int64 entity-key columns to shift per table (copy i adds i*STRIDE)
KEY_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}
COPY_VERBATIM = ["region", "nation"]
NEARDUP_COVERAGE = ("the sf0.1 set: near-duplicate pairs are re-permuted "
                    "per text in copies 1-9, so near-dup density does not "
                    "scale (exact-dup families do)")

# Scale-sensitive queries: AQE join-flip candidates (contamination, the
# minhash/jaccard dedup family, as-of/range joins, Q18/Q21, prefilter
# join), the grouped/salted sketch routes, every kind the r7 native-scan
# path serves, and the r7 broadcast-factor mixture rewrites.
SUBSET = [
    "text_contamination_check",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_ngram_jaccard",
    "dedup_neardup_clusters",
    "events_asof_attribution",
    "events_asof_attribution_sliced",
    "events_range_join",
    "tpch_q18",
    "tpch_q21",
    "hll_distinct_per_source",
    "mg_grouped_heavy_hitters_per_source",
    "cms_heavy_hitters",
    "countsketch_point_f2",
    "bloom_membership_present",
    "hll_distinct_tokens",
    "bloom_cardinality_estimate",
    "docs_temperature_mixture",
    "docs_mixture_sample",
    "weighted_sample_per_source",
    "bloom_prefilter_join",
    "quantile_range_partitioning",
]

TESTDATA_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]


def _scaled_table(name: str) -> pa.Table:
    t = pq.read_table(f"{SRC_DIR}/{name}.parquet")
    parts = []
    for i in range(COPIES):
        cols = {}
        for col in t.column_names:
            arr = t.column(col)
            if i > 0 and col in KEY_SHIFTS[name]:
                arr = pa.chunked_array(
                    [pa.compute.add(c, i * STRIDE) for c in arr.chunks])
            cols[col] = arr
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def _scaled_documents() -> pa.Table:
    t = pq.read_table(f"{SRC_DIR}/documents.parquet")
    doc_id = np.asarray(t.column("doc_id").to_pylist(), dtype=np.int64)
    texts = t.column("text").to_pylist()
    langs = t.column("lang").to_pylist()
    sources = t.column("source").to_pylist()
    out_id, out_text, out_lang, out_src, out_n = [], [], [], [], []
    for i in range(COPIES):
        out_id.append(doc_id + i * STRIDE)
        if i == 0:
            copy_texts = texts
        else:
            copy_texts = []
            for tx in texts:
                words = tx.split(" ")
                # seed on (copy, text-hash), NOT doc_id: planted exact-dup
                # pairs (same text, different ids) permute identically and
                # stay exact dups within the copy
                h = int.from_bytes(
                    hashlib.md5(tx.encode()).digest()[:8], "little")
                rng = np.random.default_rng([i, h])
                perm = rng.permutation(len(words))
                copy_texts.append(" ".join(words[j] for j in perm))
        out_text.extend(copy_texts)
        out_lang.extend(langs)
        out_src.extend(sources)
        out_n.extend(len(tx) for tx in copy_texts)
    return pa.table({
        "doc_id": pa.array(np.concatenate(out_id), pa.int64()),
        "text": pa.array(out_text, pa.string()),
        "lang": pa.array(out_lang, pa.string()),
        "source": pa.array(out_src, pa.string()),
        "n_chars": pa.array(out_n, pa.int64()),
    })


def ensure_sf1_testdata() -> str:
    marker = os.path.join(OUT_DIR, "_SUCCESS")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == GEN_VERSION:
                return OUT_DIR
        os.remove(marker)  # another generator version: regenerate
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in COPY_VERBATIM:
        pq.write_table(pq.read_table(f"{SRC_DIR}/{name}.parquet"),
                       f"{OUT_DIR}/{name}.parquet")
    for name in KEY_SHIFTS:
        pq.write_table(_scaled_table(name), f"{OUT_DIR}/{name}.parquet")
    pq.write_table(_scaled_documents(), f"{OUT_DIR}/documents.parquet")
    with open(marker, "w") as f:
        f.write(GEN_VERSION)
    return OUT_DIR


def main() -> int:
    import duckdb

    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("error: --json requires a path argument", file=sys.stderr)
            return 2
        json_path = argv[i + 1]
        del argv[i:i + 2]
    only = set(argv)
    unknown = sorted(only - set(SUBSET))
    if unknown:
        print(f"error: not in the sf1 subset: {', '.join(unknown)}",
              file=sys.stderr)
        return 2

    sf_dir = ensure_sf1_testdata()
    # DELIBERATE exception to check_correctness.py's /root/testdata guard:
    # the fixture scale name still matches basename(sf_dir) == 'sf1', which
    # is all the oracle plumbing needs.
    os.environ["SPARK_GRAFT_ORACLE_SF"] = "sf1"

    import __spark_entry__ as entrymod
    from bloom_filter_spark.session import get_spark

    # The weighted-sample oracle's log-key fixture defaults its source to
    # /root/testdata/<sf>, which has no sf1; pre-generate it from OUR sf1
    # documents (the helper takes sf_dir and caches under .fixtures/sf1/,
    # where ORACLES() then finds it) so the oracle registers instead of
    # falling into the try/except omission.
    from bloom_filter_spark.plans.pipeline_queries import _wsample_fixture
    _wsample_fixture(sf_dir)

    spark = get_spark("sf1-subset-gate")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    record: dict[str, dict] = {}
    for name in SUBSET:
        if only and name not in only:
            continue
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            record[name] = {"ok": False, "err": f"spark error: {e}"[:300]}
            failures += 1
            continue
        spark_took = time.time() - t0
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            record[name] = {"ok": False, "err": f"oracle error: {e}"[:300]}
            failures += 1
            continue
        oracle_took = time.time() - t0
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != \
                sorted(map(str.lower, odf.columns)):
            problems.append(
                f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems and canon(sdf) != canon(odf):
            problems.append("value hash mismatch")
            merged = sdf.reindex(sorted(sdf.columns), axis=1)
            print(merged.head(3).to_string(), "\n--- oracle ---\n",
                  odf.reindex(sorted(odf.columns), axis=1).head(3)
                  .to_string())
        rec = {"rows": len(sdf), "spark_sec": round(spark_took, 2),
               "oracle_sec": round(oracle_took, 2)}
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} "
                  f"({spark_took:.1f}s/{oracle_took:.1f}s)")
            record[name] = {"ok": False, "err": "; ".join(problems), **rec}
            failures += 1
        else:
            print(f"ok    {name}: rows={len(sdf)} hash match "
                  f"(spark {spark_took:.1f}s, oracle {oracle_took:.1f}s)")
            record[name] = {"ok": True, **rec}
    if not record:
        print("error: no query ran", file=sys.stderr)
        return 2
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    if json_path:
        import json as _json
        ok = sum(1 for r in record.values() if r["ok"])
        with open(json_path, "w") as f:
            _json.dump({"sf_dir": sf_dir, "sf": "sf1 (synthetic, 10x "
                        "key-shifted sf0.1; see tool docstring)",
                        "neardup_coverage": NEARDUP_COVERAGE,
                        "n_queries": len(record), "n_ok": ok,
                        "all_ok": failures == 0, "queries": record}, f,
                       indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
