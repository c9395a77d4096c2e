"""Round-6 adjudication of the `hll_grouped_by_source_salted` regression.

VERDICT r5 (What's wrong #1): the salted grouped build went 2.87 s (r4
driver) → 5.37 s (r5 driver) AND 5.215 s (builder best-of-4), so "host
throttling" alone was ruled out and the r5 StrBuf/staging work was accused.

Code-identity evidence (checked first, this round): `git diff
b486b9a..HEAD` on the executed i32 salted path shows ZERO kernel changes —
`_grouped_phase1_fn`'s i32 branch, `_grouped_phase2_fn`/`merge_blobs`,
sketches/hll.py, sources/fixtures.py and the bench lambda are all
byte-identical between the r4 and r5 binaries (the r5 StrBuf edit touches
only the `str_input` branch, dead on this i32_array line).  Those two
functions are now `_grouped_phase1_fn(sketch, step)`, which folds each
group's rows through the ungrouped fold step, and `_merge_grouped`.  So an r4-kernel
vs r5-kernel interleave would compare a binary with itself; the remaining
discriminator is RELATIVE cost in one session:

  ratio = salted / bloom_build  (same input, same session, interleaved)
    r4 driver: 2.87 / 1.57 = 1.83
    r5 driver: 5.37 / 2.33 = 2.30

If today's interleaved ratio lands near 1.8 the salted line is exonerated
(the r5 window's elevated absolute numbers were sustained host contention,
which hits the full-data-shuffle line hardest); near or above 2.3 means a
real relative regression survived and the kernel must be bisected further.

Arms (rotating order each round so drift hits all equally):
  bloom  — build_sketch Bloom n=65536 (scan-only control, no shuffle)
  mapside— build_grouped strategy=mapside (state-only shuffle control)
  salted — build_grouped strategy=salted (the accused full-data shuffle)

Usage: python tools/ab_salted_r6.py [sf_dir] [--rounds 5] [--cpus 32]
Writes BENCH/AB_salted_r6.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bloom_filter_spark.operators import build_grouped, build_sketch
    from bloom_filter_spark.session import get_spark
    from bloom_filter_spark.sketches import (
        BloomParams, BloomSketch, HLLParams, HLLSketch)
    from bloom_filter_spark.sources.fixtures import (
        ensure_fixtures, sf_name_of_dir)

    fx = ensure_fixtures(sf_name_of_dir(args.sf_dir))
    spark = get_spark("ab_salted_r6", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    tokens = spark.read.parquet(f"{fx}/tokens.parquet")
    tokens.select(F.sum(F.size("tokens"))).collect()  # warm page cache
    build_sketch(tokens.limit(2000), BloomSketch(BloomParams(n=1024, p=0.01)),
                 "tokens", "i32_array", repartition=args.cpus)  # warm workers

    def bloom():
        build_sketch(tokens, BloomSketch(BloomParams(n=65_536, p=0.01)),
                     "tokens", "i32_array")

    def mapside():
        build_grouped(tokens, HLLSketch(HLLParams(b=12)), "source", "tokens",
                      "i32_array", strategy="mapside").collect()

    def salted():
        build_grouped(tokens, HLLSketch(HLLParams(b=12)), "source", "tokens",
                      "i32_array", n_salts=args.cpus, salt_on="doc_id",
                      strategy="salted").collect()

    arms = [("bloom", bloom), ("mapside", mapside), ("salted", salted)]
    times: dict[str, list[float]] = {n: [] for n, _ in arms}
    for r in range(args.rounds):
        order = arms[r % 3:] + arms[:r % 3]  # rotate start each round
        for name, fn in order:
            t0 = time.time()
            fn()
            el = time.time() - t0
            times[name].append(round(el, 3))
            print(f"round {r} {name:8s} {el:6.2f} s", flush=True)

    out = {
        "sf_dir": args.sf_dir, "cpus": args.cpus, "rounds": args.rounds,
        "times": times,
        "best": {n: min(v) for n, v in times.items()},
        "median": {n: round(statistics.median(v), 3) for n, v in times.items()},
        "ratio_salted_over_bloom_best": round(
            min(times["salted"]) / min(times["bloom"]), 3),
        "ratio_salted_over_bloom_median": round(
            statistics.median(times["salted"])
            / statistics.median(times["bloom"]), 3),
        "reference_ratios": {"r4_driver": 1.83, "r5_driver": 2.30},
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "AB_salted_r6.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out["best"]), json.dumps(out["median"]))
    print("ratio best:", out["ratio_salted_over_bloom_best"],
          "median:", out["ratio_salted_over_bloom_median"])


if __name__ == "__main__":
    main()
