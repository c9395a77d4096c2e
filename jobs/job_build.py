"""spark-submit entrypoint: distributed sketch build with checkpoint/lineage.

    zip -r sketchlib.zip bloom_filter_spark
    spark-submit --py-files sketchlib.zip jobs/job_build.py \
        --input /data/tokens_parquet --col tokens --value-kind i32_array \
        --kind bloom --n 65536 --p 0.01 \
        --checkpoint /data/ckpt --sketch-id bloom_tokens_v1

Prints one JSON line with the build metrics (the driver-side contract the
north rule's lineage/metrics requirement hangs off; full state + partials
land in the checkpoint tables).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_sketch(args):
    from bloom_filter_spark.sketches import (
        BlockedBloomParams, BlockedBloomSketch, BloomParams, BloomSketch,
        CMSParams, CMSSketch, HLLParams, HLLSketch, KLLParams, KLLSketch,
        TDigestParams, TDigestSketch)
    if args.kind == "bloom":
        return BloomSketch(BloomParams(n=args.n, p=args.p))
    if args.kind == "blocked_bloom":
        return BlockedBloomSketch(BlockedBloomParams(n=args.n, p=args.p))
    if args.kind == "hll":
        return HLLSketch(HLLParams(b=args.b))
    if args.kind == "cms":
        return CMSSketch(CMSParams(eps=args.eps, delta=args.delta))
    if args.kind == "kll":
        return KLLSketch(KLLParams(k=args.k))
    if args.kind == "tdigest":
        return TDigestSketch(TDigestParams(compression=args.compression))
    raise SystemExit(f"unknown kind {args.kind}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--col", default="tokens")
    ap.add_argument("--value-kind", default="i32_array",
                    choices=["i32_array", "i32", "i64", "f64", "str"])
    ap.add_argument("--kind", default="bloom")
    ap.add_argument("--n", type=int, default=65_536)
    ap.add_argument("--p", type=float, default=0.01)
    ap.add_argument("--b", type=int, default=14)
    ap.add_argument("--eps", type=float, default=0.0001)
    ap.add_argument("--delta", type=float, default=0.001)
    ap.add_argument("--k", type=int, default=200)
    ap.add_argument("--compression", type=float, default=200.0)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--sketch-id", default=None)
    ap.add_argument("--group-by", default=None,
                    help="build one sketch per value of this column")
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--grouped-strategy", default="mapside",
                    choices=("mapside", "salted"),
                    help="mapside: no data shuffle (modest group domains); "
                         "salted: repartition(group, salt) for huge domains")
    args = ap.parse_args()

    from bloom_filter_spark.operators import (
        SketchCheckpoint, build_grouped, build_sketch)
    from bloom_filter_spark.session import get_spark

    spark = get_spark(f"sketch-build-{args.kind}")
    df = spark.read.parquet(args.input)
    sketch = make_sketch(args)
    ck = SketchCheckpoint(args.checkpoint) if args.checkpoint else None

    t0 = time.time()
    out: dict = {"kind": args.kind, "input": args.input}
    if args.group_by:
        rows = build_grouped(df, sketch, args.group_by, args.col,
                             args.value_kind, n_salts=args.n_salts,
                             strategy=args.grouped_strategy).collect()
        out["groups"] = {r.group: r.n_items for r in rows}
        n_items = sum(r.n_items for r in rows)
        if ck and args.sketch_id:
            for r in rows:
                ck.write_final(f"{args.sketch_id}/{r.group}", sketch,
                               bytes(r.state), int(r.n_items))
    else:
        blob, n_items = build_sketch(df, sketch, args.col, args.value_kind,
                                     checkpoint=ck, sketch_id=args.sketch_id)
    elapsed = time.time() - t0
    out.update(n_items=int(n_items), build_s=round(elapsed, 3),
               items_per_sec=round(n_items / elapsed, 0),
               sketch_id=args.sketch_id)
    if ck and args.sketch_id:
        ck.log_metrics(args.sketch_id, out)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
