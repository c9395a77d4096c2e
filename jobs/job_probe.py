"""spark-submit entrypoint: probe a checkpointed sketch.

    spark-submit --py-files sketchlib.zip jobs/job_probe.py \
        --checkpoint /data/ckpt --sketch-id bloom_tokens_v1 --kind bloom \
        --probes /data/probes.parquet --col token --key-kind i32 \
        [--out /data/probe_results]

Loads the latest final state for the sketch-id, broadcasts it, and answers
membership / point-frequency / rank for every probe row; writes results (if
--out) and prints one JSON metrics line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--sketch-id", required=True)
    ap.add_argument("--kind", required=True)
    ap.add_argument("--probes", required=True)
    ap.add_argument("--col", default="token")
    ap.add_argument("--key-kind", default="i32", choices=["i32", "str"])
    ap.add_argument("--mode", default="membership",
                    choices=["membership", "point", "rank"])
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bloom_filter_spark.operators import (
        SketchCheckpoint, cms_point_udf, membership_udf, rank_udf)
    from bloom_filter_spark.session import get_spark

    spark = get_spark(f"sketch-probe-{args.kind}")
    ck = SketchCheckpoint(args.checkpoint)
    blob, n_built = ck.read_final(spark, args.sketch_id)

    probes = spark.read.parquet(args.probes)
    t0 = time.time()
    if args.mode == "membership":
        udf = membership_udf(spark, blob, args.kind, args.key_kind)
        res = probes.withColumn("member", udf(F.col(args.col)))
        agg = res.agg(F.count("*").alias("n"),
                      F.sum(F.col("member").cast("long")).alias("hits")).collect()[0]
        metrics = {"n_probes": int(agg.n), "hits": int(agg.hits)}
    elif args.mode == "point":
        udf = cms_point_udf(spark, blob, args.key_kind, kind=args.kind)
        res = probes.withColumn("est_count", udf(F.col(args.col)))
        agg = res.agg(F.count("*").alias("n")).collect()[0]
        metrics = {"n_probes": int(agg.n)}
    else:
        udf = rank_udf(spark, blob, args.kind)
        res = probes.withColumn("est_rank", udf(F.col(args.col).cast("double")))
        agg = res.agg(F.count("*").alias("n")).collect()[0]
        metrics = {"n_probes": int(agg.n)}
    if args.out:
        res.write.mode("overwrite").parquet(args.out)
    metrics.update(probe_s=round(time.time() - t0, 3), sketch_id=args.sketch_id,
                   n_built=n_built)
    ck.log_metrics(args.sketch_id, {"probe": metrics})
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
