"""Checkpoint / lineage / resume for sketch builds.

North rule: "checkpoint per-partition sketch state with lineage and metrics
to Iceberg for resumability".  No Iceberg runtime jar ships in this sandbox
(SURVEY.md §7), so the checkpoint store is a parquet-backed table shim with
the identical schema and append semantics — swapping the writer to
``df.writeTo(tbl).append()`` is a one-line change on a cluster with the
Iceberg catalog configured.

Table layout (one directory per logical table under ``root``):
  sketch_state:  sketch_id, kind, level, partition_id, n_items, state,
                 params_json, input_desc, created_utc
  sketch_final:  sketch_id, kind, n_items, state, params_json, created_utc

Resume = read the persisted partials for a sketch_id and replay the build's
merge plan: the same router (merge_partials_auto) planned from the same row
count and the sketch's ``state_bytes_max``, so even order-sensitive sketches
(KLL / t-digest compaction) resume to the direct build's bytes — reference
round-trip invariant, /root/reference/filter/bloom/filter_test.go:187-233.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .merge import merge_partials_auto

PARTIAL_TABLE_SCHEMA = ("sketch_id string, kind string, level int, partition_id long, "
                        "n_items long, state binary, params_json string, "
                        "input_desc string, created_utc double")

# level sentinel marking SHARDED partial layout in sketch_state: rows are
# (shard_id-as-partition_id, n_items, column-range state), many rows per id
# (one per scan partition) — resumed via the per-shard merge + reassembly
# instead of the monolithic router
SHARD_LEVEL = -1
FINAL_TABLE_SCHEMA = ("sketch_id string, kind string, n_items long, state binary, "
                      "params_json string, created_utc double")


def params_json(sketch) -> str:
    p = sketch.params
    d = dataclasses.asdict(p) if dataclasses.is_dataclass(p) else dict(p.__dict__)
    return json.dumps({k: v for k, v in d.items()}, sort_keys=True, default=str)


class SketchCheckpoint:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _tbl(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- write ---------------------------------------------------------------
    def write_partials(self, sketch_id: str, sketch, partials: DataFrame,
                       input_desc: str = "", level: int = 0) -> DataFrame:
        """Persist partial rows; returns the *persisted* partials re-read from
        storage so the downstream merge consumes checkpointed state (resume
        equivalence is structural, not best-effort).

        Each invocation writes under its own run directory and atomically
        advances a _LATEST_RUN pointer; re-running a build with the same
        sketch_id (retry after a crash) supersedes — never duplicates —
        the previous attempt's partials."""
        pj = params_json(sketch)
        now = time.time()
        run_id = uuid.uuid4().hex[:12]
        # ``src`` (origin scan partition, sharded layout) persists with the
        # row: re-deriving it from the read-back partitioning would collapse
        # many origins into one and break the merge's fanin byte budget
        extra = ["src"] if "src" in partials.columns else []
        enriched = partials.select(
            F.lit(sketch_id).alias("sketch_id"),
            F.lit(sketch.kind).alias("kind"),
            F.lit(level).alias("level"),
            "partition_id", *extra, "n_items", "state",
            F.lit(pj).alias("params_json"),
            F.lit(input_desc).alias("input_desc"),
            F.lit(now).alias("created_utc"),
        )
        base = os.path.join(self._tbl("sketch_state"), f"sketch_id={sketch_id}")
        path = os.path.join(base, f"run={run_id}")
        enriched.write.mode("errorifexists").parquet(path)
        self._set_latest_run(base, run_id)
        spark = partials.sparkSession
        return (spark.read.parquet(path)
                .where(F.col("level") == level)
                .select("partition_id", *extra, "n_items", "state"))

    def write_shard_partials(self, sketch_id: str, sketch,
                             shard_partials: DataFrame,
                             input_desc: str = "") -> DataFrame:
        """Persist SHARDED partials (build_delta_shard_partials output) in
        the same sketch_state table: shard_id rides the partition_id
        column, ``level = SHARD_LEVEL`` marks the layout.  Returns the
        re-read rows as (shard_id, n_items, state) so the downstream merge
        consumes checkpointed state."""
        extra = ["src"] if "src" in shard_partials.columns else []
        renamed = shard_partials.select(
            F.col("shard_id").cast("long").alias("partition_id"),
            *extra, "n_items", "state")
        out = self.write_partials(sketch_id, sketch, renamed, input_desc,
                                  level=SHARD_LEVEL)
        return out.select(F.col("partition_id").cast("int").alias("shard_id"),
                          *extra, "n_items", "state")

    @staticmethod
    def _set_latest_run(base: str, run_id: str) -> None:
        tmp = os.path.join(base, f"._LATEST_RUN.{run_id}")
        with open(tmp, "w") as f:
            f.write(run_id)
        os.replace(tmp, os.path.join(base, "_LATEST_RUN"))

    @staticmethod
    def _latest_run_path(base: str) -> str:
        with open(os.path.join(base, "_LATEST_RUN")) as f:
            return os.path.join(base, f"run={f.read().strip()}")

    def write_final(self, sketch_id: str, sketch, blob: bytes, n_items: int) -> None:
        spark = SparkSession.getActiveSession()
        df = spark.createDataFrame(
            [(sketch_id, sketch.kind, n_items, bytearray(blob),
              params_json(sketch), time.time())],
            FINAL_TABLE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(
            os.path.join(self._tbl("sketch_final"), f"sketch_id={sketch_id}"))

    def log_metrics(self, sketch_id: str, metrics: dict) -> None:
        path = os.path.join(self.root, "metrics.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps({"sketch_id": sketch_id, "ts": time.time(),
                                "run_id": uuid.uuid4().hex[:8], **metrics}) + "\n")

    # -- read / resume ----------------------------------------------------------
    def read_final(self, spark: SparkSession, sketch_id: str) -> tuple[bytes, int]:
        path = os.path.join(self._tbl("sketch_final"), f"sketch_id={sketch_id}")
        rows = (spark.read.parquet(path)
                .orderBy(F.col("created_utc").desc()).limit(1).collect())
        return bytes(rows[0].state), int(rows[0].n_items)

    def resume(self, spark: SparkSession, sketch_id: str,
               sketch) -> tuple[bytes, int]:
        """Rebuild the final state from the LATEST complete run's partials.
        Layout auto-detected from the level column: SHARD_LEVEL rows take
        the build's sharded tail (merge_shards_reassembled), monolithic
        rows the build's router (merge_partials_auto), so resume takes the
        direct build's route and merge levels.  Both plan from counted rows
        (a read-back under-counts partitions)."""
        base = os.path.join(self._tbl("sketch_state"), f"sketch_id={sketch_id}")
        raw = spark.read.parquet(self._latest_run_path(base))
        if raw.where(F.col("level") == SHARD_LEVEL).limit(1).count():
            from pyspark.sql import Window

            from .build import merge_shards_reassembled
            shards = (raw.where(F.col("level") == SHARD_LEVEL)
                      .select(F.col("partition_id").cast("int")
                              .alias("shard_id"),
                              *(["src"] if "src" in raw.columns else []),
                              "n_items", "state"))
            # the count job runs on the PRE-window plan: it does not depend
            # on the synthesized src, and putting it after the window would
            # re-shuffle/sort every state blob once more
            cnt = shards.count()
            if "src" not in raw.columns:
                # legacy (pre-src) checkpoint: the parquet read-back packs
                # many same-shard rows per partition, so the merge's
                # spark_partition_id fallback would collapse origins into
                # one (shard, grp) group and blow the fanin byte budget —
                # synthesize a distinct per-row src instead.  Ordering by
                # the state hash is deterministic given distinct blobs;
                # ties are identical blobs, for which fold order cannot
                # matter (code-review r5).
                w = Window.partitionBy("shard_id").orderBy(
                    F.xxhash64("state"), "n_items")
                shards = shards.select(
                    "shard_id",
                    (F.row_number().over(w) - 1).cast("long").alias("src"),
                    "n_items", "state")
            # the shard count only sizes the level plan: reassembly checks
            # the shard set from the blob headers
            blob, n = merge_shards_reassembled(
                shards, sketch, -(-cnt // sketch.shard_count()))
        else:
            partials = raw.select("partition_id", "n_items", "state")
            blob, n = merge_partials_auto(partials, sketch, partials.count())
        self.write_final(sketch_id, sketch, blob, n)
        return blob, n
