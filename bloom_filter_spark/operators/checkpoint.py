"""Checkpoint / lineage / resume for sketch builds.

North rule: "checkpoint per-partition sketch state with lineage and metrics
to Iceberg for resumability".  No Iceberg runtime jar ships in this sandbox
(SURVEY.md §7), so the checkpoint store is a parquet-backed table shim with
the identical schema and append semantics — swapping the writer to
``df.writeTo(tbl).append()`` is a one-line change on a cluster with the
Iceberg catalog configured.

Table layout (one directory per logical table under ``root``):
  sketch_state:  sketch_id, kind, layout, [shard_id,] src, n_items, state,
                 params_json, input_desc, created_utc
  sketch_final:  sketch_id, kind, n_items, state, params_json, created_utc

``sketch_state`` holds merge.py's partial row verbatim, versioned by
``layout``; checkpoints are per-run, so a run in another layout is refused.

Resume = read the persisted partials for a sketch_id and replay the build's
merge plan: the same keyed router planned from the same row count and the
sketch's ``state_bytes_max``, so even order-sensitive sketches (KLL /
t-digest compaction) resume to the direct build's bytes — reference
round-trip invariant of the Go Bloom filter's serialize/deserialize test.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .merge import merge_partials_auto

# the version of the partial row sketch_state holds: (shard_id,) src,
# n_items, state — bump it whenever that row changes
PARTIAL_LAYOUT = 1
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
                       input_desc: str = "") -> DataFrame:
        """Persist partial rows verbatim (``src`` included: the read-back
        partitioning would collapse origins and break the fanin byte
        budget); returns the *persisted* partials re-read from storage so
        the downstream merge consumes checkpointed state.

        Each invocation writes under its own run directory and atomically
        advances a _LATEST_RUN pointer; re-running a build with the same
        sketch_id (retry after a crash) supersedes — never duplicates —
        the previous attempt's partials."""
        run_id = uuid.uuid4().hex[:12]
        enriched = partials.select(
            F.lit(sketch_id).alias("sketch_id"),
            F.lit(sketch.kind).alias("kind"),
            F.lit(PARTIAL_LAYOUT).alias("layout"),
            *partials.columns,
            F.lit(params_json(sketch)).alias("params_json"),
            F.lit(input_desc).alias("input_desc"),
            F.lit(time.time()).alias("created_utc"),
        )
        base = os.path.join(self._tbl("sketch_state"), f"sketch_id={sketch_id}")
        path = os.path.join(base, f"run={run_id}")
        enriched.write.mode("errorifexists").parquet(path)
        self._set_latest_run(base, run_id)
        # the schema just written: Spark's inference would be a job
        return (partials.sparkSession.read.schema(enriched.schema)
                .parquet(path).select(*partials.columns))

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
        """Rebuild the final state from the LATEST run's partials through
        the build's own tail (merge_shards_reassembled when the rows have a
        ``shard_id``, else merge_partials_auto), planned from the rows one
        job counts as it checks the layout: ValueError for a run with no
        ``layout`` column or another layout than PARTIAL_LAYOUT."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        base = os.path.join(self._tbl("sketch_state"), f"sketch_id={sketch_id}")
        path = self._latest_run_path(base)
        # the schema from one footer, read here: Spark's inference is a job
        part = min(f for f in os.listdir(path) if f.endswith(".parquet"))
        raw = spark.read.schema(from_arrow_schema(pq.read_schema(
            os.path.join(path, part)))).parquet(path)
        if "layout" not in raw.columns:
            raise ValueError(
                f"checkpoint {sketch_id!r} has no layout column: it was "
                f"written before partial layout {PARTIAL_LAYOUT}; rebuild it")
        counts = {r.layout: r["count"]
                  for r in raw.groupBy("layout").count().collect()}
        if set(counts) - {PARTIAL_LAYOUT}:
            raise ValueError(
                f"checkpoint {sketch_id!r} holds partial layout "
                f"{sorted(counts)}, not {PARTIAL_LAYOUT}; rebuild it")
        cnt = sum(counts.values())
        if "shard_id" in raw.columns:
            from .build import merge_shards_reassembled
            # the shard count only sizes the level plan: reassembly checks
            # the shard set from the blob headers
            blob, n = merge_shards_reassembled(
                raw.select("shard_id", "src", "n_items", "state"), sketch,
                -(-cnt // sketch.shard_count()))
        else:
            blob, n = merge_partials_auto(raw.select("src", "n_items", "state"),
                                          sketch, cnt)
        self.write_final(sketch_id, sketch, blob, n)
        return blob, n
