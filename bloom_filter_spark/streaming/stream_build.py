"""Structured Streaming incremental sketch build.

The mergeable-sketch algebra makes streaming ingestion trivial: each
micro-batch builds partial states with the SAME batch operators
(mapInArrow → Arrow merge), and ``foreachBatch`` folds the batch's state
into the running sketch with the associative merge.  After any prefix of
micro-batches the accumulated state is bit-identical to a batch build over
the same rows (Bloom/HLL/CMS) — the streaming/batch equivalence test.

The reference is a single-process in-memory library with no streaming
(SURVEY.md §3); this module is engine-side capability, expressed with stock
Structured Streaming primitives (file source, foreachBatch, watermarked
windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import build_sketch


class StreamingSketchAccumulator:
    """Driver-side fold of per-micro-batch sketch states (foreachBatch).

    At cluster scale the fold target would be the checkpoint table
    (operators/checkpoint.py) — one state row per epoch, merged on read;
    the in-memory fold here keeps the equivalence test crisp.
    """

    def __init__(self, sketch, col: str, value_kind: str):
        self.sketch = sketch
        self.col = col
        self.value_kind = value_kind
        self.state = sketch.empty()
        self.n_items = 0
        self.epochs = 0

    def _build(self, batch_df: DataFrame) -> tuple[bytes, int]:
        return build_sketch(batch_df, self.sketch, self.col, self.value_kind)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        blob, n = self._build(batch_df)
        _, st = type(self.sketch).deserialize(blob)
        self.state = self.sketch.merge(self.state, st)
        self.n_items += n
        self.epochs += 1

    def blob(self) -> bytes:
        return self.sketch.serialize(self.state)


class GroupedStreamAccumulator:
    """foreachBatch fold of per-GROUP sketch states: each micro-batch runs
    the grouped mergeable build on the batch DataFrame and merges the
    resulting states into a dict keyed by group.  Commutative merges ⇒
    final states are bit-equal to ONE batch grouped build under any
    micro-batch/file split — the property the driver query pins with its
    ``streaming_equals_batch`` column.  ``prep`` projects the batch to
    (group string, v) rows (e.g. a tumbling-window bucket as the group)."""

    def __init__(self, sketch, prep, value_kind: str):
        self.sketch = sketch
        self.prep = prep
        self.value_kind = value_kind
        self.states: dict[str, object] = {}
        self.n_items: dict[str, int] = {}
        self.epochs = 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..operators import build_grouped
        grouped = build_grouped(self.prep(batch_df), self.sketch, "group",
                                "v", self.value_kind, strategy="mapside")
        cls = type(self.sketch)
        for r in grouped.collect():
            _, st = cls.deserialize(bytes(r.state))
            if r.group in self.states:
                self.states[r.group] = self.sketch.merge(self.states[r.group], st)
            else:
                self.states[r.group] = st
            self.n_items[r.group] = self.n_items.get(r.group, 0) + r.n_items
        self.epochs += 1

    def blobs(self) -> dict[str, bytes]:
        return {g: self.sketch.serialize(s) for g, s in self.states.items()}


def _run_stream_fold(spark: SparkSession, source_dir: str, schema, acc,
                     max_files_per_trigger: int):
    """Drive a file-source stream to completion through ``acc``."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(source_dir))
    q = (stream.writeStream.outputMode("update")
         .foreachBatch(acc)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return acc


def streaming_sketch_build(spark: SparkSession, source_dir: str, schema,
                           sketch, col: str, value_kind: str = "i32_array",
                           max_files_per_trigger: int = 1):
    """Run a file-source stream to completion, folding per-batch sketches.

    Returns the accumulator (state, n_items, epochs)."""
    return _run_stream_fold(
        spark, source_dir, schema,
        StreamingSketchAccumulator(sketch, col, value_kind),
        max_files_per_trigger)


class StreamingDeltaAccumulator(StreamingSketchAccumulator):
    """Changelog-stream fold: each micro-batch carries (key, ±1) rows —
    inserts AND retractions — folded with build_delta_sketch (no local
    presence check) and counter-SUM merged into the running state.  Because
    the merge is commutative, the final state is independent of file pickup
    order and equals the one-shot batch fold bit-for-bit — streaming
    membership state with deletes, maintained incrementally."""

    def __init__(self, sketch, col: str, sign_col: str, value_kind: str):
        super().__init__(sketch, col, value_kind)
        self.sign_col = sign_col

    def _build(self, batch_df: DataFrame) -> tuple[bytes, int]:
        from ..operators import build_delta_sketch
        return build_delta_sketch(batch_df, self.sketch, self.col,
                                  self.sign_col, self.value_kind)


def streaming_delta_build(spark: SparkSession, source_dir: str, schema,
                          sketch, col: str, sign_col: str,
                          value_kind: str = "str",
                          max_files_per_trigger: int = 1):
    """Run a changelog file stream to completion (see
    StreamingDeltaAccumulator)."""
    return _run_stream_fold(
        spark, source_dir, schema,
        StreamingDeltaAccumulator(sketch, col, sign_col, value_kind),
        max_files_per_trigger)


def windowed_event_counts(spark: SparkSession, source_dir: str, schema,
                          window: str = "1 hour", watermark: str = "2 hours",
                          ts_col: str = "ts") -> DataFrame:
    """Tumbling-window aggregation over a file-source stream in COMPLETE
    output mode: Spark retains all aggregation state and never drops late
    rows, so the watermark here is inert and the final table equals the
    batch group-by — which is exactly why the batch SQL oracle matches.
    For real watermark semantics (state eviction, late-row drop) use
    ``windowed_event_counts_append`` below.
    Runs availableNow to completion against a memory sink and returns the
    result as a DataFrame.

    Timezone safety: Structured Streaming watermarks demand a TIMESTAMP
    (ltz) event-time column, but rendering ltz window boundaries depends on
    the session time zone — a half-hour-offset zone would even shift the
    bucket strings.  So the watermark rides a DERIVED ltz cast (state
    eviction semantics, exercised across the 4 micro-batches) while the
    GROUP key is date_trunc on the original TIMESTAMP_NTZ — wall-clock
    bucketing that renders identically under any host zone, so the batch
    SQL oracle compares safely.  Consequence: ``window`` must be a whole
    date_trunc unit (tumbling '1 minute' / '1 hour' / '1 day'); other
    widths would need epoch arithmetic on ltz and lose zone-independence,
    so they raise instead of silently bucketing hourly.
    """
    units = {"1 minute": "minute", "1 hour": "hour", "1 day": "day"}
    if window not in units:
        raise ValueError(
            f"window must be one of {sorted(units)} (zone-independent NTZ "
            f"date_trunc bucketing), got {window!r}")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(source_dir))
    agg = (stream
           .withColumn("ts_ltz", F.col(ts_col).cast("timestamp"))
           .withWatermark("ts_ltz", watermark)
           .groupBy(F.date_trunc(units[window], F.col(ts_col)).alias("window_start"),
                    "event_type")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value")))
    name = f"windowed_counts_{abs(id(agg)) % 99999}"
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql(
        f"SELECT window_start, event_type, n, sum_value FROM {name}")


def windowed_event_counts_append(spark: SparkSession, source_dir: str,
                                 schema, window_secs: int = 3600,
                                 watermark_secs: int = 5400,
                                 ts_epoch_col: str = "ts_epoch") -> DataFrame:
    """APPEND-mode watermarked tumbling windows — real eviction semantics.

    Each micro-batch advances the global watermark to max(event time) −
    delay.  Spark applies TWO watermark values per batch (SPARK-42376):
    late INPUT rows are filtered against the previous trigger's watermark,
    while emission/eviction uses the current one — so a window is emitted
    (once) when the current watermark passes its end, late rows arriving in
    that same batch still merge into it, and rows whose window end trails
    the PREVIOUS watermark are dropped.  Windows still open when the stream
    drains are emitted by the final no-data micro-batch only if the final
    watermark passes them; h+ windows beyond it never appear.  All of this
    is reproducible in closed form from (batch_id, ts) — the DuckDB oracle
    re-derives the lagged watermark sequence and the exact drop/emit sets
    (plans/pipeline_queries.py oracle_sql: streaming_late_data_drop).

    Timezone safety: event time arrives as EPOCH SECONDS and leaves as
    epoch seconds (window.start cast back to long).  cast(long→timestamp)
    and window() both operate on instants, so no session-timezone rendering
    ever touches the data — unlike NTZ wall-clock columns, this is exact
    under ANY host/session zone with no config mutation.

    → DataFrame(window_start_epoch long, event_type string, n long,
    sum_value double): only FINALIZED windows.
    """
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(source_dir))
    agg = (stream
           .withColumn("ts", F.col(ts_epoch_col).cast("timestamp"))
           .withWatermark("ts", f"{watermark_secs} seconds")
           .groupBy(F.window("ts", f"{window_secs} seconds").alias("w"),
                    "event_type")
           .agg(F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value")))
    name = f"windowed_append_{abs(id(agg)) % 99999}"
    q = (agg.writeStream.outputMode("append")
         .format("memory").queryName(name)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.sql(f"""
        SELECT CAST(w.start AS LONG) AS window_start_epoch, event_type,
               n, sum_value FROM {name}""")


class StreamingDedupAccumulator:
    """Cross-batch EXACT dedup (the ingestion-stream workflow): each
    micro-batch computes its own content-hash groups with the batch
    ``exact_dedup`` operator, and the running state folds with the same
    (count-sum, min-keeper) monoid that powers ``exact_dedup_incremental``
    — so after ANY prefix of micro-batches, under ANY file split, the
    state equals the one-shot batch dedup of the rows seen (the
    streaming ≡ batch property the driver row pins against the one-shot
    SQL oracle).

    The fold target here is a driver dict (crisp for the equivalence
    gate); at cluster scale the same per-batch output MERGEs into the
    persisted dedup table exactly as exact_dedup_incremental does —
    state size is one row per distinct content either way."""

    def __init__(self, text_col: str = "text", id_col: str = "doc_id"):
        self.text_col = text_col
        self.id_col = id_col
        self.groups: dict[str, list] = {}  # text_hash -> [n_copies, keep]
        self.epochs = 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..functions.dedup import exact_dedup
        batch = batch_df.select(F.col(self.id_col).alias("doc_id"),
                                F.col(self.text_col).alias("text"))
        for r in exact_dedup(batch).collect():
            g = self.groups.get(r.text_hash)
            if g is None:
                self.groups[r.text_hash] = [int(r.n_copies), r.keep_doc_id]
            else:
                g[0] += int(r.n_copies)
                # null-safe like Spark's F.min (an all-NULL-id group has
                # keep_doc_id None; Python min(None, x) raises)
                if g[1] is None:
                    g[1] = r.keep_doc_id
                elif r.keep_doc_id is not None:
                    g[1] = min(g[1], r.keep_doc_id)
        self.epochs += 1

    def rows(self) -> list[tuple]:
        return [(h, n, keep) for h, (n, keep) in self.groups.items()]


def streaming_exact_dedup(spark: SparkSession, source_dir: str, schema,
                          text_col: str = "text", id_col: str = "doc_id",
                          max_files_per_trigger: int = 1) -> DataFrame:
    """Drive a document file-stream to completion through the dedup fold;
    → DataFrame(text_hash, n_copies, keep_doc_id) — identical to the batch
    ``exact_dedup`` of the same rows."""
    acc = _run_stream_fold(
        spark, source_dir, schema,
        StreamingDedupAccumulator(text_col, id_col), max_files_per_trigger)
    id_type = dict(zip(schema.names, schema)).get(id_col)
    id_ddl = id_type.dataType.simpleString() if id_type is not None else "long"
    return spark.createDataFrame(
        acc.rows(),
        f"text_hash string, n_copies long, keep_doc_id {id_ddl}")
