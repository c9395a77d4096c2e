"""Traced run: per-layer numbers for one workload.

Two sources, both timed from outside the package:

* Traced passes.  The workload's passes run again with each operator call
  in its own Spark job group; after each call its jobs' stages are read
  from the REST API (executor CPU, tasks, shuffle bytes, task-time skew).
* Layer replay.  The workload's input row groups are replayed at their
  real batch shape, single-threaded on the driver, through the public
  ``sources``-side reader (pyarrow), ``core.hashing``, the sketch classes
  and ``operators.merge_blobs``: decode → collapse → hash → scatter/update
  → serialize → merge → probe, each call a span.

Spans (name, start, end, parent, run id) are kept in memory and written to
``.perfbench_cache/traces/`` when the run ends.  Tracing overhead is the
traced passes' median ``workload_s`` minus the untraced passes' median.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid

import numpy as np
import pyarrow.parquet as pq

from perfbench import host, workloads


class Spans:
    """In-memory spans of one run, with per-name time totals and counts."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self.totals: dict[str, float] = {}
        self.counts: dict[str, int] = {}

    def count(self, name: str, n: int) -> None:
        self.counts[name] = self.counts.get(name, 0) + int(n)

    def span(self, name: str, parent: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        t1 = time.perf_counter()
        self.rows.append({"name": name, "start": t0, "end": t1,
                          "parent": parent, "run_id": self.run_id})
        self.totals[name] = self.totals.get(name, 0.0) + (t1 - t0)
        return out

    def total(self, prefix: str) -> float:
        return sum(v for k, v in self.totals.items() if k.startswith(prefix))

    def total_of(self, suffix: str) -> float:
        return sum(v for k, v in self.totals.items() if k.endswith(suffix))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.rows, f)


# --------------------------------------------------------------------------
# traced passes: one job group per operator call, REST stage metrics
# --------------------------------------------------------------------------

class RestHooks:
    """Pass hooks: give each call its own job group, then read the stages
    of that group's jobs once the REST API reports them finished."""

    def __init__(self, spark, spans: Spans):
        self.sc = spark.sparkContext
        self.rest = host.Rest(spark)
        self.spans = spans
        self.seq = 0
        self.group = ""

    def before(self, name: str) -> None:
        self.seq += 1
        self.group = f"{name}#{self.seq}"
        self.sc.setJobGroup(self.group, name)

    def _jobs(self) -> list[dict]:
        return [j for j in self.rest.get("/jobs") if j.get("jobGroup") == self.group]

    def after(self, name: str, t0: float, t1: float) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.spans.rows.append({"name": f"operators.{name}", "start": t0,
                                "end": t1, "parent": "pass",
                                "run_id": self.spans.run_id})
        want = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        jobs: list[dict] = []

        def done() -> bool:
            jobs[:] = self._jobs()
            return len(jobs) >= want and all(j["status"] != "RUNNING" for j in jobs)
        host.wait_for(done)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.rest.stages()
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        stages.sort(key=lambda s: s["stageId"])
        durations = [d for s in stages
                     for d in self.rest.task_times(s["stageId"], s["attemptId"])]
        med = statistics.median(durations) if durations else 0.0
        return {
            "exec_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6,
            "task_skew": max(durations) / med if med > 0 else 1.0,
            "partials": stages[0]["numTasks"] if stages else 0,
        }


# --------------------------------------------------------------------------
# layer replay on the driver
# --------------------------------------------------------------------------

def _row_groups(path: str, cols: list[str], spans: Spans):
    pf = pq.ParquetFile(path)
    for rg in range(pf.metadata.num_row_groups):
        t = spans.span("sources.decode", "replay", pf.read_row_group, rg, cols)
        spans.count("sources.decoded_bytes", t.nbytes)
        yield t


def _sketches(workload: str) -> dict:
    from bloom_filter_spark.sketches import (
        BloomParams, BloomSketch, CMSParams, CMSSketch, CountingBloomSketch,
        HLLParams, HLLSketch, KLLParams, KLLSketch, TDigestParams, TDigestSketch)
    hll = HLLSketch(HLLParams(b=workloads.HLL_B))
    if workload == "zipf-tokens":
        return {"bloom": BloomSketch(BloomParams(n=65_536, p=workloads.BLOOM_P)),
                "hll": hll, "cms": CMSSketch(CMSParams()),
                "kll": KLLSketch(KLLParams(k=workloads.KLL_K)),
                "tdigest": TDigestSketch(TDigestParams(workloads.TDIGEST_COMPRESSION))}
    n = workloads.SIZES[workload]["cbloom_n"]
    return {"cbloom": CountingBloomSketch(BloomParams(n=n, p=workloads.BLOOM_P)),
            "hll": hll}


def _batches(workload: str, inputs: str, spans: Spans):
    """Yield (keys, extra) per input row group: keys are an int32 array
    (tokens) or a StrBuf (string keys); extra carries n_tok or signs."""
    import pyarrow.compute as pc

    from bloom_filter_spark.core.hashing import arrow_strbuf
    if workload == "zipf-tokens":
        for t in _row_groups(os.path.join(inputs, "tokens.parquet"),
                             ["tokens", "n_tok"], spans):
            flat = pc.list_flatten(t.column("tokens")).to_numpy().astype(np.int32)
            yield flat, t.column("n_tok").to_numpy().astype(np.float64)
    else:
        for t in _row_groups(os.path.join(inputs, "changelog.parquet"),
                             ["doc_id", "sign"], spans):
            yield (arrow_strbuf(t.column("doc_id").combine_chunks()),
                   t.column("sign").to_numpy().astype(np.int32))


def _update(spans: Spans, kind: str, sk, state, keys, extra) -> None:
    name = f"sketches.{kind}.update"
    if kind == "tdigest":
        spans.span(name, "replay", sk.update, state, extra)
    elif kind == "cbloom":
        spans.span(name, "replay", sk.update_delta_str, state, keys, extra)
    elif isinstance(keys, np.ndarray):
        spans.span(name, "replay", sk.update_i32, state, keys)
    else:
        spans.span(name, "replay", sk.update_str, state, keys)


def _core_layers(spans: Spans, keys, bloom_m: int, bloom_k: int, bits) -> None:
    """Collapse → hash → scatter of one batch through core.hashing, at the
    workload filter's m and k."""
    from bloom_filter_spark.core import hashing
    spans.count("core.values", len(keys))
    if isinstance(keys, np.ndarray):
        packed = spans.span("core.compact", "replay", hashing.compact_i32_counts, keys)
        keys = packed[0] if packed is not None else keys
        h = spans.span("core.hash", "replay", hashing.hash64_i32, keys)
    else:
        h = spans.span("core.hash", "replay", hashing.hash64_str, keys)
    spans.count("core.hashed", h.size)
    spans.span("core.scatter", "replay", lambda: hashing.set_bits(
        bits, hashing.km_indices(h, bloom_m, bloom_k).ravel(), bloom_m))


def _merge(spans: Spans, kind: str, sk, partials: list, n_items: int) -> tuple[int, bytes]:
    """Serialize the partial states and fold them back the way the
    operator's merge does → (bytes the merge moves: partial blobs in plus
    merged blobs out, final blob)."""
    from bloom_filter_spark.operators import merge_blobs
    if kind == "cbloom":  # sharded route: column-range shard blobs per partial
        n_shards = sk.shard_count()
        shard_blobs = [spans.span(f"sketches.{kind}.serialize", "replay",
                                  lambda st: [sk.serialize_shard(st, i, n_shards)
                                              for i in range(n_shards)], st)
                       for st in partials]
        cls = type(sk)
        merged = [spans.span("operators.merge", "replay", cls.merge_shard_blobs,
                             [b[i] for b in shard_blobs]) for i in range(n_shards)]
        blob = spans.span("operators.merge", "replay", cls.reassemble_shards, merged)
        return sum(len(x) for b in shard_blobs + [merged] for x in b), blob
    blobs = [spans.span(f"sketches.{kind}.serialize", "replay", sk.serialize, st)
             for st in partials]
    for b in blobs:
        spans.span(f"sketches.{kind}.deserialize", "replay", type(sk).deserialize, b)
    blob, _ = spans.span("operators.merge", "replay", merge_blobs, sk, blobs, n_items)
    return sum(len(b) for b in blobs) + len(blob), blob


def _probe_keys(workload: str, inputs: str):
    from bloom_filter_spark.core.hashing import arrow_strbuf, compact_i32_counts
    if workload == "zipf-tokens":
        t = pq.read_table(os.path.join(inputs, "tokens.parquet"), columns=["tokens"])
        for chunk in t.column("tokens").chunks:
            flat = chunk.flatten().to_numpy().astype(np.int32)
            packed = compact_i32_counts(flat)
            yield packed[0] if packed is not None else flat
        return
    for f in ("kept.parquet", "retracted.parquet"):
        pf = pq.ParquetFile(os.path.join(inputs, f))
        for rg in range(pf.metadata.num_row_groups):
            yield arrow_strbuf(pf.read_row_group(rg).column(0).combine_chunks())


def replay(workload: str, inputs: str, partials_per_kind: dict, spans: Spans) -> dict:
    sketches = _sketches(workload)
    filt = sketches.get("bloom") or sketches["cbloom"]
    m, k = filt.params.m, filt.params.k
    bits = np.zeros((m >> 6) + 1, np.uint64)
    states = {kind: [sk.empty() for _ in range(max(1, partials_per_kind.get(kind, 1)))]
              for kind, sk in sketches.items()}
    for i, (keys, extra) in enumerate(_batches(workload, inputs, spans)):
        _core_layers(spans, keys, m, k, bits)
        for kind, sk in sketches.items():
            parts = states[kind]
            _update(spans, kind, sk, parts[i % len(parts)], keys, extra)
    n_items = spans.counts["core.values"]

    merge_bytes = state_bytes = 0
    finals = {}
    for kind, sk in sketches.items():
        mb, blob = _merge(spans, kind, sk, states[kind], n_items)
        merge_bytes += mb
        state_bytes += len(blob)
        finals[kind] = spans.span(f"sketches.{kind}.deserialize", "replay",
                                  type(sk).deserialize, blob)
    probe_sk, probe_state = finals.get("bloom") or finals["cbloom"]
    for keys in _probe_keys(workload, inputs):
        fn = probe_sk.contains_i32 if isinstance(keys, np.ndarray) else probe_sk.contains_str
        spans.span("sketches.contains", "replay", fn, probe_state, keys)

    decode_s = spans.total("sources.decode")
    hash_s = spans.total("core.hash")
    hashed = spans.counts["core.hashed"]
    return {
        "sources.decode_s": decode_s,
        "sources.decode_mb_per_s": spans.counts["sources.decoded_bytes"] / 1e6 / decode_s,
        "core.compact_s": spans.total("core.compact"),
        "core.collapse_ratio": hashed / n_items,
        "core.hash_s": hash_s,
        "core.hash_mkeys_per_s": hashed / 1e6 / hash_s,
        "core.scatter_s": spans.total("core.scatter"),
        "sketches.update_s": spans.total_of(".update"),
        "sketches.serialize_s": spans.total_of(".serialize"),
        "sketches.deserialize_s": spans.total_of(".deserialize"),
        "sketches.state_bytes": state_bytes,
        "operators.merge_s": spans.total("operators.merge"),
        "operators.merge_bytes": merge_bytes,
        "sketches.contains_s": spans.total("sketches.contains"),
    }


def handoff_s(spark, workload: str, inputs: str) -> float:
    """One pass-through mapInArrow over the workload's main column: the JVM
    scan → Arrow → Python worker handoff with no kernel behind it."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    path, col = {"zipf-tokens": ("tokens.parquet", "tokens"),
                 "changelog-skew": ("changelog.parquet", "doc_id")}[workload]

    def count_rows(batches):
        n = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

    df = spark.read.parquet(os.path.join(inputs, path)).select(col)
    t0 = time.perf_counter()
    df.mapInArrow(count_rows, "n long").agg(F.sum("n")).collect()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------

# Per-layer metrics the traced passes give; the rest come from replay().
PASS_METRICS = ("operators.exec_cpu_s", "operators.tasks", "operators.shuffle_write_mb",
                "operators.shuffle_read_mb", "operators.task_skew", "operators.probe_s",
                "operators.n_partials", "operators.wall_s", "trace.overhead_s",
                "operators.handoff_s")


def traced_run(spark, workload: str, inputs: str, timed_passes, budget_s: float,
               untraced: list[dict], trace_dir: str) -> dict:
    spans = Spans(uuid.uuid4().hex[:12])
    calls: list[list[dict]] = []
    traced = timed_passes(budget_s, RestHooks(spark, spans), calls)
    out = {f"operators.{k}": statistics.median(sum(c[k] for c in pc) for pc in calls)
           for k in ("exec_cpu_s", "tasks", "shuffle_write_mb", "shuffle_read_mb")}
    out["operators.task_skew"] = statistics.median(
        max(c["task_skew"] for c in pc) for pc in calls)
    out["operators.probe_s"] = statistics.median(
        sum(c["wall_s"] for c in pc if c["kind"] == "probe") for pc in calls)
    builds = [c for c in calls[0] if c["kind"] == "build"]
    out["operators.n_partials"] = sum(c["partials"] for c in builds)
    wall = statistics.median(p["workload_s"] for p in traced)
    out["operators.wall_s"] = wall
    out["trace.overhead_s"] = wall - statistics.median(p["workload_s"] for p in untraced)
    out["operators.handoff_s"] = spans.span("operators.handoff", "trace", handoff_s,
                                            spark, workload, inputs)
    # partial states per sketch kind, as the traced build calls produced them
    partials: dict[str, int] = {}
    for c in builds:
        partials.setdefault(c["name"].split("_")[0], c["partials"])
    out.update(replay(workload, inputs, partials, spans))
    spans.write(os.path.join(trace_dir, f"{workload}-{spans.run_id}.json"))
    return out
