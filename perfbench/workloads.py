"""Seeded inputs, exact answers, timed passes and output checks for the three
benchmark workloads.

Inputs are generated in this (single) process with numpy from ``--seed``
and cached on disk under a key made of the generator version, the workload,
the seed and the sizes, so a changed generator or size never reuses stale
files.  Exact answers are computed at generation time, outside any timed
pass, and stored next to the inputs.

Each pass is a closed loop with one client: every operator call starts
after the previous one returned.  A pass returns per-call records
(name, kind, wall seconds, items) plus the outputs the checks need.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever generated data or exact answers change for the same seed.
GEN_VERSION = 1

WORKLOADS = ("zipf-tokens", "changelog-skew")

# zipf-tokens: the north-rule token table (the repo fixture's distribution).
VOCAB = 50_257
MAX_LEN = 512
ZIPF_S = 1.1
SOURCES = [f"src_{i:02d}" for i in range(8)]
SOURCE_WEIGHTS = [0.45, 0.25, 0.12, 0.08, 0.05, 0.03, 0.015, 0.005]
TOKEN_ROW_GROUP = 6_250
# changelog-skew: one row group per JVM Arrow batch
# (spark.sql.execution.arrow.maxRecordsPerBatch), so native-scan kernels see
# the same 5000-key batches the JVM-fed path does.
KEY_ROW_GROUP = 5_000
KEY_PRIME = 999_999_999_989  # largest 12-digit prime: ids below it format to 12 digits

SIZES = {
    "zipf-tokens": {"rows": 12_500, "absent": 1 << 20},
    # Counting Bloom at n=900k has m = 2^24 int32 counters (64 MiB), above
    # SHARD_ROUTE_THRESHOLD_BYTES (32 MiB), so build_delta_sketch shards.
    "changelog-skew": {"inserts": 40_000, "deletes": 10_000,
                       "cbloom_n": 900_000, "groups": 32, "group_zipf": 1.2},
}

BLOOM_P = 0.01
HLL_B = 14
KLL_K = 200
TDIGEST_COMPRESSION = 200.0
RANK_QS = np.linspace(0.05, 0.95, 19)


# --------------------------------------------------------------------------
# generation
# --------------------------------------------------------------------------

def cache_key(workload: str, seed: int) -> str:
    sizes = json.dumps(SIZES[workload], sort_keys=True)
    digest = hashlib.sha1(sizes.encode()).hexdigest()[:10]
    return f"{workload}-g{GEN_VERSION}-s{seed}-{digest}"


def format_keys(prefix: bytes, ids: np.ndarray) -> pa.Array:
    """Distinct non-negative ids below 10^12 → fixed-width Arrow strings
    ``<prefix><12 digits>``, built straight into the Arrow buffers."""
    ids = np.asarray(ids, np.int64)
    n = ids.size
    width = len(prefix) + 12
    mat = np.empty((n, width), np.uint8)
    mat[:, :len(prefix)] = np.frombuffer(prefix, np.uint8)
    rest = ids.copy()
    for j in range(width - 1, len(prefix) - 1, -1):
        mat[:, j] = 48 + rest % 10
        rest //= 10
    offsets = np.arange(n + 1, dtype=np.int32) * width
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets),
                                       pa.py_buffer(mat.tobytes()))


def distinct_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct ids in [0, KEY_PRIME): a seeded affine permutation of
    0..n-1 modulo a prime (no collisions, no set needed), then shuffled."""
    a = int(rng.integers(1, KEY_PRIME))
    b = int(rng.integers(0, KEY_PRIME))
    i = np.arange(n, dtype=np.uint64)
    # a·i < 10^12 · 2^23 < 2^64 for every size used here
    ids = (i * np.uint64(a) + np.uint64(b)) % np.uint64(KEY_PRIME)
    return rng.permutation(ids.astype(np.int64))


def _write(table: pa.Table, path: str, row_group: int) -> None:
    pq.write_table(table, path, row_group_size=row_group, compression="zstd")


def _exact_ranks(values: np.ndarray, counts: np.ndarray) -> tuple[list, list]:
    """Query points at RANK_QS and their exact normalized ranks (fraction of
    items ≤ point), from a (sorted distinct values, counts) histogram."""
    cum = np.cumsum(counts)
    total = int(cum[-1])
    pos = np.searchsorted(cum, RANK_QS * total, side="left")
    points = values[np.minimum(pos, values.size - 1)]
    ranks = cum[np.minimum(pos, values.size - 1)] / total
    return [float(v) for v in points], [float(r) for r in ranks]


def gen_zipf_tokens(seed: int, out: str) -> dict:
    size = SIZES["zipf-tokens"]
    rng = np.random.default_rng([seed, 1])
    rows = size["rows"]
    lengths = rng.integers(1, MAX_LEN + 1, rows)
    total = int(lengths.sum())
    tokens = np.minimum(rng.zipf(ZIPF_S, total) - 1, VOCAB - 1).astype(np.int32)
    src = rng.choice(len(SOURCES), rows, p=SOURCE_WEIGHTS)
    offsets = np.zeros(rows + 1, np.int32)
    np.cumsum(lengths, out=offsets[1:])
    table = pa.table({
        "doc_id": format_keys(b"doc_", np.arange(rows)),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
        "n_tok": pa.array(lengths.astype(np.int32)),
        "source": pa.DictionaryArray.from_arrays(
            pa.array(src.astype(np.int32)), pa.array(SOURCES)).cast(pa.string()),
    })
    _write(table, os.path.join(out, "tokens.parquet"), TOKEN_ROW_GROUP)

    counts = np.bincount(tokens, minlength=VOCAB)
    np.save(os.path.join(out, "token_counts.npy"), counts)
    owner = np.repeat(src, lengths)
    groups = {}
    for gi, name in enumerate(SOURCES):
        g = tokens[owner == gi]
        if g.size:
            groups[name] = {"n_items": int(g.size),
                            "distinct": int(np.unique(g).size)}
    vocab = np.arange(VOCAB, dtype=np.float64)
    nz = counts > 0
    kll_points, kll_ranks = _exact_ranks(vocab[nz], counts[nz])
    ntok_vals, ntok_counts = np.unique(lengths, return_counts=True)
    td_points, td_ranks = _exact_ranks(ntok_vals.astype(np.float64), ntok_counts)
    return {"n_rows": rows, "n_tokens": total, "distinct": int(nz.sum()),
            "groups": groups,
            "kll_points": kll_points, "kll_ranks": kll_ranks,
            "tdigest_points": td_points, "tdigest_ranks": td_ranks}


def gen_changelog_skew(seed: int, out: str) -> dict:
    size = SIZES["changelog-skew"]
    rng = np.random.default_rng([seed, 3])
    n_ins, n_del, n_groups = size["inserts"], size["deletes"], size["groups"]
    inserted = distinct_ids(rng, n_ins)
    # every key belongs to one tenant; tenant sizes follow Zipf(group_zipf)
    weights = 1.0 / np.arange(1, n_groups + 1) ** size["group_zipf"]
    tenant_of = rng.choice(n_groups, n_ins, p=weights / weights.sum())
    deleted = rng.choice(n_ins, n_del, replace=False)
    keep = np.ones(n_ins, bool)
    keep[deleted] = False
    row_key = np.concatenate([np.arange(n_ins), deleted])
    row_sign = np.concatenate([np.ones(n_ins, np.int32),
                               -np.ones(n_del, np.int32)])
    # every retract comes after all inserts, so no key is retracted before
    # it is inserted
    order = np.argsort(rng.random(row_key.size) + (row_sign < 0), kind="stable")
    row_key, row_sign = row_key[order], row_sign[order]
    tenant_names = np.array([f"t{g:04d}" for g in range(n_groups)])
    table = pa.table({
        "doc_id": format_keys(b"doc_", inserted[row_key]),
        "sign": pa.array(row_sign),
        "tenant": pa.DictionaryArray.from_arrays(
            pa.array(tenant_of[row_key].astype(np.int32)),
            pa.array(tenant_names)).cast(pa.string()),
    })
    _write(table, os.path.join(out, "changelog.parquet"), KEY_ROW_GROUP)
    _write(pa.table({"doc_id": format_keys(b"doc_", inserted[keep])}),
           os.path.join(out, "kept.parquet"), KEY_ROW_GROUP)
    _write(pa.table({"doc_id": format_keys(b"doc_", inserted[~keep])}),
           os.path.join(out, "retracted.parquet"), KEY_ROW_GROUP)

    rows_per = np.bincount(tenant_of[row_key], minlength=n_groups)
    docs_per = np.bincount(tenant_of, minlength=n_groups)
    groups = {str(tenant_names[g]): {"n_items": int(rows_per[g]),
                                     "distinct": int(docs_per[g])}
              for g in range(n_groups) if rows_per[g]}
    return {"n_rows": int(row_key.size), "n_inserts": n_ins,
            "n_deletes": n_del, "n_kept": int(keep.sum()), "groups": groups}


GENERATORS = {"zipf-tokens": gen_zipf_tokens,
              "changelog-skew": gen_changelog_skew}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """→ (input dir, exact answers); generates on a cache miss.  The dir
    is built under a temporary name and renamed into place, so a run cut
    short never leaves a half-written entry behind a valid key."""
    final = os.path.join(cache_root, cache_key(workload, seed))
    exact_path = os.path.join(final, "exact.json")
    if not os.path.exists(exact_path):
        os.makedirs(cache_root, exist_ok=True)
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        exact = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "exact.json"), "w") as f:
            json.dump(exact, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(exact_path) as f:
        return final, json.load(f)


# --------------------------------------------------------------------------
# timed passes
# --------------------------------------------------------------------------

class Pass:
    """Records one pass's operator calls: (name, kind, wall_s, items)."""

    def __init__(self, hooks=None):
        self.calls: list[dict] = []
        self.out: dict = {}
        self.hooks = hooks

    def call(self, name: str, kind: str, fn):
        """Run one operator call; ``fn`` returns (result, items)."""
        if self.hooks:
            self.hooks.before(name)
        t0 = time.perf_counter()
        result, items = fn()
        wall = time.perf_counter() - t0
        rec = {"name": name, "kind": kind, "wall_s": wall, "items": items}
        if self.hooks:
            rec.update(self.hooks.after(name, t0, t0 + wall))
        self.calls.append(rec)
        self.out[name] = result
        return result


def _probe_totals(df):
    from pyspark.sql import functions as F
    row = df.agg(F.sum("n_probed").alias("n"), F.sum("n_member").alias("m")).collect()[0]
    return {"n_probed": int(row.n or 0), "n_member": int(row.m or 0)}


def _grouped(df) -> dict:
    return {r.group: (int(r.n_items), bytes(r.state)) for r in df.collect()}


def run_zipf_tokens(spark, inputs: str, exact: dict, p: Pass) -> None:
    from bloom_filter_spark.operators import (build_grouped, build_sketch,
                                              membership_scan)
    from bloom_filter_spark.sketches import (
        BloomParams, BloomSketch, CMSParams, CMSSketch, HLLParams, HLLSketch,
        KLLParams, KLLSketch, TDigestParams, TDigestSketch)
    tokens = spark.read.parquet(os.path.join(inputs, "tokens.parquet"))

    def build(sketch, col="tokens", kind="i32_array"):
        def fn():
            blob, n = build_sketch(tokens, sketch, col, kind)
            return (blob, n), n
        return fn

    bloom = p.call("bloom_build", "build",
                   build(BloomSketch(BloomParams(n=65_536, p=BLOOM_P))))
    p.call("hll_build", "build", build(HLLSketch(HLLParams(b=HLL_B))))
    p.call("cms_build", "build", build(CMSSketch(CMSParams())))
    p.call("kll_build", "build", build(KLLSketch(KLLParams(k=KLL_K))))
    p.call("tdigest_build", "build",
           build(TDigestSketch(TDigestParams(TDIGEST_COMPRESSION)), "n_tok", "f64"))

    def grouped():
        g = _grouped(build_grouped(tokens, HLLSketch(HLLParams(b=HLL_B)),
                                   "source", "tokens", strategy="mapside"))
        return g, sum(n for n, _ in g.values())
    p.call("hll_grouped_mapside", "build", grouped)

    def probe():
        t = _probe_totals(membership_scan(tokens, "tokens", spark, bloom[0],
                                          "bloom"))
        return t, t["n_probed"]
    p.call("bloom_probe", "probe", probe)


def run_changelog_skew(spark, inputs: str, exact: dict, p: Pass) -> None:
    from bloom_filter_spark.operators import (build_delta_sketch, build_grouped,
                                              membership_scan)
    from bloom_filter_spark.sketches import (BloomParams, CountingBloomSketch,
                                             HLLParams, HLLSketch)
    size = SIZES["changelog-skew"]
    log = spark.read.parquet(os.path.join(inputs, "changelog.parquet"))

    def delta():
        cb = CountingBloomSketch(BloomParams(n=size["cbloom_n"], p=BLOOM_P))
        blob, n = build_delta_sketch(log, cb, "doc_id", "sign", "str")
        return (blob, n), n
    cbloom = p.call("cbloom_delta_build", "build", delta)

    def grouped(strategy):
        def fn():
            g = _grouped(build_grouped(log, HLLSketch(HLLParams(b=HLL_B)),
                                       "tenant", "doc_id", "str",
                                       strategy=strategy))
            return g, sum(n for n, _ in g.values())
        return fn
    p.call("hll_grouped_salted", "build", grouped("salted"))
    p.call("hll_grouped_mapside", "build", grouped("mapside"))

    def probe(table):
        def fn():
            df = spark.read.parquet(os.path.join(inputs, table))
            t = _probe_totals(membership_scan(df, "doc_id", spark, cbloom[0],
                                              "cbloom", "str"))
            return t, t["n_probed"]
        return fn
    p.call("probe_kept", "probe", probe("kept.parquet"))
    # retracted keys must read absent: the probe's early-exit path
    p.call("probe_retracted", "probe", probe("retracted.parquet"))


PASSES = {"zipf-tokens": run_zipf_tokens,
          "changelog-skew": run_changelog_skew}


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

# A check failure fails the run, so every statistical bound is set where a
# correct sketch fails it with negligible probability.  HLL: 4·1.04/√m (3σ
# would fail a correct sketch once per ~370 estimates), plus 0.03 for
# exact counts in [2.5m, 5m], where the raw estimator this HLL uses above
# its linear-counting switch is biased upwards (measured +2.4% at 2.5m,
# +1.1% at 3m, under 0.4% from 3.7m).  KLL: 2x its published 99%-confidence
# rank error.  t-digest: 0.02 normalized rank.
HLL_M = 1 << HLL_B
HLL_SIGMA = 1.04 / math.sqrt(HLL_M)
TDIGEST_RANK_BOUND = 0.02


def hll_bound(exact: int) -> float:
    bias = 0.03 if 2.5 * HLL_M <= exact <= 5 * HLL_M else 0.0
    return 4 * HLL_SIGMA + bias


class Checker:
    """Counts checks and failures; keeps the accuracy figures of the last
    pass (they are identical in every pass of one run)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.accuracy: dict[str, float] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {detail}")
        return ok


def hll_rel_err(blob: bytes, exact: int) -> float:
    from bloom_filter_spark.sketches import HLLSketch
    sk, st = HLLSketch.deserialize(blob)
    return abs(sk.estimate(st) - exact) / exact


def _check_groups(c: Checker, name: str, got: dict, want: dict) -> list[float]:
    """Exact per-group n_items and per-group HLL bound → relative errors."""
    c.check(f"{name}.groups", set(got) == set(want),
            f"{len(got)} groups, want {len(want)}")
    errs = []
    for g, w in want.items():
        if g not in got:
            continue
        n, blob = got[g]
        c.check(f"{name}.{g}.n_items", n == w["n_items"], f"{n} != {w['n_items']}")
        e = hll_rel_err(blob, w["distinct"])
        c.check(f"{name}.{g}.hll", e <= hll_bound(w["distinct"]),
                f"rel err {e:.4f} at {w['distinct']} distinct")
        errs.append(e)
    return errs


def _rank_err(sketch_cls, blob: bytes, points, ranks) -> float:
    sk, st = sketch_cls.deserialize(blob)
    est = sk.rank(st, np.asarray(points, np.float64))
    return float(np.max(np.abs(est - np.asarray(ranks))))


def check_zipf_tokens(c: Checker, out: dict, exact: dict, inputs: str) -> None:
    from bloom_filter_spark.sketches import (CMSSketch, KLLParams, KLLSketch,
                                             TDigestSketch)
    n_tok = exact["n_tokens"]
    for name in ("bloom_build", "hll_build", "cms_build", "kll_build"):
        n = out[name][1]
        c.check(f"{name}.n_items", n == n_tok, f"{n} != {n_tok}")
    n = out["tdigest_build"][1]
    c.check("tdigest_build.n_items", n == exact["n_rows"], f"{n}")
    e = hll_rel_err(out["hll_build"][0], exact["distinct"])
    c.check("hll_build.rel_err", e <= hll_bound(exact["distinct"]), f"{e:.4f}")
    errs = [e] + _check_groups(c, "hll_grouped_mapside",
                               out["hll_grouped_mapside"], exact["groups"])
    c.accuracy["hll_rel_err"] = max(errs)

    counts = np.load(os.path.join(inputs, "token_counts.npy"))
    sk, st = CMSSketch.deserialize(out["cms_build"][0])
    est = sk.point_i32(st, np.arange(VOCAB, dtype=np.int32))
    c.check("cms_build.no_underestimate", bool((est >= counts).all()),
            f"{int((est < counts).sum())} keys under")

    kll = _rank_err(KLLSketch, out["kll_build"][0],
                    exact["kll_points"], exact["kll_ranks"])
    c.check("kll_build.rank_err", kll <= 2 * KLLParams(k=KLL_K).rank_error,
            f"{kll:.4f}")
    td = _rank_err(TDigestSketch, out["tdigest_build"][0],
                   exact["tdigest_points"], exact["tdigest_ranks"])
    c.check("tdigest_build.rank_err", td <= TDIGEST_RANK_BOUND, f"{td:.4f}")
    c.accuracy["rank_err"] = max(kll, td)

    probe = out["bloom_probe"]
    c.check("bloom_probe.n_probed", probe["n_probed"] == n_tok,
            f"{probe['n_probed']}")
    c.check("bloom_probe.no_false_negative", probe["n_member"] == n_tok,
            f"{n_tok - probe['n_member']} missing")


def check_changelog_skew(c: Checker, out: dict, exact: dict, inputs: str) -> None:
    from bloom_filter_spark.sketches import CountingBloomSketch
    blob, n = out["cbloom_delta_build"]
    c.check("cbloom_delta_build.n_items", n == exact["n_rows"],
            f"{n} != {exact['n_rows']}")
    _, st = CountingBloomSketch.deserialize(blob)
    c.check("cbloom_delta_build.no_negative_counter", bool(st.min() >= 0),
            f"min counter {int(st.min())}")
    kept, gone = out["probe_kept"], out["probe_retracted"]
    c.check("probe_kept.n_probed", kept["n_probed"] == exact["n_kept"],
            f"{kept['n_probed']}")
    c.check("probe_kept.all_present", kept["n_member"] == exact["n_kept"],
            f"{exact['n_kept'] - kept['n_member']} missing")
    c.check("probe_retracted.n_probed", gone["n_probed"] == exact["n_deletes"],
            f"{gone['n_probed']}")
    errs = []
    for name in ("hll_grouped_salted", "hll_grouped_mapside"):
        errs += _check_groups(c, name, out[name], exact["groups"])
    salted, mapside = out["hll_grouped_salted"], out["hll_grouped_mapside"]
    same = all(salted[g][1] == mapside.get(g, (0, b""))[1] for g in salted)
    c.check("hll_grouped.strategies_agree", same, "salted and mapside states differ")
    c.accuracy["hll_rel_err"] = max(errs) if errs else 0.0


def digest(out: dict):
    """Yield one fingerprint per call output; a pass whose outputs differ
    from the first pass's is a failed determinism check."""
    for name in sorted(out):
        v = out[name]
        if isinstance(v, tuple):  # (blob, n_items)
            yield name, hashlib.sha1(v[0]).hexdigest(), v[1]
        elif name.startswith("hll_grouped"):
            yield name, sorted((g, n, hashlib.sha1(b).hexdigest())
                               for g, (n, b) in v.items())
        else:
            yield name, sorted(v.items())


CHECKS = {"zipf-tokens": check_zipf_tokens,
          "changelog-skew": check_changelog_skew}


def run_checks(workload: str, c: Checker, out: dict, exact: dict, inputs: str) -> None:
    """Check one pass's outputs; an output that cannot even be decoded (a
    truncated or corrupt blob) counts as one failed check."""
    try:
        CHECKS[workload](c, out, exact, inputs)
    except (ValueError, KeyError, IndexError, struct.error) as e:
        c.check(f"{workload}.decode", False, repr(e))


def absent_probe(workload: str, out: dict, seed: int) -> tuple[int, int]:
    """False positives of the pass's final filter on the workload's absent
    keys → (false positives, probes).  changelog-skew probes its retracted
    keys in the pass; zipf-tokens' absent keys (ids outside the vocabulary)
    are probed here on the driver, through the public sketch class."""
    from bloom_filter_spark.sketches import BloomSketch
    if workload == "changelog-skew":
        return out["probe_retracted"]["n_member"], out["probe_retracted"]["n_probed"]
    sk, st = BloomSketch.deserialize(out["bloom_build"][0])
    rng = np.random.default_rng([seed, 4])
    member = sk.contains_i32(st, rng.integers(
        VOCAB, np.iinfo(np.int32).max, SIZES[workload]["absent"], dtype=np.int32))
    return int(member.sum()), int(member.size)
