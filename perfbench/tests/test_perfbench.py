"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, trace, workloads  # noqa: E402

TINY = {
    "zipf-tokens": {"rows": 40, "absent": 1000},
    "changelog-skew": {"inserts": 2000, "deletes": 500, "cbloom_n": 2000,
                       "groups": 8, "group_zipf": 1.2},
}


@pytest.fixture
def tiny(monkeypatch):
    for w, size in TINY.items():
        monkeypatch.setitem(workloads.SIZES, w, size)


def _tables(d: str) -> dict:
    return {f: pq.read_table(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_generator_deterministic_per_seed(tiny, tmp_path, workload):
    a, ea = workloads.ensure_inputs(str(tmp_path / "a"), workload, 7)
    b, eb = workloads.ensure_inputs(str(tmp_path / "b"), workload, 7)
    c, ec = workloads.ensure_inputs(str(tmp_path / "c"), workload, 8)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert ea == eb
    assert all(ta[f].equals(tb[f]) for f in ta)
    assert any(not ta[f].equals(tc[f]) for f in ta)


def test_cache_key_covers_version_seed_and_size(tiny, monkeypatch):
    k = workloads.cache_key("zipf-tokens", 1)
    assert k != workloads.cache_key("zipf-tokens", 2)
    monkeypatch.setattr(workloads, "GEN_VERSION", workloads.GEN_VERSION + 1)
    assert k != workloads.cache_key("zipf-tokens", 1)
    monkeypatch.setattr(workloads, "GEN_VERSION", workloads.GEN_VERSION - 1)
    monkeypatch.setitem(workloads.SIZES, "zipf-tokens", {"rows": 41, "absent": 1000})
    assert k != workloads.cache_key("zipf-tokens", 1)


def test_zipf_exact_answers_match_brute_force(tiny, tmp_path):
    d, exact = workloads.ensure_inputs(str(tmp_path), "zipf-tokens", 3)
    rows = pq.read_table(os.path.join(d, "tokens.parquet")).to_pylist()
    tokens = [t for r in rows for t in r["tokens"]]
    assert exact["n_tokens"] == len(tokens)
    assert exact["distinct"] == len(set(tokens))
    for src, g in exact["groups"].items():
        toks = [t for r in rows if r["source"] == src for t in r["tokens"]]
        assert g == {"n_items": len(toks), "distinct": len(set(toks))}
    for v, r in zip(exact["kll_points"], exact["kll_ranks"]):
        assert r == pytest.approx(sum(t <= v for t in tokens) / len(tokens))
    lengths = [r["n_tok"] for r in rows]
    assert all(len(r["tokens"]) == r["n_tok"] for r in rows)
    for v, r in zip(exact["tdigest_points"], exact["tdigest_ranks"]):
        assert r == pytest.approx(sum(n <= v for n in lengths) / len(lengths))


def test_changelog_exact_answers_match_brute_force(tiny, tmp_path):
    d, exact = workloads.ensure_inputs(str(tmp_path), "changelog-skew", 3)
    log = pq.read_table(os.path.join(d, "changelog.parquet")).to_pylist()
    live: dict[str, int] = {}
    for r in log:
        live[r["doc_id"]] = live.get(r["doc_id"], 0) + r["sign"]
    assert min(live.values()) >= 0
    kept = {k for k, v in live.items() if v > 0}
    assert exact["n_rows"] == len(log)
    assert exact["n_kept"] == len(kept)
    kept_table = pq.read_table(os.path.join(d, "kept.parquet")).column(0).to_pylist()
    assert set(kept_table) == kept
    for g, want in exact["groups"].items():
        rows = [r for r in log if r["tenant"] == g]
        assert want == {"n_items": len(rows),
                        "distinct": len({r["doc_id"] for r in rows})}
    retracted = pq.read_table(os.path.join(d, "retracted.parquet")).column(0).to_pylist()
    assert set(retracted) == set(live) - kept


def _changelog_outputs(d: str, exact: dict) -> dict:
    """What a correct changelog-skew pass returns, built with the kernels."""
    from bloom_filter_spark.core.hashing import arrow_strbuf
    from bloom_filter_spark.sketches import (BloomParams, CountingBloomSketch,
                                             HLLParams, HLLSketch)
    log = pq.read_table(os.path.join(d, "changelog.parquet"))
    cb = CountingBloomSketch(BloomParams(n=workloads.SIZES["changelog-skew"]["cbloom_n"],
                                         p=workloads.BLOOM_P))
    st = cb.empty()
    cb.update_delta_str(st, arrow_strbuf(log.column("doc_id").combine_chunks()),
                        log.column("sign").to_numpy())
    hll = HLLSketch(HLLParams(b=workloads.HLL_B))
    tenants = np.asarray(log.column("tenant").to_pylist())
    doc_ids = np.asarray(log.column("doc_id").to_pylist())
    grouped = {}
    for g, want in exact["groups"].items():
        hs = hll.empty()
        hll.update_str(hs, doc_ids[tenants == g])
        grouped[g] = (want["n_items"], hll.serialize(hs))

    def probe(table):
        keys = pq.read_table(os.path.join(d, table)).column(0).combine_chunks()
        return {"n_probed": len(keys),
                "n_member": int(cb.contains_str(st, arrow_strbuf(keys)).sum())}
    return {"cbloom_delta_build": (cb.serialize(st), exact["n_rows"]),
            "hll_grouped_salted": grouped, "hll_grouped_mapside": dict(grouped),
            "probe_kept": probe("kept.parquet"),
            "probe_retracted": probe("retracted.parquet")}


def test_checks_pass_on_correct_outputs_and_count_a_truncated_blob(tiny, tmp_path):
    d, exact = workloads.ensure_inputs(str(tmp_path), "changelog-skew", 5)
    out = _changelog_outputs(d, exact)
    ok = workloads.Checker()
    workloads.run_checks("changelog-skew", ok, out, exact, d)
    assert ok.attempted > 0 and ok.failed == 0, ok.failures

    blob, n = out["cbloom_delta_build"]
    out["cbloom_delta_build"] = (blob[:len(blob) // 2], n)
    bad = workloads.Checker()
    workloads.run_checks("changelog-skew", bad, out, exact, d)
    assert bad.failed / bad.attempted > 0


def test_end_to_end_names_equal_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    calls = [{"kind": "build", "wall_s": 1.0, "items": 10},
             {"kind": "probe", "wall_s": 2.0, "items": 10}]
    e2e = run.end_to_end([1.0, 2.0, 3.0], [run.pass_metrics(calls, 3.0, 100.0)])
    out = run.result(spec, False, e2e, workloads.Checker())
    assert list(out["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    with pytest.raises(RuntimeError):
        run.result(spec, False, {**e2e, "extra": 1.0}, workloads.Checker())


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_per_layer_names_equal_benchmark_json(tiny, tmp_path, workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    d, _ = workloads.ensure_inputs(str(tmp_path), workload, 1)
    layers = trace.replay(workload, d, {}, trace.Spans("test"))
    names = set(layers) | set(trace.PASS_METRICS)
    assert names == {m["name"] for m in spec["per_layer"]}
    if workload == "zipf-tokens":
        assert layers["core.collapse_ratio"] < 1.0
    else:
        assert layers["core.collapse_ratio"] == 1.0


def test_stop_tree_stops_and_reaps_an_orphaned_grandchild():
    """The shell exits at once; its background sleep is adopted, stopped and
    reaped, so no process outlives the run (done in a child interpreter)."""
    code = textwrap.dedent(f"""
        import os, subprocess, sys
        sys.path.insert(0, {ROOT!r})
        from perfbench import host
        host.become_subreaper()
        subprocess.run(["sh", "-c", "sleep 600 >/dev/null 2>&1 &"], check=True)
        assert len(host.descendants(os.getpid())) == 2
        host.stop_tree(grace_s=5)
        assert host.descendants(os.getpid()) == [os.getpid()]
    """)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=60)
    assert r.returncode == 0, r.stderr
