"""Alternating parent/change perfbench runs over two checkouts.

    python3 tools/ab_perfbench.py --parent ../parent --change . \\
        --workload changelog-skew --seeds 9301-9310 --out BENCH/AB_x.json

For each seed it runs ``perfbench/run.py --trace 0`` for BENCHMARK.json's
``run_seconds`` once in each checkout, in alternating order (parent first
on even pairs, change first on odd ones), and rewrites ``--out`` after
every run, so an interrupted series keeps what it measured.  The workload's section of the JSON file is
``perfbench_<workload>`` (other sections are kept, so one file can hold
several workloads): per end-to-end metric of BENCHMARK.json the medians,
first and third quartiles of both arms, the change/parent ratio of the
medians, the pairs the change won, the median gain and the parent's IQR;
the per-call wall medians; and each run's normalized metrics (the JSON
line) and raw ones (the ``end-to-end, as measured`` line).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """``9301-9310`` or ``1,5,9`` (or a mix) → the seeds in order."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def _figures(line: str) -> dict:
    """``a=1.5 s, b=2 1/s`` → {"a": 1.5, "b": 2.0}."""
    return {k: float(v) for k, v in re.findall(r"(\w+)=([-+0-9.eE]+)", line)}


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in ``checkout`` → its record."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    rec = {"seed": seed, "rc": proc.returncode}
    lines = proc.stdout.splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["stderr_tail"] = proc.stderr[-2000:]
        return rec
    rec.update(metrics={k: v["value"] for k, v in out["metrics"].items()},
               failed=out["failed"], attempted=out["attempted"])
    for line in lines:
        line = line.strip()
        if line.startswith("end-to-end, as measured:"):
            rec["raw"] = _figures(line.split(":", 1)[1])
        elif line.startswith("call wall s (median):"):
            rec["call_walls"] = _figures(line.split(":", 1)[1])
    return rec


def _quartiles(xs: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(runs: list[dict], better: dict) -> dict:
    """Per-metric comparison of the complete pairs in ``runs``."""
    by_seed: dict[int, dict] = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["arm"]] = r
    pairs = [(p["parent"], p["change"]) for p in by_seed.values()
             if "metrics" in p.get("parent", {}) and "metrics" in p.get("change", {})]
    out = {"pairs": len(pairs), "seeds": [a["seed"] for a, _ in pairs],
           "failed": {arm: sum(1 for r in runs if r["arm"] == arm
                               and (r["rc"] != 0 or r.get("failed", 1)))
                      for arm in ("parent", "change")}}
    if len(pairs) < 2:
        return out
    for name, direction in better.items():
        par = [a["metrics"][name] for a, _ in pairs]
        chg = [b["metrics"][name] for _, b in pairs]
        sign = 1 if direction == "higher" else -1
        pq1, pq3 = _quartiles(par)
        cq1, cq3 = _quartiles(chg)
        pm, cm = statistics.median(par), statistics.median(chg)
        out[name] = {
            "parent_median": pm, "parent_q1": pq1, "parent_q3": pq3,
            "change_median": cm, "change_q1": cq1, "change_q3": cq3,
            "ratio": cm / pm,
            "change_wins": sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0),
            "median_gain_abs": sign * (cm - pm),
            "parent_iqr": pq3 - pq1,
        }
    calls: dict = {}
    for arm, i in (("parent", 0), ("change", 1)):
        for p in pairs:
            for call, wall in p[i].get("call_walls", {}).items():
                calls.setdefault(call, {}).setdefault(arm, []).append(wall)
    out["call_wall_s_median_as_measured"] = {
        call: {arm: statistics.median(v) for arm, v in arms.items()}
        for call, arms in calls.items()}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 9301-9310 or 1,4,7")
    ap.add_argument("--out", required=True, help="JSON file to (re)write")
    ap.add_argument("--what", help="one line on the change measured")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    doc = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            doc = json.load(f)
    if args.what:
        doc["what"] = args.what
    doc.setdefault("host", f"{os.cpu_count()} CPUs; python3 perfbench/run.py "
                           f"--seconds {seconds:g} --trace 0")
    section = "perfbench_" + args.workload.replace("-", "_")
    runs: list[dict] = []
    doc[section] = {"seeds": args.seeds,
                    "order": "alternating: parent first on even pairs",
                    "summary": {}, "runs": runs}
    arms = {"parent": args.parent, "change": args.change}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        for arm in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            rec = {"arm": arm, **run_once(arms[arm], args.workload, seed,
                                          seconds)}
            runs.append(rec)
            doc[section]["summary"] = summarize(runs, better)
            with open(args.out, "w") as f:
                json.dump(doc, f, indent=1)
            print(f"{args.workload} seed {seed} {arm}: rc={rec['rc']} "
                  f"{json.dumps(rec.get('metrics'))}", flush=True)
    summary = doc[section]["summary"]
    for name in better:
        if name in summary:
            s = summary[name]
            print(f"{name}: {s['parent_median']:.6g} -> {s['change_median']:.6g} "
                  f"({s['ratio']:.3f}x, won {s['change_wins']}/{summary['pairs']}, "
                  f"gain {s['median_gain_abs']:.4g} vs parent IQR {s['parent_iqr']:.4g})")
    return 0 if not any(summary.get("failed", {}).values()) else 1


if __name__ == "__main__":
    sys.exit(main())
