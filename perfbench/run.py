"""Seeded sketch-engine benchmark: one command, one named workload.

    python3 perfbench/run.py --workload zipf-tokens --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The benchmark generates its inputs from
``--seed`` (cached under ``.perfbench_cache/``), starts a local Spark session
with N ≤ nproc cores and sets it up three times, runs one untimed warm-up
pass, then closed-loop passes of the workload's operator calls for
``--seconds``, checking every output of every pass.  Before it prints, it
stops the JVM and every Python worker and waits until each has ended.  The
last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (``--trace 0``; times and
rates scaled to a reference host speed by a calibration job, see
``normalize``) or its per-layer metrics (``--trace 1``).  The exit code is
non-zero when a check fails or the package cannot be imported.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_PASSES = 2
# The calibration job's wall seconds on an idle 4-vCPU Xeon VM.
CALIB_S = 0.7


def import_package() -> None:
    """Import the package from this checkout only: a run in a directory that
    holds just the benchmark must fail, not pick up some other copy."""
    sys.path.insert(0, ROOT)
    try:
        import bloom_filter_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import bloom_filter_spark from {ROOT}: {e}")
    where = os.path.dirname(os.path.dirname(os.path.abspath(bloom_filter_spark.__file__)))
    if where != ROOT:
        raise SystemExit(f"perfbench: bloom_filter_spark comes from {where}, not {ROOT}")


def tail_summary(values: list[float]) -> str:
    """Median plus the highest percentile with ≥10 samples beyond it."""
    n = len(values)
    s = f"median={statistics.median(values):.4g} n={n}"
    if n >= 11:
        pct = math.floor(100 * (n - 10) / n)
        k = max(0, math.ceil(pct / 100 * n) - 1)
        s += f" p{pct}={sorted(values)[k]:.4g}"
    return s


def warm_up(spark) -> None:
    """Start the Python workers and import the package in them with one
    tiny build, so the first timed call pays no worker start."""
    from bloom_filter_spark.operators import build_sketch
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    df = spark.range(0, 4096, 1, spark.sparkContext.defaultParallelism) \
        .selectExpr("cast(id as int) as v")
    _, n = build_sketch(df, BloomSketch(BloomParams(n=4096, p=0.01)), "v", "i32")
    if n != 4096:
        raise RuntimeError(f"warm-up build folded {n} of 4096 items")


def pass_metrics(calls: list[dict], cpu_s: float, peak_rss_mb: float) -> dict:
    """One pass's end-to-end figures from its call records."""
    build = [c for c in calls if c["kind"] == "build"]
    probe = [c for c in calls if c["kind"] == "probe"]
    return {
        "workload_s": sum(c["wall_s"] for c in calls),
        "build_items_per_s": sum(c["items"] for c in build) / sum(c["wall_s"] for c in build),
        "probe_items_per_s": sum(c["items"] for c in probe) / sum(c["wall_s"] for c in probe),
        "cpu_s": cpu_s,
        "peak_rss_mb": peak_rss_mb,
    }


def end_to_end(setups: list[float], passes: list[dict]) -> dict:
    """Medians over the set-up repetitions and the timed passes."""
    return {"setup_s": statistics.median(setups),
            **{k: statistics.median(p[k] for p in passes) for k in passes[0]}}


def normalize(raw: dict, calib: list[float]) -> dict:
    """Scale times and rates to a host where the calibration job takes
    CALIB_S.  On a shared 4-vCPU VM the same pass drifted by up to ±50%
    within minutes, in wall and CPU seconds alike; the calibration job runs
    no package code and drifts with the host.  Memory is not scaled."""
    slow = statistics.median(calib) / CALIB_S
    return {"setup_s": raw["setup_s"] / slow,
            "workload_s": raw["workload_s"] / slow,
            "build_items_per_s": raw["build_items_per_s"] * slow,
            "probe_items_per_s": raw["probe_items_per_s"] * slow,
            "cpu_s": raw["cpu_s"] / slow,
            "peak_rss_mb": raw["peak_rss_mb"]}


def result(spec: dict, trace: bool, values: dict, checker) -> dict:
    """The final JSON line; its metric names are exactly BENCHMARK.json's."""
    metrics = spec["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in metrics]
    if set(values) != set(names):
        raise RuntimeError(f"metrics {sorted(values)} do not match BENCHMARK.json {names}")
    return {"correct": checker.failed == 0, "attempted": checker.attempted,
            "failed": checker.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in metrics}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import_package()
    from perfbench import host, workloads
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {', '.join(workloads.WORKLOADS)}")

    work_dir = os.path.join(ROOT, ".perfbench_cache")
    host.configure_env(ROOT, work_dir, ui=bool(args.trace))
    n_cores = host.cores()
    checker = workloads.Checker()
    run_pass = workloads.PASSES[args.workload]

    def one_pass(hooks=None):
        p = workloads.Pass(hooks)
        with host.TreeMonitor() as mon:
            run_pass(spark, inputs, exact, p)
        workloads.run_checks(args.workload, checker, p.out, exact, inputs)
        digests.append(tuple(workloads.digest(p.out)))
        checker.check("pass.deterministic", digests[-1] == digests[0],
                      "outputs differ from the first pass")
        for c in p.calls:
            call_walls.setdefault(c["name"], []).append(c["wall_s"])
        return p, pass_metrics(p.calls, mon.cpu_s, mon.peak_mb)

    call_walls: dict[str, list[float]] = {}
    calib: list[float] = []  # calibration job wall s, after each pass
    digests: list = []

    def timed_passes(budget_s: float, hooks=None, calls: list | None = None) -> list[dict]:
        """Closed loop: passes back to back while another fits the budget;
        each pass's call records are appended to ``calls``."""
        out, calls = [], calls if calls is not None else []
        t_end = time.perf_counter() + budget_s
        while True:
            t0 = time.perf_counter()
            p, m = one_pass(hooks)
            out.append(m)
            calls.append(p.calls)
            now = time.perf_counter()
            calib.append(host.calibrate(spark, n_cores))
            if len(out) >= MIN_PASSES and now + (now - t0) > t_end:
                return out

    # The JVM and its Python workers are stopped and waited for on every
    # way out, before the result line is printed.
    host.become_subreaper()
    setups, spark = [], None
    try:
        # -- set-up, repeated: session start, inputs (generated on a cache
        # miss, loaded after), Python-worker warm-up
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = host.start_session(n_cores)
            inputs, exact = workloads.ensure_inputs(work_dir, args.workload, args.seed)
            warm_up(spark)
            setups.append(time.perf_counter() - t0)

        # warm-up: JIT and caches fill; checked, not timed
        host.calibrate(spark, n_cores)
        warm, _ = one_pass()
        passes = timed_passes(args.seconds / 2 if args.trace else args.seconds)
        layer = None
        if args.trace:
            from perfbench import trace
            layer = trace.traced_run(spark, args.workload, inputs, timed_passes,
                                     args.seconds / 2, passes,
                                     os.path.join(work_dir, "traces"))
        fp, n_abs = workloads.absent_probe(args.workload, warm.out, args.seed)
        checker.check("absent.fpr", fp <= workloads.BLOOM_P * n_abs, f"{fp} / {n_abs}")
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            host.stop_tree()

    raw = end_to_end(setups, passes)
    e2e = normalize(raw, calib)
    acc = checker.accuracy
    summary = {"failed_frac": checker.failed / checker.attempted,
               "bloom_fpr_ratio": fp / n_abs / workloads.BLOOM_P,
               "hll_rel_err": acc["hll_rel_err"],
               "rank_err": acc.get("rank_err")}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    print(f"perfbench {args.workload} seed={args.seed} cores={n_cores} "
          f"passes={len(passes)} setups={len(setups)}")
    for name in ("workload_s", "cpu_s"):
        print(f"  {name}: {tail_summary([p[name] for p in passes])} s")
    print(f"  setup_s: {tail_summary(setups)} s")
    print("  per pass workload_s: " + " ".join(f"{p['workload_s']:.3f}" for p in passes))
    print("  calibration job wall s: " + " ".join(f"{c:.3f}" for c in calib))
    print("  call wall s (median): " + ", ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in call_walls.items()))
    print("  end-to-end, as measured: " + ", ".join(
        f"{k}={v:.6g} {units[k]}" for k, v in raw.items()))
    print("  end-to-end, host-speed normalized (JSON): " + ", ".join(
        f"{k}={v:.6g} {units[k]}" for k, v in e2e.items()))
    print("  accuracy: " + ", ".join(
        f"{k}=n/a (no quantile sketch in this workload)" if v is None
        else f"{k}={v:.6g} ratio" for k, v in summary.items()))
    for f in checker.failures:
        print(f"  FAILED {f}")

    out = result(spec, bool(args.trace), layer if args.trace else e2e, checker)
    print(json.dumps(out))
    return 0 if checker.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
