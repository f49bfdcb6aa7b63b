#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 10] [--sets 1]
                                [--out perfbench/BASELINE.json]

For each workload, runs the benchmark once per seed (untraced, seeds 1..N,
run_seconds from BENCHMARK.json) and reports, per end-to-end metric, the
median of the runs and the spread: the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median. With --sets 2
it repeats the sweep on seeds N+1..2N and reports how far the second median
moved from the first, as a share of the first. Each spread, except that of
setup_s, should stay within a third of the metric's bound in BENCHMARK.json.

With --out it also makes one traced run per workload at the determinism
seed and writes the baseline file: the first set's end-to-end figures, the
traced run's per-layer metrics and self times, and the tracing overhead.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TRACE_SEED = 7  # the seed test_determinism.py uses


def run_once(workload, seed, seconds, trace=0):
    """One run: (context, {metric: (value, unit)})."""
    out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: output check failed")
    context = json.loads(lines[-2])["context"]
    return context, {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()}


def summarize(runs):
    out = {}
    for metric, (_, unit) in runs[0].items():
        vals = [r[metric][0] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[metric] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                       "spread": (q3 - q1) / med if med else 0.0, "runs": len(vals)}
    return out


def traced_baseline(workload, seconds, untraced):
    """Per-layer metrics, self times and tracing overhead of one traced run."""
    _, metrics = run_once(workload, TRACE_SEED, seconds, trace=1)
    doc = json.loads((ROOT / ".bench_build" / "trace" /
                      f"{workload}-seed{TRACE_SEED}.json").read_text())
    layers = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    layers["_self_time"] = doc["self_time"]
    traced = doc["e2e_traced"]["cycle_p50_ms"]
    plain = untraced["cycle_p50_ms"]["median"]
    overhead = {"traced_cycle_p50_ms": traced, "untraced_median_cycle_p50_ms": plain,
                "difference_ms": traced - plain,
                "trace_extra_ms_per_op": metrics["trace.extra_ms_per_op"][0]}
    return layers, overhead


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    baseline = {"host": None, "run_seconds": seconds, "end_to_end": {},
                "per_layer": {}, "tracing_overhead_ms": {}}
    for w in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            runs = []
            for seed in range(1 + s * args.seeds, 1 + (s + 1) * args.seeds):
                context, metrics = run_once(w, seed, seconds)
                runs.append(metrics)
            sets.append(summarize(runs))
        for metric, first in sets[0].items():
            line = f"{w:18s} {metric:20s} median {first['median']:12.4f}  spread {first['spread']:.4f}"
            line += f"  (bound/3 {bounds.get(metric, 0) / 3:.4f})"
            for later in sets[1:]:
                drift = (later[metric]["median"] - first["median"]) / first["median"]
                line += f"  set2 spread {later[metric]['spread']:.4f} drift {drift:+.4f}"
            print(line, flush=True)
        if args.out:
            baseline["host"] = (f"{context['cores']} cores, Java {context['java_version']}, "
                                f"Spark {context['spark_version']}, {context['spark_master']}, "
                                "shuffle partitions 4")
            baseline["end_to_end"][w] = sets[0]
            baseline["per_layer"][w], baseline["tracing_overhead_ms"][w] = \
                traced_baseline(w, seconds, sets[0])
    if args.out:
        baseline["seeds"] = {"end_to_end": f"1-{args.seeds}, one run each, untraced",
                             "per_layer": f"{TRACE_SEED}, traced"}
        Path(args.out).write_text(json.dumps(baseline, indent=1) + "\n")


if __name__ == "__main__":
    main()
