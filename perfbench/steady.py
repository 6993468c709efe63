#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload K times and summarise.

    python3 perfbench/steady.py --workload curation_batch --runs 10 [--first-seed 1]
    python3 perfbench/steady.py --workload service_mix --runs 5 --overhead

Each run gets its own seed (first-seed, first-seed+1, ...). For every
end-to-end metric it prints the median, the quartiles (as Python's
statistics.quantiles(n=4) gives them), the quartile spread and the max/min
spread as shares of the median, and the metric's bound from BENCHMARK.json,
flagging a quartile spread above a third of the bound. With --overhead every
seed also runs traced, and it prints the traced-minus-untraced medians of the
end-to-end metrics: the tracing overhead. Run it from the root of a checkout;
each run's result file stays in <build dir>/steady/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace, result):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--result", result], capture_output=True, text=True)
    line = (p.stdout.strip().splitlines() or ["{}"])[-1]
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"seed {seed} failed (exit {p.returncode}): {line}")
    with open(result) as f:
        return json.load(f)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med, (max(values) - min(values)) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    plain, traced = [], []
    keep = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "steady")
    os.makedirs(keep, exist_ok=True)
    for i in range(args.runs):
        seed = args.first_seed + i
        result = os.path.join(keep, f"{args.workload}-seed{seed}-trace%d.json")
        plain.append(run(args.workload, seed, seconds, 0, result % 0))
        if args.overhead:
            traced.append(run(args.workload, seed, seconds, 1, result % 1))
        e2e = plain[-1]["end_to_end"]
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in sorted(e2e.items())),
              file=sys.stderr, flush=True)

    print(f"{args.workload}: {args.runs} runs of {seconds} s, seeds {args.first_seed}.."
          f"{args.first_seed + args.runs - 1}")
    print(f"{'metric':16} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'range/med':>9} "
          f"{'bound':>6}")
    for name, m in bounds.items():
        values = [r["end_to_end"][name]["value"] for r in plain]
        med, q1, q3, iqr, rng = spread(values)
        flag = "" if iqr <= m["bound"] / 3 else "  <- above a third of the bound"
        print(f"{name:16} {med:12.5g} {q1:12.5g} {q3:12.5g} {iqr:8.3f} {rng:9.3f} "
              f"{m['bound']:6.2f}{flag}")
    if traced:
        print("tracing overhead (traced median - untraced median):")
        for name in bounds:
            a = statistics.median(r["end_to_end"][name]["value"] for r in plain)
            b = statistics.median(r["end_to_end"][name]["value"] for r in traced)
            print(f"  {name:16} {b - a:+12.5g} {bounds[name]['unit']:6} ({(b - a) / a:+.1%})")
        share = [r["per_layer"]["spark.attributed_share"]["value"] for r in traced]
        print(f"  jobs attributed to a span: median {statistics.median(share):.3f}, "
              f"min {min(share):.3f}")


if __name__ == "__main__":
    main()
