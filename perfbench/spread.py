"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--trace-too] [--out FILE]

Runs the benchmark once per seed (one run at a time), then prints, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a
share of the median next to the metric's bound from BENCHMARK.json. With
``--trace-too`` every seed also gets a traced run, and the tracing
overhead (traced minus untraced end-to-end figures) is printed.
Results are appended as JSON lines to ``.perfbench/spread.jsonl``; with
``--out`` the workload's summary (every value, medians, quartiles) is
merged into a JSON file, as ``perfbench/baseline-nproc4.json`` was made.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} trace {trace}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        line["details"] = json.load(f)
    return line


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace-too", action="store_true")
    p.add_argument("--out", help="merge this workload's summary into a JSON file")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    runs, traced = [], []
    log = os.path.join(ROOT, ".perfbench", "spread.jsonl")
    for seed in seeds_of(args.seeds):
        r = run_once(args.workload, seed, seconds, 0)
        runs.append(r)
        with open(log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "trace": 0, "line": {k: v for k, v in r.items()
                                                     if k != "details"},
                                "run_s": r["details"]["run_s"]}) + "\n")
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']} "
              f"run_s={r['details']['run_s']:.1f} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        if args.trace_too:
            traced.append(run_once(args.workload, seed, seconds, 1))
    print(f"\n{args.workload}: {len(runs)} runs, all correct: "
          f"{all(r['correct'] for r in runs)}")
    print(f"{'metric':<14} {'median':>12} {'spread':>8} {'bound':>6}")
    summary = {"seeds": seeds_of(args.seeds), "run_seconds": seconds,
               "all_correct": all(r["correct"] for r in runs),
               "run_s": [round(r["details"]["run_s"], 1) for r in runs],
               "end_to_end": {}, "named": {}}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med if med else float("inf")
        flag = "" if share < m["bound"] / 3 else (" !" if share < m["bound"] else " FAIL")
        print(f"{m['name']:<14} {med:>12.4g} {share:>8.3f} {m['bound']:>6}{flag}")
        summary["end_to_end"][m["name"]] = {
            "unit": m["unit"], "median": med, "q1": q1, "q3": q3,
            "spread": share, "bound": m["bound"], "values": vals,
        }
    for name, (_v, unit) in runs[0]["details"]["named"].items():
        vals = [r["details"]["named"][name][0] for r in runs]
        if all(isinstance(v, (int, float)) for v in vals):
            summary["named"][name] = {"unit": unit, "median": statistics.median(vals)}
    if traced:
        print("\ntracing overhead (median traced - median untraced):")
        summary["tracing_overhead"] = {}
        for name, key in (("op_p50_ms", "trace.op_p50_ms"),
                          ("ops_per_s", "trace.ops_per_s")):
            u = statistics.median(r["metrics"][name]["value"] for r in runs)
            t = statistics.median(r["metrics"][key]["value"] for r in traced)
            print(f"  {name:<10} untraced {u:.4g}  traced {t:.4g}  "
                  f"diff {t - u:+.4g} ({(t - u) / u:+.1%})")
            summary["tracing_overhead"][name] = {"untraced": u, "traced": t}
        cov = [r["metrics"]["trace.span_coverage"]["value"] for r in traced]
        print(f"  top-level op span coverage of the phase: min {min(cov):.3f}")
        summary["tracing_overhead"]["min_span_coverage"] = min(cov)
    if args.out:
        data = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                data = json.load(f)
        data[args.workload] = summary
        with open(args.out, "w") as f:
            json.dump(data, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
