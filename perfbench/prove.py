#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/prove.py --workloads migrate_curate,store_churn \
        --seeds 1-10 [--trace 0] [--out perfbench/results/<name>.json]

For every workload and metric it prints the median of the per-seed values
and the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound from BENCHMARK.json. With --out, every run's raw result
line is kept in that file next to the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    runs, summary = [], {}
    for wl in args.workloads.split(","):
        values = {}
        for seed in seeds(args.seeds):
            t0 = time.time()
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            took = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                res = None
            runs.append({"workload": wl, "seed": seed, "exit": p.returncode,
                         "run_s": round(took, 1), "result": res})
            if res is None:
                print(f"{wl} seed {seed}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            print(f"{wl} seed {seed}: {took:.0f} s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        summary[wl] = {}
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            s = spread(vs)
            summary[wl][k] = {"median": statistics.median(vs), "spread": s, "n": len(vs)}
            b = bounds.get(k)
            flag = "" if b is None else ("  ok" if s < b / 3 else f"  > bound/3 ({b / 3:.3f})")
            print(f"  {wl:15s} {k:24s} median {statistics.median(vs):12.4f} "
                  f"spread {s:.4f}{flag}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump({"time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                       "cores": os.cpu_count(), "trace": args.trace,
                       "summary": summary, "runs": runs}, fh, indent=1)
    sys.exit(0 if all(r["result"] and r["result"]["correct"] for r in runs) else 1)


if __name__ == "__main__":
    main()
