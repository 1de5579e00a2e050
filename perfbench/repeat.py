#!/usr/bin/env python3
"""Runs the benchmark once per seed and summarizes each metric's spread.

    python3 perfbench/repeat.py --workload crawl_small --seeds 1-10 [--trace 1] [--out runs.jsonl]
    python3 perfbench/repeat.py --workload crawl_small --from runs.jsonl --baseline perfbench/BASELINE.json

Run from the repository root. For each metric prints the median, the
quartiles (statistics.quantiles(values, n=4)) and the spread, (Q3 - Q1) /
median, next to the bound BENCHMARK.json sets for it; appends every raw
result to --out when given. --from summarizes saved results instead of
running; --baseline merges the summary into a baseline file.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def summarize(results, bounds):
    rows = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results if r["metrics"][name]["value"] is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        rows[name] = {"median": med, "q1": q1, "q3": q3, "n": len(vals),
                      "spread": (q3 - q1) / med if med else None,
                      "unit": results[0]["metrics"][name]["unit"]}
        b = bounds.get(name)
        flag = "" if b is None or rows[name]["spread"] is None else (
            "ok" if rows[name]["spread"] < b / 3 else ("within bound" if rows[name]["spread"] <= b else "TOO WIDE"))
        print("  %-40s median %14.6g  q1 %14.6g  q3 %14.6g  spread %7.4f  bound %-5s %s" % (
            name, med, q1, q3, rows[name]["spread"] or 0.0, b, flag))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--from", dest="source")
    ap.add_argument("--baseline")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    results = []
    missing = []  # seeds whose run printed no result
    if args.source:
        with open(args.source) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
        results = [r["result"] for r in rows if r["workload"] == args.workload and r["trace"] == args.trace]
    for s in ([] if args.source else seeds(args.seeds)):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(args.trace)], capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        printed = last.startswith("{")
        # a run that fails a check exits 1 and still prints its result;
        # it is kept and counts against "all correct"
        print("seed %d: exit %d, %.0f s%s" % (s, p.returncode, time.time() - t0,
                                              "" if p.returncode == 0 else "  " + p.stderr[-300:]))
        if not printed:
            missing.append(s)
        else:
            r = json.loads(last)
            results.append(r)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": args.workload, "seed": s, "trace": args.trace,
                                         "wall_s": time.time() - t0, "result": r}) + "\n")
    all_correct = bool(results) and not missing and all(r["correct"] for r in results)
    if missing:
        print("%s: no result from seeds %s" % (args.workload, missing))
    if results:
        print("%s, %d runs, %d incorrect, all correct: %s" % (
            args.workload, len(results), sum(not r["correct"] for r in results), all_correct))
        rows = summarize(results, bounds)
        if args.baseline:
            base = {}
            if os.path.exists(args.baseline):
                with open(args.baseline) as fh:
                    base = json.load(fh)
            key = "per_layer" if args.trace else "end_to_end"
            base.setdefault(key, {})[args.workload] = rows
            with open(args.baseline, "w") as fh:
                json.dump(base, fh, indent=1, sort_keys=True)
                fh.write("\n")
    return 0 if all_correct else 1


if __name__ == "__main__":
    sys.exit(main())
