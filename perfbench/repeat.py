#!/usr/bin/env python3
"""Repeats run.py over seeds and summarizes each metric per workload.

    python3 perfbench/repeat.py --runs 10 --seed0 100 [--trace 1] [--workloads a,b] --out FILE

Seeds are seed0, seed0+1, ...  For every workload and metric the summary
holds all values, the median, the quartiles (statistics.quantiles, n=4)
and the spread (interquartile distance / median), and the wall time of
each run.  The JSON summary goes to --out; a Markdown table to stdout.

With --trace 1 every traced run follows an untraced run of the same seed,
and the summary adds the tracing overhead of the set: the median traced
makespan (trace.makespan_s) against the median untraced one (makespan_s),
with the quartiles of the per-seed overheads.  The core count is the
program's own SPARK_GRAFT_CPUS, passed through from the environment.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(w, seed, trace, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    note = [l for l in p.stderr.splitlines() if l.startswith("task_tail_s is")]
    attr = [json.loads(l[len("attribution "):]) for l in lines if l.startswith("attribution ")]
    r = {"seed": seed, "trace": trace, "rc": p.returncode, "wall_s": round(time.time() - t0, 1),
         "result": res, "tail": note[0] if note else None, "attribution": attr[0] if attr else None}
    print(f"{w} seed {seed} trace {trace}: rc {p.returncode} in {r['wall_s']} s", file=sys.stderr)
    return r


def overhead(traced, untraced):
    """Tracing overhead in %: median traced vs median untraced makespan,
    and the quartiles of the per-seed overheads."""
    def ms(r, k):
        return r["result"]["metrics"][k]["value"] if r["result"] else None
    pairs = [(ms(t, "trace.makespan_s"), ms(u, "makespan_s")) for t, u in zip(traced, untraced)]
    pairs = [(t, u) for t, u in pairs if t and u]
    if not pairs:
        return None
    per_seed = [100.0 * (t / u - 1) for t, u in pairs]
    q = statistics.quantiles(per_seed, n=4) if len(per_seed) > 1 else [per_seed[0]] * 3
    return {"value": 100.0 * (statistics.median(t for t, _ in pairs)
                              / statistics.median(u for _, u in pairs) - 1),
            "per_seed": per_seed, "q1": q[0], "q3": q[2]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    summary = {}
    for w in names:
        runs, untraced = [], []
        for i in range(args.runs):
            seed = args.seed0 + i
            if args.trace:
                untraced.append(run(w, seed, 0, bench["run_seconds"]))
            runs.append(run(w, seed, args.trace, bench["run_seconds"]))
        metrics = {}
        for r in runs:
            for k, v in ((r["result"] or {}).get("metrics") or {}).items():
                metrics.setdefault(k, {"unit": v["unit"], "values": []})["values"].append(v["value"])
        for m in metrics.values():
            xs = m["values"]
            m["median"] = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
            m["q1"], m["q3"] = q[0], q[2]
            m["spread"] = (q[2] - q[0]) / m["median"] if m["median"] else None
        summary[w] = {"runs": runs, "metrics": metrics,
                      "correct": all(r["result"] and r["result"]["correct"] for r in runs + untraced)}
        if args.trace:
            summary[w]["untraced_runs"] = untraced
            summary[w]["trace_overhead_pct"] = overhead(runs, untraced)
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w, s in summary.items():
        walls = [r["wall_s"] for r in s["runs"]]
        print(f"\n### {w} ({len(walls)} runs, all correct: {s['correct']}, "
              f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s)\n")
        print("| metric | unit | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|")
        for k, m in s["metrics"].items():
            sp = "" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"| {k} | {m['unit']} | {m['median']:.4g} | {m['q1']:.4g} | {m['q3']:.4g} | "
                  f"{sp} | {bounds.get(k) or ''} |")
        o = s.get("trace_overhead_pct")
        if o:
            print(f"\ntrace overhead {o['value']:.1f}% (per-seed q1 {o['q1']:.1f}%, q3 {o['q3']:.1f}%)")


if __name__ == "__main__":
    main()
