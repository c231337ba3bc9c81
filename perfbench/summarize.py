#!/usr/bin/env python3
"""Summarize benchmark artifacts: median, quartiles and spread per metric.

Usage: python3 perfbench/summarize.py [artifact.json ...]

Without arguments it reads every artifact in perfbench/out/results/. It
groups them by (workload, trace) and prints, for each metric, the run
count, the median, the first and third quartiles (statistics.quantiles,
n=4), and the spread: (q3 - q1) / median. For traced runs it also
prints the layer split of the traced wall time, from run medians.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    paths = sys.argv[1:] or sorted(p for p in glob.glob(os.path.join(HERE, "out", "results", "*.json"))
                                   if not p.endswith(".spans.json"))
    groups = {}
    for p in paths:
        with open(p) as fh:
            a = json.load(fh)
        groups.setdefault((a["workload"], a["trace"]), []).append(a)
    for (workload, trace), arts in sorted(groups.items()):
        seeds = sorted(a["seed"] for a in arts)
        failed = sum(a["failed"] for a in arts)
        print(f"\n{workload} trace={trace}: {len(arts)} runs, seeds {seeds}, "
              f"{failed} failed ops, all correct: {all(a['correct'] for a in arts)}")
        for name, m in arts[0]["metrics"].items():
            vals = [a["metrics"][name]["value"] for a in arts
                    if a["metrics"].get(name, {}).get("value") is not None]
            if not vals:
                print(f"  {name:28s} null: {m.get('reason')}")
                continue
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = f"{(q3 - q1) / med:.3f}" if med else "-"
            else:
                q1 = q3 = vals[0]
                spread = "-"
            print(f"  {name:28s} {m['unit']:6s} n={len(vals):2d} median={med:<14.6g} "
                  f"q1={q1:<12.6g} q3={q3:<12.6g} spread={spread}")
        if trace:
            print("  split: " + split(arts))


def split(arts):
    """One line: where the traced wall time went, from run medians."""
    def med(name):
        return statistics.median(a["metrics"][name]["value"] for a in arts)
    wall = med("trace.traced_wall_s")
    if med("queries.build_s") == 0:
        parts = [("read", "sources.read_s"), ("estimate", "expressions.estimate_s"),
                 ("chunk", "chunker.s"), ("map", "llmmap.map_wall_s"),
                 ("memo self", "memo.s"), ("combine", "combine.s")]
        return f"of {wall:.2f} s: " + ", ".join(f"{k} {med(n):.2f} s" for k, n in parts) + \
            f" (model busy {med('llmmap.busy_s'):.2f} s, {med('llmmap.calls'):.0f} calls)"
    plan = sum(med(n) for n in ("spark.analysis_s", "spark.optimization_s", "spark.planning_s"))
    return (f"of {wall:.2f} s: planning {plan:.2f} s, "
            f"{med('spark.codegen_compiles'):.0f} codegen compiles, "
            f"executor run {med('spark.executor_run_s'):.2f} s "
            f"(cpu {med('spark.executor_cpu_s'):.2f} s), idle {med('spark.idle_s'):.2f} s; "
            f"entry builds {med('queries.build_s'):.2f} s, sinks {med('sinks.write_s'):.2f} s, "
            f"shared builds {med('queries.shared_builds_s'):.2f} s")


if __name__ == "__main__":
    main()
