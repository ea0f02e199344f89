#!/usr/bin/env python3
"""Renders traced runs as markdown: one self-time table per workload.

Usage: python3 perfbench/report.py perfbench/out/trace-*.json
"""
import json
import sys

from stats import SELF_LAYERS

LAYER_NOTE = {
    "streaming": "streaming trigger spans",
    "exec": "Spark jobs outside triggers",
    "plans": "planning phases outside jobs",
    "operators": "driver time no span covers (operators.driver_self_s)",
}


def render(t):
    m, table = t["per_lap"], t["self_time_s_per_lap"]
    call = m["call_s"]
    out = [f"### {t['workload']} (seed {t['seed']})", "",
           "| layer | self s per lap | share | covers |", "| --- | ---: | ---: | --- |"]
    for layer in SELF_LAYERS:
        out.append(f"| {layer} | {table[layer]:.3f} | {table[layer] / call:.1%} | {LAYER_NOTE[layer]} |")
    out.append(f"| **calls** | **{call:.3f}** | 100% | sum of call walls in one lap |")
    out += ["", f"session: build {m['session.build_s']:.2f} s, first scan {m['session.first_scan_s']:.2f} s; "
            f"exec.busy_frac {m['exec.busy_frac']:.3f}; bench.trace_overhead_frac "
            f"{m['bench.trace_overhead_frac']:+.3f}", ""]
    out += ["| key | call s | streaming | exec | plans | operators | jobs | eager jobs |",
            "| --- | ---: | ---: | ---: | ---: | ---: | ---: | ---: |"]
    for key, k in t["per_key"].items():
        out.append(f"| {key} | {k['call_s']:.3f} | " +
                   " | ".join(f"{k.get(f'self.{layer}_s', 0.0):.3f}" for layer in SELF_LAYERS) +
                   f" | {k.get('exec.jobs', 0):.0f} | {k.get('operators.eager_jobs', 0):.0f} |")
    return "\n".join(out) + "\n"


def main():
    for path in sys.argv[1:]:
        with open(path) as f:
            print(render(json.load(f)))


if __name__ == "__main__":
    main()
