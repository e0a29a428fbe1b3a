#!/usr/bin/env python3
"""Self-time table of a traced run, as markdown:

    python3 perfbench/trace_report.py .perfbench/traces/<workload>-s<seed>.json

A span's self time is its duration minus its children's. Op spans are
named `<layer>:<op>`; inner spans name the public function called
(`sources.PipeFiles.write`, `SparkEntry.queries(q)`, `collect`, ...).
Figures are medians over the run's passes, in ms; the probe loop and
set-up are listed as their own rows.
"""
import json
import sys
from collections import defaultdict
from statistics import median


def self_times(spans):
    children = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]] += s["end_ms"] - s["start_ms"]
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - children[s["id"]]
            for s in spans}


def main():
    t = json.load(open(sys.argv[1]))
    spans = t["spans"]
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    # key: (phase, op span name, inner span name) -> per-pass self times
    rows = defaultdict(lambda: defaultdict(float))
    for s in spans:
        op = s["op"]
        phase = op.split("/")[0] if "/" in op else op
        if phase.startswith("pass"):
            unit, phase = phase, "pass"
        elif phase.startswith("probe"):
            unit, phase = phase, "probe"
        else:
            unit = phase
        top = s
        while top["parent"] >= 0:
            top = by_id[top["parent"]]
        rows[(phase, top["name"], s["name"])][unit] += own[s["id"]]
    print(f"{t['workload']}: {len(t['pass_wall_s'])} pass(es), "
          f"{len(t['probe_ms'])} probes, set-up {t['setup_s']:.2f} s")
    print()
    print("| phase | op | self time by span, ms | total ms |")
    print("|---|---|---|---:|")
    ops = defaultdict(dict)
    for (phase, op, name), per in rows.items():
        ops[(phase, op)][name] = median(per.values())
    for (phase, op), parts in sorted(ops.items()):
        split = "; ".join(f"{'(own)' if n == op else n} {v:.0f}"
                          for n, v in sorted(parts.items(), key=lambda x: -x[1])
                          if v >= 0.5)
        print(f"| {phase} | {op} | {split} | {sum(parts.values()):.0f} |")


if __name__ == "__main__":
    main()
