#!/usr/bin/env python3
"""Attribute Spark codegen compiles to the ops and cases of a perfbench run.

Usage:
  python3 tools/codegen_spans.py <result.json> <codegen.log>

<result.json> is a perfbench run record (`.bench_build/perfbench/
last_<workload>_trace<0|1>.json`); every op and stream case in it carries
its epoch-ms span. <codegen.log> holds one line per compile, written by a
JVM run with tools/codegen-log4j2.properties (see tools/README.md):
`<epoch ms> Code generated in <ms> ms [<thread>]`.

Each compile goes to the op whose span holds it, else to the stream case
whose span holds it (its planning or its stream start), else to
"outside" (set-up, checks, the priming case). Prints one line per stream
case (compiles in all, in its first trigger and in its `plan` span) or,
for the other workloads, per op, then the totals.
"""
import collections
import json
import re
import sys

LINE = re.compile(r"^(\d+) Code generated in ([0-9.]+) ms")


def compiles(path):
    with open(path) as f:
        return [(int(m.group(1)), float(m.group(2)))
                for m in map(LINE.match, f) if m]


def inside(span, t):
    return span[0] <= t <= span[1]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        res = json.load(f)
    events = compiles(sys.argv[2])
    ops = [o for o in res["ops"] if "t0" in o]
    cases = [c for c in res.get("cases", []) if "t0" in c and c.get("case", -1) >= 0]
    first = {}  # case -> its first trigger's op id
    for o in ops:
        if o.get("kind") == "micro":
            b = int(str(o["id"]).split(".")[1])
            if o["case"] not in first or b < first[o["case"]][0]:
                first[o["case"]] = (b, o["id"])
    per = collections.defaultdict(lambda: [0, 0.0])
    per_case = collections.defaultdict(lambda: collections.Counter())
    for t, ms in events:
        op = next((o for o in ops if inside((o["t0"], o["t1"]), t)), None)
        case = next((c for c in cases if inside((c["t0"], c["t1"]), t)), None)
        key = op["id"] if op else (f"case{case['case']}" if case else "outside")
        per[key][0] += 1
        per[key][1] += ms
        if case:
            pc = per_case[case["case"]]
            pc["all"] += 1
            pc["all_ms"] += ms
            if op and first.get(case["case"], (0, None))[1] == op["id"]:
                pc["first"] += 1
                pc["first_ms"] += ms
            if "plan" in case and inside(case["plan"], t):
                pc["plan"] += 1
    if cases:
        for c in cases:
            pc = per_case[c["case"]]
            plan_ms = c["plan"][1] - c["plan"][0] if "plan" in c else float("nan")
            print(f"case {c['case']:>3} {c['q']:<8} plan_ms={plan_ms:.0f} "
                  f"compiles={pc['all']} ({pc['all_ms']:.0f} ms) "
                  f"first_trigger={pc['first']} ({pc['first_ms']:.0f} ms) "
                  f"in_plan={pc['plan']}")
    else:
        for o in ops:
            n, ms = per.get(o["id"], (0, 0.0))
            print(f"op {o['id']:<10} {o.get('q', ''):<12} compiles={n} ({ms:.0f} ms)")
    in_ops = sum(v[0] for k, v in per.items() if k != "outside" and not str(k).startswith("case"))
    print(f"total compiles={len(events)} ({sum(ms for _, ms in events):.0f} ms); "
          f"in ops={in_ops}; in cases outside ops="
          f"{sum(v[0] for k, v in per.items() if str(k).startswith('case'))}; "
          f"outside={per['outside'][0]}")


if __name__ == "__main__":
    main()
