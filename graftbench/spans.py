#!/usr/bin/env python3
"""Self time per layer from the span file of a traced benchmark run.

    python3 graftbench/spans.py graftbench/.work/spans-<workload>-<seed>.jsonl

Spans nest run -> setup/pass -> query -> build/action -> job -> stage, and
each names its parent. A span's self time is its duration minus the part
of it that its children cover; this prints the self time summed per span
kind, with the number of spans of that kind.
"""
import json
import sys
from collections import defaultdict


def self_times(path):
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    total, count = defaultdict(float), defaultdict(int)
    for s in spans:
        start, end = s["start_us"], s["end_us"]
        if end <= start:
            continue
        covered, reach = 0, start
        for c0, c1 in sorted((max(c["start_us"], start), min(c["end_us"], end))
                             for c in children[s["id"]]):
            if c1 <= reach:
                continue
            covered += c1 - max(c0, reach)
            reach = c1
        total[s["kind"]] += (end - start - covered) / 1e6
        count[s["kind"]] += 1
    return {k: (total[k], count[k]) for k in total}


if __name__ == "__main__":
    for kind, (secs, n) in sorted(self_times(sys.argv[1]).items(), key=lambda kv: -kv[1][0]):
        print(f"{kind:8s} {secs:10.3f} s self  ({n} spans)")
