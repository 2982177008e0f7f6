#!/usr/bin/env python3
"""Explain the difference between two benchmark records, layer by layer.

    python3 pipebench/diff.py A.json B.json [--top N]

A and B are records that run.py writes to pipebench/.out/ (take them
from runs with --trace 1: only those carry spans). Prints every
end-to-end delta, then the per-round self time and Spark counters of
every layer span, A against B, sorted by how much of the round-time
delta each accounts for. The last row is the part of the round delta no
layer span covers (the benchmark's own work between spans).
"""
import argparse
import json
import sys
from collections import defaultdict

ROUND_SPANS = ("pass", "day")
COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "fetch_wait_s", "spill_bytes", "input_bytes",
            "plan_s", "exchange_misestimates", "batches")


def layers(rec):
    """Per-round self time (ms) and counters of each layer, keyed by span
    name (query execution keyed by module), over the timed rounds."""
    spans = rec.get("spans") or []
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    rounds = [s for s in spans if s["name"] in ROUND_SPANS]
    self_ms, counters = defaultdict(float), defaultdict(lambda: defaultdict(float))
    todo = list(rounds)
    while todo:
        s = todo.pop()
        todo += kids[s["id"]]
        key = s["name"] + (f"[{s['tag']}]" if s["name"] == "queries.exec" else "")
        self_ms[key] += s["self_ms"]
        for k in COUNTERS:
            counters[key][k] += s["counters"].get(k, 0.0)
    n = max(1, len(rounds))
    return ({k: v / n for k, v in self_ms.items()},
            {k: {c: v / n for c, v in cs.items()} for k, cs in counters.items()})


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        b = json.load(f)
    if a["workload"] != b["workload"]:
        sys.exit(f"different workloads: {a['workload']} vs {b['workload']}")
    print(f"workload {a['workload']}: A seed {a['seed']} (cal_cpu {fmt(a['cal_cpu'])}, "
          f"cal_shuffle {fmt(a['cal_shuffle'])}) vs B seed {b['seed']} "
          f"(cal_cpu {fmt(b['cal_cpu'])}, cal_shuffle {fmt(b['cal_shuffle'])})")
    print(f"\n{'end-to-end':<28}{'A':>12}{'B':>12}{'B-A':>12}{'B/A-1':>9}")
    for k, va in a["end_to_end"].items():
        vb = b["end_to_end"].get(k)
        if vb is None:
            continue
        rel = f"{(vb / va - 1) * 100:+.1f}%" if va else "n/a"
        print(f"{k:<28}{fmt(va):>12}{fmt(vb):>12}{fmt(vb - va):>12}{rel:>9}")
    sa, ca = layers(a)
    sb, cb = layers(b)
    if not sa or not sb:
        print("\n(no spans: per-layer attribution needs records from --trace 1 runs)")
        return
    round_delta_ms = sum(sb.values()) - sum(sa.values())
    print(f"\nper-round self time, ms (round delta {fmt(round_delta_ms)} ms)")
    print(f"{'layer':<44}{'A':>10}{'B':>10}{'B-A':>10}{'share':>8}  counter deltas")
    keys = sorted(set(sa) | set(sb), key=lambda k: -abs(sb.get(k, 0) - sa.get(k, 0)))
    for k in keys[:args.top]:
        d = sb.get(k, 0.0) - sa.get(k, 0.0)
        share = f"{d / round_delta_ms * 100:+.0f}%" if round_delta_ms else ""
        cd = []
        for c in COUNTERS:
            x, y = ca.get(k, {}).get(c, 0.0), cb.get(k, {}).get(c, 0.0)
            if x != y:
                cd.append(f"{c} {fmt(x)}->{fmt(y)}")
        print(f"{k:<44}{fmt(sa.get(k, 0.0)):>10}{fmt(sb.get(k, 0.0)):>10}{fmt(d):>10}"
              f"{share:>8}  {', '.join(cd)}")


if __name__ == "__main__":
    main()
