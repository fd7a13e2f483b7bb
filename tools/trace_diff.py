#!/usr/bin/env python3
"""Per-span comparison of two e2ebench span files.

Usage:
  python3 tools/trace_diff.py A.json B.json

A and B are span files that `e2ebench/run.py --trace 1` keeps under
`.bench_work/traces/`. For every span name, the tool prints the mean over
that span's runs in traced timed steps (step >= 0; the warm-up is left out)
of dur_s, jobs, task_s, bytes_read and shuffle_bytes, for A and for B, and
the delta B - A. A mean is per run of the span, so a span that runs only in
compaction steps is averaged over those steps. `n` is the number of runs.
Standard library only.
"""
import json
import os
import sys

FIELDS = ("dur_s", "jobs", "task_s", "bytes_read", "shuffle_bytes")


def span_means(path):
    """{span name: (runs, {field: mean})} over the traced timed steps."""
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    traced = {s["step"] for s in doc["steps"] if s["traced"] and s["step"] >= 0}
    runs = {}
    for sp in doc["spans"]:
        if sp["step"] in traced:
            runs.setdefault(sp["name"], []).append(sp)
    return {name: (len(rs), {k: sum(r[k] for r in rs) / len(rs) for k in FIELDS})
            for name, rs in runs.items()}


def fmt(v):
    return f"{v:.3f}" if abs(v) < 1000 else f"{v:.0f}"


def main(a_path, b_path):
    a, b = span_means(a_path), span_means(b_path)
    # span order of A's file, then any span only B ran
    names = list(a) + [n for n in b if n not in a]
    empty = (0, {k: 0.0 for k in FIELDS})
    print(f"A = {a_path}\nB = {b_path}")
    rows = [["span", "field", "n A/B", "A", "B", "delta"]]
    for n in names:
        (na, ma), (nb, mb) = a.get(n, empty), b.get(n, empty)
        rows += [[n, k, f"{na}/{nb}", fmt(ma[k]), fmt(mb[k]), fmt(mb[k] - ma[k])]
                 for k in FIELDS]
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) if i < 2 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) != 2 or not all(os.path.isfile(p) for p in args):
        # an option such as --help, a missing path or a wrong count: usage
        bad = [p for p in args if not os.path.isfile(p)]
        if bad:
            print(f"not a file: {' '.join(bad)}", file=sys.stderr)
        print(__doc__, file=sys.stderr, end="")
        sys.exit(2)
    main(*args)
