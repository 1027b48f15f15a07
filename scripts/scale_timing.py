#!/usr/bin/env python3
"""Scale-timing table for history/SCALE_SWEEP.md (round-10 verdict #4).

Usage: python3 scripts/scale_timing.py <bench_sf0.1.json> <bench_sf0.5.json> [N]
  e.g. python3 scripts/scale_timing.py history/bench_full_r17.json \
         history/bench_sf0.5_r17.json

Reads two full Bench artifacts (graft.Bench JSON with "queries"/"cpu")
and prints a markdown table of the N (default 25) heaviest queries by
sf0.5 wall time: wall + CPU at both SFs and the ratio columns. The
data is 5x, so a ratio column value > 8 marks a superlinearity suspect
that needs a named cause — the table footer lists them explicitly so
SCALE_SWEEP can't claim the sweep ran without addressing each one.
"""
import json, sys


def load(path):
    with open(path) as f:
        doc = json.load(f)
    if "queries" not in doc:
        raise SystemExit(
            f"{path}: no 'queries' key — this reader needs a FULL "
            "graft.Bench artifact (history/bench_full_r*.json / "
            "SPARK_GRAFT_BENCH_OUT output); truncated driver tails are "
            "bench_diff.py territory")
    wall = dict(doc["queries"])
    cpu = {k: min(v) for k, v in doc.get("cpu", {}).items() if v}
    return wall, cpu


def main():
    if len(sys.argv) < 3:
        raise SystemExit("usage: scale_timing.py <sf0.1.json> <sf0.5.json> [N]")
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 25
    w1, c1 = load(sys.argv[1])
    w5, c5 = load(sys.argv[2])
    common = [q for q in w5 if q in w1]
    top = sorted(common, key=lambda q: -w5[q])[:n]
    print("| query | wall sf0.1 | wall sf0.5 | wall x | cpu sf0.1 | cpu sf0.5 | cpu x |")
    print("|---|---|---|---|---|---|---|")
    for q in top:
        wr = w5[q] / w1[q] if w1[q] > 0 else float("inf")
        cr = (c5[q] / c1[q]) if c1.get(q, 0) > 0 and q in c5 else None
        crs = f"{cr:.1f}" if cr is not None else "-"
        c1s = f"{c1[q]:.2f}" if q in c1 else "-"
        c5s = f"{c5[q]:.2f}" if q in c5 else "-"
        flag = " **>8x**" if (wr > 8 or (cr or 0) > 8) else ""
        print(f"| {q} | {w1[q]:.2f} | {w5[q]:.2f} | {wr:.1f}{flag} | "
              f"{c1s} | {c5s} | {crs} |")
    # superlinearity scan over the WHOLE surface, not just the top-N
    # table (a cheap query going 20x is still a plan bug) — BOTH
    # dimensions: wall, and CPU (a cpu-only suspect is real
    # superlinear work overlapped by I/O slack). Floor the
    # denominators (0.2s wall / 0.2 cpu-s) so JIT/listener jitter
    # doesn't fabricate ratios on sub-100ms queries.
    allsus = sorted((q for q in common
                     if w1[q] >= 0.2 and w5[q] / w1[q] > 8),
                    key=lambda q: -(w5[q] / w1[q]))
    cpusus = sorted((q for q in common
                     if c1.get(q, 0) >= 0.2 and q in c5
                     and c5[q] / c1[q] > 8),
                    key=lambda q: -(c5[q] / c1[q]))
    print()
    print(f"full-surface >8x wall (floor 0.2s at sf0.1): "
          f"{[(q, round(w5[q] / w1[q], 1)) for q in allsus] or 'none'}")
    print(f"full-surface >8x cpu (floor 0.2 cpu-s at sf0.1): "
          f"{[(q, round(c5[q] / c1[q], 1)) for q in cpusus] or 'none'}")
    print(f"totals: wall {sum(w1[q] for q in common):.1f}s -> "
          f"{sum(w5[q] for q in common):.1f}s "
          f"({sum(w5[q] for q in common) / sum(w1[q] for q in common):.1f}x), "
          f"cpu {sum(c1.get(q, 0) for q in common):.1f} -> "
          f"{sum(c5.get(q, 0) for q in common):.1f} cpu-s")


if __name__ == "__main__":
    main()
