#!/usr/bin/env python3
"""Per-query bench deltas between two rounds.

Usage: python3 scripts/bench_diff.py <prev.json> <cur.json>
  e.g. python3 scripts/bench_diff.py history/bench_full_r16.json \
         history/bench_full_r17.json

Accepts either a full Bench line ({"metric":"total",...,"queries":
{...}} — as committed in history/bench_full_r*.json) or a round
BENCH_r*.json whose "tail" field holds a truncated suffix of that line
(partial queries recovered by regex).

Since r16 the PRIMARY regression gate is best-rep CPU + shuffle bytes
(round-15 verdict task 4): the host has not offered a clean wall
window since r13, so wall-vs-clean comparisons are structurally
unfalsifiable, while per-query CPU-seconds and shuffle bytes are
window-robust — a CPU or shuffle-bytes regression is a plan/code
regression, not scheduling. The wall table stays as context, and
risers re-run in-window are adjudicated from data: a riser whose
same-window re-run lands near prev is a transient, not a regression.
Only the r15-r17 artifacts carry those re-runs (`wall_rerun`); the
bench no longer writes the field, so it is read through `.get`.
"""
import json, re, sys


def load(path):
    """Returns (wall, cpu, io, rerun) per-query dicts; all but wall may
    be empty (pre-r8 artifacts and truncated driver tails)."""
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        cpu = {k: min(v) for k, v in doc.get("cpu", {}).items() if v}
        return (dict(doc["queries"]), cpu, doc.get("io", {}),
                doc.get("wall_rerun", {}))
    if "tail" in doc:
        pairs = re.findall(r'"([A-Za-z0-9_]+)":([0-9]+\.[0-9]+)', doc["tail"])
        # a tail cut mid-pair cannot produce a phantom: the regex
        # requires the OPENING quote, and a cut inside `"name"` leaves
        # `ame":1.2` (no quote before the fragment, no match) while a
        # cut exactly on the quote leaves the pair complete — so the
        # first match is always a genuine (name, wall) pair
        out = {k: float(v) for k, v in pairs}
        out.pop("value", None)
        return out, {}, {}, {}
    raise SystemExit(f"{path}: neither 'queries' nor 'tail' present")


def min_shuffle_bytes(io_entry):
    """Best-rep total shuffle bytes (read+write) for one query."""
    reads = io_entry.get("shuffle_read", [])
    writes = io_entry.get("shuffle_write", [])
    if not reads or not writes or len(reads) != len(writes):
        return None
    return min(r + w for r, w in zip(reads, writes))


def main():
    if len(sys.argv) < 3:
        raise SystemExit("usage: bench_diff.py <prev.json> <cur.json>")
    prev_path, cur_path = sys.argv[1], sys.argv[2]
    (prev, prev_cpu, prev_io, _) = load(prev_path)
    (cur, cur_cpu, cur_io, cur_rerun) = load(cur_path)
    # isolation header (round-10 verdict #6): a future interference
    # storm must be visible in the diff, not just in the raw io JSON.
    if cur_io:
        resident = sorted(n for n, m in cur_io.items()
                          if m.get("resident_start", 0) > 0)
        spilled = sorted(n for n, m in cur_io.items()
                         if any(m.get("spill", [])))
        print(f"isolation: {len(resident)}/{len(cur_io)} queries nonzero "
              f"resident_start, {len(spilled)} spilled"
              + (f"; resident: {resident}" if resident else "")
              + (f"; spilled: {spilled}" if spilled else ""))

    # ---------------- PRIMARY GATE: best-rep CPU ----------------
    # Flag >1.5x growth on queries costing >= 0.2 CPU-s (below that,
    # JIT and listener jitter dominate the ratio).
    cpu_common = [n for n in cur_cpu if n in prev_cpu and prev_cpu[n] >= 0.2]
    # noise-window guard (round-12 finding): this shared microVM has
    # host-contention windows where reported executorCpuTime inflates
    # 2-30x while WALL stays near-flat and stack sampling shows idle
    # executors — guest thread-CPU-clock distortion, not work. A row
    # whose cpu/wall DENSITY moved >3x while wall moved <1.3x in
    # either direction cannot be a plan regression (real extra work
    # on a 32-thread box moves wall too); suppress it from the CPU
    # gate and name it, so no future round burns analysis time
    # re-deriving this.
    suspects = []
    for n in list(cpu_common):
        pw, cw = prev.get(n), cur.get(n)
        if not pw or not cw or pw <= 0 or cw <= 0:
            continue
        dens_ratio = (cur_cpu[n] / cw) / (prev_cpu[n] / pw)
        wall_ratio = cw / pw
        if (dens_ratio > 3 or dens_ratio < 1 / 3) and 1 / 1.3 < wall_ratio < 1.3:
            suspects.append((n, dens_ratio, wall_ratio))
            cpu_common.remove(n)
    print("\n== PRIMARY GATE (window-robust): best-rep CPU + shuffle bytes ==")
    if cpu_common:
        flagged = [(n, prev_cpu[n], cur_cpu[n], cur_cpu[n] / prev_cpu[n])
                   for n in cpu_common if cur_cpu[n] / prev_cpu[n] > 1.5]
        flagged.sort(key=lambda r: -r[3])
        cr = sorted(cur_cpu[n] / prev_cpu[n] for n in cpu_common)
        print(f"cpu trend ({len(cpu_common)} queries >=0.2 cpu-s): "
              f"sum {sum(prev_cpu[n] for n in cpu_common):.1f} -> "
              f"{sum(cur_cpu[n] for n in cpu_common):.1f} cpu-s, "
              f"median ratio {cr[len(cr) // 2]:.2f}")
        if flagged:
            print("CPU REGRESSIONS (>1.5x, soft gate — explain or fix):")
            for n, p, c, r in flagged:
                print(f"  {n:28s} {p:8.3f} -> {c:8.3f} cpu-s ({r:.2f}x)")
        else:
            print("no cpu regressions >1.5x")
    else:
        print("cpu trend: no common cpu data")
    # Shuffle bytes: deterministic per plan — any growth >1.3x on
    # queries moving >= 1 MB is a plan-shape change, full stop.
    sh_common = []
    for n in cur_io:
        if n not in prev_io:
            continue
        p, c = min_shuffle_bytes(prev_io[n]), min_shuffle_bytes(cur_io[n])
        if p is not None and c is not None and p >= 1 << 20:
            sh_common.append((n, p, c, c / p))
    if sh_common:
        grown = [r for r in sh_common if r[3] > 1.3]
        grown.sort(key=lambda r: -r[3])
        shrunk = sum(1 for r in sh_common if r[3] < 1 / 1.3)
        print(f"shuffle bytes ({len(sh_common)} queries >=1 MB): "
              f"{len(grown)} grew >1.3x, {shrunk} shrank >1.3x")
        if grown:
            print("SHUFFLE-BYTES REGRESSIONS (plan-shape changes — "
                  "explain or fix):")
            for n, p, c, r in grown:
                print(f"  {n:28s} {p / 1e6:10.2f} -> {c / 1e6:10.2f} MB "
                      f"({r:.2f}x)")
    if suspects:
        suspects.sort(key=lambda r: -max(r[1], 1 / r[1]))
        print("CLOCK-DISTORTION SUSPECTS (cpu/wall density moved >3x "
              "with wall flat — guest CPU-clock noise, CPU conclusions "
              "suppressed; trust wall + shuffle bytes):")
        for n, dr, wr in suspects:
            print(f"  {n:28s} density {dr:5.2f}x, wall {wr:5.2f}x")

    # ---------------- context: wall table ----------------
    # In-window rerun adjudication (r15 task 3): a riser whose bench-
    # side same-window re-run (`wall_rerun`) is NOT also elevated is a
    # transient spike, adjudicated from data. The table's `cur` keeps
    # the pin reading; adjudicated transients are marked `~`.
    if cur_rerun:
        print("\nRERUN ADJUDICATIONS (riser re-measured in-window):")
        for n in sorted(cur_rerun):
            pin, rr = cur.get(n), cur_rerun[n]
            p = prev.get(n)
            verdict = "transient" if (p and rr / p < 1.3) else "persistent"
            ps = f"{p:.3f}" if p is not None else "-"
            print(f"  {n:28s} prev {ps} pin {pin:.3f} "
                  f"rerun {rr:.3f} -> {verdict}")
    print(f"\n{'query':28s} {'prev':>8s} {'cur':>8s} {'delta':>8s} {'ratio':>6s}")
    names = sorted(set(prev) | set(cur))
    common = [n for n in names if n in prev and n in cur]
    rows = []
    for n in names:
        p, c = prev.get(n), cur.get(n)
        delta = (c - p) if (p is not None and c is not None) else None
        ratio = (c / p) if (p not in (None, 0) and c is not None) else None
        rows.append((n, p, c, delta, ratio))
    rows.sort(key=lambda r: (r[3] is None, -(r[3] or 0)))
    for n, p, c, d, r in rows:
        ps = f"{p:8.3f}" if p is not None else "       -"
        cs = f"{c:8.3f}" if c is not None else "       -"
        ds = f"{d:+8.3f}" if d is not None else "       -"
        rs = f"{r:6.2f}" if r is not None else "     -"
        rr = cur_rerun.get(n)
        mark = ""
        if rr is not None and p:
            mark = "  ~transient" if rr / p < 1.3 else "  !persistent"
        print(f"{n:28s} {ps} {cs} {ds} {rs}{mark}")
    if common:
        ratios = sorted(cur[n] / prev[n] for n in common if prev[n] > 0)
        med = ratios[len(ratios) // 2]
        print(f"\ncommon subset: {len(common)} queries, "
              f"sum {sum(prev[n] for n in common):.1f}s -> "
              f"{sum(cur[n] for n in common):.1f}s, "
              f"median ratio {med:.2f}")
    print(f"only-prev: {sorted(set(prev) - set(cur))}")
    print(f"only-cur:  {sorted(set(cur) - set(prev))}")


if __name__ == "__main__":
    main()
