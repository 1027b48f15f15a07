#!/usr/bin/env python3
"""Per-round streaming throughput artifact (STREAM_BENCH_r{N}.json).

Runs graft.tools.StreamBench across the four shape families the
streaming surface is graded on — in-order, out-of-order, the
panes-vs-naive sliding state layout, and the per-element-timer
detector — at fixed configured rates, and writes one JSON doc with every
run's engine-reported numbers. Compare rounds with:

    python3 scripts/stream_bench.py STREAM_BENCH_r10.json        # run + write
    python3 scripts/stream_bench.py --diff prev.json cur.json    # delta table

Each shape's configured rate sits modestly ABOVE its measured
capacity (SURVEY §5), not at one blanket number: the rate source
accumulates backlog against a slow consumer, so a rate far above
capacity makes the first catch-up batch outlive any budget and the
shape reports nothing. Slightly-above-capacity keeps the pipeline
saturated (the number measures the ENGINE, not the arrival rate)
while batches still complete inside the budget.
"""
import json, re, subprocess, sys

SHAPES = [
    ("tumbling", 80_000_000, 45),  # capacity ~64M (r11 probe: 96M rate -> 63.8M sustained); 32M under-reported it as rate-limited
    ("ooo",      40_000_000, 45),  # capacity ~31M (r11 probe at 64M rate)
    ("panes",    32_000_000, 45),
    ("sliding",   4_000_000, 90),
    ("timer",     2_000_000, 90),  # capacity ~1.56M after the r13 batched state fold (was 234k at per-element immutable Seq :+ / contains — O(n²) per key-batch)
]


def run_one(pipeline, rate, secs):
    cmd = ["sbt", "-batch",
           f"runMain graft.tools.StreamBench {rate} {secs} {pipeline}"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    for line in out.stdout.splitlines():
        m = re.search(r'\{"metric":"stream_rows_per_sec".*\}', line)
        if m:
            return json.loads(m.group(0))
    raise SystemExit(
        f"{pipeline}: no bench line in output\n{out.stdout[-2000:]}"
        f"\n{out.stderr[-2000:]}")


def run_shape(pipeline, rate, secs, max_escalations=2):
    """Run a shape, escalating the configured rate until the engine —
    not the rate source — is the bottleneck (round-15 verdict task 5:
    the r15 timer row read 1.99M rows/s against a 2M configured rate
    with batches keeping up, i.e. it measured its own ceiling, not
    capacity). A run whose throughput lands within 10% of the
    configured rate is flagged `rate_limited` and re-run at double the
    rate (bounded — a taxed window may keep a shape honest-looking at
    any rate); every attempt ships in `escalations` so the artifact
    shows the probe path, and the final row is an engine-bound reading
    or an explicit rate-limited lower bound."""
    attempts = []
    while True:
        r = run_one(pipeline, rate, secs)
        r["configured_rate"] = rate
        r["rate_limited"] = r["value"] >= 0.9 * rate
        attempts.append({"rate": rate, "value": r["value"],
                         "rate_limited": r["rate_limited"]})
        if not r["rate_limited"] or len(attempts) > max_escalations:
            r["escalations"] = attempts[:-1]
            return r
        print(f"  {pipeline}: {r['value'] / 1e6:.2f}M rows/s at rate "
              f"{rate / 1e6:.1f}M — rate-limited, escalating to "
              f"{2 * rate / 1e6:.1f}M")
        rate *= 2


def diff(prev_path, cur_path):
    prev = {r["pipeline"]: r for r in json.load(open(prev_path))["runs"]}
    cur = {r["pipeline"]: r for r in json.load(open(cur_path))["runs"]}
    print(f"{'pipeline':10s} {'prev Mrows/s':>12s} {'cur Mrows/s':>12s} "
          f"{'ratio':>6s}")
    # iterate the union so a pipeline dropped from cur still shows (as
    # a prev-only row) instead of silently disappearing from the delta
    for k in sorted(set(prev) | set(cur), key=lambda n: (n not in cur, n)):
        # `is not None` — a measured 0.0 (shape ran, never completed a
        # non-empty batch) must render as 0.00 / ratio 0.00, not as the
        # same '-' a pipeline missing from the file gets
        c = cur.get(k, {}).get("value")
        p = prev.get(k, {}).get("value")
        ps = f"{p / 1e6:12.2f}" if p is not None else "           -"
        cs = f"{c / 1e6:12.2f}" if c is not None else "           -"
        rs = (f"{c / p:6.2f}" if (p is not None and c is not None and p > 0)
              else "     -")
        # a rate-limited row is a lower bound, not a capacity — flag it
        # so cross-round ratios aren't read as engine deltas
        lim = " (rate-limited)" if cur.get(k, {}).get("rate_limited") else ""
        print(f"{k:10s} {ps} {cs} {rs}{lim}")
    if "panes" in cur and "sliding" in cur and cur["sliding"]["value"] > 0:
        print(f"pane-layout win: "
              f"{cur['panes']['value'] / cur['sliding']['value']:.2f}x")


def main():
    if len(sys.argv) < 2:
        raise SystemExit("usage: stream_bench.py <out.json> | "
                         "--diff <prev.json> <cur.json>")
    if sys.argv[1] == "--diff":
        if len(sys.argv) < 4:
            raise SystemExit("usage: stream_bench.py --diff <prev.json> <cur.json>")
        return diff(sys.argv[2], sys.argv[3])
    out_path = sys.argv[1]
    runs = []
    for pipeline, rate, secs in SHAPES:
        r = run_shape(pipeline, rate, secs)
        runs.append(r)
        tag = " [RATE-LIMITED lower bound]" if r["rate_limited"] else ""
        print(f"  {pipeline}: {r['value'] / 1e6:.2f}M rows/s "
              f"({r['batches']} steady batches, late={r['lateDropped']})"
              f"{tag}")
    doc = {"metric": "stream_bench", "runs": runs}
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
