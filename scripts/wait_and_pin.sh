#!/bin/bash
# Canary-gated 3-SF bench pin (round-13 verdict task 1): poll the
# host-window canary; the moment it reads clean, pin bench_full /
# bench_sf0.5 / bench_sf1.0 in ONE window with canary stamps between
# artifacts. Log everything to /tmp/pin_log.txt. Streaming numbers
# come from perfbench (`python3 perfbench/run.py --workload
# stream_timer`), not from this script.
#
# CANARY REFS (r16 refresh — round-15 verdict task 4): the r12-era
# clean refs (q_topk_agg 0.28 / q_cusum 0.24 / q_pagerank 1.66 s)
# were never revisited by the host in rounds 13-15 (zero clean polls
# in 40+ readings per round), so ratios against them had no current
# meaning. The refs below are the TRAILING FLOOR of the r15 40-poll
# log (PIN_LOG_r15.txt): per-query minima q_topk_agg 0.54 (poll 21),
# q_cusum 0.47 (polls 26/29), q_pagerank 2.07 s (poll 26). "Clean"
# now means "at or near the best window this host has offered in the
# current era" (ratio ~1.0 = the floor; a genuinely clean r12-style
# window would read ~0.5 and also fires). If a better floor appears,
# refresh these again and note the derivation here.
set -u
CP='target/scala-2.13/classes:/opt/spark/jars/*'
LOG=/tmp/pin_log.txt
R=${R:-r16}             # round tag for the pinned artifact names
PREV=${PREV:-r15}       # previous round tag: riser-rerun baselines
ROUNDS=${1:-24}         # poll attempts before giving up
SMALL_BAR=${SMALL_BAR:-1.25}
PR_BAR=${PR_BAR:-1.10}
SLEEP=${2:-400}         # seconds between polls

canary_ratios() {
  java -Xmx32g -XX:+UseG1GC -cp "$CP" graft.Bench q_topk_agg q_cusum q_pagerank 2>/dev/null \
    | tail -1 \
    | python3 -c "
import json, sys
try:
    d = json.load(sys.stdin)['queries']
except Exception:
    sys.exit(3)
refs = {'q_topk_agg': 0.54, 'q_cusum': 0.47, 'q_pagerank': 2.07}
vals = {k: round(v, 2) for k, v in d.items()}
ratios = {k: round(v / refs[k], 2) for k, v in d.items()}
small = max(ratios['q_topk_agg'], ratios['q_cusum'])
print(f\"vals={vals} ratios={ratios}\")
print(f'{small} {ratios[\"q_pagerank\"]}')"
}

num_re='^[0-9]+([.][0-9]+)?$'

stamp() {
  out=$(canary_ratios)
  echo "$(date -u +%H:%M:%S) stamp $1: $(echo "$out" | head -1)" >> "$LOG"
}

for i in $(seq 1 "$ROUNDS"); do
  out=$(canary_ratios)
  read -r small pr <<< "$(echo "$out" | tail -1)"
  # a java/python failure leaves $small/$pr empty or non-numeric —
  # log it as CANARY FAILED, distinctly from a dirty window, and
  # never interpolate the raw values into python
  if ! [[ "$small" =~ $num_re && "$pr" =~ $num_re ]]; then
    echo "$(date -u +%H:%M:%S) poll $i: CANARY FAILED (small='$small' pr='$pr')" >> "$LOG"
    sleep "$SLEEP"
    continue
  fi
  echo "$(date -u +%H:%M:%S) poll $i: $(echo "$out" | head -1)" >> "$LOG"
  # floor bar: iterative canary within 1.10x of the trailing floor,
  # small rows within 1.25x (sub-second rows carry +-0.05 s
  # measurement noise even at the floor)
  ok=$(python3 -c "print(1 if $small <= $SMALL_BAR and $pr <= $PR_BAR else 0)")
  if [ "$ok" = "1" ]; then
    echo "$(date -u +%H:%M:%S) FLOOR window — pinning ($R)" >> "$LOG"
    for sf in "/root/testdata/sf0.1:bench_full_${R}.json:bench_full_${PREV}.json" \
              "/tmp/graft_sf0.5:bench_sf0.5_${R}.json:bench_sf0.5_${PREV}.json" \
              "/tmp/graft_sf1.0:bench_sf1.0_${R}.json:bench_sf1.0_${PREV}.json"; do
      IFS=':' read -r dir outf prevf <<< "$sf"
      echo "$(date -u +%H:%M:%S) bench $dir -> $outf" >> "$LOG"
      # SPARK_GRAFT_BENCH_PREV: the previous round's artifact for the
      # same SF arms the in-bench riser re-run (wall_rerun in the
      # JSON — round-15 verdict task 3); a missing file is logged by
      # the bench and simply disables the re-run.
      SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 \
        SPARK_GRAFT_BENCH_OUT="$outf" \
        SPARK_GRAFT_BENCH_PREV="$prevf" \
        java -Xmx32g -XX:+UseG1GC -cp "$CP" graft.Bench \
        > /tmp/bench_stdout_$$.txt 2>/dev/null
      rc=$?
      if [ "$rc" -ne 0 ] || [ ! -s "$outf" ]; then
        echo "$(date -u +%H:%M:%S) BENCH FAILED $outf (exit=$rc)" >> "$LOG"
      else
        echo "$(date -u +%H:%M:%S) done $outf" >> "$LOG"
      fi
      stamp "after $outf"
    done
    echo "$(date -u +%H:%M:%S) PIN COMPLETE" >> "$LOG"
    exit 0
  fi
  sleep "$SLEEP"
done
echo "$(date -u +%H:%M:%S) no floor window after $ROUNDS polls" >> "$LOG"
exit 1
