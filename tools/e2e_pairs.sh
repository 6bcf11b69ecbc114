#!/bin/bash
# Alternating end-to-end benchmark pairs of two checkouts, pooled.
#
# Usage: tools/e2e_pairs.sh <dirA> <dirB> <workload> <seed> <npairs> <outdir>
#
# Runs `python3 e2ebench/run.py` once in each checkout per pair, on the same
# workload, seed and run length. Odd pairs run A first and even pairs run B
# first, so neither side always gets the warmer or the quieter machine.
# Each run's result file is kept as <outdir>/A<i>.json and B<i>.json, and
# its stdout as a .log next to it. At the end every pair is compared with
# e2ebench/compare.py, and each end-to-end metric is pooled over the pairs:
# each side's median and quartiles, and how many pairs B won. A gain claim
# needs B to win at least 9 in 10 pairs, and the medians to differ by more
# than the distance between A's quartiles. A is the base, B the change.
# Use at least 10 pairs.
set -u
if [ $# -ne 6 ]; then sed -n 2,16p "$0"; exit 2; fi
A=$(cd "$1" && pwd); B=$(cd "$2" && pwd); W="$3"; SEED="$4"; N="$5"
mkdir -p "$6"; OUT=$(cd "$6" && pwd)
TOOLS=$(cd "$(dirname "$0")" && pwd)
SECONDS_RUN=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$TOOLS/../BENCHMARK.json")

run() { # dir label
  local res="$1/.bench_build/results/$W-s$SEED-t0.json"
  rm -f "$res"
  (cd "$1" && python3 e2ebench/run.py --workload "$W" --seed "$SEED" \
    --seconds "$SECONDS_RUN" --trace 0 > "$OUT/$2.log" 2>&1)
  local rc=$?
  if [ -f "$res" ]; then cp "$res" "$OUT/$2.json"; fi
  echo "$2 exit=$rc $(tail -1 "$OUT/$2.log" | cut -c1-160)"
}

for i in $(seq 1 "$N"); do
  if [ $((i % 2)) -eq 1 ]; then run "$A" "A$i"; run "$B" "B$i"
  else run "$B" "B$i"; run "$A" "A$i"; fi
done

python3 - "$TOOLS/../e2ebench" "$OUT" "$N" <<'EOF'
import json, os, statistics, sys
sys.path.insert(0, sys.argv[1])
from compare import compare, load_bounds

out, n = sys.argv[2], int(sys.argv[3])
bounds = load_bounds()
pairs = []
for i in range(1, n + 1):
    paths = [os.path.join(out, f"{s}{i}.json") for s in "AB"]
    if not all(os.path.exists(p) for p in paths):
        print(f"pair {i}: missing result file, left out")
        continue
    a, b = (json.load(open(p)) for p in paths)
    flagged = [t for t, f in compare(a, b, bounds) if f]
    print(f"pair {i}: failed A={a['failed']} B={b['failed']}; compare.py flags {len(flagged)}"
          + "".join(f"\n    {t}" for t in flagged))
    pairs.append((a, b))


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]


print(f"\n{len(pairs)} pairs; per metric: A q1/median/q3 | B q1/median/q3 | B wins")
for name, m in bounds.items():
    got = [(a["metrics"].get(name), b["metrics"].get(name)) for a, b in pairs]
    got = [(x, y) for x, y in got if x is not None and y is not None]
    if not got:
        continue
    sign = 1 if m["better"] == "lower" else -1
    wins = sum(sign * (x - y) > 0 for x, y in got)
    ties = sum(x == y for x, y in got)
    qa, qb = quartiles([x for x, _ in got]), quartiles([y for _, y in got])
    gain = sign * (qa[1] - qb[1])
    claim = wins >= 0.9 * len(got) and gain > qa[2] - qa[0]
    print(f"{name}: {qa[0]:.6g}/{qa[1]:.6g}/{qa[2]:.6g} | {qb[0]:.6g}/{qb[1]:.6g}/{qb[2]:.6g} "
          f"{m['unit']} | {wins}/{len(got)} (ties {ties}); "
          f"median {(qb[1] - qa[1]) / qa[1]:+.1%}; gain claim {'holds' if claim else 'not met'}")
EOF
