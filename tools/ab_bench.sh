#!/bin/bash
# Paired A/B of two builds, alternating runs so sandbox drift hits both
# sides equally.
#
# graft.Bench mode: two built class trees under the driver's bench protocol
#   tools/ab_bench.sh <classesA> <classesB> <rounds> [sfdir] [cpus]
# prints one JSON line per run tagged with the side.
#
# perfbench mode: two graft checkouts (A = parent, B = change)
#   tools/ab_bench.sh perfbench <dirA> <dirB> <workload> <pairs> [first_seed]
# runs `python3 perfbench/run.py --workload W --seed S --seconds 12` (the
# benchmark's fixed run length) in each checkout for pairs i = 0..pairs-1
# with seed first_seed+i (default 1); even pairs run A first, odd pairs B
# first. Prints one JSON line per run, then per
# end-to-end metric each side's median and quartiles, the pairs B won
# (ties count for neither), and whether the median gap exceeds A's
# quartile spread.
set -euo pipefail

if [ "${1:-}" = "perfbench" ]; then
  A="$2"; B="$3"; W="$4"; N="$5"; SEED0="${6:-1}"
  LOG=$(mktemp)
  run() {
    local side="$1" dir="$2" seed="$3" line
    line=$(cd "$dir" && python3 perfbench/run.py --workload "$W" --seed "$seed" \
      --seconds 12 --trace 0 2>/dev/null | tail -n 1)
    echo "{\"side\":\"$side\",\"seed\":$seed,$(echo "$line" | cut -c2-)" | tee -a "$LOG"
  }
  for i in $(seq 0 $((N - 1))); do
    s=$((SEED0 + i))
    if [ $((i % 2)) -eq 0 ]; then run A "$A" "$s"; run B "$B" "$s"
    else run B "$B" "$s"; run A "$A" "$s"; fi
  done
  python3 - "$LOG" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
higher = {"ok_frac", "answer_recall"}
def q(xs):
    a, m, b = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return a, m, b
side = {s: {r["seed"]: r for r in rows if r["side"] == s} for s in "AB"}
seeds = sorted(set(side["A"]) & set(side["B"]))
print(f"{len(seeds)} pairs; correct A {sum(side['A'][s]['correct'] for s in seeds)}, "
      f"B {sum(side['B'][s]['correct'] for s in seeds)}")
for name in rows[0]["metrics"]:
    a = [side["A"][s]["metrics"][name]["value"] for s in seeds]
    b = [side["B"][s]["metrics"][name]["value"] for s in seeds]
    better = (lambda x, y: y > x) if name in higher else (lambda x, y: y < x)
    wins = sum(better(x, y) for x, y in zip(a, b))
    (a1, am, a3), (b1, bm, b3) = q(a), q(b)
    delta = (bm - am) / am * 100 if am else float("nan")
    line = (f"{name:14s} A {am:.4g} [{a1:.4g}-{a3:.4g}]  B {bm:.4g} [{b1:.4g}-{b3:.4g}]  "
            f"B better {wins}/{len(seeds)}  delta {delta:+.1f}%  |gap| {abs(bm - am):.4g} "
            f"{'>' if abs(bm - am) > a3 - a1 else '<='} A's quartile spread {a3 - a1:.4g}")
    print(line)
EOF
  rm -f "$LOG"
  exit 0
fi

A="$1"; B="$2"; N="$3"
SF="${4:-/root/testdata/sf0.1}"; CPUS="${5:-$(nproc)}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run() {
  local side="$1" cls="$2"
  local line
  line=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
    java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "/opt/spark/jars/*:$cls" graft.Bench 2>/dev/null | grep '"metric"')
  echo "{\"side\":\"$side\",$(echo "$line" | cut -c2-)"
}
for i in $(seq 1 "$N"); do
  run A "$A"
  run B "$B"
done
