#!/usr/bin/env bash
# Per-query isolated A/B: each query runs ALONE in a fresh JVM per round
# per side (no same-session contamination between subset members).
# Usage: tools/micro_ab1.sh <query1,query2,...> [rounds=3]
# Requires /tmp/graft_cp.txt and /tmp/graft_cp_base.txt as micro_ab.sh does.
set -euo pipefail
QUERIES=${1:?usage: micro_ab1.sh <q1,q2,...> [rounds]}
ROUNDS=${2:-3}
. "$(dirname "$0")/jdk17_opens.sh"
run() { java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$(cat "$1")" graft.Harness micro "$2" 2>/dev/null | grep '^{"metric"'; }
IFS=',' read -ra QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  for i in $(seq 1 "$ROUNDS"); do
    run /tmp/graft_cp.txt      "$q" > "/tmp/mab1_cur_${q}_$i.json"
    run /tmp/graft_cp_base.txt "$q" > "/tmp/mab1_base_${q}_$i.json"
  done
done
python3 - "$QUERIES" "$ROUNDS" <<'EOF'
import json, sys
qs, rounds = sys.argv[1].split(','), int(sys.argv[2])
tc = tb = 0.0
for q in qs:
    cur  = [list(json.load(open(f"/tmp/mab1_cur_{q}_{i}.json"))["queries"].values())[0] for i in range(1, rounds+1)]
    base = [list(json.load(open(f"/tmp/mab1_base_{q}_{i}.json"))["queries"].values())[0] for i in range(1, rounds+1)]
    c, b = min(cur), min(base)
    tc += c; tb += b
    print(f"{b:8.2f} -> {c:8.2f}  x{c/b:.3f}  {q}  cur={','.join(f'{x:.2f}' for x in cur)} base={','.join(f'{x:.2f}' for x in base)}")
print(f"total  {tb:.2f} -> {tc:.2f}  x{tc/tb:.3f}")
EOF
