#!/usr/bin/env bash
# Interleaved micro A/B on a query subset: cur, base, cur, base, … each a
# fresh raw-java JVM (no sbt); per-query MIN per side; prints ratios.
# Usage: tools/micro_ab.sh <namePrefix,...> [rounds=3]
# Requires /tmp/graft_cp.txt (current) and /tmp/graft_cp_base.txt (baseline);
# both sides must have the graft.Harness main.
set -euo pipefail
PREFIX=${1:?usage: micro_ab.sh <namePrefix,...> [rounds]}
ROUNDS=${2:-3}
. "$(dirname "$0")/jdk17_opens.sh"
run() { # cp-file out-file
  java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$(cat "$1")" graft.Harness micro "$PREFIX" 2>/dev/null \
    | grep '^{"metric"' > "$2"
}
for i in $(seq 1 "$ROUNDS"); do
  echo "[ab] round $i/$ROUNDS cur  $(date +%H:%M:%S)" >&2
  run /tmp/graft_cp.txt "/tmp/mab_cur_$i.json"
  echo "[ab] round $i/$ROUNDS base $(date +%H:%M:%S)" >&2
  run /tmp/graft_cp_base.txt "/tmp/mab_base_$i.json"
done
python3 - "$ROUNDS" <<'EOF'
import json, sys
rounds = int(sys.argv[1])
cur  = [json.load(open(f"/tmp/mab_cur_{i}.json"))["queries"] for i in range(1, rounds+1)]
base = [json.load(open(f"/tmp/mab_base_{i}.json"))["queries"] for i in range(1, rounds+1)]
keys = sorted(cur[0].keys())
tc = tb = 0.0
for k in keys:
    c = min(r[k] for r in cur); b = min(r[k] for r in base)
    tc += c; tb += b
    print(f"{b:8.2f} -> {c:8.2f}  x{c/b if b>0 else float('nan'):.3f}  {k}")
print(f"total  {tb:.2f} -> {tc:.2f}  x{tc/tb:.3f}")
EOF
