#!/usr/bin/env bash
# Focused min-of-K micro-bench over a query-name-prefix subset: K fresh
# JVMs (raw java -cp, no sbt startup), per-query MIN across them — the
# Bench estimator on a subset. Usage:
#   tools/micro_bench.sh <namePrefix,...> [rounds=3] [tag=micro]
# Requires /tmp/graft_cp.txt (sbt -batch "export Runtime/fullClasspath").
set -euo pipefail
PREFIX=${1:?usage: micro_bench.sh <namePrefix,...> [rounds] [tag]}
ROUNDS=${2:-3}
TAG=${3:-micro}
CP=$(cat /tmp/graft_cp.txt)
. "$(dirname "$0")/jdk17_opens.sh"
for i in $(seq 1 "$ROUNDS"); do
  java $OPENS -Xmx8g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CP" graft.Harness micro "$PREFIX" \
    2>/dev/null | grep '^{"metric"' > "/tmp/micro_${TAG}_$i.json"
done
python3 - "$TAG" "$ROUNDS" <<'EOF'
import json, sys
tag, rounds = sys.argv[1], int(sys.argv[2])
runs = [json.load(open(f"/tmp/micro_{tag}_{i}.json"))["queries"] for i in range(1, rounds+1)]
keys = runs[0].keys()
mins = {k: min(r[k] for r in runs) for k in keys}
for k in sorted(keys):
    print(f"{mins[k]:8.2f}  {k}   samples=" + ",".join(f"{r[k]:.2f}" for r in runs))
print(f"total(min) {sum(mins.values()):.2f}")
EOF
