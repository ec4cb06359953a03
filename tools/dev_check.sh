#!/bin/bash
# Dev loop: verify + oracle-check a comma-separated query list at a given sf.
# Usage: tools/dev_check.sh q248_sortino,q249_expected_shortfall [sf_dir]
set -e
QS="$1"
SF="${2:-/root/testdata/sf0.01}"
OUT="$(mktemp -d)"   # one fresh directory per run: concurrent runs never share a dump
trap 'rm -rf "$OUT"' EXIT
SPARK_GRAFT_ONLY="$QS" sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 \
  | grep -E "\[verify\].*failed|Exception" || true
python3 - "$QS" "$OUT" <<'EOF'
import json, sys
names = set(sys.argv[1].split(","))
o = json.load(open(sys.argv[2] + "/oracle_sql.json"))
json.dump({k: v for k, v in o.items() if k in names},
          open(sys.argv[2] + "/only/oracle_sql.json", "w"))
EOF
python3 tools/check_oracle.py "$OUT/only" "$SF"
