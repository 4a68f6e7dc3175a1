#!/bin/bash
# VERDICT r9 item 2: full-surface oracle at the bench SF (sf0.1).
# Dumps every declared query at sf0.1 and runs the DuckDB differential
# check, then writes a CORRECTNESS-style summary JSON.
#
# r10 ADVICE: a crashed Verify/check run must not masquerade as a clean
# (empty) summary — both exit codes are recorded in the JSON, pass == 0
# counts as crashed, and the script exits non-zero on any failure.
#
# Usage: SPARK_GRAFT_SF_DIR=<sf0.1 testdata dir> tools/sf01_full.sh [outDir] [log]
# Runs from the checkout root with an offline sbt (no network needed).
set -u
SF=$(realpath -m "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the sf0.1 testdata dir}")
OUT=$(realpath -m "${1:-/tmp/vout_sf01}")
LOG=$(realpath -m "${2:-/tmp/check_sf01.log}")
cd "$(dirname "$0")/.."
rm -rf "$OUT"
COURSIER_MODE=offline sbt --batch -Dsbt.offline=true "runMain graft.Verify $SF $OUT" \
  > "$LOG.verify" 2>&1
VERIFY_EXIT=$?
python3 tools/check.py "$SF" "$OUT" > "$LOG" 2>&1
CHECK_EXIT=$?
echo "VERIFY_EXIT=$VERIFY_EXIT CHECK_EXIT=$CHECK_EXIT" >> "$LOG"
VERIFY_EXIT=$VERIFY_EXIT CHECK_EXIT=$CHECK_EXIT python3 - "$LOG" <<'EOF'
import json, os, re, sys
txt = open(sys.argv[1]).read()
passes = re.findall(r'^PASS (\S+)', txt, re.M)
fails = re.findall(r'^FAIL (\S+): (.*)$', txt, re.M)
verify_exit = int(os.environ["VERIFY_EXIT"])
check_exit = int(os.environ["CHECK_EXIT"])
crashed = verify_exit != 0 or check_exit != 0 or len(passes) == 0
json.dump({"sf": "sf0.1", "pass": len(passes),
           "fail": [{"q": q.rstrip(':'), "why": w} for q, w in fails],
           "verify_exit": verify_exit, "check_exit": check_exit,
           "crashed": crashed},
          open("CORRECTNESS_SF01_FULL.json", "w"), indent=1)
print("pass", len(passes), "fail", len(fails), "crashed", crashed)
sys.exit(1 if crashed or fails else 0)
EOF
