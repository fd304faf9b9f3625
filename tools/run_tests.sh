#!/usr/bin/env bash
# Full test suite with COMPLETE log capture (the r13 lesson: a
# tail-piped sbt log lost the one failing test's name, and the close
# notes then cited a stale mid-round tally).
#
#   tools/run_tests.sh            # run `sbt -batch test` and the perfbench
#                                 # unit tests, tee full log; either failing
#                                 # fails the script
#
# Artifacts, per run:
#   target/test-logs/full_<utc>.log   — the complete sbt output
#   target/test-logs/last_summary.txt — suite/spec tallies parsed from
#                                       the LAST run's JUnit reports
#                                       (the files the close notes must
#                                       cite — never an earlier tally)
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p target/test-logs
# clear stale reports BEFORE the run: sbt only overwrites reports for
# suites that ran, so a renamed/removed suite's old XML would otherwise
# be summed into the tally — the exact stale-number failure this
# script exists to prevent
rm -rf target/test-reports
ts="$(date -u +%Y%m%dT%H%M%SZ)"
log="target/test-logs/full_${ts}.log"
sbt -batch test 2>&1 | tee "$log"
rc=${PIPESTATUS[0]}
# the benchmark's own tests: generator determinism, each check rejecting a
# corrupted result. Their scratch directory is git-ignored, so a fresh
# checkout lacks it until something creates it.
mkdir -p .perfbench
python3 -m unittest discover -s perfbench -p 'test_*.py' 2>&1 | tee -a "$log"
py_rc=${PIPESTATUS[0]}
{
  echo "run: $ts  exit: $rc  perfbench unittest exit: $py_rc  log: $log"
  echo "reports (target/test-reports/*.xml — dir cleared pre-run, so these are THIS run's):"
  for f in target/test-reports/TEST-*.xml; do
    [ -e "$f" ] || continue
    python3 - "$f" <<'EOF'
import sys, xml.etree.ElementTree as ET, os
p = sys.argv[1]
r = ET.parse(p).getroot()
t, f_, e = (int(r.get(k, 0)) for k in ("tests", "failures", "errors"))
flag = "" if f_ + e == 0 else "   <-- FAILING"
print(f"  {os.path.basename(p)}: {t} tests, {f_} failures, {e} errors{flag}")
EOF
  done
  python3 - <<'EOF'
import glob, xml.etree.ElementTree as ET
tot = fail = 0
for p in glob.glob("target/test-reports/TEST-*.xml"):
    r = ET.parse(p).getroot()
    tot += int(r.get("tests", 0))
    fail += int(r.get("failures", 0)) + int(r.get("errors", 0))
print(f"TOTAL: {tot - fail}/{tot} passing")
EOF
} | tee target/test-logs/last_summary.txt
[ "$rc" -ne 0 ] && exit "$rc"
exit "$py_rc"
